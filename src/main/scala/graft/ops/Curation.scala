package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The standard pre-training curation cascade, composed from the
  * library's scan-fused primitives — the workflow every one of these
  * operators exists to serve, packaged as one call:
  *
  *   language gate → quality floor → exact dedup → deterministic sample
  *
  * Plan shape at 100 TB: the language and quality gates are native
  * codegen'd expressions (one pass over the text's bytes each, no
  * lambdas) evaluated IN the scan stage — they fold into one stage and
  * push column pruning down; the pushed-down filter and the diagnostic
  * columns each evaluate them — exact dedup is the cascade's single hash
  * shuffle (first-id survivor per content hash via one window), and the
  * sample is pure hash math on the id. The whole cascade costs one
  * shuffle regardless of corpus size, and every gate is deterministic —
  * re-running on a grown corpus keeps every previously-kept document
  * that still passes (no rand(), no order dependence).
  */
object Curation {

  /** The language + margin + quality gate shared by every curate
    * face: scan-side codegen'd predicates, adds the
    * `predicted_lang` / `quality` diagnostic columns. */
  private def gateAndScore(df: DataFrame, textCol: String,
      targetLang: String, minQuality: Double, minLangMargin: Int)
      : DataFrame =
    df.withColumn("predicted_lang", TextFunctions.langId(col(textCol)))
      .withColumn("quality", TextFunctions.qualityScore(col(textCol)))
      .where(col("predicted_lang") === targetLang &&
        col("quality") >= minQuality &&
        (if (minLangMargin > 0)
          TextFunctions.langIdMargin(col(textCol)) >= minLangMargin
        else lit(true)))

  /** Run the cascade; returns surviving rows with the diagnostic columns
    * `predicted_lang` and `quality`. `minLangMargin` > 0 additionally
    * requires the language label to WIN by that many marker hits
    * ([[TextFunctions.langIdMargin]]) — a da/no coin-flip doc scoring
    * 3/3 carries a confident-looking label the margin exposes; 0 (the
    * default) keeps the historical label-only gate. */
  def curate(df: DataFrame, idCol: String, textCol: String,
      targetLang: String = "en", minQuality: Double = 0.0,
      sampleFraction: Double = 1.0, salt: String = "",
      minLangMargin: Int = 0): DataFrame = {
    require(sampleFraction >= 0 && sampleFraction <= 1,
      s"curate: sampleFraction in [0,1], got $sampleFraction")
    val gated = gateAndScore(df, textCol, targetLang, minQuality,
      minLangMargin)
    val deduped = Dedup.exactRows(
      gated.withColumn("__curation_hash", md5(col(textCol))),
      Seq("__curation_hash"), idCol)
      .drop("__curation_hash")
    Sampling.hashSample(deduped, idCol, sampleFraction, salt)
  }

  /** The CRAWL preset: raw (url, html) pages to a curated text
    * corpus in one call, composed from the library's scan-fused
    * primitives in the order real web pipelines run them —
    *
    *   HTML → text ([[TextFunctions.stripHtml]]) →
    *   URL dedup (first fetch per [[TextFunctions.normalizeUrl]] key)
    *   → language + margin + quality gates → content dedup →
    *   deterministic sample — i.e. [[curate]] with the crawl-specific
    *   front half bolted on. (Line/paragraph dedup belongs BEFORE
    *   extraction flattens whitespace — run
    *   [[Dedup.removeBoilerplateLines]]/[[Dedup.paragraphDedup]] on
    *   structured text, not here: stripHtml folds newlines, so a
    *   "line" no longer exists downstream of it.)
    *
    * Shape at 100 TB: extraction and every gate are codegen'd scan
    * expressions; the URL dedup and the content dedup are the TWO
    * hash shuffles (both one-exchange window dedups); the sample is
    * hash math. Returns surviving rows keyed by `idCol` with
    * `url_canonical`, `clean_text`, `predicted_lang`, `quality`
    * diagnostic columns. */
  def webCurate(df: DataFrame, idCol: String, urlCol: String,
      htmlCol: String, targetLang: String = "en",
      minQuality: Double = 0.0, minLangMargin: Int = 0,
      sampleFraction: Double = 1.0, salt: String = ""): DataFrame = {
    val extracted = df
      .withColumn("url_canonical",
        TextFunctions.normalizeUrl(col(urlCol)))
      .withColumn("clean_text",
        TextFunctions.stripHtml(col(htmlCol)))
    val urlDeduped = Dedup.exactRows(
      extracted, Seq("url_canonical"), idCol)
    curate(urlDeduped, idCol, "clean_text", targetLang, minQuality,
      sampleFraction, salt, minLangMargin)
  }

  /** The state a [[webCurateIncremental]] chain carries between
    * batches: `curated` = this batch's surviving rows (the sink);
    * `newUrlKeys` / `newContentKeys` = the canonical-URL and
    * content-hash keys this batch ADDS — append them to the
    * respective stores ([[graft.streaming.StreamingMigrations.webCurateStream]]
    * packages the appends). Keys are narrow single-column frames:
    * `url_canonical` for every canon key first SEEN this batch
    * (gate-dropped fetches included — a later re-fetch of a
    * gate-dropped URL must still drop, the one-shot ordering), and
    * `content_key` (md5 of clean text) for every GATED row. */
  final case class WebCurateState(curated: DataFrame,
    newUrlKeys: DataFrame, newContentKeys: DataFrame)

  /** The INCREMENTAL crawl preset — [[webCurate]] for a daily crawl
    * feed, the r15 companion of [[embedCurateIncremental]]: one batch
    * of raw (url, html) pages flows through extraction, within-batch
    * canonical-URL dedup, an anti-join against the accumulated URL-key
    * store (re-fetches of anything ever seen drop), the language +
    * margin + quality gates, within-batch content dedup, an anti-join
    * against the accumulated content-key store, and the deterministic
    * sample. Output over batches 1..N equals [[webCurate]] on the
    * union (the q254 oracle proves it on a planted split) PROVIDED ids
    * are monotone non-decreasing across batches — the one-shot keeps
    * the MIN id per key, so an earlier batch must hold the smaller
    * ids (crawl reality: fetch ids grow with time). Chain the returned
    * key deltas into the stores; gates are stateless so no other state
    * exists.
    *
    * Shape at 100 TB per batch: extraction and gates are codegen'd
    * scan expressions on the DELTA only; the two within-batch dedups
    * are delta-sized window exchanges; the two store anti-joins are
    * key-store equi-joins (narrow fixed-width keys — hash-partitioned,
    * prunable by key-range at the store layout's discretion); the
    * accumulated corpus TEXT is never touched. */
  def webCurateIncremental(newDf: DataFrame, priorUrlKeys: DataFrame,
      priorContentKeys: DataFrame, idCol: String, urlCol: String,
      htmlCol: String, targetLang: String = "en",
      minQuality: Double = 0.0, minLangMargin: Int = 0,
      sampleFraction: Double = 1.0, salt: String = "")
      : WebCurateState = {
    require(priorUrlKeys.columns.contains("url_canonical"),
      "webCurateIncremental: priorUrlKeys needs (url_canonical); got " +
        priorUrlKeys.columns.mkString("(", ", ", ")"))
    require(priorContentKeys.columns.contains("content_key"),
      "webCurateIncremental: priorContentKeys needs (content_key); " +
        "got " + priorContentKeys.columns.mkString("(", ", ", ")"))
    val extracted = newDf
      .withColumn("url_canonical",
        TextFunctions.normalizeUrl(col(urlCol)))
      .withColumn("clean_text",
        TextFunctions.stripHtml(col(htmlCol)))
    val withinUrl = Dedup.exactRows(extracted, Seq("url_canonical"),
      idCol)
    val priorUrl = priorUrlKeys.select("url_canonical")
    val urlFresh = withinUrl.join(priorUrl, Seq("url_canonical"),
      "left_anti")
    val gated = gateAndScore(urlFresh, "clean_text", targetLang,
      minQuality, minLangMargin)
      .withColumn("__content_key", md5(col("clean_text")))
    val withinContent = Dedup.exactRows(gated, Seq("__content_key"),
      idCol)
    val priorContent = priorContentKeys.select(
      col("content_key").as("__content_key"))
    val contentFresh = withinContent.join(priorContent,
      Seq("__content_key"), "left_anti")
    val curated = Sampling.hashSample(
      contentFresh.drop("__content_key"), idCol, sampleFraction, salt)
    // r16: the key deltas are PROJECTIONS of frames already on the
    // curated path — `urlFresh` is exactly "withinUrl's one row per
    // canonical URL, minus prior keys", and `contentFresh` is exactly
    // "gated's one row per content key, minus prior keys" — so the
    // former standalone delta plans (a second anti-join each, plus a
    // distinct on the content side) were re-derivations of the same
    // sets. With the delta plans folded in, every returned frame
    // shares one lineage, and the r15 persists of `withinUrl`/`gated`
    // (which measured q254 1.25× SLOWER at both core counts — the
    // cache materialization cost more than the delta-sized re-scan
    // they saved) come out entirely.
    WebCurateState(
      curated,
      urlFresh.select("url_canonical"),
      contentFresh.select(col("__content_key").as("content_key")))
  }

  /** Batch-0 of a [[webCurateIncremental]] chain: the incremental face
    * with empty key stores — provided so callers (and the streaming
    * face) never hand-build empty single-column frames. */
  def webCurateBootstrap(df: DataFrame, idCol: String, urlCol: String,
      htmlCol: String, targetLang: String = "en",
      minQuality: Double = 0.0, minLangMargin: Int = 0,
      sampleFraction: Double = 1.0, salt: String = "")
      : WebCurateState =
    webCurateIncremental(df,
      df.select(lit("").as("url_canonical")).limit(0),
      df.select(lit("").as("content_key")).limit(0),
      idCol, urlCol, htmlCol, targetLang, minQuality, minLangMargin,
      sampleFraction, salt)

  /** The EMBEDDED-corpus curation preset — [[webCurate]] for a corpus
    * whose unit of meaning is a vector (dataset distillation before
    * pre-training/fine-tuning), composed from the library's embedding
    * primitives in the order production pipelines run them:
    *
    *   near-dup pairs ([[Dedup.embeddingNearDup]], multi-table
    *   hyperplane LSH + exact-cosine verify) → duplicate clusters
    *   ([[Dedup.duplicateClusters]]) → keep the BEST-quality doc per
    *   cluster ([[Dedup.resolveClusters]]) → semantic benchmark
    *   decontamination ([[Decontaminate.semantic]], survivors within
    *   `deconThreshold` cosine of any bench vector drop) →
    *   deterministic hash sample.
    *
    * `bench = Some((frame, idCol, vecCol))` enables the decon stage;
    * None skips it. `blockPlanes <= 0` keeps [[Dedup.embeddingNearDup]]'s
    * corpus-adaptive bucket sizing (pin it for reproducibility / when
    * feeding saved [[Dedup.vectorBucketSignatures]] stores upstream).
    *
    * Shape at 100 TB: the pair stage is one native bucket pass and one
    * grouped pair scan over the LSH buckets (valved), clustering is
    * star contraction with full path compression over the PAIR graph
    * (O(log n) rounds for any id layout — [[Dedup.duplicateClusters]]),
    * keep-best is one shared component exchange,
    * decon broadcasts a ≤65536-vector bench (LSH above), the sample is
    * scan-side hash math. Output: surviving rows + `component` +
    * `cluster_size`. */
  def embedCurate(df: DataFrame, idCol: String, vecCol: String,
      qualityCol: String, dupThreshold: Double,
      bench: Option[(DataFrame, String, String)] = None,
      deconThreshold: Double = 0.9, blockTables: Int = 4,
      blockPlanes: Int = 0, dim: Int = 0,
      sampleFraction: Double = 1.0, salt: String = ""): DataFrame = {
    val pairs = Dedup.embeddingNearDup(df, idCol, vecCol, dupThreshold,
      blockTables = blockTables, blockPlanes = blockPlanes, dim = dim)
    val clusters = Dedup.duplicateClusters(pairs)
    val kept = Dedup.resolveClusters(df, clusters, idCol, qualityCol)
    val deconed = deconGate(kept, idCol, vecCol, bench,
      deconThreshold, dim)
    Sampling.hashSample(deconed, idCol, sampleFraction, salt)
  }

  /** The state an [[embedCurateIncremental]] chain carries between
    * batches: `curated` = this round's preset output (post-decon,
    * post-sample, with `component`/`cluster_size`); `labels` = the
    * complete (id, component) frame over every ever-paired doc (the
    * next batch's priorLabels); `resolved` = the post-decon PRE-sample
    * survivor set (the next batch's priorResolved — sampling is a
    * stateless deterministic hash filter re-applied per round, so it
    * must not be baked into the carried survivor set); `buckets` =
    * THIS batch's [[Dedup.vectorBucketSignatures]] frame (r16 — the
    * chain hashes each batch exactly once: the same persisted frame
    * fed the batch's pair joins, and the caller appends it to the
    * bucket store instead of re-hashing). Persist `labels`,
    * `resolved` and `buckets` per batch; `curated` is the sink. */
  final case class EmbedCurateState(curated: DataFrame,
    labels: DataFrame, resolved: DataFrame, buckets: DataFrame)

  /** Shared decon gate: drop survivors within `deconThreshold` cosine
    * of any bench vector; None passes through. */
  private def deconGate(kept: DataFrame, idCol: String, vecCol: String,
      bench: Option[(DataFrame, String, String)],
      deconThreshold: Double, dim: Int): DataFrame = bench match {
    case Some((b, bid, bvec)) =>
      // persisted (r15, guide §2.4): `kept` is consumed TWICE — scored
      // against the bench AND anti-joined against the flags — and it is
      // usually a fresh resolveClusters plan (a corpus window) whose
      // upstream would otherwise evaluate once per consumer
      val k = Dedup.trackedPersist(kept)
      val flagged = Decontaminate.semantic(k, idCol, vecCol,
        b, bid, bvec, deconThreshold, dim = dim)
        .select(col(idCol))
      Dedup.releaseOnMaterialize(
        k.join(flagged, Seq(idCol), "left_anti"), k)
    case None => kept
  }

  /** Batch-0 of an incremental embedded-corpus curation chain:
    * [[embedCurate]] with the chain state exposed. `blockPlanes` must
    * be explicit (> 0) — the chain's later batches join saved
    * [[Dedup.vectorBucketSignatures]] stores, and a corpus-adaptive
    * bucket space re-derived from a growing corpus would drift between
    * batches (the store discipline). Size it for the corpus's TARGET
    * size ([[Dedup.autoBlockPlanes]]). The caller persists
    * `state.labels` / `state.resolved` and writes the batch's
    * [[Dedup.vectorBucketSignatures]] + its doc rows to the store
    * ([[graft.streaming.StreamingMigrations.embedCurateStream]]
    * packages exactly that). */
  def embedCurateBootstrap(df: DataFrame, idCol: String, vecCol: String,
      qualityCol: String, dupThreshold: Double,
      bench: Option[(DataFrame, String, String)] = None,
      deconThreshold: Double = 0.9, blockTables: Int = 4,
      blockPlanes: Int = 12, dim: Int = 0,
      sampleFraction: Double = 1.0, salt: String = "")
      : EmbedCurateState = {
    require(blockPlanes > 0,
      "embedCurateBootstrap: blockPlanes must be explicit (> 0) — " +
        "the incremental chain joins saved bucket stores, and an " +
        "adaptive space would drift between batches; size ~ " +
        "log2(target corpus / targetBucket)")
    // hash the batch ONCE (r16, guide §2.4): the same persisted bucket
    // frame feeds the pair stage's candidate join AND the caller's
    // bucket-store write (q253/embedCurateStream previously re-ran the
    // blockTables × blockPlanes plane dot products over the batch for
    // the store append)
    val buckets = Dedup.trackedPersist(Dedup.vectorBucketSignatures(
      df, idCol, vecCol, blockTables, blockPlanes, dim))
    val pairs = Dedup.embeddingNearDupLsh(df, idCol, vecCol,
      dupThreshold, blockTables, blockPlanes, dim,
      sharedBuckets = Some(buckets))
    val labels = Dedup.duplicateClusters(pairs)
    val kept = Dedup.resolveClusters(df, labels, idCol, qualityCol)
    val resolved = deconGate(kept, idCol, vecCol, bench,
      deconThreshold, dim)
    EmbedCurateState(
      Sampling.hashSample(resolved, idCol, sampleFraction, salt),
      labels, resolved, buckets)
  }

  /** The INCREMENTAL embedded-corpus curation preset — the composition
    * r14 left hand-assembled, packaged: one daily batch flows through
    *
    *   within-batch pairs (pinned-plane [[Dedup.embeddingNearDup]]) ∪
    *   batch×corpus pairs ([[Dedup.embeddingNearDupBetweenPrecomputed]]
    *   against the SAVED bucket store — ref vectors are never
    *   re-hashed) → [[Dedup.mergeClusters]] (label propagation over
    *   the contracted delta graph only) →
    *   [[Dedup.resolveClustersIncremental]] (only changed components
    *   re-elect survivors) → decon of the FRESH survivors only (ids
    *   already in `priorResolved` passed the identical deterministic
    *   gate in an earlier round) → deterministic hash sample.
    *
    * Returns the one-shot-equivalent state: `curated` over batches
    * 1..N equals [[embedCurate]] run on the union (the q253 oracle
    * proves it on a planted split), provided the chain holds its
    * parameters constant — same planes/tables/threshold (the store
    * stamp enforces those), same bench frame, same deconThreshold,
    * same quality column. `refDocs` = the accumulated prior corpus
    * (only changed-component members are actually read — the semi-join
    * prunes at the scan); `refBuckets` = the saved
    * [[Dedup.vectorBucketSignatures]] store of exactly those docs.
    *
    * Shape at 100 TB per batch: the delta hashes once; candidates meet
    * the store on the (t, bkt) equi-join; mergeClusters touches the
    * contracted delta graph + one broadcast relabel; the re-elect
    * window runs over touched members only; decon scores fresh
    * survivors only. No stage re-pays the accumulated corpus. */
  def embedCurateIncremental(newDf: DataFrame, refDocs: DataFrame,
      refBuckets: DataFrame, priorLabels: DataFrame,
      priorResolved: DataFrame, idCol: String, vecCol: String,
      qualityCol: String, dupThreshold: Double,
      bench: Option[(DataFrame, String, String)] = None,
      deconThreshold: Double = 0.9, blockTables: Int = 4,
      blockPlanes: Int = 12, dim: Int = 0,
      sampleFraction: Double = 1.0, salt: String = "")
      : EmbedCurateState = {
    // hash the delta ONCE (r16, guide §2.4): one persisted bucket
    // frame serves the within-batch pair join, the batch×store
    // candidate join, AND the caller's store append (previously three
    // separate plane-hash evaluations of the same delta vectors)
    val deltaBuckets = Dedup.trackedPersist(
      Dedup.vectorBucketSignatures(newDf, idCol, vecCol, blockTables,
        blockPlanes, dim))
    val within = Dedup.embeddingNearDupLsh(newDf, idCol, vecCol,
      dupThreshold, blockTables, blockPlanes, dim,
      sharedBuckets = Some(deltaBuckets))
    val cross = Dedup.embeddingNearDupBetweenImpl(newDf,
      Some(deltaBuckets),
      refBuckets, refDocs.select(col(idCol), col(vecCol)), idCol,
      vecCol, dupThreshold, blockTables, blockPlanes, dim)
      .toDF("id_a", "id_b")
    val newLabels = Dedup.mergeClusters(priorLabels,
      within.unionByName(cross))
    val docs = refDocs.unionByName(newDf)
    // persisted (r15, guide §2.4): the incremental resolve output is
    // consumed twice below (fresh anti-join + pass-through semi-join)
    val resolved = Dedup.trackedPersist(
      Dedup.resolveClustersIncremental(docs, newDf,
        priorResolved, priorLabels, newLabels, idCol, qualityCol))
    // decon only survivors NEW to the survivor set: an id already in
    // priorResolved passed this exact deterministic gate (same
    // vector, same bench, same threshold — the chain contract) in an
    // earlier round, so re-scoring it would re-scan the accumulated
    // survivor set per batch for identical answers
    val priorIds = priorResolved.select(col(idCol))
    val fresh = resolved.join(priorIds, Seq(idCol), "left_anti")
    val freshKept = deconGate(fresh, idCol, vecCol, bench,
      deconThreshold, dim)
    val newResolved = resolved.join(priorIds, Seq(idCol), "left_semi")
      .unionByName(freshKept)
    EmbedCurateState(
      Dedup.releaseOnMaterialize(
        Sampling.hashSample(newResolved, idCol, sampleFraction, salt),
        resolved),
      newLabels, newResolved, deltaBuckets)
  }

  /** The crawl preset's STRUCTURED-TEXT entry point: for callers whose
    * extraction (their own boilerplate-aware parser, a WET file, a
    * pre-rendered text dump) already produced text WITH line/paragraph
    * structure intact. [[webCurate]] cannot offer line/paragraph dedup
    * hooks because [[TextFunctions.stripHtml]] folds newlines — a
    * "line" no longer exists downstream of it; this entry point runs
    * the hooks in the one order that is correct, so users stop
    * hand-composing the ordering the [[webCurate]] docstring warns
    * about:
    *
    *   URL canonical dedup (cheapest — drop re-fetches before paying
    *   any text work) → within-doc line dedup
    *   ([[TextFunctions.dedupLinesInDoc]], zero-shuffle) →
    *   cross-corpus boilerplate line removal
    *   ([[Dedup.removeBoilerplateLines]], `maxLineDocFreq` > 0) →
    *   cross-corpus paragraph dedup ([[Dedup.paragraphDedup]]) →
    *   language/margin/quality gates → content dedup → sample
    *   (the [[curate]] tail).
    *
    * Note [[Dedup.paragraphDedup]] semantics carry over: a document
    * whose every paragraph loses (pure repeated boilerplate) DROPS.
    * All hooks default off — the preset then equals [[webCurate]]
    * minus extraction. Returns survivors with `url_canonical`,
    * `clean_text`, `predicted_lang`, `quality`. */
  def webCurateStructured(df: DataFrame, idCol: String, urlCol: String,
      textCol: String, targetLang: String = "en",
      minQuality: Double = 0.0, minLangMargin: Int = 0,
      sampleFraction: Double = 1.0, salt: String = "",
      dedupLinesWithinDoc: Boolean = false, maxLineDocFreq: Long = 0,
      dedupParagraphs: Boolean = false): DataFrame = {
    val canon = df.withColumn("url_canonical",
      TextFunctions.normalizeUrl(col(urlCol)))
    val urlDeduped = Dedup.exactRows(canon, Seq("url_canonical"), idCol)
    var t = urlDeduped.withColumn("clean_text", col(textCol))
    if (dedupLinesWithinDoc)
      t = t.withColumn("clean_text",
        TextFunctions.dedupLinesInDoc(col("clean_text")))
    if (maxLineDocFreq > 0)
      t = Dedup.removeBoilerplateLines(t, idCol, "clean_text",
          maxLineDocFreq, outCol = "__bl")
        .drop("clean_text").withColumnRenamed("__bl", "clean_text")
    if (dedupParagraphs) {
      val deduped = Dedup.paragraphDedup(t, idCol, "clean_text",
        outCol = "__pd")
      t = t.drop("clean_text")
        .join(deduped.select(col(idCol), col("__pd")), Seq(idCol))
        .withColumnRenamed("__pd", "clean_text")
    }
    curate(t, idCol, "clean_text", targetLang, minQuality,
      sampleFraction, salt, minLangMargin)
  }

  /** PER-DOMAIN quality gate: keep rows whose `scoreCol` is at or
    * above their own domain's `quantile` — a global floor
    * over-prunes clean domains and under-prunes noisy ones (a p50
    * academic-text doc and a p50 web-crawl doc are different animals),
    * so pre-training mixes threshold per source.
    *
    * Shape at 100 TB: ONE aggregate computes every domain's threshold
    * (domains are few — the threshold frame is broadcast back), then
    * the filter is a scan-side predicate; the corpus itself never
    * shuffles. The DEFAULT `exact = false` uses `approx_percentile`
    * (bounded-memory sketch — a hot domain with billions of distinct
    * scores cannot OOM the aggregate, so it is the 100 TB default;
    * identical to exact below the sketch's `accuracy` distinct values,
    * which the parity spec pins). `exact = true` buffers every
    * per-domain value inside the aggregate for the exact interpolated
    * percentile — parity/oracle work only.
    *
    * BREAKING DEFAULT (r13): `exact` defaulted to `true` through r12;
    * it is now `false` (the 100 TB posture). Once a domain's distinct
    * score count exceeds the sketch accuracy (10000), the approx
    * threshold can differ from the exact interpolated one and the
    * survivor set shifts at the margin. Callers who pinned behavior on
    * the old default pass `exact = true` explicitly — README "Release
    * notes" carries the same warning. */
  def domainPercentileFilter(df: DataFrame, sourceCol: String,
      scoreCol: String, quantile: Double,
      exact: Boolean = false): DataFrame = {
    require(quantile > 0 && quantile < 1,
      s"domainPercentileFilter: quantile in (0,1), got $quantile")
    val agg =
      if (exact) percentile(col(scoreCol), lit(quantile))
      else percentile_approx(col(scoreCol), lit(quantile), lit(10000))
    val th = df.groupBy(col(sourceCol).as("__src"))
      .agg(agg.cast("double").as("__th"))
    // null-safe join: rows with a NULL domain form their own group
    // (groupBy already aggregates them) — a plain equi-join would
    // silently DELETE them, a quality gate dropping rows for a
    // non-quality reason. Rows whose score is NULL do drop (NULL >=
    // th is never true): no score is no evidence of quality.
    df.join(broadcast(th), df(sourceCol) <=> th("__src"))
      .where(col(scoreCol).cast("double") >= col("__th"))
      .drop("__src", "__th")
  }

  /** Exact per-domain score HISTOGRAM — the persistable, mergeable
    * state behind [[domainPercentileFilterIncremental]]: one row per
    * (source, score) with its count. Exact percentiles of the corpus
    * are a pure function of this table, and two batches' tables merge
    * by key-summing ([[mergeScoreHistograms]]) — so a daily-ingest
    * pipeline accumulates ONE bounded sidecar instead of re-shuffling
    * 100 TB of prior batches to re-rank each new day (the q230/q244
    * store economics applied to the quality gate).
    *
    * Size posture: |domains| × |distinct scores| rows. Integer-ish
    * scores (lengths, token counts, 0-100 quality grades) keep it
    * tiny; CONTINUOUS scores should be rounded to a grid first — the
    * thresholds are then exact for the rounded score, the usual
    * sketch trade stated honestly. Null scores drop (no evidence of
    * quality — the gate's own contract); a null domain keeps its own
    * group, matching the filter's null-safe join. */
  def domainScoreHistogram(df: DataFrame, sourceCol: String,
      scoreCol: String): DataFrame =
    df.where(col(scoreCol).isNotNull)
      .groupBy(col(sourceCol).as("source"),
        col(scoreCol).cast("double").as("score"))
      .agg(count(lit(1)).as("cnt"))

  /** Key-sum two or more score histograms into one (the merge half of
    * the [[domainScoreHistogram]] contract). */
  def mergeScoreHistograms(hists: DataFrame*): DataFrame = {
    require(hists.nonEmpty, "mergeScoreHistograms: no inputs")
    hists.map(_.select("source", "score", "cnt"))
      .reduce(_.unionByName(_))
      .groupBy("source", "score")
      .agg(sum("cnt").as("cnt"))
  }

  /** Per-domain interpolated percentile thresholds from a score
    * histogram — (source, __th), reproducing exact `percentile`
    * semantics (sorted position q·(n−1), linear interpolation between
    * the straddling order statistics) from counts alone: one window
    * pass over HISTOGRAM rows (never corpus rows) for the cumulative
    * counts, one aggregate to pick the straddling scores. */
  def domainPercentileThresholds(hist: DataFrame, quantile: Double)
      : DataFrame = {
    require(quantile > 0 && quantile < 1,
      s"domainPercentileThresholds: quantile in (0,1), got $quantile")
    import org.apache.spark.sql.expressions.Window
    val bySrc = Window.partitionBy("source")
    val cumW = Window.partitionBy("source").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("__n", sum("cnt").over(bySrc))
      .withColumn("__cum", sum("cnt").over(cumW))
      .withColumn("__prev", col("__cum") - col("cnt"))
      .withColumn("__pos", lit(quantile) * (col("__n") - 1))
      .withColumn("__j1", floor(col("__pos")))
      .withColumn("__j2", ceil(col("__pos")))
      .groupBy("source")
      .agg(
        max(when(col("__j1") >= col("__prev") &&
          col("__j1") < col("__cum"), col("score"))).as("__v1"),
        max(when(col("__j2") >= col("__prev") &&
          col("__j2") < col("__cum"), col("score"))).as("__v2"),
        max(col("__pos")).as("__p"), max(col("__j1")).as("__f"))
      // v1 + (v2 - v1) * (pos - floor(pos)) — the exact-percentile
      // interpolation, bit-for-bit (same operand order; integer
      // positions collapse to v1 exactly in every engine)
      .select(col("source"),
        (col("__v1") + (col("__v2") - col("__v1")) *
          (col("__p") - col("__f"))).as("__th"))
  }

  /** One-call corpus PROFILE (the "data card" pass a pipeline runs
    * before touching anything): one row per source with document
    * counts, exact character-length quantiles, the content-hash
    * duplication rate, and the dominant predicted language with its
    * share — the numbers that decide which domains get gated, deduped
    * harder, or dropped.
    *
    * Plan at 100 TB: two keyed aggregates over one corpus scan each —
    * per-source stats (count/sum/percentile/distinct-hash, all
    * partial-aggregating) and per-(source, predicted_lang) counts
    * reduced to an argmax by one window over the tiny per-source lang
    * table — joined source-keyed; nothing collects, nothing is
    * quadratic. `exact = false` (default true here, unlike the gate:
    * a report is usually run once) switches the quantiles to the
    * bounded-memory approx sketch. Null/empty texts count in `n_docs`
    * and `n_empty` but not in lengths or hashes. */
  def corpusReport(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, exact: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val len = length(col(textCol))
    def q(p: Double) =
      (if (exact) percentile(len, lit(p))
       else percentile_approx(len, lit(p), lit(10000)))
        .cast("double")
    val stats = df.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col(textCol).isNull || col(textCol) === "", 1))
          .as("n_empty"),
        coalesce(sum(len.cast("long")), lit(0L)).as("total_chars"),
        q(0.25).as("chars_p25"), q(0.5).as("chars_p50"),
        q(0.75).as("chars_p75"),
        count_distinct(md5(col(textCol))).as("distinct_texts"))
    val langCounts = df.where(col(textCol).isNotNull)
      .groupBy(col(sourceCol).as("source"),
        TextFunctions.langId(col(textCol)).as("top_lang"))
      .agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy("source")
      .orderBy(col("__n").desc, col("top_lang").asc)
    val top = langCounts
      .withColumn("__r", row_number().over(w))
      .where(col("__r") === 1)
      .drop("__r")
    stats.join(top, Seq("source"), "left")
      .withColumn("dup_rate", lit(1.0) -
        col("distinct_texts").cast("double") / col("n_docs"))
      .withColumn("top_lang_share",
        col("__n").cast("double") / col("n_docs"))
      .drop("__n")
  }

  /** The three mergeable sidecars [[corpusReportIncremental]] carries
    * between batches: per-(source, length) counts, per-(source,
    * predicted-lang) counts, and the distinct (source, content-hash)
    * pairs. The hash sidecar is the only corpus-CARDINALITY one, but
    * at 16 md5 bytes per distinct text it is ~3 orders of magnitude
    * narrower than the corpus it summarizes — re-deriving the dup
    * rate from it instead of re-reading text is the whole point. */
  final case class CorpusReportState(lenHist: DataFrame,
      langCounts: DataFrame, hashes: DataFrame)

  /** Build one batch's report sidecars (merge = key-sum the two count
    * frames, distinct-union the hash frame — [[corpusReportIncremental]]
    * does both). Null texts count under length/lang NULL-skipping
    * exactly as [[corpusReport]] does: lengths and langs skip them,
    * `n_docs`/`n_empty` come from the length histogram plus the
    * separate empty counter riding in `lenHist` as `n_all`/`n_empty`
    * per (source): one extra tiny aggregate. */
  def corpusReportSidecars(df: DataFrame, idCol: String,
      textCol: String, sourceCol: String): CorpusReportState = {
    val len = length(col(textCol))
    val lenHist = df.groupBy(col(sourceCol).as("source"),
        len.as("len"))
      .agg(count(lit(1)).as("cnt"),
        count(when(col(textCol).isNull || col(textCol) === "", 1))
          .as("n_empty"))
    val langCounts = df.where(col(textCol).isNotNull)
      .groupBy(col(sourceCol).as("source"),
        TextFunctions.langId(col(textCol)).as("lang"))
      .agg(count(lit(1)).as("cnt"))
    val hashes = df.where(col(textCol).isNotNull)
      .select(col(sourceCol).as("source"),
        md5(col(textCol)).as("h"))
      .distinct()
    CorpusReportState(lenHist, langCounts, hashes)
  }

  /** [[corpusReport]] for an append-only corpus WITHOUT re-reading
    * it: merge the prior batches' sidecars with the new batch's and
    * derive the card from counts alone — exact equality with the
    * one-shot report on the union (quantiles via the same
    * interpolated order statistics the histogram thresholds use,
    * dup rate from the distinct-hash union, dominant language from
    * the key-summed lang counts). Returns the refreshed card plus
    * the merged sidecars to carry forward.
    *
    * Per-batch cost: delta-sized aggregates plus sidecar-sized
    * merges. The hash sidecar is distinct-text cardinality (16-byte
    * rows); the other two are |sources|×|distinct lengths or langs|. */
  def corpusReportIncremental(newDf: DataFrame, prior: CorpusReportState,
      idCol: String, textCol: String, sourceCol: String)
      : (DataFrame, CorpusReportState) = {
    import org.apache.spark.sql.expressions.Window
    val delta = corpusReportSidecars(newDf, idCol, textCol, sourceCol)
    val lenHist = prior.lenHist.select("source", "len", "cnt", "n_empty")
      .unionByName(delta.lenHist.select("source", "len", "cnt",
        "n_empty"))
      .groupBy("source", "len")
      .agg(sum("cnt").as("cnt"), sum("n_empty").as("n_empty"))
    val langCounts = prior.langCounts.select("source", "lang", "cnt")
      .unionByName(delta.langCounts.select("source", "lang", "cnt"))
      .groupBy("source", "lang")
      .agg(sum("cnt").as("cnt"))
    val hashes = prior.hashes.select("source", "h")
      .unionByName(delta.hashes.select("source", "h"))
      .distinct()
    // per-source scalars from the length histogram: n_docs counts ALL
    // rows (null lengths included — they land as a len-NULL histogram
    // row), lengths/quantiles skip the null row like the one-shot's
    // aggregates skip null texts
    val bySrc = Window.partitionBy("source")
    val cumW = Window.partitionBy("source").orderBy("len")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def interp(q: Double, tag: String): Seq[org.apache.spark.sql.Column] = {
      Seq(
        max(when(col(s"__j1_$tag") >= col("__prev") &&
          col(s"__j1_$tag") < col("__cum"), col("len").cast("double")))
          .as(s"__v1_$tag"),
        max(when(col(s"__j2_$tag") >= col("__prev") &&
          col(s"__j2_$tag") < col("__cum"), col("len").cast("double")))
          .as(s"__v2_$tag"),
        max(col(s"__p_$tag")).as(s"__pp_$tag"),
        max(col(s"__j1_$tag")).as(s"__f_$tag"))
    }
    val nonNull = lenHist.where(col("len").isNotNull)
      .withColumn("__n", sum("cnt").over(bySrc))
      .withColumn("__cum", sum("cnt").over(cumW))
      .withColumn("__prev", col("__cum") - col("cnt"))
    val withPos = Seq(0.25 -> "a", 0.5 -> "b", 0.75 -> "c")
      .foldLeft(nonNull) { case (d, (q, t)) =>
        d.withColumn(s"__p_$t", lit(q) * (col("__n") - 1))
          .withColumn(s"__j1_$t", floor(col(s"__p_$t")))
          .withColumn(s"__j2_$t", ceil(col(s"__p_$t")))
      }
    val aggs = Seq(0.25 -> "a", 0.5 -> "b", 0.75 -> "c")
      .flatMap { case (q, t) => interp(q, t) } :+
      coalesce(sum(col("len").cast("long") * col("cnt")), lit(0L))
        .as("total_chars")
    val quant = withPos.groupBy("source")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("source"), col("total_chars"),
        (col("__v1_a") + (col("__v2_a") - col("__v1_a")) *
          (col("__pp_a") - col("__f_a"))).as("chars_p25"),
        (col("__v1_b") + (col("__v2_b") - col("__v1_b")) *
          (col("__pp_b") - col("__f_b"))).as("chars_p50"),
        (col("__v1_c") + (col("__v2_c") - col("__v1_c")) *
          (col("__pp_c") - col("__f_c"))).as("chars_p75"))
    val counts = lenHist.groupBy("source")
      .agg(sum("cnt").as("n_docs"), sum("n_empty").as("n_empty"))
    val distinctTexts = hashes.groupBy("source")
      .agg(count(lit(1)).as("distinct_texts"))
    val topW = Window.partitionBy("source")
      .orderBy(col("cnt").desc, col("lang").asc)
    val top = langCounts.withColumn("__r", row_number().over(topW))
      .where(col("__r") === 1)
      .select(col("source"), col("lang").as("top_lang"),
        col("cnt").as("__n"))
    val report = counts
      .join(quant, Seq("source"), "left")
      .join(distinctTexts, Seq("source"), "left")
      .join(top, Seq("source"), "left")
      .withColumn("distinct_texts",
        coalesce(col("distinct_texts"), lit(0L)))
      .withColumn("total_chars",
        coalesce(col("total_chars"), lit(0L)))
      .withColumn("dup_rate", lit(1.0) -
        col("distinct_texts").cast("double") / col("n_docs"))
      .withColumn("top_lang_share",
        col("__n").cast("double") / col("n_docs"))
      .select("source", "n_docs", "n_empty", "total_chars",
        "chars_p25", "chars_p50", "chars_p75", "distinct_texts",
        "top_lang", "dup_rate", "top_lang_share")
    (report, CorpusReportState(lenHist, langCounts, hashes))
  }

  /** The kept delta plus the histogram to carry into the next batch. */
  final case class DomainGateState(kept: DataFrame, hist: DataFrame)

  /** INCREMENTAL per-domain quality percentile gate: gate ONLY the
    * new batch, with thresholds computed over the WHOLE corpus seen
    * so far — the accumulated [[domainScoreHistogram]] sidecar plus
    * this batch's own scores. `kept` equals
    * [[domainPercentileFilter]] (exact) on the UNION restricted to
    * the delta's rows; prior batches' keep decisions stand as made
    * under their era's thresholds (the production reality for an
    * append-only corpus — re-gate retroactively by re-running the
    * one-shot when the contract requires it).
    *
    * Per-batch cost: one delta-sized aggregate, one histogram-sized
    * merge + window, one broadcast join back onto the delta — the
    * prior corpus is never re-read. */
  def domainPercentileFilterIncremental(newDf: DataFrame,
      priorHist: DataFrame, sourceCol: String, scoreCol: String,
      quantile: Double): DomainGateState = {
    require(quantile > 0 && quantile < 1,
      s"domainPercentileFilterIncremental: quantile in (0,1), " +
        s"got $quantile")
    val hist = mergeScoreHistograms(priorHist,
      domainScoreHistogram(newDf, sourceCol, scoreCol))
    val th = domainPercentileThresholds(hist, quantile)
      .withColumnRenamed("source", "__src")
    val kept = newDf.join(broadcast(th),
        newDf(sourceCol) <=> th("__src"))
      .where(col(scoreCol).cast("double") >= col("__th"))
      .drop("__src", "__th")
    DomainGateState(kept, hist)
  }
}
