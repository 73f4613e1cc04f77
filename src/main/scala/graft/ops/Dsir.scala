package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR — Data Selection via Importance Resampling (Xie et al.,
  * arXiv:2302.03169): pick raw-corpus documents whose hashed n-gram
  * profile looks like a small target corpus. The standard
  * quality-targeted selection step of a pre-training pipeline (e.g.
  * "select web text that looks like Wikipedia").
  *
  * Method, exactly as published: featurize each document as a bag of
  * unigrams+bigrams hashed into `buckets` buckets; fit two smoothed
  * bag-of-words generative models — p over the target corpus, q over the
  * raw corpus; a document's log importance weight is
  * Σ_g count_x(g) · (log p̂[h(g)] − log q̂[h(g)]); resample k documents
  * with Gumbel top-k, which draws without replacement with probability
  * ∝ exp(log w).
  *
  * Shape at 100 TB: each model fit is one explode + one hash aggregation
  * collapsing to ≤ `buckets` rows (default 10⁴ — kilobytes). The
  * log-ratio table joins the two model tables (bucket-keyed, tiny),
  * is collected once (bounded driver state, like the k-means centroid
  * fold), and scoring folds it into the corpus scan as an array
  * literal: per document one `aggregate` over its n-grams — no explode,
  * no join, no shuffle at all in the scoring pass. Selection is a
  * TakeOrderedAndProject (per-partition top-k, k rows to the driver
  * side of the sort — never the corpus).
  *
  * Everything is deterministic: the n-gram hash is the code-point
  * FNV-1a [[graft.functions.Fnv.hash60]] (a native expression — one
  * multiply+xor per character inside codegen, reproduced by the DuckDB
  * oracle in plain integer SQL; the md5-derived
  * [[TextFunctions.hash60]] it replaced pays an MD5 digest PER N-GRAM,
  * the dominant constant factor of the 100× scoring pass) and the Gumbel noise is computed from a
  * hashed uniform of the document id + salt, so the "random" sample is
  * a pure function of the data — stable across runs, retries, and
  * engines, like every sampler in [[Sampling]].
  */
object Dsir {

  /** Unigrams + bigrams of `text` — the paper's feature set. The token
    * array is expected as a materialized COLUMN (see
    * [[TextFunctions.shinglesOfTokens]]'s per-element re-evaluation
    * warning). */
  private def ngrams(toks: Column): Column =
    concat(toks, TextFunctions.shinglesOfTokens(toks, 2))

  /** (bucket, cnt) occurrence counts of hashed unigram+bigram features:
    * one explode + one ≤`buckets`-row aggregation. Occurrences, not
    * distinct — the models are multinomial. */
  def featureCounts(df: DataFrame, textCol: String,
      buckets: Int): DataFrame =
    df.select(TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(explode(ngrams(col("__toks"))).as("__g"))
      .groupBy((graft.functions.HashFunctions.fnv_hash60(col("__g"))
        % buckets).as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Per-bucket log p̂_target − log q̂_raw under add-`smoothing`
    * Laplace-smoothed multinomials. Missing buckets on either side count
    * 0 and still get smoothed mass, so the ratio is defined everywhere:
    * the frame carries all `buckets` ids via a generated spine (a
    * `sequence` literal — no data shuffle). ≤`buckets` rows; callers
    * broadcast it. */
  def logRatios(target: DataFrame, raw: DataFrame, textCol: String,
      buckets: Int = 10000, smoothing: Double = 1.0): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    require(smoothing > 0, "smoothing must be positive (unsmoothed " +
      "models put -inf weights on unseen buckets)")
    val spine = target.sparkSession.range(1)
      .select(explode(sequence(lit(0L), lit(buckets - 1L))).as("bucket"))
    def side(df: DataFrame, as: String): DataFrame =
      featureCounts(df, textCol, buckets).withColumnRenamed("cnt", as)
    val joined = spine
      .join(side(target, "__tc"), Seq("bucket"), "left")
      .join(side(raw, "__rc"), Seq("bucket"), "left")
    def logProb(cnt: Column, total: Column): Column =
      log((coalesce(cnt, lit(0L)) + smoothing) /
        (total + smoothing * buckets))
    // model totals as whole-frame window sums over the ≤`buckets`-row
    // joined table — in-plan, and the corpus scans behind `joined` run
    // once (a separate .agg() branch would re-scan both corpora)
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    def total(c: Column): Column = sum(coalesce(c, lit(0L))).over(all)
    joined.select(col("bucket"),
      (logProb(col("__tc"), total(col("__tc"))) -
        logProb(col("__rc"), total(col("__rc")))).as("log_ratio"))
  }

  /** Per-document DSIR log importance weight: the corpus with a
    * `log_weight` column. `ratios` is the ≤`buckets`-row output of
    * [[logRatios]] — BOUNDED driver state (10⁴ rows ≈ 80 KB at the
    * default), the same class as the k-means centroid fold: it is
    * collected once and folded into a single array LITERAL indexed by
    * bucket, so scoring is pure scan algebra — per document one
    * `aggregate` over its n-grams summing `ratio[h(g) mod buckets]`.
    * No explode, no join, no per-doc shuffle: the earlier
    * explode → broadcast-join → groupBy(id) form materialized one row
    * per n-gram OCCURRENCE (the whole corpus × ~2·tokens) through a
    * join probe and a hash aggregation, and at 100× that constant
    * factor made q150 the heaviest absolute query in the suite.
    * Documents with no features (empty/null text) weigh 0 — the
    * empty-product likelihood ratio.
    *
    * The per-doc sum quantizes each log-ratio to 1e-9 and adds LONGS
    * (the repo's "cents" pattern): float addition is order-dependent,
    * so a raw double sum would drift with partitioning/parallelism;
    * integer sums make the weight a pure function of the data. 1e-9
    * keeps the sum inside a long even for book-length documents
    * (|lr| ≲ 50 → 5·10¹⁰ per n-gram; ~10⁶ n-grams → 5·10¹⁶ ≪ 2⁶³). */
  def logWeights(corpus: DataFrame, idCol: String, textCol: String,
      ratios: DataFrame, buckets: Int): DataFrame = {
    val lr = new Array[Long](buckets)
    ratios.select(col("bucket"),
      floor(col("log_ratio") * 1e9 + 0.5).cast("long").as("q"))
      .collect().foreach(r => lr(r.getLong(0).toInt) = r.getLong(1))
    val lrLit = lit(lr)
    // the scan-fused path removed the incidental Exchanges that used to
    // re-parallelize a single-split scan — pin parallelism first
    Partitioning.ensureMinPartitions(corpus)
      .withColumn("__toks", TextFunctions.tokens(col(textCol)))
      .withColumn("log_weight", coalesce(
        aggregate(ngrams(col("__toks")), lit(0L), (acc, g) =>
          acc + element_at(lrLit,
            (graft.functions.HashFunctions.fnv_hash60(g) % buckets)
              .cast("int") + 1))
          / 1e9,
        lit(0.0)))
      .drop("__toks")
  }

  /** Select `k` documents from `raw` that look like `target`: fit both
    * models, weight, Gumbel-top-k. The Gumbel key is
    * `log_weight − ln(−ln(u))` with `u` a HASHED uniform of the id
    * (deterministic; `salt` gives independent redraws), which samples
    * without replacement ∝ exp(log_weight) — the paper's sampler, made
    * reproducible. `gumbel = false` degrades to plain top-k by weight
    * (ties broken by id), the deterministic mode the oracle checks
    * exactly. */
  def select(raw: DataFrame, idCol: String, textCol: String,
      target: DataFrame, k: Int, buckets: Int = 10000,
      smoothing: Double = 1.0, gumbel: Boolean = true,
      salt: String = ""): DataFrame = {
    require(k > 0, "k must be positive")
    val ratios = logRatios(target, raw, textCol, buckets, smoothing)
    val weighted = logWeights(raw, idCol, textCol, ratios, buckets)
    val key =
      if (gumbel) {
        // u in (0, 1): bucket midpoint of the 60-bit hash keeps u off
        // both endpoints, so -ln(-ln(u)) is finite
        val u = (Sampling.hashBucket(col(idCol), salt).cast("double") +
          0.5) / 1000000.0
        col("log_weight") - log(-log(u))
      } else col("log_weight")
    weighted.withColumn("__key", key)
      .orderBy(col("__key").desc, col(idCol))
      .limit(k)
      .drop("__key")
  }
}
