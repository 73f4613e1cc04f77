package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import TextFunctions._

/** Deduplication operators for training-data pipelines, all shaped for
  * scale: hash-partitioned group-bys and shingle/band bucket joins — never
  * a raw O(n²) cross join on the full corpus. The quadratic work only
  * happens inside candidate buckets.
  *
  * Three pair cores: [[passJoin]] (edit distance), [[groupedPairScan]]
  * (embedding near-dup in buckets or blocks, semDeDup) and [[bandJoin]]
  * (MinHash bands, SimHash/perceptual-hash chunks, the embedding store).
  * Every face checks its candidate volume first, in [[candidateValve]]:
  * `spark.graft.jaccard.maxCandidatePairs` guards exact n-gram Jaccard
  * and the MinHash and Hamming bands, `spark.graft.embed.maxCandidatePairs`
  * the embedding faces, `spark.graft.editdist.maxCandidatePairs` PassJoin.
  */
object Dedup {

  /** Sink for the dense-shingle scale warning — injectable so specs can
    * assert it fires (same pattern as PipelineCompiler.scaleWarnSink). */
  @volatile private[graft] var denseWarnSink: String => Unit = msg =>
    org.apache.log4j.Logger.getLogger(Dedup.getClass).warn(msg)

  private val JaccardValve = "spark.graft.jaccard.maxCandidatePairs"
  private val EmbedValve = "spark.graft.embed.maxCandidatePairs"
  private val BandKeys = Seq("band", "sig")
  private val ChunkKeys = Seq("chunk", "key")
  private val BucketKeys = Seq("t", "bkt")

  /** Frames persisted by the operators below (shingle/signature subplans
    * that would otherwise recompute once per self-join side). They are
    * tracked here so callers can release them deterministically —
    * `spark.catalog.clearCache()` also works but nukes unrelated caches. */
  private val cachedFrames =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  /** Persist + track under [[releaseCaches]] — the shared-subplan reuse
    * discipline for Dedup and its sibling ops packages (Decontaminate,
    * Curation) and the per-batch caches of the streaming store loops.
    * A frame whose plan an existing cache entry already serves is neither
    * persisted nor tracked: that entry belongs to someone else (Spark's
    * cache lookup matches, e.g., a pure column-rename projection of a
    * cached frame), and the releases below free only what a call made. */
  private[graft] def trackedPersist(df: DataFrame): DataFrame = {
    val cached = df.sparkSession.sharedState.cacheManager.lookupCachedData(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
    if (cached.isEmpty) cachedFrames.add(df.persist())
    df
  }
  /** Unpersist `df` if [[trackedPersist]] persisted it and it is still
    * tracked; a no-op otherwise. */
  private[ops] def release(df: DataFrame): Unit =
    if (cachedFrames.remove(df)) df.unpersist(false)
  /** [[autoRelease]] for sibling ops packages. */
  private[ops] def releaseOnMaterialize(result: DataFrame,
      supports: DataFrame*): DataFrame = autoRelease(result, supports: _*)
  /** Unpersist every intermediate frame persisted by Dedup operators.
    * Call after the returned pair frames have been materialized. */
  def releaseCaches(): Unit = {
    var d = cachedFrames.poll()
    while (d != null) { d.unpersist(false); d = cachedFrames.poll() }
  }

  /** Auto-release hook: when `result` FIRST materializes (any action on it
    * or a derived frame), the support frames [[trackedPersist]] persisted
    * are unpersisted and dropped from the tracked set — long-lived
    * sessions don't accumulate shingle/signature caches after each dedup
    * call is consumed. Implemented as an
    * in-plan `Observation` (CollectMetrics is transparent to the result),
    * so the hook costs no extra job and fires only once the supports have
    * actually served their join sides. [[releaseCaches]] stays as the
    * manual path for results that are never materialized. A SECOND
    * materialization of the result recomputes the support subplans — call
    * sites that re-consume should persist the RESULT instead. */
  private def autoRelease(result: DataFrame, supports: DataFrame*)
      : DataFrame = {
    val obs = org.apache.spark.sql.Observation()
    val hooked = result.observe(obs, count(lit(1)).as("rows"))
    obs.future.foreach { _ =>
      supports.foreach(release)
    }(scala.concurrent.ExecutionContext.global)
    hooked
  }

  /** Store-parameter stamp/validate (r14 advice): every persistable
    * signature store carries its build parameters as literal columns
    * (`p_*`), and the precomputed faces REQUIRE them to match the
    * call's parameters before joining — a store built under different
    * chunking/banding/planes buckets the delta differently, and the
    * equi-join would silently MISS pairs instead of failing. The check
    * reads ONE store row (bounded probe — a full-store distinct would
    * re-scan the store every batch); a store with MIXED parameters
    * (batches appended under different settings) violates the store
    * contract and is only probabilistically caught. Stores written
    * before the stamp existed carry no `p_*` columns and skip the
    * check (documented legacy escape — restamp by rebuilding). */
  private[ops] def requireStoreParams(store: DataFrame, face: String,
      expected: (String, Int)*): Unit = {
    val present = expected.filter(p => store.columns.contains(p._1))
    if (present.nonEmpty) {
      store.select(present.map(p => col(p._1)): _*).limit(1).collect()
        .headOption.foreach { r =>
          present.zipWithIndex.foreach { case ((name, want), i) =>
            val got = r.get(i) match {
              case n: Number => n.intValue
              case other => sys.error(
                s"$face: store column $name is non-numeric ($other)")
            }
            require(got == want,
              s"$face: the store was built with $name=$got but this " +
                s"call uses $name=$want — the two would chunk/bucket " +
                "differently and the candidate equi-join would " +
                "silently miss pairs. Rebuild the store at the call's " +
                "parameters, or call with the store's.")
          }
        }
    }
  }

  /** [[requireStoreParams]] after checking that `store`, a `builder`
    * frame, carries `cols`. */
  private[ops] def requireStore(store: DataFrame, face: String,
      builder: String, cols: Seq[String], expected: (String, Int)*): Unit = {
    require(cols.forall(store.columns.contains), s"$face: the store needs " +
      s"${cols.mkString("(", ", ", ")")} — a $builder frame; got " +
      store.columns.mkString("(", ", ", ")"))
    requireStoreParams(store, face, expected: _*)
  }

  /** (keys…, __n): rows of `df` per key, [[candidateValve]]'s input. */
  private def keyCounts(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))

  /** Does `df`, holding `perId` rows per id, hold at most n ids? One
    * bounded `limit` job, never a full count. */
  private def idsAtMost(df: DataFrame, perId: Int): Long => Boolean = n => {
    val rows = n * perId
    rows < Int.MaxValue - 1 && df.limit(rows.toInt + 1).count() <= rows
  }

  /** The one pre-join candidate-volume valve, `valveKey` (default 2e9;
    * 0 disables). One hot key makes a key-equi-join quadratic, so the
    * volume is measured eagerly from [[keyCounts]] frames — Σ n·(n−1)/2
    * over `index` (self-join), or Σ n_i·n_p with a `probe` — and the
    * call fails fast, naming `face` and `remedy`, before any join job.
    * At most `perPair` candidate rows meet per id pair, so when every
    * `sized` check (an [[idsAtMost]] probe or a count in hand) holds
    * for the largest id count per side whose worst case stays within
    * the valve, the estimate is skipped. */
  private def candidateValve(face: String, valveKey: String,
      remedy: String, keys: Seq[String], index: DataFrame,
      probe: Option[DataFrame], perPair: Double = 1,
      sized: Seq[Long => Boolean] = Nil): Unit = {
    val max = index.sparkSession.conf.getOption(valveKey)
      .map(_.toLong).getOrElse(2000000000L)
    val self = probe.isEmpty
    def bound(n: Long): Double =
      if (self) perPair * n * (n - 1) / 2 else perPair * n * n
    def provablySmall: Boolean = {
      // the largest per-side id count whose worst case fits the valve
      var safeN = math.sqrt(max / perPair * (if (self) 2 else 1)).toLong + 1
      while (safeN > 0 && bound(safeN) > max) safeN -= 1
      sized.nonEmpty && safeN > 0 && sized.forall(_(safeN))
    }
    if (max > 0 && !provablySmall) {
      val n = col("__n").cast("double")
      val vol = (probe match {
        case None => index.agg(sum(n * (n - 1) / 2))
        case Some(p) => index.join(p.withColumnRenamed("__n", "__np"), keys)
          .agg(sum(n * col("__np")))
      }).head().getAs[java.lang.Double](0)
      if (vol != null && vol > max) throw new IllegalStateException(
        f"$face: candidate volume ${vol.doubleValue}%.3g exceeds " +
          s"$valveKey=$max — $remedy")
    }
  }

  /** Exact dedup: one survivor (minimal `orderCol`) per distinct key, with
    * the duplicate count. A single hash-partitioned aggregate — the 100 TB
    * path is one shuffle on the (hashed) key. Dedup on hashKey(text) rather
    * than raw text to keep shuffle rows narrow when keys are long. */
  def exact(df: DataFrame, keyCols: Seq[String], orderCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(orderCol)).as(orderCol),
        count(lit(1)).as("n_copies"))

  /** Cross-document boilerplate removal (CCNet-style): drop every line
    * that occurs in more than `maxDocFreq` distinct documents (headers,
    * navigation, cookie banners — the within-line analog of stop-shingle
    * capping). Returns the input plus `outCol` with the surviving lines
    * re-joined in original order; documents whose lines are all
    * boilerplate keep an empty string.
    *
    * Plan shape at 100 TB: one posexplode, one line-keyed count-distinct
    * aggregate (map-side partial combine on the line hash), one equi-join
    * of the lines against the under-threshold set, one per-doc ordered
    * reassembly, one left join back — every step keyed, nothing
    * collected, no quadratic work. */
  def removeBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
      maxDocFreq: Long, delim: String = "\n", outCol: String = "clean")
      : DataFrame = {
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim)))
        .as(Seq("__pos", "__line")))
    val rare = lines.groupBy("__line")
      .agg(count_distinct(col(idCol)).as("__df"))
      .where(col("__df") <= maxDocFreq)
      .select("__line")
    val kept = lines.join(rare, Seq("__line"), "left_semi")
    val reassembled = kept
      .groupBy(idCol)
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__pos"), col("__line")))),
        e => e.getField("__line")), delim).as(outCol))
    df.join(reassembled, Seq(idCol), "left")
      .withColumn(outCol, coalesce(col(outCol), lit("")))
  }

  /** Cross-document PARAGRAPH dedup (the RefinedWeb/Falcon hygiene
    * step, one granularity up from [[removeBoilerplateLines]]): every
    * distinct paragraph keeps only its FIRST corpus occurrence
    * (min (id, position) — deterministic) and later repeats drop, so
    * shared boilerplate (footers, cookie banners, licence blocks)
    * survives exactly once corpus-wide while unique prose is
    * untouched. Documents reassemble from their surviving paragraphs
    * in original order; docs whose every paragraph loses drop from
    * the output (they WERE pure repeated boilerplate). Returns
    * (idCol, outCol, n_kept).
    *
    * Shape at 100 TB: posexplode on the separator split, ONE hash
    * exchange keyed by the paragraph's md5 (a window keeps the
    * min-(id, pos) occurrence — fixed-width keys, no long-string
    * comparisons in the sort), survivors re-group per doc (second
    * exchange) and rejoin in position order. Two narrow shuffles
    * total; cost is linear in total paragraphs. */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n\n", outCol: String = "clean"): DataFrame = {
    val paras = df.select(col(idCol).as("__id"),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(sep)))
          .as(Seq("__pos", "__para")))
      .where(trim(col("__para")) =!= "")
    val kept = paras
      .withColumn("__rk", row_number().over(Window
        .partitionBy(md5(col("__para"))).orderBy("__id", "__pos")))
      .where(col("__rk") === 1)
    kept.groupBy("__id")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("__pos"), col("__para")))),
          e => e.getField("__para")), sep).as(outCol),
        count(lit(1)).as("n_kept"))
      .withColumnRenamed("__id", idCol)
  }

  /** Exact dedup keeping full rows: survivor = first row per key ordered by
    * `orderCol` (window, one shuffle). */
  def exactRows(df: DataFrame, keyCols: Seq[String], orderCol: String)
      : DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(orderCol))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** Near-duplicate pairs by k-shingle Jaccard similarity.
    *
    * Plan shape: explode distinct shingles → (optional) drop
    * too-frequent shingles (stop-shingles blow up the self-join at scale) →
    * self-join on shingle (shuffle co-partitioned on the shingle hash) →
    * per-pair intersection counts → Jaccard from per-doc set sizes.
    * Output: (id_a, id_b, inter, size_a, size_b, jaccard), id_a < id_b.
    *
    * @param maxShingleFreq drop shingles occurring in more than this many
    *        docs. A single hot shingle shared by f docs contributes f²/2
    *        pairs to the self-join, so the cap is ON by default. The default
    *        (-1 = AUTO) derives the cap from the corpus size IN-PLAN —
    *        `max(1000, n_docs/1000)` via a broadcast one-row subplan, no
    *        driver round-trip — so the same call is safe at sf0.01 and at
    *        100 TB. Opting OUT (0 = keep all) is the explicit scale hazard.
    *        The dropped-stop-shingle count is logged; use
    *        [[ngramJaccardPairsStats]] to read it programmatically.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int, threshold: Double, maxShingleFreq: Long = -1): DataFrame =
    ngramJaccardPairsStats(df, idCol, textCol, k, threshold,
      maxShingleFreq)._1

  /** [[ngramJaccardPairs]] plus the dropped-stop-shingle count as a named
    * in-plan `Observation` ("dropped"): `obs.get` after materializing the
    * result — the count rides the frequency aggregate, no extra pass. */
  def ngramJaccardPairsStats(df: DataFrame, idCol: String, textCol: String,
      k: Int, threshold: Double, maxShingleFreq: Long = -1)
      : (DataFrame, Option[org.apache.spark.sql.Observation]) = {
    // shingles join on their 31-bit hash, not the string: the self-join
    // shuffles fixed-width longs instead of ~25-byte strings (same trick
    // MinHash applies before permuting). Hash collisions are corpus-rare
    // and deterministic — the DuckDB oracle hashes identically.
    // tokens staged as a column so the shingle lambda slices a
    // materialized array instead of re-tokenizing per window position;
    // persisted because the frequency aggregate AND the filter join both
    // consume it (narrow (id, long) rows — cheap to cache)
    val sh = trackedPersist(df
      .select(col(idCol).as("id"), tokens(col(textCol)).as("__toks"))
      .select(col("id"),
        explode(array_distinct(shinglesOfTokens(col("__toks"), k)))
          .as("shs"))
      .select(col("id"), tokenHash(col("shs")).as("sh")))
    val obsOpt =
      if (maxShingleFreq != 0) Some(org.apache.spark.sql.Observation())
      else None
    // the valve guards BOTH branches (maxShingleFreq = 0 keeps every
    // stop-shingle): a saturated shingle space grows the self-join
    // ~quadratically (100x rehearsals filled a disk at 3e11 and 5.3e9
    // candidates), and the async density warning fires too late
    def valve(counts: DataFrame): Unit =
      candidateValve("ngramJaccardPairs", JaccardValve,
        "the shingle space is too dense for an exact all-pairs join " +
          "at this scale. Use minhashLshPairs for near-dup " +
          "candidates, lower maxShingleFreq, or raise the valve.",
        Seq("sh"), counts, None)
    // set in the capped branch: the persisted per-shingle frequency
    // frame, released with the other supports once `out` materializes
    var freqCache: Option[DataFrame] = None
    val filtered = trackedPersist((
      if (maxShingleFreq != 0) {
        // the per-shingle cap joins in as a broadcast one-row frame: AUTO
        // derives it from the corpus row count (a column-pruned count scan),
        // an explicit cap becomes a literal — either way the filter stays
        // fully distributed
        val capDf =
          if (maxShingleFreq < 0)
            df.select(greatest(lit(1000L),
              (count(lit(1)) / lit(1000L)).cast("long")).as("__cap"))
          else df.sparkSession.range(1)
            .select(lit(maxShingleFreq).as("__cap"))
        // the dropped-stop-shingle count is OBSERVED inside the frequency
        // aggregate (CollectMetrics) and logged asynchronously when the
        // query materializes — no extra counting pass.
        // freqP persisted (r16, guide §2.4): the eager valve below and
        // the main query's stop-shingle filter both need this per-shingle
        // doc-frequency aggregate — r15 computed it TWICE (the valve ran
        // a "fresh aggregate off the persisted shingle frame" to keep the
        // Observation single-fire), i.e. two full shuffles of the corpus
        // shingle-hash stream per call. Persisting the aggregate OUTPUT
        // (distinct-shingle-sized, well under the shingle stream) lets
        // the valve materialize it once; the Observation attaches ON TOP
        // of the cache, so it still fires exactly once — on the main
        // query, over the identical rows.
        val obs = obsOpt.get
        val freqP = trackedPersist(sh.groupBy("sh").agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(capDf)))
        freqCache = Some(freqP)
        val freq = freqP
          .observe(obs, sum(when(col("df") > col("__cap"), 1L)
            .otherwise(0L)).as("dropped"),
            max(col("__cap")).as("cap"),
            // self-join candidate volume of the SURVIVING shingles
            // (sum df·(df-1)/2) vs their row count — rides the same
            // aggregate, so the dense-shingle warning below is free
            sum(when(col("df") <= col("__cap"),
              col("df").cast("double") * (col("df") - 1) / 2)
              .otherwise(0.0)).as("cand"),
            sum(when(col("df") <= col("__cap"), col("df"))
              .otherwise(0L)).as("rows"))
        obs.future.foreach { row =>
          // an empty corpus observes a zero-column row — guard before isNullAt
          val dropped =
            if (row.length == 0 || row.isNullAt(0)) 0L else row.getLong(0)
          val log = org.apache.log4j.Logger.getLogger(getClass)
          if (dropped > 0)
            log.warn(
              s"ngramJaccardPairs: dropped $dropped stop-shingles with " +
                s"doc-frequency > cap ${row.get(1)}")
          // Saturated shingle space (small vocab / boilerplate-heavy
          // corpus): EVERY shingle is frequent, the cap never binds, and
          // the self-join degrades toward O(n²). Measured at 50k docs on
          // a 31-word vocab: mean df ~100, 340M candidates, 13x the
          // per-doc cost of the healthy regime. Warn with the remedy.
          if (row.length >= 4 && !row.isNullAt(2) && !row.isNullAt(3)) {
            val (cand, nrows) = (row.getDouble(2), row.getLong(3))
            if (nrows > 0 && cand / nrows > 100)
              denseWarnSink(
                f"ngramJaccardPairs: dense shingle space — $cand%.0f " +
                  s"candidate pairs from $nrows shingle rows (mean " +
                  f"doc-frequency ${cand * 2 / nrows}%.0f); exact jaccard " +
                  "degrades toward O(n^2) here. Use minhashLshPairs for " +
                  "near-dup candidates or lower maxShingleFreq.")
          }
        }(scala.concurrent.ExecutionContext.global)
        // the valve aggregates over the PERSISTED frequency frame (not
        // the observed plan — the Observation must fire exactly once,
        // on the main query), materializing the cache the main query's
        // filter join then reuses
        valve(freqP.where(col("df") <= col("__cap"))
          .select(col("sh"), col("df").as("__n")))
        sh.join(freq.where(col("df") <= col("__cap")).select("sh"), "sh")
      } else {
        // uncapped branch: the SAME volume aggregate, no cap filter
        valve(keyCounts(sh, Seq("sh")))
        sh
      }
    )) // reused by sizes + both self-join sides: 3 consumers
    val sizes = filtered.groupBy("id").agg(count(lit(1)).as("sz"))
    val pairs = filtered.as("a")
      .join(filtered.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    // Prune between the size joins: union >= size_a always, so
    // jaccard <= inter/size_a and jaccard >= t implies inter >= t*size_a.
    // Pairs failing the bound are cut BEFORE the second size join — at
    // scale the candidate-pair frame is the big one here, and most
    // candidates fail the final threshold.
    // (Carrying sizes through the self-join instead — joined or windowed
    // onto the shingle frame — measured 2x SLOWER at sf0.1 and adds a
    // by-id shuffle of the shingle frame at scale; rejected.)
    val out = pairs
      .join(sizes.withColumnRenamed("id", "id_a")
        .withColumnRenamed("sz", "size_a"), "id_a")
      .where(col("inter").cast("double") >=
        lit(threshold) * col("size_a").cast("double"))
      .join(sizes.withColumnRenamed("id", "id_b")
        .withColumnRenamed("sz", "size_b"), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("size_a") + col("size_b") - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
    (autoRelease(out, (Seq(sh, filtered) ++ freqCache): _*), obsOpt)
  }

  /** MinHash signatures: for permutation i, h_i(doc) = min over shingles of
    * ((a_i * (H mod M) + b_i) mod M) with deterministic constants
    * a_i = 2i+3, b_i = i²+1, M = 2^31-1 (products stay < 2^40, no
    * overflow). Docs with fewer than k tokens have no shingle and no row.
    *
    * Shape: the signature is a per-document min-sketch built on the map
    * side by one native expression ([[graft.functions.MinhashSignature]]
    * — no shingle explode: shingle rows never exist); one aggregate then
    * takes the per-coordinate min over rows that share an id (min-sketches
    * merge by min), exchanging doc-sized rows of numPerms longs. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      k: Int, numPerms: Int): DataFrame = {
    val sig = ColumnBridge.column(graft.functions.MinhashSignature(
      ColumnBridge.expression(col(textCol)), k, numPerms))
    val sigs = df.select(col(idCol).as("id"), sig.as("__sig"))
      .where(col("__sig").isNotNull)
    val mins = (0 until numPerms).map(i =>
      min(col("__sig").getItem(i)).as(s"mh$i"))
    sigs.groupBy("id").agg(mins.head, mins.tail: _*)
  }

  /** (id, band, sig) band-signature frame from a [[minhashSignatures]]
    * output — THE band format: the self-join ([[minhashLshPairs]]) and
    * the cross-frame join ([[minhashLshPairsBetween]]) both resolve
    * here, so precomputed reference signatures can never drift from
    * the format the delta side hashes with. */
  private def bandFrame(sigs: DataFrame, numPerms: Int, bands: Int)
      : DataFrame = {
    val rows = numPerms / bands
    val bandStructs = (0 until bands).map { b =>
      val sigCols = (0 until rows).map(r => col(s"mh${b * rows + r}"))
      struct(lit(b).as("band"),
        concat_ws(",", sigCols.map(_.cast("string")): _*).as("sig"))
    }
    sigs.select(col("id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** A [[bandJoin]] side: (id, keys… [, simhash]) `rows`, and the
    * persisted or saved frame they come from (`perId` rows per id),
    * which the valve probes so the join then reads the filled cache. */
  private final case class BandSide(rows: DataFrame, sized: DataFrame,
      perId: Int)

  /** The one band-join core of the MinHash, Hamming and embedding
    * store faces, after the [[candidateValve]] (`perPair` = bands,
    * chunks or tables): ONE equi-join of `index` and `probe` rows on
    * `keys` — a self-join keeping `id_i < id_p` without a `probe`. With
    * `maxHamming` the `simhash` verify runs BEFORE the pair exchange and
    * each id pair keeps its minimum `hamming` (an id may carry several
    * fingerprints); otherwise one distinct. Output (id_i, id_p
    * [, hamming]). */
  private def bandJoin(face: String, index: BandSide,
      probe: Option[BandSide], keys: Seq[String], perPair: Int,
      valveKey: String, remedy: String,
      maxHamming: Option[Int] = None): DataFrame = {
    candidateValve(face, valveKey, remedy, keys,
      keyCounts(index.rows, keys), probe.map(p => keyCounts(p.rows, keys)),
      perPair, (index +: probe.toSeq).map(s => idsAtMost(s.sized, s.perId)))
    def side(s: BandSide, as: String): DataFrame = s.rows.select(
      (col("id").as(s"id_$as") +: keys.map(col)) ++
        maxHamming.map(_ => col("simhash").as(s"h_$as")): _*)
    val joined = side(index, "i")
      .join(side(probe.getOrElse(index), "p"), keys)
    val cand =
      if (probe.isEmpty) joined.where(col("id_i") < col("id_p")) else joined
    maxHamming match {
      case Some(m) =>
        cand.select(col("id_i"), col("id_p"),
            expr("bit_count(h_i ^ h_p)").as("hamming"))
          .where(col("hamming") <= m)
          .groupBy("id_i", "id_p").agg(min("hamming").as("hamming"))
      case None => cand.select("id_i", "id_p").distinct()
    }
  }

  private val MinhashRemedy = "one band signature is shared by too " +
    "many documents (boilerplate or templated pages). Drop exact " +
    "duplicates and boilerplate first (exact, removeBoilerplateLines), " +
    "use more rows per band (numPerms/bands), or raise the valve (0 " +
    "disables)."

  /** The MinHash self face on [[bandJoin]]: the persisted signature
    * frame, banded, joined with itself. Output (id_a, id_b). */
  private def minhashSelf(face: String, sigs: DataFrame, numPerms: Int,
      bands: Int): DataFrame =
    bandJoin(face, BandSide(bandFrame(sigs, numPerms, bands), sigs, 1),
      None, BandKeys, bands, JaccardValve, MinhashRemedy)
      .select(col("id_i").as("id_a"), col("id_p").as("id_b"))

  /** MinHash + LSH candidate pairs: signatures are split into `bands`
    * bands of numPerms/bands rows; docs sharing any band signature become
    * candidates. The band join ([[bandJoin]]) is a shuffle on the band
    * key — the classic sub-quadratic near-dup plan for 100 TB corpora.
    *
    * Plan shape matters: signatures are persisted (computing them costs a
    * text scan + an aggregate; without the persist the band self-join
    * recomputes that subplan once per side — 8× at 4 bands) and all bands
    * come from ONE pass via a struct explode rather than a per-band union.
    * The persisted frame is registered for [[releaseCaches]]; call it after
    * materializing the result. Output: distinct (id_a, id_b), id_a < id_b. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numPerms: Int = 12, bands: Int = 4): DataFrame = {
    require(numPerms % bands == 0, "numPerms must be divisible by bands")
    val sigs = trackedPersist(
      minhashSignatures(df, idCol, textCol, k, numPerms))
    autoRelease(minhashSelf("minhashLshPairs", sigs, numPerms, bands), sigs)
  }

  /** LSH candidate pairs WITH the signature-agreement similarity
    * estimate: est_jaccard = (#equal minhash coordinates)/numPerms,
    * the classic unbiased estimator of J(a,b) — so pipelines can
    * THRESHOLD near-dups ("drop pairs above ~0.8") without ever
    * touching the pair texts again (the expensive shingle-set verify
    * [[ngramJaccardPairs]] pays). Recall is the band join's; the
    * estimate's stderr is √(J(1-J)/numPerms) — raise numPerms for a
    * tighter threshold, the cost is one wider aggregate.
    *
    * Shape at 100 TB: the [[minhashLshPairs]] band join yields
    * candidate ids; the persisted signature frame joins back narrow
    * (two hash joins on id) — no text re-scan, no pairwise vector
    * shuffle. est_jaccard is decimal-rounded (18,9) for oracle
    * hash-parity. */
  def minhashJaccardEstimate(df: DataFrame, idCol: String,
      textCol: String, k: Int = 3, numPerms: Int = 12,
      bands: Int = 4): DataFrame = {
    require(numPerms % bands == 0, "numPerms must be divisible by bands")
    val sigs = trackedPersist(
      minhashSignatures(df, idCol, textCol, k, numPerms))
    val pairs = minhashSelf("minhashJaccardEstimate", sigs, numPerms, bands)
    val sa = sigs.select(col("id").as("id_a") +:
      (0 until numPerms).map(i => col(s"mh$i").as(s"__a$i")): _*)
    val sb = sigs.select(col("id").as("id_b") +:
      (0 until numPerms).map(i => col(s"mh$i").as(s"__b$i")): _*)
    val eq = (0 until numPerms)
      .map(i => when(col(s"__a$i") === col(s"__b$i"), 1).otherwise(0))
      .reduce(_ + _)
    autoRelease(pairs.join(sa, "id_a").join(sb, "id_b")
      .withColumn("est_jaccard",
        (eq.cast("double") / lit(numPerms.toDouble))
          .cast("decimal(18,9)").cast("double"))
      .select("id_a", "id_b", "est_jaccard"), sigs)
  }

  /** CROSS-FRAME MinHash LSH: near-dup candidates between an incoming
    * shard and an existing reference corpus — the incremental-ingest
    * form of [[minhashLshPairs]] (a daily crawl delta dedups against
    * the accumulated corpus WITHOUT re-pairing the corpus against
    * itself). Both sides hash with the SAME permutation constants, so
    * a reference side whose signatures are precomputed and stored
    * (the IVF-maintenance pattern) joins identically — recompute here
    * is one scan over each side, never corpus×delta.
    *
    * Plan shape at 100 TB: band signatures from one struct-explode
    * pass per side, candidates meet on the (band, sig) equi-join —
    * the delta side is small, so AQE broadcasts it and the reference
    * corpus never shuffles. The reference bands are persisted (the
    * valve probe fills the cache). Output: distinct (new_id, ref_id);
    * rows whose new_id never appears are novel documents. */
  def minhashLshPairsBetween(newDf: DataFrame, refDf: DataFrame,
      idCol: String, textCol: String, k: Int = 3, numPerms: Int = 12,
      bands: Int = 4): DataFrame = {
    val ref = trackedPersist(minhashBandSignatures(refDf, idCol, textCol, k,
      numPerms, bands))
    autoRelease(minhashLshPairsBetweenPrecomputed(newDf, ref, idCol,
      textCol, k, numPerms, bands), ref)
  }

  /** The persistable (id, band, sig [, p_*]) band-signature frame of a corpus
    * — [[minhashLshPairsBetween]]'s reference side, materialized.
    * Incremental ingest is the cross-frame join's whole reason to
    * exist, and recomputing the accumulated corpus's signatures every
    * daily batch is the dominant per-batch cost at 100 TB: write this
    * frame once (`.write.partitionBy("band").parquet(store)`, the
    * IVF-maintenance store pattern), append each absorbed delta's
    * bands, and feed it to [[minhashLshPairsBetweenPrecomputed]] —
    * per-batch cost then scales with the DELTA, not the corpus.
    * Same deterministic permutation constants as every minhash op
    * here, so saved signatures can never drift from what a later
    * session hashes. */
  def minhashBandSignatures(df: DataFrame, idCol: String,
      textCol: String, k: Int = 3, numPerms: Int = 12,
      bands: Int = 4): DataFrame = {
    require(numPerms % bands == 0, "numPerms must be divisible by bands")
    bandFrame(minhashSignatures(df, idCol, textCol, k, numPerms),
      numPerms, bands)
      .withColumn("p_k", lit(k))
      .withColumn("p_perms", lit(numPerms))
      .withColumn("p_bands", lit(bands))
  }

  /** CROSS-FRAME MinHash LSH against a PRECOMPUTED reference: the
    * incoming shard hashes here (one scan, same permutation
    * constants, signatures persisted), the reference corpus arrives as
    * a saved [[minhashBandSignatures]] frame — no reference-side text
    * scan anywhere in the plan (PlanSpec-pinned). Candidates meet on
    * the [[bandJoin]] (band, sig) equi-join; the delta side is small,
    * so AQE broadcasts it and the signature store never shuffles.
    * Output: distinct (new_id, ref_id). */
  def minhashLshPairsBetweenPrecomputed(newDf: DataFrame,
      refBands: DataFrame, idCol: String, textCol: String, k: Int = 3,
      numPerms: Int = 12, bands: Int = 4): DataFrame = {
    require(numPerms % bands == 0, "numPerms must be divisible by bands")
    requireStore(refBands, "minhashLshPairsBetweenPrecomputed",
      "minhashBandSignatures", "id" +: BandKeys,
      "p_k" -> k, "p_perms" -> numPerms, "p_bands" -> bands)
    val sigs = trackedPersist(
      minhashSignatures(newDf, idCol, textCol, k, numPerms))
    autoRelease(bandJoin("minhashLshPairsBetweenPrecomputed",
        BandSide(refBands, refBands, bands),
        Some(BandSide(bandFrame(sigs, numPerms, bands), sigs, 1)),
        BandKeys, bands, JaccardValve, MinhashRemedy)
      .select(col("id_p").as("new_id"), col("id_i").as("ref_id")), sigs)
  }

  /** THE PassJoin segment format (Li, Deng, Feng — VLDB 2011): every
    * string of a (id, s, n) base frame → (id, l, k, sub, s) rows. A
    * string of length l >= d+1 emits its d+1 contiguous balanced
    * segments (k = 0..d); at most d edits cannot touch all of them, so
    * any within-distance partner contains one of them EXACTLY, shifted
    * by at most d. A shorter string has no such guarantee and emits
    * one `k = -1` row (`sub` null) for the short bucket. The string
    * rides every row, so the verify never re-reads the source. One
    * explode, no union: the self and cross-frame faces index with it,
    * and [[editDistanceSegmentStore]] persists it. */
  private def edSegments(base: DataFrame, d: Int): DataFrame = {
    val parts = lit(d + 1)
    base.select(col("id"), col("s"), col("n").as("l"),
        explode(when(col("n") >= d + 1, sequence(lit(0), lit(d)))
          .otherwise(array(lit(-1)))).as("k"))
      .withColumn("st", floor(col("k") * col("l") / parts).cast("int"))
      .withColumn("en",
        floor((col("k") + 1) * col("l") / parts).cast("int"))
      .select(col("id"), col("l"), col("k"),
        when(col("k") >= 0,
          col("s").substr(col("st") + 1, col("en") - col("st"))).as("sub"),
        col("s"))
  }

  /** PassJoin probe side: the substrings a length-l source's segment k
    * could match in this string, for every l within ±d (n >= 1 keeps
    * the probe sequence ascending — empty strings pair via the short
    * bucket) → (id_p, s_p, l, k, sub). */
  private def edProbeFrame(base: DataFrame, d: Int): DataFrame = {
    val parts = lit(d + 1)
    base.where(col("n") >= 1)
      .select(col("id"), col("s"), col("n"),
        explode(sequence(greatest(col("n") - d, lit(d + 1)),
          col("n") + d)).as("l"))
      .select(col("id"), col("s"), col("n"), col("l"),
        explode(sequence(lit(0), lit(d))).as("k"))
      .withColumn("st0", floor(col("k") * col("l") / parts).cast("int"))
      .withColumn("slen",
        (floor((col("k") + 1) * col("l") / parts) -
          floor(col("k") * col("l") / parts)).cast("int"))
      .select(col("id"), col("s"), col("n"), col("l"), col("k"),
        col("st0"), col("slen"),
        explode(sequence(lit(-d), lit(d))).as("sh"))
      .withColumn("st", col("st0") + col("sh"))
      .where(col("st") >= 0 && col("st") + col("slen") <= col("n"))
      .select(col("id").as("id_p"), col("s").as("s_p"), col("l"),
        col("k"), col("s").substr(col("st") + 1, col("slen")).as("sub"))
  }

  /** (id, s, n) narrow base frame for the PassJoin family; rows with a
    * null id or a null string take no part in any face. */
  private def edBase(df: DataFrame, idCol: String, strCol: String)
      : DataFrame =
    df.select(col(idCol).as("id"), col(strCol).as("s"))
      .where(col("id").isNotNull && col("s").isNotNull)
      .withColumn("n", length(col("s")))

  /** The one PassJoin core behind the three edit-distance faces:
    * `index` is a segment frame in the [[edSegments]] format (built on
    * the fly, or a saved [[editDistanceSegmentStore]]) and `probeBase`
    * the (id, s, n) strings probed against it. Output: distinct
    * (id_i, id_p) — an index id and a probe id some string of which
    * lie within `d` edits of each other. `self` adds `id_i < id_p`:
    * the self face indexes and probes one base, and every qualifying
    * pair exists in its smaller-id-as-index orientation (a long index
    * string finds its partner by the segment guarantee; a short one
    * through the short bucket, since its partner is at most 2d long).
    *
    * Candidates meet on the (source length, segment index, content)
    * equi-join — the probe side emits the substrings a source of
    * length l in [n-d, n+d] could have contributed (a ±d position
    * window, a SUPERSET of PassJoin's tight multi-match window) —
    * never all-pairs. Index strings shorter than d+1 (`k = -1` rows)
    * pair through one nested-loop bucket against probe strings of
    * length <= 2d (anything longer is out of range); that branch only
    * enters the plan when such rows EXIST (bounded limit probe, the
    * binaryAnnTopK pattern). The strings ride both sides, and the
    * exact levenshtein verify runs per string pair BEFORE the id
    * distinct, so an id carrying several strings pairs when any of
    * them qualifies, and each id pair is output once.
    *
    * Two valves, read here on the driver; each message names `face`:
    *  - `spark.graft.editdist.maxCandidatePairs`, the
    *    [[candidateValve]]: shared tails concentrate (l, k, segment)
    *    buckets the way common prefixes concentrate shingle buckets (a
    *    corpus of "<anything>-v1" codes puts every same-length string
    *    in ONE "-v1" bucket). The volume is Σ |seg|·|probe| over
    *    buckets, at most (d+1)²(2d+1)² rows per string pair; index
    *    strings hold d+1 rows each. The self face's probe bound implies
    *    its index bound, so it probes once.
    *  - `spark.graft.editdist.shortBucketLimit` (default 10000, 0
    *    disables the valve AND its probes — the branch is then always
    *    planned): both factors of the nested-loop product are probed,
    *    bounded (never a full count). */
  private def passJoin(face: String, index: DataFrame,
      probeBase: DataFrame, d: Int, self: Boolean): DataFrame = {
    val conf = probeBase.sparkSession.conf
    val segs = index.where(col("k") >= 0)
      .select(col("id").as("id_i"), col("s").as("s_i"), col("l"),
        col("k"), col("sub"))
    val probe = edProbeFrame(probeBase, d)
    val segKeys = Seq("l", "k", "sub")
    candidateValve(face, "spark.graft.editdist.maxCandidatePairs",
      "shared prefixes/suffixes are concentrating the (length, segment) " +
        "buckets. Strip common boilerplate from the strings first, " +
        "run exact dedup before the fuzzy pass, lower maxDist, or " +
        "raise the valve (0 disables).",
      segKeys, keyCounts(segs, segKeys), Some(keyCounts(probe, segKeys)),
      perPair = (d + 1).toDouble * (2 * d + 1) * (2 * d + 1) * (d + 1),
      sized = (if (self) Nil else Seq(idsAtMost(index, d + 1))) :+
        idsAtMost(probeBase, 1))
    val shortLimit = conf.getOption("spark.graft.editdist.shortBucketLimit")
      .map(_.toLong).getOrElse(10000L)
    val valveOff = shortLimit <= 0 || shortLimit >= Int.MaxValue - 1
    val shorts = index.where(col("k") < 0)
    val partners = probeBase.where(col("n") <= 2 * d)
    val nShort =
      if (valveOff) 1L else shorts.limit(shortLimit.toInt + 1).count()
    val nPartner =
      if (valveOff || nShort == 0) 0L
      else partners.limit(shortLimit.toInt + 1).count()
    require(valveOff ||
      (nShort <= shortLimit && nPartner <= shortLimit),
      s"$face: the short-string bucket (index len <= $d vs probe len " +
        s"<= ${2 * d}) exceeds $shortLimit rows on a side — its " +
        "nested-loop product would dominate. Filter degenerate " +
        "strings out first, or raise " +
        "spark.graft.editdist.shortBucketLimit (0 disables the valve).")
    val order = if (self) col("id_i") < col("id_p") else lit(true)
    val longCand = segs.join(probe, segKeys).where(order)
      .select("id_i", "s_i", "id_p", "s_p")
    val cand =
      if (nShort == 0) longCand
      else longCand.unionByName(shorts
        .select(col("id").as("id_i"), col("s").as("s_i"), col("l"))
        .join(partners.select(col("id").as("id_p"), col("s").as("s_p"),
          col("n")), abs(col("l") - col("n")) <= d && order)
        .select("id_i", "s_i", "id_p", "s_p"))
    cand.where(levenshtein(col("s_i"), col("s_p")) <= d)
      .select("id_i", "id_p")
      .distinct()
  }

  /** Edit-distance near-dup pairs: all (id_a, id_b), id_a < id_b, whose
    * strings lie within `maxDist` Levenshtein edits — CHARACTER-level
    * fuzz (typos, OCR noise, trailing junk) that the token-set family
    * (jaccard/minhash/simhash) cannot see on short fields like titles,
    * names, or product codes. An id carrying several strings pairs
    * when any of them is within `maxDist` of any string of the other
    * id.
    *
    * The [[passJoin]] core with the base as both index and probe side
    * (exact: see the core for why `id_i < id_p` loses no pair), under
    * both of its valves. Scale shape: ONE source scan into the
    * persisted segment frame, which every subplan re-reads — its
    * k <= 0 rows (one per string) are the probe side's base — then
    * explode factors (d+1) on the segment side and at most
    * (2d+1)²(d+1) on the probe side, one narrow equi-join, the
    * levenshtein verify, and one distinct over the surviving id pairs.
    * Reading the persisted frame also keeps the explode out of the
    * valves' limit probes: a limit fused into an explode stage
    * recompiles its generated class on every call. */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int = 1): DataFrame = {
    val d = maxDist
    require(d >= 1 && d <= 4, s"editDistancePairs: maxDist in [1,4], got $d")
    val index = trackedPersist(edSegments(edBase(df, idCol, strCol), d))
    // one row per string: k = 0 of a long one, k = -1 of a short one
    val base = index.where(col("k") <= 0)
      .select(col("id"), col("s"), col("l").as("n"))
    autoRelease(
      passJoin("editDistancePairs", index, base, d, self = true)
        .select(col("id_i").as("id_a"), col("id_p").as("id_b")), index)
  }

  /** CROSS-FRAME edit-distance near-dup: fuzzy matches between an
    * incoming shard and an existing reference corpus — the
    * incremental-ingest form of [[editDistancePairs]] (the
    * [[minhashLshPairsBetween]] counterpart for short code/title
    * fields). The PassJoin guarantee is DIRECTIONAL — any pair within
    * `maxDist` contains one of the INDEX string's segments inside the
    * probe string — so the [[passJoin]] core indexes the REFERENCE
    * side's [[edSegments]] and probes the DELTA side: complete on its
    * own (reference shorts pair through the core's short bucket; delta
    * shorts against longer references are covered by the delta probes,
    * whose l range starts at d+1). Same valves as the self-join; the
    * reference segment frame and the delta strings are each persisted
    * once (one scan per side). Output: distinct (new_id, ref_id),
    * exact-verified. */
  def editDistancePairsBetween(newDf: DataFrame, refDf: DataFrame,
      idCol: String, strCol: String, maxDist: Int = 1): DataFrame = {
    val d = maxDist
    require(d >= 1 && d <= 4,
      s"editDistancePairsBetween: maxDist in [1,4], got $d")
    val refIndex =
      trackedPersist(edSegments(edBase(refDf, idCol, strCol), d))
    val newBase = trackedPersist(edBase(newDf, idCol, strCol))
    autoRelease(
      passJoin("editDistancePairsBetween", refIndex, newBase, d,
        self = false)
        .select(col("id_p").as("new_id"), col("id_i").as("ref_id")),
      refIndex, newBase)
  }

  /** PassJoin segment STORE for the reference corpus: the persistable
    * index side of [[editDistancePairsBetweenPrecomputed]] — build
    * once at `maxDist`, write partitioned by `k`, and every delta
    * batch joins the SAVED frame instead of re-segmenting 100 TB of
    * reference strings per ingest (the q230/q244/q246 store story for
    * the edit-distance family).
    *
    * It is the [[edSegments]] frame the cross-frame face indexes on the
    * fly, plus the build stamp. SELF-SUFFICIENT like the simhash chunk
    * store: the reference string `s` rides with its segments, so the
    * exact-levenshtein verify reads the store and the reference corpus
    * is NEVER re-scanned — at the price of (d+1)× string duplication,
    * the right trade for the short code/title/name fields PassJoin is
    * built for. Reference strings shorter than d+1 chars ride as one
    * `k = -1` row (`sub` null, `l` = length), so the store is complete
    * on its own: the precomputed face replays the short bucket from it.
    * Appending batches is safe, also when an id reappears with another
    * string: the verify runs per stored string.
    *
    * Schema: (id, l, k, sub, s, p_maxdist) — `p_maxdist` stamps the
    * build parameter and the precomputed face REQUIRES it to match
    * (segments built at a different d bucket differently and the
    * equi-join would silently miss pairs). */
  def editDistanceSegmentStore(refDf: DataFrame, idCol: String,
      strCol: String, maxDist: Int = 1): DataFrame = {
    val d = maxDist
    require(d >= 1 && d <= 4,
      s"editDistanceSegmentStore: maxDist in [1,4], got $d")
    edSegments(edBase(refDf, idCol, strCol), d)
      .withColumn("p_maxdist", lit(d))
  }

  /** CROSS-FRAME edit-distance near-dup against a PRECOMPUTED segment
    * store ([[editDistanceSegmentStore]]): the [[passJoin]] core with
    * the saved store as its index, so per-batch cost scales with the
    * delta — the delta side probes per call, the reference side is read
    * back as saved (l, k, sub) rows and its strings ride the store into
    * the verify, never a reference re-scan. Output is exactly
    * [[editDistancePairsBetween]]'s distinct (new_id, ref_id), same
    * valves. The store must carry (id, l, k, sub, s), and its
    * `p_maxdist` stamp, when present, must equal `maxDist`. */
  def editDistancePairsBetweenPrecomputed(newDf: DataFrame,
      refStore: DataFrame, idCol: String, strCol: String,
      maxDist: Int = 1): DataFrame = {
    val d = maxDist
    require(d >= 1 && d <= 4,
      s"editDistancePairsBetweenPrecomputed: maxDist in [1,4], got $d")
    requireStore(refStore, "editDistancePairsBetweenPrecomputed",
      "editDistanceSegmentStore", Seq("id", "l", "k", "sub", "s"),
      "p_maxdist" -> d)
    val newBase = trackedPersist(edBase(newDf, idCol, strCol))
    autoRelease(
      passJoin("editDistancePairsBetweenPrecomputed", refStore, newBase, d,
        self = false)
        .select(col("id_p").as("new_id"), col("id_i").as("ref_id")),
      newBase)
  }

  /** The (id, simhash, chunk, key) pigeonhole-chunk frame shared by
    * the self-join and cross-frame simhash paths — one struct-explode
    * pass over the fingerprint frame. */
  private[ops] def simhashChunkFrame(fp: DataFrame, bits: Int,
      maxHamming: Int): DataFrame = {
    val chunks = maxHamming + 1
    val width = math.max(bits / chunks, 1)
    val chunkStructs = (0 until chunks).map { c =>
      val lo = c * width
      val w = if (c == chunks - 1) bits - lo else width
      // w = 64 (bits=64, maxHamming=0): (1L << 64) - 1 wraps to 0 and
      // would collapse every fingerprint into ONE bucket — an O(n²)
      // candidate join instead of an exact-equality one (r14 advice).
      // The unsigned-shift form is exact at every width up to 64.
      val mask = if (w >= 64) -1L else (1L << w) - 1
      struct(lit(c).as("chunk"),
        expr(s"shiftright(simhash, $lo) & $mask").as("key"))
    }
    fp.select(col("id"), col("simhash"),
        explode(array(chunkStructs: _*)).as("ck"))
      .select(col("id"), col("simhash"),
        col("ck.chunk").as("chunk"), col("ck.key").as("key"))
  }

  /** SimHash near-duplicate pairs within `maxHamming` bit flips, using the
    * band trick: split the fingerprint into maxHamming+1 chunks — any pair
    * within the radius must agree exactly on at least one chunk (pigeonhole)
    * — join per chunk, then verify the true Hamming distance.
    *
    * Scale shape: 60-bit fingerprints by default, so with maxHamming=3 the
    * 4 chunk keys are 15 bits wide (2^15 buckets per chunk — candidate
    * volume ∝ 4·n²/2^15, vs n²/16 at the old 16-bit/4-bit layout). All
    * chunks come from ONE struct-explode pass over the fingerprint frame,
    * and the hamming verify runs BEFORE the per-pair aggregate so only
    * surviving pairs shuffle ([[hammingNearDup]]). */
  def simhashNearDup(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 60, maxHamming: Int = 3): DataFrame =
    hammingNearDup(
      TextFunctions.simhash(df, idCol, textCol, bits)
        .withColumnRenamed(idCol, "id"),
      "id", "simhash", bits, maxHamming)

  private val HammingRemedy = "one chunk key is shared by too many " +
    "fingerprints (blank images, empty texts, all-zero hashes). Filter " +
    "degenerate fingerprints or exact-dedup first, lower maxHamming " +
    "(wider chunks), or raise the valve (0 disables)."

  /** The persisted (id, simhash, chunk, key) chunk frame of a caller's
    * (idCol, hashCol) fingerprints, registered for release. */
  private def persistedChunks(fp: DataFrame, idCol: String,
      hashCol: String, bits: Int, maxHamming: Int): DataFrame =
    trackedPersist(simhashChunkFrame(
      fp.select(col(idCol).as("id"), col(hashCol).as("simhash")),
      bits, maxHamming))

  /** Pigeonhole-banded hamming near-dup over ANY integer fingerprint
    * frame — the [[simhashNearDup]] machinery with the fingerprint
    * supplied by the caller: text simhash, perceptual image hash
    * ([[Multimodal.perceptualHash]]), any ≤64-bit locality-sensitive
    * code. Split into maxHamming+1 chunks, any pair within the radius
    * agrees exactly on at least one chunk (COMPLETE recall); the
    * [[bandJoin]] verifies hamming pre-exchange. Output: one (id_a,
    * id_b, hamming) row per id pair, the minimum over its fingerprints. */
  def hammingNearDup(fp: DataFrame, idCol: String, hashCol: String,
      bits: Int, maxHamming: Int): DataFrame = {
    // persisted: the chunk frame is BOTH join sides, and the fingerprint
    // subplan (an image decode, a text hash) would run once per side
    val chunked = persistedChunks(fp, idCol, hashCol, bits, maxHamming)
    autoRelease(bandJoin("hammingNearDup",
        BandSide(chunked, chunked, maxHamming + 1), None, ChunkKeys,
        maxHamming + 1, JaccardValve, HammingRemedy, Some(maxHamming))
      .select(col("id_i").as("id_a"), col("id_p").as("id_b"),
        col("hamming")), chunked)
  }

  /** The persistable (id, simhash, chunk, key [, p_*]) chunk-signature frame
    * of a corpus — [[simhashNearDupBetween]]'s reference side,
    * materialized: the q230 store pattern ([[minhashBandSignatures]])
    * for simhash. Unlike the embedding store, this one is
    * SELF-SUFFICIENT: the fingerprint rides along with its chunks, so
    * the cross-frame verify reads the store's own `simhash` column
    * and the reference TEXT is never touched again — write once
    * (`.write.partitionBy("chunk").parquet(store)`), append absorbed
    * deltas, feed to [[simhashNearDupBetweenPrecomputed]]. Hashing is
    * deterministic md5 arithmetic, so saved fingerprints never drift
    * from a later session's. */
  def simhashChunkSignatures(df: DataFrame, idCol: String,
      textCol: String, bits: Int = 60, maxHamming: Int = 3)
      : DataFrame =
    hammingChunkSignatures(
      TextFunctions.simhash(df, idCol, textCol, bits),
      idCol, "simhash", bits, maxHamming)

  /** The persistable chunk-signature frame for ANY caller-supplied
    * ≤64-bit fingerprint — [[simhashChunkSignatures]] with the
    * fingerprinting step in the caller's hands (perceptual image
    * hash, binary-quantized embeddings, any locality-sensitive
    * code): the r15 generalization that lets the IMAGE pipeline
    * persist its decode+hash work the way the text pipeline persists
    * simhash (decode is the expensive step there — see
    * [[Multimodal.mediaChunkSignatures]]). Output: (id, simhash,
    * chunk, key, p_bits, p_maxh) — the fingerprint rides with its
    * chunks (self-sufficient store) and the `p_*` stamp pins the
    * chunking parameters ([[requireStoreParams]]). */
  def hammingChunkSignatures(fp: DataFrame, idCol: String,
      hashCol: String, bits: Int, maxHamming: Int): DataFrame =
    simhashChunkFrame(
      fp.select(col(idCol).as("id"), col(hashCol).as("simhash")),
      bits, maxHamming)
      .withColumn("p_bits", lit(bits))
      .withColumn("p_maxh", lit(maxHamming))

  /** Incremental cross-frame simhash near-dup: an incoming shard
    * against an existing corpus — delta×corpus chunk equi-join, never
    * corpus×corpus (the [[minhashLshPairsBetween]] /
    * [[editDistancePairsBetween]] directional shape). Convenience
    * form that fingerprints (and persists) the reference here;
    * production ingest saves [[simhashChunkSignatures]] once and calls
    * [[simhashNearDupBetweenPrecomputed]]. */
  def simhashNearDupBetween(newDf: DataFrame, refDf: DataFrame,
      idCol: String, textCol: String, bits: Int = 60,
      maxHamming: Int = 3): DataFrame = {
    val ref = trackedPersist(simhashChunkSignatures(refDf, idCol, textCol, bits,
      maxHamming))
    autoRelease(simhashNearDupBetweenPrecomputed(newDf, ref, idCol,
      textCol, bits, maxHamming), ref)
  }

  /** CROSS-FRAME simhash near-dup against a PRECOMPUTED reference:
    * the incoming shard fingerprints here (one scan), the reference
    * arrives as a saved [[simhashChunkSignatures]] frame — no
    * reference-side text scan OR fingerprint recompute anywhere in
    * the plan (PlanSpec-pinned); even the hamming verify reads the
    * store's `simhash` column. Candidates meet on the (chunk, key)
    * equi-join (pigeonhole-COMPLETE within `maxHamming`, so unlike
    * the LSH stores this one has exact recall). Output: distinct
    * (new_id, ref_id), hamming <= maxHamming. */
  def simhashNearDupBetweenPrecomputed(newDf: DataFrame,
      refChunks: DataFrame, idCol: String, textCol: String,
      bits: Int = 60, maxHamming: Int = 3): DataFrame =
    hammingStore("simhashNearDupBetweenPrecomputed",
      TextFunctions.simhash(newDf, idCol, textCol, bits), refChunks,
      idCol, "simhash", bits, maxHamming)
      .select("new_id", "ref_id")

  /** CROSS-FRAME hamming near-dup for CALLER-SUPPLIED fingerprints
    * against a PRECOMPUTED reference — the [[simhashNearDupBetweenPrecomputed]]
    * machinery with the fingerprinting step outside (the q246 story
    * for fingerprints the library did not derive itself: perceptual
    * image hashes, binary codes). `fpNew` is the delta's (id, hash)
    * frame — the caller pays its own fingerprint cost exactly once;
    * `refChunks` is a saved [[hammingChunkSignatures]] frame, and
    * neither the reference fingerprints nor whatever produced them
    * (image DECODE, in the media pipeline) are ever recomputed — the
    * verify reads the store's own `simhash` column. Pigeonhole recall
    * is EXACT within `maxHamming`. Output: one (new_id, ref_id,
    * hamming) row per id pair, the minimum over its fingerprints. */
  def hammingNearDupBetweenPrecomputed(fpNew: DataFrame,
      refChunks: DataFrame, idCol: String, hashCol: String,
      bits: Int, maxHamming: Int): DataFrame =
    hammingStore("hammingNearDupBetweenPrecomputed", fpNew, refChunks,
      idCol, hashCol, bits, maxHamming)

  /** The two Hamming store faces: [[bandJoin]] of the saved chunks
    * and the delta's (persisted). Output (new_id, ref_id, hamming). */
  private def hammingStore(face: String, fpNew: DataFrame,
      refChunks: DataFrame, idCol: String, hashCol: String, bits: Int,
      maxHamming: Int): DataFrame = {
    requireStore(refChunks, face,
      "simhashChunkSignatures/hammingChunkSignatures",
      Seq("id", "simhash") ++ ChunkKeys,
      "p_bits" -> bits, "p_maxh" -> maxHamming)
    val chunked = persistedChunks(fpNew, idCol, hashCol, bits, maxHamming)
    autoRelease(bandJoin(face, BandSide(refChunks, refChunks, maxHamming + 1),
        Some(BandSide(chunked, chunked, maxHamming + 1)), ChunkKeys,
        maxHamming + 1, JaccardValve, HammingRemedy, Some(maxHamming))
      .select(col("id_p").as("new_id"), col("id_i").as("ref_id"),
        col("hamming")), chunked)
  }

  /** Duplicate-cluster canonicalization: connected components over a
    * near-dup pair graph (the survivor-selection step after
    * [[minhashLshPairs]]/[[simhashNearDup]]/[[embeddingNearDup]] — "keep
    * one document per duplicate cluster").
    *
    * Min-based star contraction with full path compression (the
    * Shiloach-Vishkin / MapReduce-CC family): each round derives the
    * root→min-adjacent-root forest from the CURRENT contracted edge
    * set, compresses that map to its tree bottoms with map-only
    * self-joins, then relabels nodes and REWRITES THE EDGES through
    * the compressed map (self-loops drop). Every min-forest tree
    * contracts to one node per round, so the loop converges in
    * O(log n) rounds regardless of id layout — plain neighbor-min
    * propagation is O(diameter) and silently under-converged on the
    * 100× rehearsal corpus's >20-hop chains (caught r14 by the
    * mergeClusters equivalence probe; label-side pointer jumping
    * stalls the same way on alternating-id chains, and uncompressed
    * contraction shifts monotone-id chains without shrinking them —
    * the in-loop comments walk the counterexamples). Each round is
    * one aggregate + a few joins over the SHRINKING edge set, and
    * every generation is truncated with an eager
    * checkpoint — without it the logical plan nests every previous
    * iteration and analysis time grows super-linearly (the standard
    * iterative-algorithm trap). Graphs whose materialized edge set
    * fits `spark.graft.clusters.driverEdgeLimit` (default 200k edges,
    * bounded limit-probe, integral ids) short-circuit to driver
    * union-find instead — label-identical, and it skips the loop's
    * ~6-10 fixed checkpoint round-trips, the dominant latency for the
    * small contracted graphs [[mergeClusters]] feeds here. Above the
    * budget no driver-side graph exists: only the per-iteration
    * convergence count comes back. Pass `checkpointDir` (or
    * set `spark.graft.checkpointDir`) to use RELIABLE checkpoints on a
    * cluster — the localCheckpoint fallback does not survive executor
    * loss (see [[Checkpoints.truncate]]).
    *
    * Output: (id, component) for every node appearing in `pairs` —
    * including nodes whose only appearance is a degenerate self-pair
    * (x, x), which label as their own singleton component (r14 advice:
    * the contraction loop filters self-pairs from the EDGE set, but
    * the label seed keeps every endpoint, so the output contract stays
    * "every node in pairs"). component = the minimum id in the
    * cluster; nodes with no duplicate never appear — union them back
    * as their own component if needed. */
  def duplicateClusters(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 20,
      checkpointDir: Option[String] = None): DataFrame = {
    val driverLimit = pairs.sparkSession.conf
      .getOption("spark.graft.clusters.driverEdgeLimit")
      .map(_.toLong).getOrElse(200000L)
    val idType = pairs.schema(idA).dataType
    val integralId = {
      import org.apache.spark.sql.types._
      idType match {
        case LongType | IntegerType | ShortType | ByteType => true
        case _ => false
      }
    }
    // materialize the RAW pair frame ONCE (r16, guide §2.4/§5): the
    // micro-graph probe below, the edge frame and the label seed all
    // consume `pairs`, whose upstream is usually an LSH band join.
    // r15 probed the RAW plan, so an over-budget graph evaluated that
    // upstream TWICE — once in the probe's shuffle map side, once in
    // the distributed path's truncate (VERDICT r15 "what's wrong" #1).
    // Persisting the narrow two-column projection first means the
    // probe's map side evaluates the upstream exactly once, and
    // whichever path runs afterwards reads the cache: micro graphs
    // still pay a single probe job, big graphs pay nothing extra.
    val praw = trackedPersist(
      pairs.select(col(idA).as("src"), col(idB).as("dst")))
    def dropPraw(): Unit = release(praw)
    // MICRO-GRAPH fast path (r15): a near-dup pair graph is usually
    // tiny next to its corpus (it holds only ever-paired docs), and
    // mergeClusters' CONTRACTED delta graphs are tinier still — but
    // the distributed loop pays ~6-10 fixed checkpoint round-trips
    // regardless of size, the dominant per-batch latency for small
    // deltas. ONE bounded limit(n+1) collect of the DISTINCT raw pair
    // rows (`spark.graft.clusters.driverEdgeLimit`, default 200k rows
    // ≈ 3 MB; nodes ≤ 2× that by construction; 0 disables) yields
    // nodes (all endpoints — self-pair-only nodes included) AND edges
    // (src ≠ dst rows) in a single job with a single evaluation of the
    // upstream pair plan; a big graph pays one early-exit scan, never
    // a full count, then takes the distributed loop below. Driver
    // union-find is label-identical to the contraction loop by
    // construction (min id per component; the 120-graph property spec
    // pins BOTH paths against the same ground truth). Bounded driver
    // state, the centroid/codebook collect discipline — corpus-sized
    // frames never come near the driver. Integral ids only (the min
    // must reproduce SQL's ordering; exotic id types take the loop).
    val fastPairs: Array[org.apache.spark.sql.Row] =
      if (integralId && driverLimit > 0 &&
          driverLimit < (Int.MaxValue - 1) / 2)
        praw.select(col("src").cast("long").as("src"),
            col("dst").cast("long").as("dst"))
          .distinct().limit(driverLimit.toInt + 1).collect()
      else null
    if (fastPairs != null && fastPairs.length <= driverLimit) {
      val parent = new java.util.HashMap[Long, java.lang.Long](
        fastPairs.length * 4)
      def find(x: Long): Long = {
        var r = x
        while ({ val p = parent.get(r); p != null && p != r }) r =
          parent.get(r)
        var c = x
        while ({ val p = parent.get(c); p != null && p != c }) {
          val nxt = parent.get(c); parent.put(c, r); c = nxt
        }
        r
      }
      fastPairs.foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        if (parent.get(a) == null) parent.put(a, a)
        if (parent.get(b) == null) parent.put(b, b)
        if (a != b) {
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) {
            if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
          }
        }
      }
      val spark = pairs.sparkSession
      val nodes = parent.keySet().toArray(new Array[java.lang.Long](0))
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](
        nodes.length)
      nodes.foreach { n =>
        rows.add(org.apache.spark.sql.Row(n.longValue(),
          find(n.longValue())))
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("component",
          org.apache.spark.sql.types.LongType, nullable = false)))
      dropPraw()
      return spark.createDataFrame(rows, schema)
        .select(col("id").cast(idType).as("id"),
          col("component").cast(idType).as("component"))
    }
    // edges and the label seed both derive from the cached `praw`
    // (probed above), so the upstream pair plan never evaluates a
    // second time; the truncates below cut the loop's lineage as
    // before. (r15 checkpointed a separate p0 here — redundant now
    // that the probe itself materializes the narrow frame.)
    val edges0 = praw
      .unionByName(praw.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct()
    // STAR CONTRACTION WITH FULL PATH COMPRESSION: each round
    // (a) computes every current root's min-adjacent root — a
    // functional forest pointing strictly toward smaller ids;
    // (b) PATH-COMPRESSES that root map to its tree bottoms with
    // cheap map-only self-joins (the map is root-sized, no edge data
    // moves); (c) relabels nodes AND — the step plain label
    // propagation lacks — REWRITES THE EDGES through the compressed
    // map, dropping self-loops. Every min-forest tree contracts to
    // ONE node per round, so surviving roots at least halve while
    // edges remain: O(log n) outer rounds GUARANTEED, regardless of
    // id layout.
    //
    // Why the strong form: plain neighbor-min floods one edge per
    // round (O(diameter) — silently under-converged on the 100×
    // rehearsal corpus); neighbor-min + pointer jumping over LABELS
    // stalls the same way on alternating-id chains (replica/strided
    // ids: pointer trees stay depth-1 at local minima while the true
    // min crosses edges at flood speed — measured 24 rounds on the
    // sf0.1 embedding pair graph); and UNCOMPRESSED contraction
    // shifts monotone-id chains without shrinking them (edge (v,v+1)
    // rewrites to (v-1,v) forever). Compressing the root map before
    // applying it closes all three holes at once.
    // label seed = ALL pair endpoints (not edge endpoints): a node
    // whose only pair is (x, x) has no surviving edge but still owes
    // an output row per the contract above
    val labels0 = praw.select(col("src").as("id"))
      .unionByName(praw.select(col("dst").as("id")))
      .distinct()
      .withColumn("lbl", col("id"))
    var e = Checkpoints.truncate(edges0, checkpointDir)
    var labels = Checkpoints.truncate(labels0, checkpointDir)
    dropPraw()
    var remaining = e.limit(1).count()
    var it = 0
    while (remaining > 0 && it < maxIter) {
      // every edge endpoint is a CURRENT root (round-0 endpoints are
      // self-labeled nodes; later rounds rewrite through the map)
      // rlCp tracks the MATERIALIZED generation (release works only on
      // the truncate output itself, not projections over it); rl is
      // the (__r, __rl) view the joins consume
      var rlCp = Checkpoints.truncate(
        e.groupBy("src").agg(min("dst").as("nlbl"))
          .select(col("src").as("__r"),
            least(col("src"), col("nlbl")).as("__rl")), checkpointDir)
      var rl = rlCp
      // path compression: __rl <- rl(__rl) until the map is flat.
      // Targets strictly decrease along chains and chain depth at
      // least halves per composition, so <= ~log2(n) cheap rounds;
      // depth-1 star maps (the common near-dup shape) exit after one
      // no-op composition.
      var inner = 0
      var compressing = true
      while (compressing && inner < 40) {
        val hop = rl.select(col("__r").as("__rl"),
          col("__rl").as("__rl2"))
        val comp = rl.join(hop, Seq("__rl"), "left_outer")
          .select(col("__r"),
            coalesce(col("__rl2"), col("__rl")).as("__rl"),
            col("__rl").as("__prev"))
        val compCp = Checkpoints.truncate(comp, checkpointDir)
        val moved = compCp.where(col("__rl") =!= col("__prev"))
          .limit(1).count()
        Checkpoints.release(rlCp)
        rlCp = compCp
        // a narrow select over the materialized frame — no second
        // checkpoint needed, the lineage is one projection deep
        rl = compCp.select("__r", "__rl")
        compressing = moved > 0
        inner += 1
      }
      val newLabels = labels
        .join(rl, labels("lbl") === rl("__r"), "left_outer")
        .select(labels("id"),
          coalesce(col("__rl"), labels("lbl")).as("lbl"))
      val lblCp = Checkpoints.truncate(newLabels, checkpointDir)
      val relS = rl.select(col("__r").as("src"), col("__rl").as("__s"))
      val relD = rl.select(col("__r").as("dst"), col("__rl").as("__d"))
      val eNext = e
        .join(relS, Seq("src"), "left_outer")
        .join(relD, Seq("dst"), "left_outer")
        .select(coalesce(col("__s"), col("src")).as("src"),
          coalesce(col("__d"), col("dst")).as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct()
      val eCp = Checkpoints.truncate(eNext, checkpointDir)
      Checkpoints.release(labels)
      Checkpoints.release(e)
      Checkpoints.release(rlCp)
      labels = lblCp
      e = eCp
      // the edge frame is freshly materialized — the emptiness probe
      // is a bounded limit(1) over the checkpointed data, not a full
      // count job
      remaining = e.limit(1).count()
      it += 1
    }
    // a graph still carrying contracted edges at maxIter would exit
    // with split components — surface it instead of returning
    // silently-wrong labels. Contraction halves the structure per
    // round, so 20 covers ~2^20-deep shapes; hitting this means
    // something degenerate, not merely a big corpus.
    if (remaining > 0)
      org.apache.log4j.Logger.getLogger(getClass).warn(
        s"duplicateClusters: star contraction did NOT converge in " +
          s"$maxIter rounds — components may be split; raise maxIter")
    Checkpoints.release(e)
    labels.select(col("id"), col("lbl").as("component"))
  }

  /** INCREMENTAL duplicate-cluster maintenance: fold one batch's new
    * near-dup pairs into an existing (id, component) labeling WITHOUT
    * re-running [[duplicateClusters]] over the full accumulated pair
    * set — the maintenance step a daily ingest pipeline runs after
    * [[minhashLshPairsBetweenPrecomputed]] /
    * [[embeddingNearDupBetweenPrecomputed]] emit their delta pairs.
    * Recomputing components per batch is the most expensive query in
    * the suite growing with corpus lifetime; this is bounded by the
    * DELTA plus the prior components it touches.
    *
    * Correctness rests on [[duplicateClusters]]'s label invariant —
    * component = MIN id of the cluster, which every producer here
    * preserves (including this function, so batches chain). Each new
    * pair endpoint CONTRACTS to its prior component root (left join;
    * unlabeled nodes stay themselves): two prior members joined by a
    * new pair become one contracted edge between their roots, so
    * label propagation runs over roots ∪ new ids only — and since
    * every prior member ≥ its root, min over contracted nodes = min
    * over the merged member set, i.e. EXACTLY the label a full
    * recompute over (prior pairs ∪ new pairs) assigns (the oracle
    * query proves it on a planted multi-batch fixture).
    *
    * Shape at 100 TB: the contraction is two hash joins of the delta
    * against the label frame; label propagation runs on the contracted
    * graph (≤ 2·|delta| nodes); the relabel-back is ONE join of the
    * prior labels against the tiny (touched root → new root) map —
    * AQE broadcasts it. Prior components untouched by any new pair
    * are never shuffled through propagation at all.
    *
    * Output: (id, component) over priorLabels' ids ∪ the new pairs'
    * ids — the same contract as [[duplicateClusters]] run on the full
    * union. */
  def mergeClusters(priorLabels: DataFrame, newPairs: DataFrame,
      idA: String = "id_a", idB: String = "id_b", maxIter: Int = 20,
      checkpointDir: Option[String] = None): DataFrame = {
    require(Seq("id", "component").forall(priorLabels.columns.contains),
      "mergeClusters: priorLabels needs (id, component) — a " +
        "duplicateClusters/mergeClusters frame; got " +
        priorLabels.columns.mkString("(", ", ", ")"))
    val prior = trackedPersist(priorLabels.select(col("id"), col("component")))
    // persist the delta pair frame (r15, guide §2.4): it feeds BOTH the
    // contraction below and the new-ids anti-join at the end — without
    // the persist the upstream delta pair plan (usually an LSH join)
    // evaluates once per consumer
    val e0 = trackedPersist(newPairs
      .select(col(idA).as("__a"), col(idB).as("__b")))
    val contracted = e0
      .join(prior.select(col("id").as("__a"),
        col("component").as("__ra")), Seq("__a"), "left_outer")
      .join(prior.select(col("id").as("__b"),
        col("component").as("__rb")), Seq("__b"), "left_outer")
      .select(coalesce(col("__ra"), col("__a")).as("id_a"),
        coalesce(col("__rb"), col("__b")).as("id_b"))
      .where(col("id_a") =!= col("id_b"))
    // propagation over the contracted delta graph only — its nodes
    // are touched prior roots and genuinely-new ids
    val sub = duplicateClusters(contracted, "id_a", "id_b", maxIter,
      checkpointDir)
    // (touched root -> merged root) map; untouched components fall
    // through the left join unchanged. sub is checkpoint-materialized,
    // so AQE sizes (and broadcasts) it from real statistics.
    val relabel = sub.select(col("id").as("component"),
      col("component").as("__newc"))
    val updatedPrior = prior
      .join(relabel, Seq("component"), "left_outer")
      .select(col("id"),
        coalesce(col("__newc"), col("component")).as("component"))
    // ids first seen in this batch: their label comes straight from
    // the contracted propagation (self-pair degenerates label as self)
    val newIds = e0.select(col("__a").as("id"))
      .unionByName(e0.select(col("__b").as("id")))
      .distinct()
      .join(prior.select("id"), Seq("id"), "left_anti")
    val newLabels = newIds
      .join(sub, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component"))
    autoRelease(updatedPrior.unionByName(newLabels), prior, e0)
  }

  /** Cluster RESOLUTION — the retention policy that turns
    * [[duplicateClusters]] output into a deduplicated corpus: keep the
    * BEST-quality document of every duplicate cluster (tie-break
    * smallest id) instead of the arbitrary min-id representative, the
    * standard refinement when near-dup groups mix a clean original
    * with truncated/boilerplate-padded copies. Docs in no cluster are
    * their own singleton component and always survive.
    *
    * Output: the surviving docs with all their columns plus
    * `component` (cluster label) and `cluster_size` (how many docs the
    * survivor stands for — `cluster_size - 1` were removed).
    *
    * Shape at 100 TB: one left join against the (id, component) label
    * frame (corpus-shuffle on id — the labels are the small side and
    * AQE broadcasts them when they fit) and ONE hash exchange on
    * `component` shared by the two window functions (same partition
    * key → one shuffle). Near-dup clusters are small by construction,
    * so per-partition sorts are bounded; a pathological
    * everything-is-one-cluster corpus concentrates one component in
    * one task — that corpus is dedup-degenerate long before this
    * operator (the pair valves upstream fail fast on it). */
  def resolveClusters(docs: DataFrame, clusters: DataFrame,
      idCol: String, qualityCol: String): DataFrame = {
    val lab = clusters.select(col("id").as(idCol), col("component"))
    val labeled = docs.join(lab, Seq(idCol), "left_outer")
      .withColumn("component", coalesce(col("component"), col(idCol)))
    val byComponent = Window.partitionBy("component")
    labeled
      .withColumn("cluster_size", count(lit(1)).over(byComponent))
      .withColumn("__rn", row_number().over(
        byComponent.orderBy(col(qualityCol).desc, col(idCol).asc)))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** INCREMENTAL keep-best resolution — the [[mergeClusters]] story
    * for [[resolveClusters]], closing the last full-corpus pass in
    * the incremental dedup loop: after a batch's delta pairs fold
    * into the labeling, only the components that CHANGED re-elect
    * their survivor; every untouched prior survivor passes through
    * verbatim (component and cluster_size both still valid —
    * [[mergeClusters]] never splits or shrinks a component, so an
    * untouched label means untouched membership). Re-windowing the
    * full corpus per batch re-shuffles 100 TB of docs to re-elect
    * survivors that did not change — this is bounded by the touched
    * components instead.
    *
    * Inputs: `docs` = the FULL accumulated corpus (prior + delta —
    * only members of changed components are actually read: the
    * member-id semi-join prunes at the scan, so feed an id-bucketed /
    * partition-prunable table at scale); `newDocs` = this batch's
    * rows (needed to pass brand-new SINGLETON docs through — they
    * appear in no label frame); `priorResolved` = the previous
    * [[resolveClusters]] / resolveClustersIncremental output over the
    * prior corpus; `priorLabels`/`newLabels` = the (id, component)
    * frames before/after [[mergeClusters]] (newLabels must cover
    * every priorLabels id, which mergeClusters guarantees).
    *
    * Output: EXACTLY `resolveClusters(docs, newLabels)` on the full
    * corpus (the oracle query and the spec prove it), built as
    * passthrough ∪ re-elected ∪ new-singletons.
    *
    * Shape at 100 TB: the changed-component diff is one narrow
    * label-frame join (two longs per ever-paired doc — orders of
    * magnitude under the corpus); members of changed components are
    * delta-bounded, so AQE broadcasts them into the docs semi-join
    * and the priorResolved anti-join — both scan-side, no corpus
    * shuffle; the ONE windowed exchange runs over touched members
    * only. */
  def resolveClustersIncremental(docs: DataFrame, newDocs: DataFrame,
      priorResolved: DataFrame, priorLabels: DataFrame,
      newLabels: DataFrame, idCol: String, qualityCol: String)
      : DataFrame = {
    require(Seq("id", "component").forall(newLabels.columns.contains) &&
      Seq("id", "component").forall(priorLabels.columns.contains),
      "resolveClustersIncremental: priorLabels/newLabels need (id, " +
        "component) — duplicateClusters/mergeClusters frames")
    require(priorResolved.columns.contains("component") &&
      priorResolved.columns.contains("cluster_size"),
      "resolveClustersIncremental: priorResolved must be a " +
        "resolveClusters output (component, cluster_size columns)")
    // persist the new label frame (r15, guide §2.4): it has THREE
    // consumers below (the changed-diff, the members semi-join, the
    // new-singleton anti-join) and is usually a fresh mergeClusters
    // plan whose upstream would otherwise evaluate once per consumer
    val nl = trackedPersist(newLabels.select(col("id"), col("component")))
    // components whose membership changed: ids new to the label frame
    // or ids whose label moved — a merge relabels the larger-root
    // side's members, and the surviving (smaller) root is exactly the
    // moved ids' NEW component, so both halves of every merged
    // cluster land in `changed`
    val changed = nl.select(col("id"), col("component"))
      .join(priorLabels
        .select(col("id"), col("component").as("__pc")),
        Seq("id"), "left_outer")
      .where(col("__pc").isNull || col("component") =!= col("__pc"))
      .select("component")
      .distinct()
    // members of changed components — delta-bounded, the frame every
    // pruning join below broadcasts
    val members = trackedPersist(nl
      .join(changed, Seq("component"), "left_semi")
      .select(col("id"), col("component")))
    val touchedDocs = docs.join(
      members.select(col("id").as(idCol)), Seq(idCol), "left_semi")
    val reElected = resolveClusters(touchedDocs, members, idCol,
      qualityCol)
    // untouched survivors pass through verbatim; a touched cluster's
    // prior survivor is by definition a current member and drops here
    val passThrough = priorResolved.join(
      members.select(col("id").as(idCol)), Seq(idCol), "left_anti")
    // brand-new docs with no pairs at all: their own singletons (the
    // resolveClusters contract for unlabeled docs)
    val newSingles = newDocs
      .join(nl.select(col("id").as(idCol)), Seq(idCol),
        "left_anti")
      .withColumn("component", col(idCol))
      .withColumn("cluster_size", lit(1L))
    autoRelease(
      passThrough.unionByName(reElected).unionByName(newSingles),
      members, nl)
  }

  /** Corpus-adaptive hyperplane count for the LSH blocker: each plane
    * halves expected bucket occupancy, so `planes ≈ log2(corpus /
    * targetBucket)` keeps per-bucket candidate pairs bounded (≈
    * targetBucket²/2 per bucket, total ≈ corpus·targetBucket/2 — LINEAR
    * in the corpus), PLUS ONE headroom plane: real embeddings are not
    * uniform across sign buckets (components correlate), and the
    * round-10 rehearsal measured the Σc² candidate volume at ×1.4-3.0
    * the uniform estimate (SCALE.md) — without margin the uniform
    * formula lands exactly on any valve sized from it. One extra plane
    * quarters expected candidates, absorbing the measured skew range.
    * Clamped to [4, 24]: fewer than 4 planes is a saturated toy space,
    * more than 24 splits past any real corpus. The 100× rehearsals
    * derived both terms (16 hand-planes completed the 6M-row corpus the
    * fixed-8 space died on; 12 auto-planes at 200k rows measured
    * 3.1e7 candidates vs 5.7e7 at the headroom-less 11). */
  def autoBlockPlanes(corpusRows: Long, targetBucket: Long = 100L): Int = {
    // integer form of ceil(log2(cells)): bit length of ceil(cells)-1.
    // The divide+ceil are exact IEEE ops (identical in any engine, so
    // the DuckDB oracle reproduces them verbatim); a floating log2
    // could differ by an ulp between libm implementations at exact
    // powers of two and flip the derived plane count cross-engine.
    val ceilCells = math.max(1L,
      math.ceil(corpusRows.toDouble / math.max(1L, targetBucket)).toLong)
    val ceilLog2 =
      if (ceilCells <= 1L) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(ceilCells - 1L)
    math.min(24, math.max(4, ceilLog2 + 1))
  }

  /** The grouped pair scan behind both blocked branches of
    * [[embeddingNearDup]] and behind [[semDeDup]]: `rows` holds (id, v)
    * plus the group key columns `keys`. ONE hash exchange on the key
    * gathers each group's (id, v) structs (`collect_list`), the
    * [[graft.functions.CosinePairs]] generator runs the group's
    * upper-triangular cosine loop in memory and streams the qualifying
    * pairs out, and, for all pairs, a `distinct` merges a pair found in
    * several groups (multi-table LSH finds one pair in up to
    * `blockTables` buckets). `firstHit` keeps each id_b's first pair
    * only (see [[graft.functions.VectorKernels.cosinePairs]]); a row
    * sits in one group there, so nothing needs merging. No candidate row
    * is materialized, no vector re-attaches by a join, and no typed
    * Dataset or UDF boundary sits in the plan.
    *
    * The pair SET is the candidate join's (kept as the reference in
    * OpsSpec): identical arithmetic (sequential widen-multiply-
    * accumulate dot, per-row sqrt'd norms, denom == 0 → 0) and the SQL
    * edges that join implies — ids compare in SQL ordering (any
    * orderable id type, structs included), strict `id_a < id_b` (equal
    * ids never pair), a NaN cosine qualifies (Spark's nan-safe `>=`),
    * null keys, ids and vectors never pair, and the grouping merges
    * -0.0/0.0 keys and groups NaN with NaN as an equi-join does. Ids are
    * a documented UNIQUE precondition; under duplicates the SET still
    * matches, but the join emitted one row per duplicate-row combination
    * where this emits the pair once.
    *
    * Valves, read here on the driver: `spark.graft.semdedup.maxCellRows`
    * (default 500k) bounds a group's rows and
    * `spark.graft.semdedup.maxGroupPairs` (default 2e9) the pairs out of
    * one group; either fails the job fast with its caller's remedy. */
  private def groupedPairScan(rows: DataFrame, keys: Seq[String],
      threshold: Double, firstHit: Boolean = false): DataFrame = {
    val conf = rows.sparkSession.conf
    val maxCell = conf.getOption("spark.graft.semdedup.maxCellRows")
      .map(_.toLong).getOrElse(500000L)
    val maxPairs = conf.getOption("spark.graft.semdedup.maxGroupPairs")
      .map(_.toLong).getOrElse(2000000000L)
    val present = (Seq("id", "v") ++ keys).map(col(_).isNotNull)
    val pairs = rows.where(present.reduce(_ && _))
      .groupBy(keys.map(col): _*)
      .agg(collect_list(struct(col("id"), col("v"))).as("_rows"))
      .select(graft.functions.VectorFunctions.cosine_pairs(
        concat_ws(":", keys.map(col(_).cast("string")): _*), col("_rows"),
        threshold, firstHit, maxCell, maxPairs))
    if (firstHit) pairs else pairs.distinct()
  }

  /** Embedding cosine near-duplicates.
    *
    * Default path is sub-quadratic: multi-table random-hyperplane LSH
    * blocking ([[Similarity.withAllTableBuckets]] — `blockTables`
    * independent tables of `blockPlanes` sign bits, all from ONE native
    * bucket pass), then the grouped pair scan over the (table, bucket)
    * groups ([[groupedPairScan]]: one exchange on the bucket key, the
    * exact cosine verified in memory per bucket, one `distinct`). Pairs
    * sharing a bucket in ANY table are candidates, so recall grows with
    * `blockTables` while the work stays within buckets — it scales with
    * bucket occupancy, not n².
    *
    * `blockPlanes <= 0` (the DEFAULT) sizes the bucket space from the
    * corpus ([[autoBlockPlanes]] — planes ≈ log2(corpus/targetBucket),
    * targetBucket via `spark.graft.embed.targetBucket`, default 100), so
    * the same call stays linear from 10³ to 10¹⁰ rows with no tuning; an
    * explicit value pins the space for reproducibility.
    *
    * `blockCol` overrides the blocker with a caller-provided key (e.g. a
    * domain column); the same grouped pair scan runs over its groups.
    * `blockTables = 0` opts IN to the brute-force broadcast O(n²) path —
    * only for bounded n or per-bucket verification; it is deliberately
    * not the default (a BroadcastNestedLoopJoin over the corpus is a
    * scale-killer).
    *
    * Norms are computed once per row. `dim` = embedding dimensionality
    * (0 = infer from the first row). Output: distinct (id_a, id_b),
    * id_a < id_b, cosine >= threshold. */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, blockCol: Option[String] = None,
      blockTables: Int = 4, blockPlanes: Int = 0, dim: Int = 0): DataFrame = {
    import graft.functions.VectorFunctions.vec_dot
    blockCol match {
      case Some(bc) =>
        val base = df.select(col(idCol).as("id"), col(vecCol).as("v"),
          col(bc).as("blk"))
        // a FIXED block domain (a label column) grows blocks linearly
        // with the corpus and the within-block pair work quadratically
        candidateValve("embeddingNearDup", EmbedValve,
          "the block domain is too coarse for this corpus (block sizes " +
            "grow with the data). Use blocks that scale with the " +
            "corpus — semDeDupKMeans cells with k ~ corpus/targetCell " +
            "— or raise the valve.",
          Seq("blk"), keyCounts(base, Seq("blk")), None)
        groupedPairScan(base, Seq("blk"), threshold)
      case None if blockTables <= 0 =>
        // norms are sqrt'd ONCE PER ROW before the pair join — the
        // per-pair work is one multiply + divide
        val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
          .withColumn("nsq", sqrt(vec_dot(col("v"), col("v"))))
        val a = Partitioning.ensureMinPartitions(base.toDF("id_a", "va", "na"))
        val b = base.toDF("id_b", "vb", "nb")
        val denom = col("na") * col("nb")
        a.join(broadcast(b), col("id_a") < col("id_b"))
          .withColumn("cos", when(denom === 0.0, lit(0.0))
            .otherwise(vec_dot(col("va"), col("vb")) / denom))
          .where(col("cos") >= threshold)
          .select(col("id_a"), col("id_b"))
      case None => embeddingNearDupLsh(df, idCol, vecCol, threshold,
        blockTables, blockPlanes, dim, sharedBuckets = None)
    }
  }

  /** The multi-table LSH branch of [[embeddingNearDup]], callable with
    * a CALLER-SUPPLIED bucket frame (r16): presets that ALSO persist
    * the corpus's [[vectorBucketSignatures]] for a store write
    * ([[graft.ops.Curation.embedCurateBootstrap]] and the incremental
    * chain) pass it here so the plane dot products are hashed ONCE per
    * batch instead of once per consumer. `sharedBuckets`, when given,
    * must be a (persisted) frame built with exactly these
    * blockTables/blockPlanes/dim — the preset callers build it from
    * the same parameters one line above — and `blockPlanes` must be
    * explicit (a store pins its space); its (id, t, bkt) rows meet the
    * vectors by one id equi-join. Without it, the buckets are computed
    * inline in the scan that feeds [[groupedPairScan]] — nothing is
    * persisted, and the pair plan has exactly two exchanges (bucket
    * key, pair distinct). */
  private[ops] def embeddingNearDupLsh(df: DataFrame, idCol: String,
      vecCol: String, threshold: Double, blockTables: Int,
      blockPlanes: Int, dim: Int,
      sharedBuckets: Option[DataFrame]): DataFrame = {
    require(sharedBuckets.isEmpty || blockPlanes > 0,
      "embeddingNearDupLsh: a shared bucket frame pins its space — " +
        "blockPlanes must be explicit")
    val d = if (dim > 0) dim
      else Similarity.probeDim(df, vecCol).getOrElse(1)
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    // blockPlanes <= 0 (the default) = ADAPTIVE: size the bucket space
    // from the corpus so the plan stays linear at any scale with no
    // conf — one cheap metadata-friendly count picks the parameter; the
    // candidate-volume valve below stays as the backstop. An explicit
    // blockPlanes pins the space (the oracle queries do).
    val nRows = if (blockPlanes > 0) None else Some(base.count())
    val planes = nRows.fold(blockPlanes) { n =>
      autoBlockPlanes(n, df.sparkSession.conf
        .getOption("spark.graft.embed.targetBucket")
        .map(_.toLong).getOrElse(100L))
    }
    val keyed = sharedBuckets match {
      case Some(b) => b.select("id", "t", "bkt").join(base, "id")
      case None =>
        Similarity.withAllTableBuckets(base, "v", blockTables, planes, d)
    }
    // 2^blockPlanes buckets per table: occupancy grows linearly with
    // the corpus and per-bucket candidates quadratically (the 100x
    // rehearsal saturated an 8-plane space into ~10^9 candidates and
    // died on spill disk). A row count in hand (adaptive planes) bounds
    // the volume without a job; otherwise the occupancy aggregate runs.
    candidateValve("embeddingNearDup", EmbedValve,
      s"the $planes-plane bucket space is saturated at this " +
        "corpus size. Raise blockPlanes (each plane halves bucket " +
        "occupancy; size ~ log2(corpus/targetBucket)), pass " +
        "blockCol for metadata blocking, or raise the valve.",
      BucketKeys, keyCounts(sharedBuckets.getOrElse(keyed), BucketKeys),
      None, blockTables, nRows.toSeq.map(n => (safeN: Long) => n <= safeN))
    groupedPairScan(keyed, BucketKeys, threshold)
  }

  /** The persistable (id, t, bkt [, p_*]) hyperplane-bucket frame of an
    * embedded corpus — [[embeddingNearDupBetween]]'s reference side,
    * materialized: the q230 signature-store pattern
    * ([[minhashBandSignatures]]) applied to VECTORS. Incremental
    * ingest against an embedded 100 TB corpus re-paid `blockTables ×
    * blockPlanes` literal-plane dot products over every reference
    * vector on every batch; write this frame once
    * (`.write.partitionBy("t").parquet(store)`), append each absorbed
    * delta's buckets, and feed it to
    * [[embeddingNearDupBetweenPrecomputed]] — the per-batch hash cost
    * then scales with the DELTA. Plane constants are deterministic in
    * (table, plane index)
    * ([[graft.functions.VectorKernels.planeVector]]), so saved buckets
    * can never drift from what a later session hashes.
    *
    * `blockPlanes` is REQUIRED (> 0), unlike [[embeddingNearDup]]'s
    * corpus-adaptive default: a store must pin its bucket space — a
    * parameter re-derived from a GROWING corpus would change between
    * batches and silently stop matching saved buckets. Size it for
    * the corpus's target size: planes ≈ log2(target rows /
    * targetBucket) (see [[autoBlockPlanes]]). */
  def vectorBucketSignatures(df: DataFrame, idCol: String,
      vecCol: String, blockTables: Int = 4, blockPlanes: Int = 12,
      dim: Int = 0): DataFrame = {
    require(blockTables > 0 && blockPlanes > 0,
      "vectorBucketSignatures: blockTables and blockPlanes must be " +
        "explicit positives — a persisted store pins its bucket space " +
        "(an adaptive parameter would drift as the corpus grows)")
    val d = if (dim > 0) dim
      else Similarity.probeDim(df, vecCol).getOrElse(1)
    Similarity.withAllTableBuckets(
        df.select(col(idCol).as("id"), col(vecCol).as("v")),
        "v", blockTables, blockPlanes, d)
      .select("id", "t", "bkt")
      .withColumn("p_tables", lit(blockTables))
      .withColumn("p_planes", lit(blockPlanes))
      .withColumn("p_dim", lit(d))
  }

  /** Incremental cross-frame embedding near-dup: an incoming shard
    * against an existing reference corpus — [[minhashLshPairsBetween]]
    * for vectors. Convenience form that hashes the reference here;
    * production ingest saves [[vectorBucketSignatures]] once and calls
    * [[embeddingNearDupBetweenPrecomputed]]. */
  def embeddingNearDupBetween(newDf: DataFrame, refDf: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      blockTables: Int = 4, blockPlanes: Int = 12, dim: Int = 0)
      : DataFrame =
    embeddingNearDupBetweenPrecomputed(newDf,
      vectorBucketSignatures(refDf, idCol, vecCol, blockTables,
        blockPlanes, dim),
      refDf.select(col(idCol), col(vecCol)),
      idCol, vecCol, threshold, blockTables, blockPlanes, dim)

  /** CROSS-FRAME embedding near-dup against a PRECOMPUTED reference:
    * the incoming shard hashes here (one scan, same deterministic
    * plane constants), the reference corpus arrives as a saved
    * [[vectorBucketSignatures]] frame — no reference-side vector
    * HASHING anywhere in the plan (PlanSpec-pinned: the only ref
    * work is the candidate join-back below). Candidates meet on the
    * (t, bkt) equi-join of NARROW id frames; `refVectors` — the saved
    * corpus itself, column-pruned to (idCol, vecCol) — joins back BY
    * ID for the exact-cosine verify, so vectors never ride the
    * candidate shuffle (the q22 lesson) and only two columns of the
    * reference are ever read.
    *
    * Candidates come from [[bandJoin]]; a saturated pinned bucket
    * space fails its valve — the store needs more blockPlanes.
    *
    * Output: distinct (new_id, ref_id), cosine >= threshold. */
  def embeddingNearDupBetweenPrecomputed(newDf: DataFrame,
      refBuckets: DataFrame, refVectors: DataFrame, idCol: String,
      vecCol: String, threshold: Double, blockTables: Int = 4,
      blockPlanes: Int = 12, dim: Int = 0): DataFrame =
    embeddingNearDupBetweenImpl(newDf, None, refBuckets, refVectors,
      idCol, vecCol, threshold, blockTables, blockPlanes, dim)

  /** [[embeddingNearDupBetweenPrecomputed]] with an optional
    * CALLER-SUPPLIED (persisted) bucket frame for the NEW side (r16):
    * the incremental curation chain already hashes the delta once for
    * its store append and its within-batch pairs — passing that frame
    * here removes this face's third hash of the same vectors. When
    * given, it must be a [[vectorBucketSignatures]] frame of `newDf`
    * at exactly these parameters (the preset builds it one line
    * above); its release is the caller's. */
  private[ops] def embeddingNearDupBetweenImpl(newDf: DataFrame,
      newBuckets: Option[DataFrame],
      refBuckets: DataFrame, refVectors: DataFrame, idCol: String,
      vecCol: String, threshold: Double, blockTables: Int = 4,
      blockPlanes: Int = 12, dim: Int = 0): DataFrame = {
    import graft.functions.VectorFunctions.vec_dot
    require(refVectors.columns.contains(idCol) &&
      refVectors.columns.contains(vecCol),
      s"embeddingNearDupBetweenPrecomputed: refVectors needs ($idCol, " +
        s"$vecCol); got " + refVectors.columns.mkString("(", ", ", ")"))
    val d = if (dim > 0) dim
      else Similarity.probeDim(newDf, vecCol).getOrElse(1)
    requireStore(refBuckets, "embeddingNearDupBetweenPrecomputed",
      "vectorBucketSignatures", "id" +: BucketKeys,
      "p_tables" -> blockTables, "p_planes" -> blockPlanes, "p_dim" -> d)
    val ownBkts = newBuckets.isEmpty
    val newBkts = newBuckets.getOrElse(
      trackedPersist(vectorBucketSignatures(newDf, idCol, vecCol,
        blockTables, blockPlanes, d)))
    val cand = bandJoin("embeddingNearDupBetweenPrecomputed",
        BandSide(refBuckets, refBuckets, blockTables),
        Some(BandSide(newBkts, newBkts, blockTables)), BucketKeys,
        blockTables, EmbedValve,
        s"the $blockPlanes-plane store bucket space is saturated at " +
          "this corpus size. Rebuild the store with more blockPlanes " +
          "(each plane halves bucket occupancy; size ~ " +
          "log2(corpus/targetBucket)) or raise the valve.")
      .select(col("id_p").as("new_id"), col("id_i").as("ref_id"))
    val vn = newDf.select(col(idCol).as("new_id"),
        col(vecCol).as("__vn"))
      .withColumn("__nn", sqrt(vec_dot(col("__vn"), col("__vn"))))
    val vr = refVectors.select(col(idCol).as("ref_id"),
        col(vecCol).as("__vr"))
      .withColumn("__nr", sqrt(vec_dot(col("__vr"), col("__vr"))))
    val denom = col("__nn") * col("__nr")
    // final distinct: duplicate ids in refVectors/newDf (a vectors
    // sidecar with a twice-appended batch) would emit a pair once per
    // duplicate from the vector join-back
    val out = cand.join(vn, "new_id").join(vr, "ref_id")
      .withColumn("__cos", when(denom === 0.0, lit(0.0))
        .otherwise(vec_dot(col("__vn"), col("__vr")) / denom))
      .where(col("__cos") >= threshold)
      .select("new_id", "ref_id")
      .distinct()
    if (ownBkts) autoRelease(out, newBkts) else out
  }

  /** Cross-document duplicate SPAN removal (Lee et al. 2021,
    * arXiv:2107.06499 "Deduplicating Training Data Makes Language Models
    * Better"): any window of `n` consecutive tokens occurring in at least
    * `minDocFreq` distinct documents is a duplicate span; every token
    * position covered by such a window is flagged and dropped from the
    * cleaned text. This is the n-gram form of the paper's exact substring
    * dedup — suffix automata don't distribute, but the fixed-width token
    * window does, and it is how the method is deployed on cluster
    * pipelines.
    *
    * Scale shape: one posexplode (linear in corpus tokens), the n-gram
    * built with `lead` over a Window partitioned BY DOCUMENT (shuffles
    * hash-partitioned on id — no global sort), one hash aggregate over
    * gram hashes for the document-frequency filter, one semi-join back,
    * and one per-doc aggregate to rebuild text. No pairwise work anywhere;
    * everything is linear in tokens with standard shuffles.
    *
    * Output: (id, n_tokens, dup_tokens, clean) — stats plus the
    * reconstructed text with duplicate spans removed (single-space
    * joined). */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDocFreq: Int = 2): DataFrame = {
    require(n >= 2 && minDocFreq >= 2,
      "duplicateSpans: n >= 2, minDocFreq >= 2")
    val toksArr = filter(split(col(textCol), " "), x => x =!= "")
    val tok = df.select(col(idCol).as("id"), toksArr.as("toks"))
      .select(col("id"), posexplode(col("toks")).as(Seq("pos", "tok")))
    val w = Window.partitionBy("id").orderBy("pos")
    // gram at pos p = tokens p .. p+n-1; only full-width windows count
    // (concat_ws would silently shorten trailing windows — guard on the
    // last lead instead)
    val sep = "\u0001"
    val gramParts = col("tok") +:
      (1 until n).map(i => lead(col("tok"), i).over(w))
    val grams = tok.select(col("id"), col("pos"),
        xxhash64(concat_ws(sep, gramParts: _*)).as("gh"),
        lead(col("tok"), n - 1).over(w).isNotNull.as("full"))
      .where(col("full"))
    val dup = grams.groupBy("gh")
      .agg(countDistinct(col("id")).as("ndocs"))
      .where(col("ndocs") >= minDocFreq)
      .select("gh")
    val hits = grams.join(dup, "gh").select(col("id"), col("pos"))
    val covered = hits.select(col("id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("pos"))
      .distinct()
      .withColumn("c", lit(1))
    val byDoc = tok.join(covered, Seq("id", "pos"), "left_outer")
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("dup_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("c").isNull,
            struct(col("pos"), col("tok"))))),
          x => x.getField("tok"))).as("clean"))
      .withColumnRenamed("id", idCol)
    // zero-token documents produce no tok rows; join back so they surface
    // as (0, 0, "") instead of silently vanishing from the corpus (same
    // stance as removeBoilerplateLines)
    df.select(col(idCol)).join(byDoc, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("clean"), lit("")).as("clean"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication of an embedded corpus. Rows are grouped into clusters;
    * within each cluster a row is dropped when some EARLIER row is at
    * least `eps` cosine-similar to it. "Earlier" defaults to smaller id —
    * the reference implementation's upper-triangular "similar to any
    * lower-indexed example" rule, deterministic and order-free. Passing
    * `orderCol` replaces the order: rows with a SMALLER value of that
    * column win their pairs (ties broken by id) — [[semDeDupKMeans]] uses
    * this for the paper's centroid-proximity keep-rule.
    *
    * Cost is the published one: O(Σ cᵢ²) pairwise work inside clusters
    * only, and less on duplicate-heavy cells. One path for every id,
    * order and vector type: the [[groupedPairScan]] over the cluster key
    * with the generator's id field set to struct(order, id) — ONE hash
    * exchange gathers each cell, its upper-triangular scan runs in
    * memory and stops at each row's first ≥`eps` earlier row
    * (first-hit), and a `left_anti` on the id drops the hits. SQL struct
    * ordering IS the "earlier" relation, in the order's native type
    * (strings, and longs past 2^53, compare exactly): lexicographic,
    * -0.0 equals 0.0, NaN equals NaN and ranks above everything, and a
    * row whose (order, id) equals another's is earlier in NEITHER
    * direction. A NaN cosine qualifies. A row with a null cluster key,
    * id, vector or order can neither drop a row nor be dropped. Cells
    * are bounded (≈ targetCell rows) by the [[autoCellCount]] design; a
    * degenerate clustering fails FAST on
    * `spark.graft.semdedup.maxCellRows` (default 500k) instead of
    * silently materializing an unbounded group.
    *
    * The survivor set is the candidate join's (kept as the reference in
    * OpsSpec): the same double operations in the same order as its
    * `vec_dot`/`sqrt`/product expressions, so the oracle contract is
    * untouched, and no candidate pair becomes a row (a join puts
    * Σcᵢ²/2 rows through the shuffle: 10⁸ rows and 298 of q130's 317
    * seconds at the 100× rehearsal). Ids are a documented UNIQUE
    * precondition: under duplicate ids every copy of a dropped id is
    * anti-joined, and each physical row pair is evaluated once where the
    * join form's re-attach-by-id crossed the duplicates' vectors. */
  def semDeDup(df: DataFrame, idCol: String, vecCol: String,
      clusterCol: String, eps: Double,
      orderCol: Option[String] = None): DataFrame = {
    val rows = df.where((orderCol.toSeq :+ idCol).map(col(_).isNotNull)
        .reduce(_ && _))
      .select(struct(orderCol.map(col(_).as("o")).toSeq :+
          col(idCol).as("i"): _*).as("id"),
        col(vecCol).as("v"), col(clusterCol).as("blk"))
    val dropped = groupedPairScan(rows, Seq("blk"), eps, firstHit = true)
      .select(col("id_b.i").as(idCol))
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /** Corpus-adaptive cell count for [[semDeDupKMeans]]: `k ≈ corpus /
    * targetCell` keeps cells near targetCell rows, so within-cell pair
    * work is ≈ corpus·targetCell/2 — LINEAR in the corpus (a FIXED k
    * grows cells linearly and pair work quadratically, the weak-at-scale
    * parameterization the 100× rehearsal flagged). The paper's LAION run
    * is this rule at targetCell ≈ 2000 (k = 50k). */
  def autoCellCount(corpusRows: Long, targetCell: Long = 1000L): Int =
    math.max(1, math.ceil(
      corpusRows.toDouble / math.max(1L, targetCell)).toInt)

  /** [[semDeDup]] with the paper's own clustering: spherical k-means
    * ([[Clustering.kmeans]]) assigns each row to its nearest centroid
    * ([[Similarity.ivfAssign]]), then within-cell dedup.
    *
    * `keepFarthestFromCentroid = true` applies the paper's own keep-rule
    * (§"which duplicate to keep"): within a duplicate group, survivors are
    * the examples with the LOWEST cosine similarity to their cluster
    * centroid — keeping the "edge" examples preserves diversity. False
    * (default) keeps lowest-id, matching the published code path that the
    * oracle checks. */
  def semDeDupKMeans(df: DataFrame, idCol: String, vecCol: String,
      eps: Double, k: Int = 0, iters: Int = 5,
      keepFarthestFromCentroid: Boolean = false): DataFrame = {
    // k <= 0 (the default) = ADAPTIVE: cells scale with the corpus so
    // the same call stays linear at any scale with no conf
    val kk = if (k > 0) k else {
      val target = df.sparkSession.conf
        .getOption("spark.graft.semdedup.targetCell")
        .map(_.toLong).getOrElse(1000L)
      autoCellCount(df.count(), target)
    }
    // assignment (training passes AND the final one) is the scan-fused
    // centroid argmax: identical values to the old broadcast-join +
    // window form (same cosine expression, same smallest-id tie-break)
    // with no n·k intermediate rows — and above
    // spark.graft.kmeans.twoLevelAssignMinK it routes through ⌈√k⌉
    // super-centroids (O(n·√k) per pass, the IVF coarse-quantizer
    // shape), which is what keeps the auto-sized k = n/targetCell
    // linear at 100 TB (Clustering.withNearestCentroid documents the
    // declared nprobe=1 approximation on that path)
    val centSeq = Clustering.kmeansSeq(df, idCol, vecCol, kk, iters)
    if (!keepFarthestFromCentroid) {
      val assigned =
        Clustering.withNearestCentroid(df, vecCol, centSeq, "centroid_id")
      semDeDup(assigned, idCol, vecCol, "centroid_id", eps)
        .drop("centroid_id")
    } else {
      // the winning cosine IS the paper's centroid-proximity order —
      // emit it straight from the argmax instead of re-joining the
      // centroid table; ascending = kept first
      val withCos = Clustering.withNearestCentroid(df, vecCol, centSeq,
        "centroid_id", cosOut = Some("__ccos"))
      semDeDup(withCos, idCol, vecCol, "centroid_id", eps,
        orderCol = Some("__ccos"))
        .drop("centroid_id", "__ccos")
    }
  }
}
