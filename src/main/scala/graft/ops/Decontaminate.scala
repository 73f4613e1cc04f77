package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Benchmark decontamination: flag training-corpus documents that share
  * word n-gram windows with an evaluation/benchmark set, the standard
  * pre-training hygiene step (an eval question leaking into the corpus
  * inflates measured accuracy).
  *
  * Shape at 100 TB: both sides explode to DISTINCT per-doc shingles (one
  * scan + one explode each), meet in a single shingle equi-join — the
  * benchmark side is tiny next to the corpus, so AQE broadcasts it and
  * the corpus never shuffles — then one aggregation keyed by corpus doc.
  * No pairwise corpus work anywhere: cost is linear in corpus shingles.
  * The optional `maxBenchDf` cap drops n-grams that appear in more than
  * that many benchmark docs (license boilerplate, common idioms) inside
  * the plan, the same stop-shingle idea as [[Dedup.ngramJaccardPairs]].
  */
object Decontaminate {

  /** Corpus docs sharing >= `minHits` distinct word `n`-grams with any
    * benchmark doc. Returns (corpusId, hits, bench_docs, first_bench):
    * distinct overlapping shingles, distinct benchmark docs hit, and the
    * smallest offending benchmark id (deterministic evidence pointer). */
  def contamination(
      corpus: DataFrame, corpusId: String, corpusText: String,
      bench: DataFrame, benchId: String, benchText: String,
      n: Int = 8, minHits: Long = 1L, maxBenchDf: Long = 0L): DataFrame = {
    import TextFunctions.{shinglesOfTokens, tokens}
    def shingleSide(df: DataFrame, id: String, text: String,
        as: String): DataFrame =
      df.select(col(id).as(as), tokens(col(text)).as("__toks"))
        .select(col(as), explode(array_distinct(
          shinglesOfTokens(col("__toks"), n))).as("__sh"))
    val c = shingleSide(corpus, corpusId, corpusText, "__c_id")
    val b0 = shingleSide(bench, benchId, benchText, "__b_id")
    val b =
      if (maxBenchDf > 0L) {
        // rows are distinct (doc, shingle), so a plain count per shingle
        // IS its benchmark doc-frequency; computed in-plan, never collected
        b0.withColumn("__df", count(lit(1)).over(Window.partitionBy("__sh")))
          .where(col("__df") <= maxBenchDf).drop("__df")
      } else b0
    c.join(b, "__sh")
      .groupBy("__c_id")
      .agg(countDistinct("__sh").as("hits"),
        countDistinct("__b_id").as("bench_docs"),
        min("__b_id").as("first_bench"))
      .where(col("hits") >= minHits)
      .withColumnRenamed("__c_id", corpusId)
  }

  /** Per-document contamination FRACTION: the share of a corpus doc's
    * distinct word `n`-grams that appear anywhere in the benchmark —
    * the GPT-3/PaLM-style graded "dirty document" score (policy
    * thresholds like "drop when > 70% of 8-grams overlap"), where
    * [[contamination]] gives the binary/count form. Returns
    * (corpusId, n_shingles, n_matched, overlap_frac) for every corpus
    * doc WITH at least one shingle (docs shorter than n tokens carry
    * no n-gram evidence and are omitted — gate those on length
    * instead). overlap_frac is decimal-rounded (18,9) so the DuckDB
    * oracle hash-matches bit-for-bit.
    *
    * Shape at 100 TB: corpus shingles one scan + explode; the bench
    * shingle SET dedups once (benchmarks are small — AQE broadcasts
    * it); LEFT join + one aggregate keyed by corpus doc. Linear in
    * corpus shingles, no pairwise work. */
  def overlapFraction(
      corpus: DataFrame, corpusId: String, corpusText: String,
      bench: DataFrame, benchText: String, n: Int = 8): DataFrame = {
    import TextFunctions.{shinglesOfTokens, tokens}
    val c = corpus
      .select(col(corpusId).as("__c_id"),
        tokens(col(corpusText)).as("__toks"))
      .select(col("__c_id"), explode(array_distinct(
        shinglesOfTokens(col("__toks"), n))).as("__sh"))
    val b = bench
      .select(tokens(col(benchText)).as("__toks"))
      .select(explode(array_distinct(
        shinglesOfTokens(col("__toks"), n))).as("__sh"))
      .distinct()
      .withColumn("__hit", lit(1L))
    c.join(b, Seq("__sh"), "left")
      .groupBy("__c_id")
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum("__hit"), lit(0L)).as("n_matched"))
      .withColumn("overlap_frac",
        (col("n_matched").cast("double") / col("n_shingles"))
          .cast("decimal(18,9)").cast("double"))
      .withColumnRenamed("__c_id", corpusId)
  }

  /** SURGICAL decontamination: instead of dropping a contaminated
    * document ([[contamination]] + filter) or merely scoring it
    * ([[overlapFraction]]), cut the leaked n-gram windows OUT and keep
    * the rest — the right call for long documents where one quoted
    * eval question should not cost a million clean tokens. Every
    * token covered by ANY benchmark-matching n-gram window is
    * removed; survivors rejoin space-separated in original order.
    * Returns every corpus row as (corpusId, outCol, n_tokens_kept):
    * clean docs pass through re-tokenized (token-joined text),
    * fully-leaked docs come back as "" with 0 — callers decide
    * whether to keep the husk.
    *
    * Shape at 100 TB: corpus windows explode once (positions ride
    * along), the benchmark window set dedups once (broadcast-small),
    * hits explode to covered positions, tokens anti-join covered on
    * (doc, position), one per-doc aggregate reassembles. Linear in
    * corpus tokens; no pairwise work. */
  def redactContaminated(
      corpus: DataFrame, corpusId: String, corpusText: String,
      bench: DataFrame, benchText: String, n: Int = 8,
      outCol: String = "clean"): DataFrame = {
    import TextFunctions.{shinglesOfTokens, tokens}
    val toks = corpus.select(col(corpusId).as("__id"),
      tokens(col(corpusText)).as("__toks"))
    // window start positions are 0-based via posexplode, aligned with
    // the token positions below (shinglesOfTokens window i covers
    // tokens [i, i+n-1])
    val windows = toks.select(col("__id"),
      posexplode(shinglesOfTokens(col("__toks"), n))
        .as(Seq("__j", "__sh")))
    val benchSet = bench
      .select(tokens(col(benchText)).as("__toks"))
      .select(explode(array_distinct(
        shinglesOfTokens(col("__toks"), n))).as("__sh"))
      .distinct()
    val covered = windows.join(benchSet, "__sh")
      .select(col("__id"),
        explode(sequence(col("__j"), col("__j") + lit(n - 1)))
          .as("__pos"))
      .distinct()
    val tokPos = toks.select(col("__id"),
      posexplode(col("__toks")).as(Seq("__pos", "__tok")))
    val kept = tokPos.join(covered, Seq("__id", "__pos"), "left_anti")
      .groupBy("__id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__pos"), col("__tok")))),
        e => e.getField("__tok")), " ").as(outCol),
        count(lit(1)).as("n_tokens_kept"))
    corpus.select(col(corpusId).as("__id"))
      .join(kept, Seq("__id"), "left")
      .select(col("__id").as(corpusId),
        coalesce(col(outCol), lit("")).as(outCol),
        coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"))
  }

  /** [[contamination]] with a Bloom-filter pre-filter on the corpus side
    * — the 100 TB shape when the benchmark set is NOT broadcast-small
    * (full eval-suite unions run to 10⁸ shingles, forcing the exact join
    * to shuffle BOTH sides). One pass builds a Bloom filter over the
    * benchmark shingle hashes (catalyst `BloomFilterAggregate` — the
    * same sketch Spark's own runtime row-level filtering injects); the
    * sketch is a few MB, collected once (bounded, like the IVF centroid
    * table) and embedded as a literal, so `might_contain` evaluates
    * scan-side inside whole-stage codegen and drops the overwhelming
    * majority of corpus shingles BEFORE the shuffle. The exact join then
    * runs on the survivors, so false positives cost only wasted shuffle
    * rows, never wrong output: results are identical to
    * [[contamination]].
    *
    * `expectedBenchShingles` sizes the sketch (over-sizing only costs
    * bits: m = ⌈−n·ln(fpp)/ln²2⌉ bits, ~1.2 MB per 10⁶ items at 1%). */
  def contaminationBloom(
      corpus: DataFrame, corpusId: String, corpusText: String,
      bench: DataFrame, benchId: String, benchText: String,
      n: Int = 8, minHits: Long = 1L, maxBenchDf: Long = 0L,
      expectedBenchShingles: Long = 1L << 22,
      fpp: Double = 0.01): DataFrame = {
    import TextFunctions.{hash60, shinglesOfTokens, tokens}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.graftbridge.ColumnBridge
    require(fpp > 0 && fpp < 1, "fpp in (0,1)")
    def shingleSide(df: DataFrame, id: String, text: String,
        as: String): DataFrame =
      df.select(col(id).as(as), tokens(col(text)).as("__toks"))
        .select(col(as), explode(array_distinct(
          shinglesOfTokens(col("__toks"), n))).as("__sh"))
    // persisted (r15/r16, guide §2.4): the bench shingle frame is
    // consumed TWICE — once by the Bloom aggregate below (an eager
    // `.head`) and once by the exact join — so the tokenize + shingle
    // explode (the CPU-heavy part) is cached and computed once. Bench
    // sets are small next to the corpus (the premise of
    // decontamination), so the cached frame is bounded. r16 moved the
    // persist BELOW the doc-frequency window: caching the window's
    // OUTPUT (r15) cost the exact join its hash-partitioning-by-__sh
    // — the join re-shuffled the AQE-coalesced cached frame, two extra
    // Exchanges and a measured 1.4× on q151 — while caching the
    // window's INPUT keeps the join side exchange-free exactly as the
    // pre-r15 plan, minus the duplicated shingle scan.
    val b0 = Dedup.trackedPersist(
      shingleSide(bench, benchId, benchText, "__b_id"))
    val b =
      if (maxBenchDf > 0L)
        b0.withColumn("__df", count(lit(1)).over(Window.partitionBy("__sh")))
          .where(col("__df") <= maxBenchDf).drop("__df")
      else b0
    val numBits = math.ceil(-expectedBenchShingles * math.log(fpp) /
      (math.log(2) * math.log(2))).toLong
    val bloomBytes = b
      .select(ColumnBridge.column(new BloomFilterAggregate(
        ColumnBridge.expression(hash60(col("__sh"))),
        Literal(expectedBenchShingles), Literal(numBits))
        .toAggregateExpression()).as("__bloom"))
      .head.getAs[Array[Byte]](0)
    val c0 = shingleSide(corpus, corpusId, corpusText, "__c_id")
    // a zero-shingle benchmark aggregates to a null sketch: nothing can
    // be contaminated, and might_contain(null) would null-drop anyway —
    // short-circuit with an explicit empty filter, same schema
    val c =
      if (bloomBytes == null) c0.where(lit(false))
      else c0.where(ColumnBridge.column(BloomFilterMightContain(
        Literal(bloomBytes),
        ColumnBridge.expression(hash60(col("__sh"))))))
    Dedup.releaseOnMaterialize(
      c.join(b, "__sh")
        .groupBy("__c_id")
        .agg(countDistinct("__sh").as("hits"),
          countDistinct("__b_id").as("bench_docs"),
          min("__b_id").as("first_bench"))
        .where(col("hits") >= minHits)
        .withColumnRenamed("__c_id", corpusId), b0)
  }

  /** SEMANTIC decontamination: corpus rows whose embedding has cosine
    * similarity >= `threshold` against ANY benchmark embedding — the
    * paraphrase-leak complement of the n-gram [[contamination]] (an
    * eval question rewritten in different words shares no 8-gram but
    * sits next to the original in embedding space). Returns
    * (corpusId, matches, first_bench): how many benchmark vectors the
    * row matched and the smallest offending benchmark id, the
    * [[contamination]] output contract.
    *
    * Shape at 100 TB: benchmark sets are small next to the corpus, so
    * up to `spark.graft.semdecon.broadcastLimit` (default 65536,
    * bounded limit-probe, never a full count) the benchmark side
    * BROADCASTS and every corpus row scores every benchmark vector in
    * one scan — exact, no corpus shuffle, and the post-join aggregate
    * partial-combines to at most one row per corpus doc before the
    * exchange. ABOVE the limit the corpus×bench product becomes the
    * scale-killer, so candidate generation switches to the multi-table
    * hyperplane-LSH bucket equi-join ([[Similarity.hyperplaneBucket]],
    * the q22/q24 machinery): both sides hash on SHARED deterministic
    * planes, candidates meet on (table, bucket), and only candidates
    * pay the exact cosine — approximate recall beyond the LSH
    * guarantee, documented like [[Similarity.lshTopK]]. Both paths
    * compare the identical cosine expression, so the spec can force
    * the limit down and pin path parity on a recall-complete fixture. */
  def semantic(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      bench: DataFrame, benchId: String, benchVec: String,
      threshold: Double, nPlanes: Int = 12, tables: Int = 8,
      dim: Int = 0): DataFrame = {
    import graft.functions.VectorFunctions.vec_dot
    require(threshold > 0.0 && threshold <= 1.0,
      s"semantic decontamination: threshold in (0, 1], got $threshold")
    val b = bench.select(col(benchId).as("__b_id"),
      col(benchVec).as("__bv"))
      .withColumn("__bn", vec_dot(col("__bv"), col("__bv")))
    val c = corpus.select(col(corpusId).as("__c_id"),
      col(corpusVec).as("__cv"))
      .withColumn("__cn", vec_dot(col("__cv"), col("__cv")))
    def cos = {
      val denom = sqrt(col("__cn")) * sqrt(col("__bn"))
      when(denom === 0.0, lit(0.0))
        .otherwise(vec_dot(col("__cv"), col("__bv")) / denom)
    }
    val broadcastLimit = corpus.sparkSession.conf
      .getOption("spark.graft.semdecon.broadcastLimit")
      .map(_.toLong).getOrElse(65536L)
    val fewBench = broadcastLimit >= Int.MaxValue - 1 ||
      bench.limit(broadcastLimit.toInt + 1).count() <= broadcastLimit
    val pairs =
      if (fewBench) c.join(broadcast(b))
      else {
        val d = if (dim > 0) dim
          else Similarity.probeDim(bench, benchVec)
            .orElse(Similarity.probeDim(corpus, corpusVec)).getOrElse(1)
        // NARROW candidate ids first (the q22 lesson: never shuffle
        // vectors per candidate pair), vectors join back after distinct
        Similarity.withAllTableBuckets(
            c.select("__c_id", "__cv"), "__cv", tables, nPlanes, d)
          .select("__c_id", "t", "bkt")
          .join(Similarity.withAllTableBuckets(
              b.select("__b_id", "__bv"), "__bv", tables, nPlanes, d)
            .select("__b_id", "t", "bkt"), Seq("t", "bkt"))
          .select("__c_id", "__b_id").distinct()
          .join(c, "__c_id").join(b, "__b_id")
      }
    pairs.where(cos >= threshold)
      .groupBy("__c_id")
      .agg(count(lit(1)).as("matches"), min("__b_id").as("first_bench"))
      .withColumnRenamed("__c_id", corpusId)
  }

  /** [[semantic]] against a PRECOMPUTED benchmark index — the q230
    * signature-store pattern ([[graft.ops.Dedup.vectorBucketSignatures]])
    * applied to decontamination's fixed side. The benchmark suite is
    * the INVARIANT of a decontamination pipeline: every ingest batch
    * checks against the same bench vectors, so re-hashing them into
    * LSH buckets per batch is pure waste — save
    * `Dedup.vectorBucketSignatures(bench, benchId, benchVec, tables,
    * nPlanes, dim)` once and pass the saved frame here. Only the
    * corpus batch hashes per call; `benchVectors` (the bench set
    * itself, column-pruned to two columns) joins back by id for the
    * exact-cosine verify. Same plane constants by construction, so
    * this is bit-identical to the [[semantic]] LSH path — the parity
    * spec pins it.
    *
    * Always the LSH shape (no broadcast-limit switch): a bench set
    * small enough to broadcast has no reason to precompute — call
    * [[semantic]]. Output matches [[semantic]]: (corpusId, matches,
    * first_bench) for flagged corpus docs. */
  def semanticPrecomputed(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      benchBuckets: DataFrame, benchVectors: DataFrame,
      benchId: String, benchVec: String,
      threshold: Double, nPlanes: Int = 12, tables: Int = 8,
      dim: Int = 0): DataFrame = {
    import graft.functions.VectorFunctions.vec_dot
    require(threshold > 0.0 && threshold <= 1.0,
      s"semantic decontamination: threshold in (0, 1], got $threshold")
    val d = if (dim > 0) dim
      else Similarity.probeDim(corpus, corpusVec).getOrElse(1)
    Dedup.requireStore(benchBuckets, "semanticPrecomputed",
      "Dedup.vectorBucketSignatures", Seq("id", "t", "bkt"),
      "p_tables" -> tables, "p_planes" -> nPlanes, "p_dim" -> d)
    val c = corpus.select(col(corpusId).as("__c_id"),
      col(corpusVec).as("__cv"))
      .withColumn("__cn", vec_dot(col("__cv"), col("__cv")))
    val b = benchVectors.select(col(benchId).as("__b_id"),
      col(benchVec).as("__bv"))
      .withColumn("__bn", vec_dot(col("__bv"), col("__bv")))
    val cos = {
      val denom = sqrt(col("__cn")) * sqrt(col("__bn"))
      when(denom === 0.0, lit(0.0))
        .otherwise(vec_dot(col("__cv"), col("__bv")) / denom)
    }
    Similarity.withAllTableBuckets(
        c.select("__c_id", "__cv"), "__cv", tables, nPlanes, d)
      .select("__c_id", "t", "bkt")
      .join(benchBuckets.select(col("id").as("__b_id"), col("t"),
        col("bkt")), Seq("t", "bkt"))
      .select("__c_id", "__b_id").distinct()
      .join(c, "__c_id").join(b, "__b_id")
      .where(cos >= threshold)
      .groupBy("__c_id")
      .agg(count(lit(1)).as("matches"), min("__b_id").as("first_bench"))
      .withColumnRenamed("__c_id", corpusId)
  }
}
