package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.{hyperplane_buckets, vec_dot}

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — the query set is broadcast
  *    and the corpus is streamed exactly once, partition-parallel; per-row
  *    norms are computed once (not per pair) and the dot product is the
  *    native codegen'd [[graft.functions.FloatVecDot]] expression.
  *  - [[lshTopK]]: approximate top-k via multi-table random-hyperplane LSH
  *    with driver-precomputed deterministic plane constants — bucket
  *    equi-joins only, sub-linear candidate sets, exact re-rank.
  *
  * At 100 TB the brute-force path is the per-bucket verifier, not the
  * global plan; LSH/IVF carry the global candidate generation.
  */
object Similarity {

  /** Dot product of two float/double array columns in double precision
    * (native expression, whole-stage codegen). */
  def dot(a: Column, b: Column): Column = vec_dot(a, b)

  def norm(a: Column): Column = sqrt(vec_dot(a, a))

  /** Cosine similarity in double precision; 0 for zero-norm inputs. */
  def cosine(a: Column, b: Column): Column = {
    val d = vec_dot(a, b)
    val denom = norm(a) * norm(b)
    when(denom === 0.0, lit(0.0)).otherwise(d / denom)
  }

  /** Empty-safe embedding-dimension probe: the first non-null
    * vector's length, or None on an empty / all-null-vector frame —
    * the eager `.head()` form threw NoSuchElementException on an
    * empty input (r13 advice finding). Callers fall back to a
    * 1-dimension pipeline, which on the empty input that triggered
    * the fallback yields an empty result with the correct schema. */
  private[ops] def probeDim(df: DataFrame, vecCol: String): Option[Int] =
    df.select(size(col(vecCol)).as("__d")).where(col("__d").isNotNull)
      .limit(1).collect().headOption.map(_.getInt(0))

  /** Cosine from a precomputed dot and squared norms (so norms are
    * computed once per row, not once per candidate pair). */
  private def cosineFromParts(d: Column, nsqA: Column, nsqB: Column): Column = {
    val denom = sqrt(nsqA) * sqrt(nsqB)
    when(denom === 0.0, lit(0.0)).otherwise(d / denom)
  }

  /** Exact cosine top-k: for every query vector, the k nearest corpus
    * vectors (excluding identical ids), deterministic id tie-break.
    * Output: (query_id, neighbor_id, rank). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame =
    rankedPairs(corpus, queries, idCol, vecCol, k, None)

  /** Binary-quantized ANN with rescoring — the flow behind "binary"
    * auto-quantized vector indexes: pack sign bits
    * ([[Quantize.binarySignature]], one bit per float32 component), rank
    * by hamming distance (xor + bit_count — ~word ops per candidate
    * instead of `dim` float multiplies), keep a per-query `shortlist`,
    * then rescore ONLY the shortlist with exact float cosine.
    * Deterministic end to end (hamming ties and cosine ties both break
    * on id).
    *
    * Scale shape: signatures compute in the corpus scan. With a SMALL
    * query set (≤ `spark.graft.binaryann.broadcastQueryLimit`, default
    * 1024) the queries broadcast and every corpus row scores every
    * query — exact brute hamming, and the only corpus-sized shuffle is
    * the per-query top-k window over narrow (ids, ham) rows. ABOVE the
    * limit the corpus×queries product is the scale-killer (a
    * BroadcastNestedLoopJoin at 10⁵ queries × 10⁹ rows is 10¹⁴ hamming
    * evaluations), so candidate generation switches AUTOMATICALLY to
    * the pigeonhole byte-block join the SimHash family uses: the d-bit
    * signature splits into ⌈d/8⌉ disjoint byte blocks, and any pair
    * within hamming distance < ⌈d/8⌉ shares at least one block EXACTLY
    * (pigeonhole) — candidates meet on a (block, value) equi-join that
    * scales with block-bucket occupancy, not |corpus|·|queries|.
    * Shortlists beyond that radius are approximate (documented, the
    * lshTopK contract). Both paths share the shortlist + rescore tail,
    * and the float math runs on `shortlist` rows per query, never the
    * corpus. Output: (query_id, neighbor_id, rank).
    *
    * `ballRadius` (0 or 1) widens the blocked path's exact-recall
    * radius: with 1, each QUERY block also emits its 8 one-bit flips
    * (the multi-index-hashing ball of radius 1 inside the block), so
    * any pair within hamming < 2·⌈d/8⌉ is guaranteed a candidate — if
    * every block differed in ≥ 2 bits the total would already be
    * 2·⌈d/8⌉, so some block differs in ≤ 1 bit and the flipped query
    * value meets the corpus value exactly. Cost: the query-side explode
    * grows ×9 per block (~×nBlocks total candidate volume for d = 64);
    * the corpus side is untouched. Ignored on the brute path (already
    * exact at every radius). */
  def binaryAnnTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, shortlist: Int = 0, dim: Int = 0,
      ballRadius: Int = 0): DataFrame = {
    require(ballRadius == 0 || ballRadius == 1,
      s"ballRadius $ballRadius: 0 (exact within hamming < ceil(d/8)) " +
        "or 1 (one-bit in-block ball, exact within hamming < 2*ceil(d/8))")
    val d = if (dim > 0) dim else
      queries.select(size(col(vecCol))).take(1)
        .headOption.map(_.getInt(0)).getOrElse(0)
    if (d == 0) // no queries (and no explicit dim): empty result, same
      return corpus.select(col(idCol).as("query_id"), // schema as below
        col(idCol).as("neighbor_id"),
        lit(1).cast("int").as("rank")).where(lit(false))
    val sl = if (shortlist > 0) shortlist else 4 * k
    require(sl >= k, s"shortlist $sl must be >= k $k")
    val c = Partitioning.ensureMinPartitions(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
        .withColumn("csig", Quantize.binarySignature(col("cv"), d)))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qsig", Quantize.binarySignature(col("qv"), d))
      .withColumn("qn", vec_dot(col("qv"), col("qv")))
    val broadcastLimit = corpus.sparkSession.conf
      .getOption("spark.graft.binaryann.broadcastQueryLimit")
      .map(_.toLong).getOrElse(1024L)
    // bounded probe: limit(n+1) stops the query plan after n+1 rows —
    // a bare count() would execute the whole (possibly expensive)
    // queries pipeline just to pick a join strategy
    val fewQueries = broadcastLimit >= Int.MaxValue - 1 ||
      (broadcastLimit >= 0 &&
        queries.limit(broadcastLimit.toInt + 1).count() <= broadcastLimit)
    val hammed =
      if (fewQueries)
        c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
          .withColumn("ham",
            Quantize.hammingDistance(col("csig"), col("qsig")))
      else {
        // the same call with |queries| one over the threshold returns a
        // DIFFERENT (approximate beyond the pigeonhole radius) shortlist
        // than one under it — say so loudly, or result drift across the
        // threshold is unattributable
        org.apache.log4j.Logger.getLogger(getClass).warn(
          s"binaryAnnTopK: |queries| > $broadcastLimit — switching from " +
            s"exact brute-force hamming to the pigeonhole byte-block " +
            s"join; recall is exact only within hamming < ${(d + 7) / 8} " +
            s"(shortlists beyond that radius are approximate). Raise " +
            s"spark.graft.binaryann.broadcastQueryLimit to force the " +
            s"brute path, or pass ballRadius=1 for a doubled exact " +
            s"radius at ~x${(d + 7) / 8 + 1} candidate cost.")
        // pigeonhole byte blocks: block b = bits [8b, 8b+8) of the
        // signature — always inside one 32-bit word (8 | 32), extracted
        // with constant shifts folded into codegen. The candidate join
        // carries ONLY (id, block, value) — vectors and signatures
        // re-attach by id equi-joins afterwards (the embeddingNearDup
        // narrow-frame lesson: never drag payloads through the explode)
        val nBlocks = (d + 7) / 8
        def blockVal(sig: Column, b: Int): Column =
          shiftrightunsigned(element_at(sig, (b * 8) / 32 + 1), (b * 8) % 32)
            .bitwiseAND(lit(0xFFL))
        // ball > 0: emit the one-bit flips of each block too (query side
        // only) — flips stay within the block's LIVE bits (the last
        // block of a non-multiple-of-8 dim is shorter), so every emitted
        // value is one a corpus block can actually hold
        def blocked(df: DataFrame, id: String, sig: String,
            ball: Int): DataFrame =
          df.select(col(id), explode(array((0 until nBlocks).flatMap { b =>
            val base = blockVal(col(sig), b)
            val vals =
              if (ball == 0) Seq(base)
              else base +: (0 until math.min(8, d - b * 8)).map(i =>
                base.bitwiseXOR(lit(1L << i)))
            vals.map(v => struct(lit(b).as("t"), v.as("bv")))
          }: _*)).as("tb"))
            .select(col(id), col("tb.t").as("t"), col("tb.bv").as("bv"))
        val cand = blocked(c, "neighbor_id", "csig", 0)
          .join(blocked(q, "query_id", "qsig", ballRadius), Seq("t", "bv"))
          .where(col("query_id") =!= col("neighbor_id"))
          .select("query_id", "neighbor_id").distinct()
        // equi-joins both ways (AQE picks broadcast when a side is
        // small) — no corpus×queries nested loop anywhere
        cand.join(c, "neighbor_id").join(q, "query_id")
          .withColumn("ham",
            Quantize.hammingDistance(col("csig"), col("qsig")))
      }
    val wHam = Window.partitionBy("query_id")
      .orderBy(col("ham").asc, col("neighbor_id").asc)
    val short = hammed.withColumn("__hr", row_number().over(wHam))
      .where(col("__hr") <= sl)
    val wCos = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    short
      .withColumn("cn", vec_dot(col("cv"), col("cv")))
      .withColumn("cos",
        cosineFromParts(vec_dot(col("qv"), col("cv")), col("qn"), col("cn")))
      .withColumn("rank", row_number().over(wCos))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  /** Hard-negative mining for contrastive training data: per query, the
    * top-k most similar corpus items that are NOT near-duplicates
    * (cosine < `dupCeiling`) — the informative negatives that teach an
    * embedding model the decision boundary, with the ceiling excluding
    * positives/duplicates. The ceiling filter fuses into the scored scan
    * BEFORE the ranking window (rows are dropped pre-shuffle); swap the
    * candidate generation for lshTopK's bucketed join at 100 TB scale. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dupCeiling: Double = 0.95): DataFrame =
    rankedPairs(corpus, queries, idCol, vecCol, k, Some(dupCeiling))

  /** Margin-based mutual-nearest-neighbor BITEXT mining (Artetxe &
    * Schwenk 2019 — the LASER/CCMatrix recipe for parallel-corpus
    * extraction): candidate translation pairs between two embedding
    * corpora are pairs that are each other's NEAREST neighbor in both
    * directions AND whose ratio margin
    *
    *   margin(x,y) = cos(x,y) / (avg_k cos(x, NN_k(x,B))/2 +
    *                             avg_k cos(NN_k(y,A), y)/2)
    *
    * clears `minMargin` — the margin normalizes away hubness (vectors
    * near everything score high against every candidate; dividing by
    * each side's own neighborhood average restores contrast), which a
    * plain cosine threshold cannot. Output: (a_id, b_id, cos, margin),
    * both decimal-rounded (18,9) for oracle parity; ties in both
    * rank directions break on id, so the mined set is deterministic.
    *
    * Shape: the cross scores compute once with the SMALLER side
    * broadcast (pass the sentence batch as `b`); both rank windows
    * and their neighborhood averages share that side's exchange
    * (partitionBy a_id / b_id — two shuffles total). At full corpus
    * × corpus scale, swap the candidate generation for the LSH bucket
    * join ([[lshTopK]]'s machinery) exactly as [[hardNegatives]]
    * documents — the margin/mutual math downstream is unchanged. */
  def bitextMine(a: DataFrame, b: DataFrame, idCol: String,
      vecCol: String, k: Int = 4, minMargin: Double = 1.0): DataFrame = {
    require(k >= 1, s"bitextMine: k must be >= 1, got $k")
    // broadcast valve (the semdecon.broadcastLimit pattern, bounded
    // limit-probe): a corpus-sized b would OOM the driver broadcast
    // AND make the cross product the scale-killer — fail fast with
    // the remedy instead
    val bLimit = b.sparkSession.conf
      .getOption("spark.graft.bitext.broadcastLimit")
      .map(_.toLong).getOrElse(65536L)
    if (bLimit > 0 && bLimit < Int.MaxValue - 1)
      require(b.limit(bLimit.toInt + 1).count() <= bLimit,
        s"bitextMine: side b exceeds " +
          s"spark.graft.bitext.broadcastLimit=$bLimit rows — the " +
          "brute cross product does not scale to corpus x corpus. " +
          "Mine in bounded b-side batches, or generate candidates " +
          "with the LSH bucket join (lshTopK machinery) and apply " +
          "the margin math to those pairs; 0 disables the valve.")
    val av = Partitioning.ensureMinPartitions(
      a.select(col(idCol).as("a_id"), col(vecCol).as("av"))
        .withColumn("an", vec_dot(col("av"), col("av"))))
    val bv = b.select(col(idCol).as("b_id"), col(vecCol).as("bv"))
      .withColumn("bn", vec_dot(col("bv"), col("bv")))
    val scored = av.join(broadcast(bv))
      .withColumn("cos", cosineFromParts(
        vec_dot(col("av"), col("bv")), col("an"), col("bn")))
      .select("a_id", "b_id", "cos")
    marginMine(scored, k, minMargin)
  }

  /** LSH-candidate form of [[bitextMine]] — the corpus × corpus
    * scale path: both sides hash on SHARED deterministic hyperplanes
    * ([[withAllTableBuckets]], the q22/q224 machinery), candidates
    * meet on the (table, bucket) equi-join, and the margin/mutual
    * math runs over candidate cosines only. Recall beyond the LSH
    * guarantee is approximate, and margins are computed within the
    * candidate set (a missing far neighbor can only RAISE a margin
    * denominator's complement — near-neighbors dominate the top-k
    * average, so mined pairs track the exact path on separable
    * corpora; the spec pins parity on one). NARROW id frames join
    * buckets first, vectors join back after the distinct — the q22
    * lesson. */
  def bitextMineLsh(a: DataFrame, b: DataFrame, idCol: String,
      vecCol: String, k: Int = 4, minMargin: Double = 1.0,
      nPlanes: Int = 12, tables: Int = 8, dim: Int = 0): DataFrame = {
    require(k >= 1, s"bitextMineLsh: k must be >= 1, got $k")
    val d = if (dim > 0) dim
      else probeDim(a, vecCol).orElse(probeDim(b, vecCol)).getOrElse(1)
    // persisted (r15, guide §2.4): side `a` feeds its bucket emission
    // AND the cosine join-back — without the persist its scan + norm
    // runs twice. Side `a` is the batch side, bounded by the face's
    // contract. Side `b` is the CORPUS side and stays UNPERSISTED
    // (r16, guide §5 — don't cache what is cheaper to recompute): at
    // scale a MEMORY_AND_DISK copy of every corpus vector+norm buys
    // back only one narrow scan + dot product, and the r15 persist
    // measured q242 +22% even at bench scale. Same rule as the
    // Precomputed face below, whose indexed side never persists.
    val av = Dedup.trackedPersist(Partitioning.ensureMinPartitions(
      a.select(col(idCol).as("a_id"), col(vecCol).as("av"))
        .withColumn("an", vec_dot(col("av"), col("av")))))
    val bv = b.select(col(idCol).as("b_id"), col(vecCol).as("bv"))
      .withColumn("bn", vec_dot(col("bv"), col("bv")))
    val cand = withAllTableBuckets(
        av.select("a_id", "av"), "av", tables, nPlanes, d)
      .select("a_id", "t", "bkt")
      .join(withAllTableBuckets(
          bv.select("b_id", "bv"), "bv", tables, nPlanes, d)
        .select("b_id", "t", "bkt"), Seq("t", "bkt"))
      .select("a_id", "b_id").distinct()
    val scored = cand.join(av, "a_id").join(bv, "b_id")
      .withColumn("cos", cosineFromParts(
        vec_dot(col("av"), col("bv")), col("an"), col("bn")))
      .select("a_id", "b_id", "cos")
    Dedup.releaseOnMaterialize(marginMine(scored, k, minMargin), av)
  }

  /** [[bitextMineLsh]] against a PRECOMPUTED indexed side — the q244
    * store pattern for bitext mining: the growing crawl side `a`
    * hashes here (one scan, the shared deterministic plane
    * constants), the fixed indexed corpus arrives as a saved
    * [[graft.ops.Dedup.vectorBucketSignatures]] frame (the SAME
    * (id, t, bkt) schema — one store format serves dedup, semantic
    * decon, and bitext), and `refVectors` — the indexed corpus pruned
    * to (idCol, vecCol) — joins back BY ID for the cosine scoring, so
    * the indexed side's `tables × nPlanes` plane dot products are
    * never re-paid per batch (PlanSpec-pinned: one bucket-emission
    * Generate, the delta's). The margin/mutual math downstream is
    * [[bitextMineLsh]]'s verbatim, so outputs are bit-identical to
    * the recompute path.
    *
    * Store discipline carries over: `nPlanes`/`tables` must equal the
    * store's build parameters (the `p_*` stamp is REQUIRED to match —
    * a store hashed under a different space would silently miss
    * candidate pairs). NOTE the margin caveat sharpens here: margins
    * are computed within the candidate set, and the b-side
    * neighborhood average only sees b-rows that share a bucket with
    * THIS batch's a-rows — same contract as [[bitextMineLsh]] run on
    * the batch, which this face must equal. */
  def bitextMineLshPrecomputed(a: DataFrame, refBuckets: DataFrame,
      refVectors: DataFrame, idCol: String, vecCol: String,
      k: Int = 4, minMargin: Double = 1.0, nPlanes: Int = 12,
      tables: Int = 8, dim: Int = 0): DataFrame = {
    require(k >= 1, s"bitextMineLshPrecomputed: k must be >= 1, got $k")
    require(refVectors.columns.contains(idCol) &&
      refVectors.columns.contains(vecCol),
      s"bitextMineLshPrecomputed: refVectors needs ($idCol, $vecCol); " +
        "got " + refVectors.columns.mkString("(", ", ", ")"))
    val d = if (dim > 0) dim
      else probeDim(a, vecCol).orElse(probeDim(refVectors, vecCol))
        .getOrElse(1)
    Dedup.requireStore(refBuckets, "bitextMineLshPrecomputed",
      "Dedup.vectorBucketSignatures", Seq("id", "t", "bkt"),
      "p_tables" -> tables, "p_planes" -> nPlanes, "p_dim" -> d)
    // persisted (r15, guide §2.4): the batch side feeds its bucket
    // emission AND the cosine join-back; it is delta-bounded by the
    // face's contract. The indexed side stays unpersisted — it is
    // corpus-sized and only joins back BY ID.
    val av = Dedup.trackedPersist(Partitioning.ensureMinPartitions(
      a.select(col(idCol).as("a_id"), col(vecCol).as("av"))
        .withColumn("an", vec_dot(col("av"), col("av")))))
    val bv = refVectors.select(col(idCol).as("b_id"),
        col(vecCol).as("bv"))
      .withColumn("bn", vec_dot(col("bv"), col("bv")))
    val cand = withAllTableBuckets(
        av.select("a_id", "av"), "av", tables, nPlanes, d)
      .select("a_id", "t", "bkt")
      .join(refBuckets.select(col("id").as("b_id"), col("t"),
        col("bkt")), Seq("t", "bkt"))
      .select("a_id", "b_id").distinct()
    val scored = cand.join(av, "a_id").join(bv, "b_id")
      .withColumn("cos", cosineFromParts(
        vec_dot(col("av"), col("bv")), col("an"), col("bn")))
      .select("a_id", "b_id", "cos")
    Dedup.releaseOnMaterialize(marginMine(scored, k, minMargin), av)
  }

  /** Mutual-rank-1 + ratio-margin tail shared by [[bitextMine]] and
    * [[bitextMineLsh]]: both rank directions and their neighborhood
    * averages share one exchange per side. */
  private def marginMine(scored: DataFrame, k: Int,
      minMargin: Double): DataFrame = {
    val wA = Window.partitionBy("a_id")
      .orderBy(col("cos").desc, col("b_id").asc)
    val wB = Window.partitionBy("b_id")
      .orderBy(col("cos").desc, col("a_id").asc)
    scored
      .withColumn("rank_ab", row_number().over(wA))
      .withColumn("avg_a", avg(when(col("rank_ab") <= k, col("cos")))
        .over(Window.partitionBy("a_id")))
      .withColumn("rank_ba", row_number().over(wB))
      .withColumn("avg_b", avg(when(col("rank_ba") <= k, col("cos")))
        .over(Window.partitionBy("b_id")))
      .where(col("rank_ab") === 1 && col("rank_ba") === 1)
      .withColumn("margin",
        col("cos") / (col("avg_a") / 2 + col("avg_b") / 2))
      .where(col("margin") >= minMargin)
      .select(col("a_id"), col("b_id"),
        col("cos").cast("decimal(18,9)").cast("double").as("cos"),
        col("margin").cast("decimal(18,9)").cast("double").as("margin"))
  }

  private def rankedPairs(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      maxCos: Option[Double]): DataFrame = {
    // conditional: fixes a single-split parquet scan without shuffling an
    // already-parallel 100 TB corpus (the only big-side shuffle here)
    val c = Partitioning.ensureMinPartitions(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
        .withColumn("cn", vec_dot(col("cv"), col("cv"))))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", vec_dot(col("qv"), col("qv")))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        cosineFromParts(vec_dot(col("qv"), col("cv")), col("qn"), col("cn")))
    val filtered = maxCos match {
      case Some(m) => scored.where(col("cos") < m)
      case None => scored
    }
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    filtered.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  /** Sign-pattern LSH bucket id from `nPlanes` hyperplanes of table
    * `table`: bit j set when dot(v, plane_{table,j}) >= 0 (or NaN);
    * bucket 0 for a null vector. One table of the native
    * [[graft.functions.HyperplaneBuckets]] kernel. */
  def hyperplaneBucket(vec: Column, nPlanes: Int, dim: Int, table: Int = 0)
      : Column =
    hyperplane_buckets(vec, nPlanes, dim, table, 1).getItem(0)

  /** All `tables` hyperplane bucket ids in ONE scan pass: the input
    * columns plus (t, bkt), one row per table, from one
    * [[graft.functions.HyperplaneBuckets]] call per row (one loop over
    * the plane matrix) and a `posexplode` — ONE join or group on
    * (table, bucket) instead of `tables` separate ones over re-scanned
    * input. THE bucket-emission shape: [[lshTopK]], the embedding
    * near-dup blocker, semantic decontamination and the bucket stores
    * all resolve here, so the shared-plane buckets can never drift
    * apart. */
  def withAllTableBuckets(df: DataFrame, vecCol: String, tables: Int,
      nPlanes: Int, dim: Int): DataFrame =
    df.select(col("*"), posexplode(
      hyperplane_buckets(col(vecCol), nPlanes, dim, 0, tables))
      .as(Seq("t", "bkt")))

  /** Approximate top-k via multi-table hyperplane LSH: `tables`
    * independent hash tables of `nPlanes` bits; candidates share the
    * query's bucket in ANY table (union ∪ distinct), then exact cosine
    * re-ranks. Every join is a bucket-key equi-join — no cross join, so
    * the plan scales with bucket occupancy, not |corpus|·|queries|.
    * `dim` = embedding dimensionality (0 = infer from the first row). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nPlanes: Int = 8, tables: Int = 8,
      dim: Int = 0): DataFrame = {
    val d = if (dim > 0) dim
      else probeDim(corpus, vecCol).orElse(probeDim(queries, vecCol))
        .getOrElse(1)
    val c = Partitioning.ensureMinPartitions(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    def withBuckets(df: DataFrame, vec: String): DataFrame =
      withAllTableBuckets(df, vec, tables, nPlanes, d)
    val candidates = withBuckets(c, "cv")
      .join(broadcast(withBuckets(q, "qv").select("query_id", "t", "bkt")),
        Seq("t", "bkt"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .distinct()
    val scored = candidates
      .join(broadcast(q.withColumn("qn", vec_dot(col("qv"), col("qv")))),
        "query_id")
      .join(c.withColumn("cn", vec_dot(col("cv"), col("cv"))), "neighbor_id")
      .withColumn("cos",
        cosineFromParts(vec_dot(col("qv"), col("cv")), col("qn"), col("cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  /** IVF-style coarse quantization: assign every vector to its nearest of
    * `centroids` (id, vec) — search then probes only the closest cells.
    * Centroids are expected to be few (broadcast). */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame = {
    val cents = centroids.select(col(idCol).as("centroid_id"),
      col(vecCol).as("centv"))
    val w = Window.partitionBy(idCol).orderBy(col("cos").desc,
      col("centroid_id").asc)
    df.join(broadcast(cents))
      .withColumn("cos", cosine(col(vecCol), col("centv")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .drop("centv", "cos", "rn")
  }

  /** Per-row array of (cosine-to-centroid, -centroid_id) structs with the
    * centroid constants folded into the generated code — struct ordering
    * is lexicographic, so max = highest cosine with smallest-id tie-break.
    * Zero shuffle: a pure map fused into the scan. */
  private[ops] def cellScores(vec: Column, cents: Seq[(Long, Array[Double])])
      : Column =
    array(cents.map { case (cid, cv) =>
      val plane = typedlit(cv)
      struct(cosine(vec, plane).as("c"), lit(-cid).as("nid"))
    }: _*)

  /** Collect a broadcast-small centroid frame to sorted driver
    * literals (the LSH-plane constant discipline). */
  private def collectCentroids(centroids: DataFrame, idCol: String,
      vecCol: String): Seq[(Long, Array[Double])] =
    centroids.select(col(idCol).cast("long"),
        col(vecCol).cast("array<double>"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)

  /** Deterministic stamp of a centroid SET (ids + components): the
    * store-parameter check for the IVF index — assignments built
    * under different centroids partition space differently and the
    * cell equi-join would silently miss neighbors. */
  private def centroidStamp(cents: Seq[(Long, Array[Double])]): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = java.nio.ByteBuffer.allocate(8)
    cents.foreach { case (id, v) =>
      buf.clear(); buf.putLong(id); md.update(buf.array())
      v.foreach { x =>
        buf.clear(); buf.putDouble(x); md.update(buf.array())
      }
    }
    java.nio.ByteBuffer.wrap(md.digest(), 0, 4).getInt & 0x7fffffff
  }

  /** Full IVF (inverted-file) ANN search: every corpus vector lives in
    * exactly ONE cell (its nearest centroid); every query probes its
    * `nprobe` nearest cells; candidates meet on a cell-id equi-join and
    * exact cosine re-ranks. Like `lshTopK` this is approximate (recall
    * depends on nprobe / centroid quality) but the plan is the 100 TB
    * shape: assignment is shuffle-free (centroid constants are folded into
    * codegen), the only joins are a broadcast of the probed queries and a
    * cell-key equi-join — never |corpus|·|queries|.
    *
    * `centroids` must be broadcast-small (they are collected to the driver
    * and embedded as literals, exactly like the LSH plane constants).
    * Output: (query_id, neighbor_id, rank). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, centroids: DataFrame, k: Int, nprobe: Int = 4)
      : DataFrame = {
    val cents = collectCentroids(centroids, idCol, vecCol)
    require(cents.nonEmpty, "ivfTopK: empty centroid set")
    // corpus → its single nearest cell (argmax via array_max on structs)
    val c = Partitioning.ensureMinPartitions(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")))
      .withColumn("cell",
        -array_max(cellScores(col("cv"), cents)).getField("nid"))
      .withColumn("cn", vec_dot(col("cv"), col("cv")))
    // queries → nprobe nearest cells (sort scores desc, take nprobe, explode)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", vec_dot(col("qv"), col("qv")))
      .withColumn("probe", explode(slice(
        reverse(array_sort(cellScores(col("qv"), cents))), 1, nprobe)))
      .withColumn("cell", -col("probe").getField("nid"))
      .drop("probe")
    // a corpus row has ONE cell and a query probes DISTINCT cells, so a
    // (query, neighbor) pair appears at most once — no distinct needed
    val scored = c.join(broadcast(q), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        cosineFromParts(vec_dot(col("qv"), col("cv")), col("qn"), col("cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  /** The persistable IVF INDEX: every corpus vector's cell assignment
    * with the vector and its self-dot riding — write partitioned by
    * `cell` and [[ivfTopKPrecomputed]] reads ONLY the probed cells'
    * partitions (the q244 store story for ANN: the per-query path
    * stops re-assigning 100 TB of vectors). SELF-SUFFICIENT: the
    * ridden (vec, cn) serve the exact-cosine re-rank, so the corpus
    * is never re-read at query time. `p_centstamp` stamps the
    * centroid set; the query face requires it to match. (The
    * streaming assignment face,
    * [[graft.streaming.StreamingMigrations.ivfIndexMaintenance]],
    * writes [[ivfAssign]]'s row-preserving shape — run new batches
    * through THIS builder when feeding the query store, the
    * centroids pinned, so cn and the stamp ride along.) */
  def ivfCellSignatures(corpus: DataFrame, idCol: String,
      vecCol: String, centroids: DataFrame): DataFrame = {
    val cents = collectCentroids(centroids, idCol, vecCol)
    require(cents.nonEmpty, "ivfCellSignatures: empty centroid set")
    corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("cell",
        -array_max(cellScores(col("vec"), cents)).getField("nid"))
      .withColumn("cn", vec_dot(col("vec"), col("vec")))
      .withColumn("p_centstamp", lit(centroidStamp(cents)))
  }

  /** IVF ANN search against the SAVED index ([[ivfCellSignatures]]):
    * identical output to [[ivfTopK]] — query probing, cell equi-join,
    * exact cosine re-rank — but the corpus side arrives as saved
    * (id, cell, vec, cn) rows, with the probed cells pruning the
    * store's partitions. Per-query cost scales with probed-cell
    * occupancy, never corpus size. */
  def ivfTopKPrecomputed(queries: DataFrame, store: DataFrame,
      idCol: String, vecCol: String, centroids: DataFrame, k: Int,
      nprobe: Int = 4): DataFrame = {
    val cents = collectCentroids(centroids, idCol, vecCol)
    require(cents.nonEmpty, "ivfTopKPrecomputed: empty centroid set")
    graft.ops.Dedup.requireStoreParams(store, "ivfTopKPrecomputed",
      "p_centstamp" -> centroidStamp(cents))
    // NO cast on the ridden vector: [[ivfTopK]] dots the raw column
    // type, and bit-parity with it requires identical operand types
    val c = store.select(col("id").as("neighbor_id"),
      col("vec").as("cv"), col("cell"), col("cn"))
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("qv"))
      .withColumn("qn", vec_dot(col("qv"), col("qv")))
      .withColumn("probe", explode(slice(
        reverse(array_sort(cellScores(col("qv"), cents))), 1, nprobe)))
      .withColumn("cell", -col("probe").getField("nid"))
      .drop("probe")
    val scored = c.join(broadcast(q), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        cosineFromParts(vec_dot(col("qv"), col("cv")), col("qn"),
          col("cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }
}
