package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.vec_dot

/** Scalar (int8) quantization of embedding columns — the standard 4×
  * memory/shuffle reduction for vector search at scale. Quantization is a
  * pure per-row `Column` transform (zero shuffle, fused into the scan) and
  * the quantized search path runs its candidate math entirely in small
  * integers (exact, engine-reproducible).
  *
  * Determinism contract: all arithmetic is double-precision IEEE with a
  * fixed operation order plus `floor(x + 0.5)` rounding (half away from
  * negative infinity), so any engine reproduces the codes bit-for-bit.
  */
object Quantize {

  /** Binary (1-bit) quantization: the sign bit of each component packed
    * into ceil(dim/32) long words, 32 bits per word — the "binary"
    * auto-quantization of vector indexes (one bit per float32
    * component). Hamming distance over the packed words (xor +
    * bit_count — [[Similarity.binaryAnnTopK]]) approximates angular
    * distance; the standard flow rescores a hamming shortlist with
    * exact cosine. 32 bits per word — not 64 — keeps every weight off
    * the sign bit, so the packing is reproducible in plain integer SQL
    * in any engine (DuckDB raises on `1 << 63`; the oracle recomputes
    * signatures bit-for-bit). Pure column algebra fused into the scan:
    * the 2^i weights fold in as a literal lookup, one `aggregate` per
    * word, no per-row branching outside codegen. */
  def binarySignature(vec: Column, dim: Int): Column = {
    require(dim > 0, "binarySignature needs the dimensionality")
    val pow2 = lit((0 until 32).map(1L << _).toArray)
    val words = (dim + 31) / 32
    array((0 until words).map { w =>
      val len = math.min(32, dim - w * 32)
      aggregate(
        transform(slice(vec, w * 32 + 1, len), (x, i) =>
          when(x > lit(0.0),
            element_at(pow2, i.cast("int") + 1)).otherwise(lit(0L))),
        lit(0L), (a, b) => a.bitwiseOR(b))
    }: _*)
  }

  /** Hamming distance between two packed signatures (arrays of longs):
    * per-word xor + bit_count, summed — scan-fused integer algebra. */
  def hammingDistance(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y))),
      lit(0L), (s, v) => s + v.cast("long"))

  /** Per-vector symmetric int8 quantization: `scale = max|x| / 127`, code_i
    * = floor(x_i/scale + 0.5). Zero vectors quantize to all-zero codes with
    * scale 1.0. Adds `outCol` (array<int>, codes in [-127, 127]) and
    * `scaleCol` (double) so `x_i ≈ code_i * scale`. */
  def quantizeInt8(df: DataFrame, vecCol: String, outCol: String = "qvec",
      scaleCol: String = "qscale"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val maxabs = array_max(transform(v, x => abs(x)))
    val scale = when(maxabs > 0.0, maxabs / 127.0).otherwise(lit(1.0))
    df.withColumn(scaleCol, scale)
      .withColumn(outCol,
        transform(v, x => floor(x / col(scaleCol) + lit(0.5)).cast("int")))
  }

  /** Column form of [[quantizeInt8]]'s codes, for rankers where the
    * per-vector scale cancels (cosine). The scale is let-bound through a
    * 1-element `transform` so it evaluates once per ROW rather than once
    * per element — the HOF capture re-evaluation trap
    * (SCALE.md, phraseOccurrences) would otherwise make this O(dim²). */
  def int8Codes(vec: Column): Column = {
    val v = vec.cast("array<double>")
    val maxabs = array_max(transform(v, x => abs(x)))
    val scale = when(maxabs > 0.0, maxabs / 127.0).otherwise(lit(1.0))
    element_at(transform(array(scale), s =>
      transform(v, x => floor(x / s + lit(0.5)).cast("int"))), 1)
  }

  /** Cosine of two quantized vectors: the per-vector scales cancel, so the
    * score is `dot(codesA, codesB) / (||codesA|| * ||codesB||)` — exact
    * integer dot/norms (int8 products summed in double stay exact far past
    * any realistic dimensionality). */
  private def quantCosine(dot: Column, nsqA: Column, nsqB: Column): Column =
    when(nsqA === 0.0 || nsqB === 0.0, lit(0.0))
      .otherwise(dot / (sqrt(nsqA) * sqrt(nsqB)))

  /** Exact top-k over int8-quantized vectors: quantize corpus + queries,
    * broadcast the (small) query side, stream the corpus once, rank by
    * quantized cosine with deterministic id tie-break. Same plan shape as
    * [[Similarity.bruteForceTopK]] but every candidate pair moves 1-byte
    * codes instead of 4-byte floats — the variant a 100 TB corpus scan
    * actually ships between stages.
    * Output: (query_id, neighbor_id, rank). */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    def codes(df: DataFrame, id: String, v: String): DataFrame =
      quantizeInt8(df.select(col(idCol).as(id), col(vecCol)), vecCol, v)
        .withColumn(v, col(v).cast("array<double>"))
        .select(col(id), col(v), vec_dot(col(v), col(v)).as(v + "_n"))
    val c = Partitioning.ensureMinPartitions(codes(corpus, "neighbor_id", "cq"))
    val q = codes(queries, "query_id", "qq")
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", quantCosine(vec_dot(col("qq"), col("cq")),
        col("qq_n"), col("cq_n")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  // ---- Product quantization (Jégou et al., PAMI 2011) ----

  /** Train PQ codebooks: the vector splits into `m` equal subspaces and
    * each subspace gets its own `k`-centroid codebook via
    * [[Clustering.kmeans]] (spherical, deterministic — same contract the
    * IVF coarse quantizer uses). Returns (subspace, centroid_id,
    * centroid): m·k rows, broadcast-small by construction.
    *
    * Inner products decompose across subspaces — dot(x, q) =
    * Σ_j dot(x_j, q_j) — so a vector stored as m small codes scores
    * against a query with m table lookups instead of a full-dimension
    * dot: the memory/bandwidth format for billion-vector search. */
  def pqCodebooks(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, k: Int, iters: Int): DataFrame = {
    require(m > 0 && dim % m == 0, s"pq: dim $dim must split into m=$m")
    val sub = dim / m
    // all m subspaces in ONE grouped fit: the sub-slices explode in the
    // scan and [[Clustering.kmeansGrouped]] trains every codebook per
    // Lloyd pass — m× fewer corpus scans and jobs than m
    // independent fits, with identical centroids (same seeds, argmax,
    // and decimal means per subspace)
    val bySub = df.select(col(idCol),
      posexplode(array((0 until m).map(j =>
        slice(col(vecCol).cast("array<double>"), j * sub + 1, sub)): _*))
        .as(Seq("subspace", "__sub")))
    Clustering.kmeansGrouped(bySub, idCol, "subspace", "__sub", k, iters)
      .select(col("subspace"), col("centroid_id"), col("centroid"))
  }

  /** Codebooks collected and folded to literals: subspace → centroids
    * ordered by centroid_id (the positional code order). Bounded at m·k
    * rows — the same driver-side class as the IVF centroid table. */
  private def collectCodebooks(codebooks: DataFrame)
      : Map[Int, Seq[Array[Double]]] =
    codebooks.select(col("subspace").cast("int"),
      col("centroid_id").cast("long"),
      col("centroid").cast("array<double>"))
      .collect().toSeq
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1)
      .map { case (j, rows) =>
        j -> rows.sortBy(_._2).map(_._3)
      }

  /** POSITIONAL code (0-based index into the subspace's id-ordered
    * codebook) of the sub-vector: argmax cosine, smallest-position
    * tie-break — centroid constants folded into codegen, zero shuffle
    * (the [[Similarity.ivfTopK]] cellScores pattern). */
  private def codeExpr(vec: Column, sub: Int, j: Int,
      cents: Seq[Array[Double]]): Column = {
    val sv = slice(vec, j * sub + 1, sub)
    -array_max(array(cents.zipWithIndex.map { case (cv, idx) =>
      struct(Similarity.cosine(sv, typedlit(cv)).as("c"),
        lit(-idx.toLong).as("nid"))
    }: _*)).getField("nid")
  }

  /** Encode every vector as its `m` positional codes (array<long>,
    * values in [0, k)) — a pure scan-fused map. At 100 TB this is the
    * materialization step: the code table is dim/(m·⌈log₂k⌉-ish) smaller
    * than the float vectors and is what later searches scan. */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, dim: Int, m: Int): DataFrame = {
    require(m > 0 && dim % m == 0, s"pq: dim $dim must split into m=$m")
    val cb = collectCodebooks(codebooks)
    require(cb.keySet == (0 until m).toSet,
      s"pq: codebooks cover subspaces ${cb.keySet.toSeq.sorted}, need 0..${m - 1}")
    val sub = dim / m
    val v = col(vecCol).cast("array<double>")
    df.select(col(idCol),
      array((0 until m).map(j => codeExpr(v, sub, j, cb(j))): _*)
        .as("codes"))
  }

  /** ADC (asymmetric distance computation) top-k: the corpus is scanned
    * as codes; each query precomputes a lookup table — dot(centroid,
    * query-sub-slice) for all m·k centroids, an array<array<double>>
    * column on the (broadcast-small) query side — and a candidate scores
    * with m `element_at` lookups instead of a `dim`-wide dot. Same
    * broadcast-the-queries plan shape as [[quantizedTopK]] /
    * [[Similarity.bruteForceTopK]]; compose with IVF cells for the
    * non-exhaustive candidate set at scale.
    * Output: (query_id, neighbor_id, score, rank). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, codebooks: DataFrame, dim: Int, m: Int, k: Int)
      : DataFrame = {
    val cb = collectCodebooks(codebooks)
    val sub = dim / m
    val enc = Partitioning.ensureMinPartitions(
      pqEncode(corpus, idCol, vecCol, codebooks, dim, m)
        .withColumnRenamed(idCol, "neighbor_id"))
    val qv = col(vecCol).cast("array<double>")
    val q = queries.select(col(idCol).as("query_id"),
      array((0 until m).map(j =>
        array(cb(j).map(cv =>
          vec_dot(slice(qv, j * sub + 1, sub), typedlit(cv))): _*)): _*)
        .as("__lut"))
    val score = (0 until m).map(j =>
      element_at(element_at(col("__lut"), j + 1),
        (element_at(col("codes"), j + 1) + 1).cast("int")))
      .reduce(_ + _)
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    enc.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", score)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")
  }

  /** Deterministic stamp of a PQ configuration (codebook contents +
    * dim + m): assignments encoded under different codebooks score
    * nonsense through a mismatched LUT — the store-parameter check
    * for the code table. */
  private def codebookStamp(cb: Map[Int, Seq[Array[Double]]],
      dim: Int, m: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = java.nio.ByteBuffer.allocate(8)
    buf.putInt(dim); buf.putInt(m); md.update(buf.array())
    cb.toSeq.sortBy(_._1).foreach { case (j, cents) =>
      buf.clear(); buf.putInt(j); buf.putInt(cents.length)
      md.update(buf.array())
      cents.foreach { cv =>
        cv.foreach { x =>
          buf.clear(); buf.putDouble(x); md.update(buf.array())
        }
      }
    }
    java.nio.ByteBuffer.wrap(md.digest(), 0, 4).getInt & 0x7fffffff
  }

  /** The persistable PQ CODE TABLE: [[pqEncode]]'s (id, codes) with
    * the codebook-configuration stamp riding — the materialized
    * index a 100 TB ADC search actually scans. Encoding costs m·k
    * sub-cosines per vector; [[pqTopKPrecomputed]] reads the saved
    * codes instead of re-paying that per query batch. */
  def pqCodeSignatures(corpus: DataFrame, idCol: String,
      vecCol: String, codebooks: DataFrame, dim: Int, m: Int)
      : DataFrame = {
    val cb = collectCodebooks(codebooks)
    pqEncode(corpus, idCol, vecCol, codebooks, dim, m)
      .withColumn("p_pqstamp", lit(codebookStamp(cb, dim, m)))
  }

  /** ADC top-k against the SAVED code table ([[pqCodeSignatures]]):
    * identical output to [[pqTopK]] — same LUT, same element_at
    * scoring, same tie-breaks — but the corpus side arrives as saved
    * codes (a few bytes per vector), never re-encoded and never
    * re-read as floats. `p_pqstamp` must match the query-side
    * codebooks or the call rejects loudly. */
  def pqTopKPrecomputed(queries: DataFrame, codeStore: DataFrame,
      idCol: String, vecCol: String, codebooks: DataFrame, dim: Int,
      m: Int, k: Int): DataFrame = {
    val cb = collectCodebooks(codebooks)
    val sub = dim / m
    graft.ops.Dedup.requireStoreParams(codeStore, "pqTopKPrecomputed",
      "p_pqstamp" -> codebookStamp(cb, dim, m))
    val enc = Partitioning.ensureMinPartitions(
      codeStore.select(col(idCol).as("neighbor_id"), col("codes")))
    val qv = col(vecCol).cast("array<double>")
    val q = queries.select(col(idCol).as("query_id"),
      array((0 until m).map(j =>
        array(cb(j).map(cv =>
          vec_dot(slice(qv, j * sub + 1, sub), typedlit(cv))): _*)): _*)
        .as("__lut"))
    val score = (0 until m).map(j =>
      element_at(element_at(col("__lut"), j + 1),
        (element_at(col("codes"), j + 1) + 1).cast("int")))
      .reduce(_ + _)
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    enc.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", score)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")
  }
}
