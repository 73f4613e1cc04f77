package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid-search fusion: combine independent retrieval rankings (lexical
  * BM25, exact/quantized/LSH/IVF vector top-k) into one consensus ranking
  * with reciprocal-rank fusion — score(p) = Σ_r 1/(60 + rank_r(p)).
  *
  * RRF needs only ranks, so any mix of score scales fuses cleanly. Plan
  * shape: union of the (already tiny, top-k-bounded) rankings, one hash
  * aggregate keyed by (query, candidate), one per-query window — cost is
  * O(Σ|rankings|), independent of corpus size.
  */
object Hybrid {

  /** The RRF damping constant, as in the original paper. */
  private val RrfK = 60

  /** One ranking's reciprocal-rank term, `weight / (rank + 60)` — the
    * term [[rrfFuse]] and the `$rankFusion` stage both sum. */
  private[graft] def rrfTerm(weight: Column, rank: Column): Column =
    weight / (rank + lit(RrfK))

  /** Fuse rankings shaped (query_id, neighbor_id, rank) and return the top
    * `k` per query as (query_id, neighbor_id, score, fused_rank).
    *
    * The score sum is decimal-exact (each [[rrfTerm]] is a deterministic
    * double; exact decimal addition makes the total independent of
    * aggregation order). Ties break on neighbor id. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: no rankings")
    val all = rankings.map(_.select("query_id", "neighbor_id", "rank"))
      .reduce(_.unionByName(_))
    val fused = all.groupBy("query_id", "neighbor_id")
      .agg(sum(rrfTerm(lit(1.0), col("rank")).cast("decimal(28,12)"))
        .cast("double").as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    fused.withColumn("fused_rank", row_number().over(w))
      .where(col("fused_rank") <= k)
  }

  /** One-call hybrid retrieval for a single query: the BM25 lexical
    * leg served from a SAVED postings index
    * ([[TextSearch.bm25Precomputed]] — corpus text never re-read) and
    * an exact-cosine vector leg over the embedding sidecar, fused
    * with [[rrfFuse]]. The RAG-retrieval shape over a curated corpus:
    * at 100 TB the lexical leg reads the query terms' bucket
    * partitions, the vector leg is the one corpus-scan the exact
    * ranking genuinely needs (swap in lshTopK/ivfTopK for the ANN
    * path), and fusion is rank-arithmetic over two top-`legK` lists.
    *
    * `legK` (default 2k) is each leg's shortlist depth; ids must be
    * comparable across the two frames (the embedding sidecar's id =
    * the document id). Output: (neighbor_id, score, fused_rank),
    * top `k`. */
  def hybridSearch(index: graft.ops.TextSearch.Bm25Index,
      docIdCol: String, terms: Seq[String], vectors: DataFrame,
      vecIdCol: String, vecCol: String, queryVec: Seq[Double],
      k: Int, legK: Int = 0, buckets: Int = 256): DataFrame = {
    require(k > 0, s"hybridSearch: k > 0, got $k")
    require(queryVec.nonEmpty, "hybridSearch: empty query vector")
    val kk = if (legK > 0) legK else 2 * k
    // vector leg: exact cosine in DOUBLE (cast once — float literals
    // widened per-row would diverge from the replayed double math);
    // query id -1 can never collide with a corpus id, so the
    // self-exclusion join condition is vacuous
    val dv = vectors.select(col(vecIdCol),
      col(vecCol).cast("array<double>").as(vecCol))
    val qDf = vectors.sparkSession.range(1)
      .select(lit(-1L).as(vecIdCol), typedlit(queryVec).as(vecCol))
    val vec = Similarity.bruteForceTopK(dv, qDf, vecIdCol, vecCol, kk)
    rrfFuse(Seq(lexLeg(index, docIdCol, terms, kk, buckets), vec), k)
      .select("neighbor_id", "score", "fused_rank")
  }

  /** The lexical leg shared by both hybrid presets: the store face's
    * deterministic ordering as ranks (a global window over kk
    * already-limited rows — bounded). */
  private def lexLeg(index: graft.ops.TextSearch.Bm25Index,
      docIdCol: String, terms: Seq[String], kk: Int, buckets: Int)
      : DataFrame =
    TextSearch.bm25Precomputed(index, docIdCol, terms, k = kk,
        buckets = buckets)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col(docIdCol).asc)))
      .select(lit(-1L).as("query_id"),
        col(docIdCol).cast("long").as("neighbor_id"), col("rank"))

  /** [[hybridSearch]] with BOTH legs index-served — the shape a
    * 100 TB retrieval stack actually deploys: the lexical leg reads
    * the query terms' bucket partitions of the saved postings, the
    * vector leg probes the saved IVF cell index
    * ([[Similarity.ivfTopKPrecomputed]] — corpus never re-assigned
    * or re-read), and RRF fuses the two top-`legK` lists. The vector
    * leg is approximate exactly as IVF is (recall depends on nprobe/
    * centroid quality); swap [[hybridSearch]] back in when the exact
    * ranking is worth a corpus scan. */
  def hybridSearchIvf(index: graft.ops.TextSearch.Bm25Index,
      docIdCol: String, terms: Seq[String], ivfStore: DataFrame,
      vecIdCol: String, vecCol: String, centroids: DataFrame,
      queryVec: Seq[Double], k: Int, legK: Int = 0,
      nprobe: Int = 4, buckets: Int = 256): DataFrame = {
    require(k > 0, s"hybridSearchIvf: k > 0, got $k")
    require(queryVec.nonEmpty, "hybridSearchIvf: empty query vector")
    val kk = if (legK > 0) legK else 2 * k
    val qDf = ivfStore.sparkSession.range(1)
      .select(lit(-1L).as(vecIdCol), typedlit(queryVec).as(vecCol))
    val vec = Similarity.ivfTopKPrecomputed(qDf, ivfStore, vecIdCol,
      vecCol, centroids, kk, nprobe)
    rrfFuse(Seq(lexLeg(index, docIdCol, terms, kk, buckets), vec), k)
      .select("neighbor_id", "score", "fused_rank")
  }
}
