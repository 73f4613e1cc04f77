package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BM25 full-text relevance scoring — the classic retrieval ranking for a
  * keyword query over a document corpus (the retrieval-side counterpart to
  * [[TfIdf]] and the usual lexical leg of hybrid lexical+vector search).
  *
  * Plan shape at 100 TB: the token explode is filtered to the query's terms
  * IMMEDIATELY (the filter sits inside the same projection as the explode,
  * so non-query tokens never reach the aggregate), document length comes
  * from the same scan, corpus stats (N, avgdl) are a broadcast one-row
  * aggregate over a column-pruned stat scan, and per-term document
  * frequency is a window over `term` on the (small) hit set — no self-join,
  * no second pass over the hits. Two corpus scans total (hits + stats),
  * two small shuffles (hit aggregate, per-doc score aggregate).
  */
object TextSearch {

  /** BM25's term-frequency saturation and length normalization (the
    * Lucene defaults; `$search` text legs score with the same pair). */
  private val K1 = 1.2
  private val B = 0.75

  /** One query term's BM25 weight in one document:
    * idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (the standard non-negative
    * variant) times tf·(k1+1)/(tf + k1·(1 - b + b·dl/avgdl)). Callers
    * sum the per-term weights their own way (a decimal sum here, a
    * per-row double sum in `$search`). */
  private[graft] def bm25Weight(tf: Column, df: Column, nDocs: Column,
      dl: Column, avgdl: Column): Column = {
    val idf = log(lit(1.0) + (nDocs - df + 0.5) / (df + 0.5))
    idf * (tf * lit(K1 + 1)) /
      (tf + lit(K1) * (lit(1 - B) + lit(B) * dl / avgdl))
  }

  /** Score every document containing at least one of `terms` with
    * BM25 ([[bm25Weight]]); returns (idCol, score, matched) ranked by
    * score desc with id-asc tie-break, top `k` (0 = all matches). */
  def bm25(df: DataFrame, idCol: String, textCol: String, terms: Seq[String],
      k: Int = 0): DataFrame = {
    require(terms.nonEmpty, "bm25: empty query")
    val toks = TextFunctions.tokens(col(textCol))
    // one scan: doc length + the query-term hits only
    val hits = df.select(col(idCol), size(toks).as("dl"),
        explode(filter(toks, t => terms.map(q => t === lit(q))
          .reduce(_ || _))).as("term"))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // corpus stats: one broadcast row (computed in-plan, no driver action)
    val stats = df.agg(count(lit(1)).as("n_docs"),
      avg(size(toks).cast("double")).as("avgdl"))
    ranked(hits, stats, idCol, k)
  }

  /** The ranking both faces share, from their query-term `hits`
    * (idCol, dl, term, tf — unique per (doc, term)) and a one-row
    * `stats` frame (n_docs, avgdl): window df, broadcast stats, per-term
    * weight, decimal sum per document, score-desc order, top `k`. */
  private def ranked(hits: DataFrame, stats: DataFrame, idCol: String,
      k: Int): DataFrame = {
    // per-term document frequency: hits is unique per (doc, term), so a
    // window count over `term` IS df — no self-join, no hits recompute
    val scored = hits
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .join(broadcast(stats))
      .withColumn("w", bm25Weight(col("tf"), col("df"), col("n_docs"),
        col("dl"), col("avgdl")))
      .groupBy(idCol)
      // decimal-cast before SUM: per-term weights are deterministic doubles,
      // and exact decimal addition makes the score independent of partial-
      // aggregation order (engine- and partitioning-reproducible)
      .agg(sum(col("w").cast("decimal(28,12)")).cast("double").as("score"),
        count(lit(1)).as("matched"))
    val ordered = scored.orderBy(col("score").desc, col(idCol).asc)
    if (k > 0) ordered.limit(k) else ordered
  }

  /** A persisted lexical index: term-bucketed postings plus a one-row
    * mergeable stats sidecar — the "index once, query many, append
    * daily" face of [[bm25]]. */
  final case class Bm25Index(postings: DataFrame, stats: DataFrame)

  /** Build the index for a corpus (or a DELTA batch of new documents —
    * the postings frame is append-only by construction and the stats
    * row merges by summing, so daily ingest appends postings under
    * their `bkt` partitions and key-sums the sidecar via
    * [[mergeBm25Stats]]; no prior-corpus re-read).
    *
    * Postings: (term, idCol, tf, dl, bkt, p_buckets) with
    * `bkt = pmod(hash(term), buckets)` — write partitioned by `bkt`
    * so a query's terms prune to their buckets' partitions instead of
    * scanning the full posting list (the band/chunk-store pattern for
    * text). `p_buckets` is stamped and [[bm25Precomputed]] requires it
    * to match: postings bucketed under a different modulus would
    * silently miss every term whose bucket moved. Stats:
    * (n_docs, sum_dl) — `sum_dl` rather than avgdl so two batches'
    * rows merge exactly. */
  def bm25Index(df: DataFrame, idCol: String, textCol: String,
      buckets: Int = 256): Bm25Index = {
    require(buckets > 0, s"bm25Index: buckets > 0, got $buckets")
    val toks = TextFunctions.tokens(col(textCol))
    // ONE exchange for the whole build (r16, guide §2.4): the token
    // stream is hash-clustered by its STORE bucket up front, and the
    // (doc, term) aggregate runs inside those partitions — bkt is a
    // function of term, so adding it to the group keys changes nothing
    // while letting the aggregate reuse the bucket partitioning
    // (HashPartitioning(bkt) satisfies the clustered distribution).
    // r15 shuffled the token stream twice per build: once for the
    // aggregate's own (doc, dl, term) exchange, once re-clustering the
    // result by bkt for the partitioned store write. The explicit
    // partition count keeps AQE from collapsing the write to one task
    // (the storeWrite lesson).
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val postings = df.select(col(idCol), size(toks).as("dl"),
        explode(toks).as("term"))
      .withColumn("bkt", pmod(hash(col("term")), lit(buckets)))
      .repartition(n, col("bkt"))
      .groupBy(col(idCol), col("dl"), col("term"), col("bkt"))
      .agg(count(lit(1)).as("tf"))
      .select(col(idCol), col("dl"), col("term"), col("tf"), col("bkt"))
      .withColumn("p_buckets", lit(buckets))
    // n_dl (non-null doc lengths) rides separately from n_docs: avg()
    // skips null-text docs while count(*) keeps them, and the
    // precomputed face must reproduce the one-shot's avgdl exactly
    val stats = df.agg(count(lit(1)).as("n_docs"),
      sum(size(toks).cast("double")).as("sum_dl"),
      count(size(toks)).as("n_dl"))
    Bm25Index(postings, stats)
  }

  /** Key-sum two or more one-row stats sidecars. */
  def mergeBm25Stats(stats: DataFrame*): DataFrame = {
    require(stats.nonEmpty, "mergeBm25Stats: no inputs")
    stats.map(_.select("n_docs", "sum_dl", "n_dl"))
      .reduce(_.unionByName(_))
      .agg(sum("n_docs").as("n_docs"), sum("sum_dl").as("sum_dl"),
        sum("n_dl").as("n_dl"))
  }

  /** BM25 scoring against a SAVED index — bit-identical to [[bm25]]
    * on the indexed corpus (same hits, same window df, same decimal-
    * sum discipline), but the corpus text is NEVER read: the plan
    * touches only the query terms' bucket partitions of the postings
    * store plus the one-row stats sidecar. Per-query cost is
    * hit-sized, independent of corpus size — the retrieval posture a
    * 100 TB corpus actually needs (re-tokenizing everything per query
    * is the recompute column the store eliminates). */
  def bm25Precomputed(index: Bm25Index, idCol: String,
      terms: Seq[String], k: Int = 0, buckets: Int = 256): DataFrame = {
    require(terms.nonEmpty, "bm25Precomputed: empty query")
    graft.ops.Dedup.requireStoreParams(index.postings,
      "bm25Precomputed", "p_buckets" -> buckets)
    // bucket pruning first: pmod(hash(lit(term))) is foldable, so
    // Catalyst collapses each disjunct to `bkt = <const>` and the
    // partition filter prunes the saved frame to the terms' buckets
    // (never a hand-rolled driver-side hash — it must be THE engine
    // hash or a moved bucket silently loses the term)
    val bktPred = terms.map(t => col("bkt") ===
      pmod(hash(lit(t)), lit(buckets))).reduce(_ || _)
    val hits = index.postings.where(bktPred)
      .where(col("term").isin(terms: _*))
      .select(col(idCol), col("dl"), col("term"), col("tf"))
    val stats = index.stats.select(col("n_docs"),
      (col("sum_dl") / col("n_dl")).as("avgdl"))
    ranked(hits, stats, idCol, k)
  }
}
