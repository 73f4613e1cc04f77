package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.{Similarity, Quantize, TfIdf, TextSearch}

import Fixtures._
import Oracles._

/** Retrieval and its stores: $search/$text/$searchMeta, BM25 and TF-IDF
  * indexes, vector search, ANN (brute, LSH, IVF, PQ, binary) and hybrid
  * fusion. */
private[queries] object SearchQueries {

  /** Deterministic 64-dim query vector for q75 (tenths — exact doubles
    * that round-trip through SQL text). */
  private val q75Vec: Seq[Double] =
    Seq.tabulate(64)(i => ((i * 37) % 19 - 9) / 10.0)

  // the IVF replay: brute assignment, probes, cell candidates, exact
  // cosine re-rank — shared by q74 (recompute) and q261 (saved index)
  private lazy val ivfOracle: String =
    s"""WITH cents AS (
       |  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
       |pc AS (
       |  SELECT e.vec_id AS ia, c.cid AS ib, e.embedding AS ea, c.cv AS eb
       |  FROM embeddings e CROSS JOIN cents c),
       |dc AS (SELECT ia, ib,
       |  SUM(CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS dot,
       |  SUM(CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE)) AS na,
       |  SUM(CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS nb
       |  FROM pc, UNNEST(range(1, len(ea)+1)) AS u(i)
       |  GROUP BY ia, ib),
       |asgn AS (SELECT ia, ib AS cell,
       |  row_number() OVER (PARTITION BY ia
       |    ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, ib ASC) AS rn FROM dc),
       |cellof AS (SELECT ia AS nid, cell FROM asgn WHERE rn = 1),
       |probes AS (SELECT ia AS qid, cell FROM asgn WHERE ia < 8 AND rn <= 4),
       |cand AS (
       |  SELECT p.qid AS ia, c.nid AS ib FROM probes p
       |  JOIN cellof c ON c.cell = p.cell AND c.nid <> p.qid),
       |p AS (
       |  SELECT ia, ib, x.embedding AS ea, y.embedding AS eb FROM cand
       |  JOIN embeddings x ON x.vec_id = ia
       |  JOIN embeddings y ON y.vec_id = ib),
       |${cosineCtes("p")},
       |r AS (
       |  SELECT ia AS query_id, ib AS neighbor_id,
       |    CAST(row_number() OVER (
       |      PARTITION BY ia ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, ib) AS INT) AS rank
       |  FROM d)
       |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  /** Flat (left-associated, ascending-index) dot product against literal
    * constants — the exact FP evaluation order of FloatVecDot. */
  private def litDotSql(vecExpr: String, v: Seq[Double]): String =
    v.zipWithIndex.map { case (p, i) =>
      s"CAST($vecExpr[${i + 1}] AS DOUBLE)*($p)" }.mkString(" + ")

  private def selfDotSql(vecExpr: String, dim: Int): String =
    (0 until dim).map { i =>
      s"CAST($vecExpr[${i + 1}] AS DOUBLE)*CAST($vecExpr[${i + 1}] AS DOUBLE)"
    }.mkString(" + ")

  /** Oracle for q153: PQ with m=2 subspaces — per-subspace spherical
    * k-means (the SAME unrolled Lloyd CTEs as q89), assignment of every
    * sub-vector to its final codebook entry, and the ADC score as the sum
    * of per-subspace centroid·query-slice dots. */
  private def pqOracleSql: String = {
    val (m, sub, kc) = (2, 32, 4)
    val subs = (0 until m).map { j =>
      val d = s"data${j + 1}"
      val p = s"k${j + 1}"
      val seed =
        s"""${p}c0 AS (SELECT CAST(vec_id AS BIGINT) AS cid, v AS c
           |  FROM $d ORDER BY vec_id LIMIT $kc)""".stripMargin
      val iters = Seq(
        kmeansIterCtes(1, s"${p}c0", d, p),
        kmeansIterCtes(2, s"${p}c1", d, p),
        // extra unrolled block only for its assignment CTE ${p}a3:
        // codes against the FINAL centroids (m3/c3 are never referenced)
        kmeansIterCtes(3, s"${p}c2", d, p))
      s"""$d AS (SELECT vec_id, v[${j * sub + 1}:${(j + 1) * sub}] AS v
         |  FROM data),
         |$seed,
         |${iters.mkString(",\n")}""".stripMargin
    }
    val dots = (0 until m).map { j =>
      litDotSql(s"c${j + 1}.c", q75Vec.slice(j * sub, (j + 1) * sub))
    }
    s"""WITH data AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${subs.mkString(",\n")},
       |sel AS (SELECT a1.vec_id,
       |    (${dots(0)}) + (${dots(1)}) AS score
       |  FROM k1a3 a1 JOIN k1c2 c1 ON a1.cid = c1.cid
       |  JOIN k2a3 a2 ON a2.vec_id = a1.vec_id
       |  JOIN k2c2 c2 ON a2.cid = c2.cid),
       |top AS (SELECT vec_id, score FROM sel
       |  ORDER BY score DESC, vec_id LIMIT 10)
       |SELECT vec_id, CAST(CAST(score AS DECIMAL(18,6)) AS DOUBLE) AS score
       |FROM top ORDER BY vec_id""".stripMargin
  }

  val all: Seq[Q] = Seq(

    // $vectorSearch pre-filter: MQL match doc applied before the ranking
    // (pushed into the scan), exact top-k after
    Q("q148_vector_filter", run = (s, dir) =>
      coll(s, dir, "embeddings").pipe(Seq(
        Map("$vectorSearch" -> Map("path" -> "embedding",
          "queryVector" -> q75Vec, "limit" -> 15, "tieBreak" -> "vec_id",
          "filter" -> Map("label" -> Map("$in" -> Seq(0, 1)),
            "vec_id" -> Map("$lt" -> 300)))),
        Map("$project" -> Map("vec_id" -> 1, "label" -> 1))))
        .orderBy("vec_id"),
      oracle = {
        val normQ = math.sqrt(q75Vec.map(x => x * x).sum)
        s"""WITH s AS (SELECT vec_id, label,
           |  (${litDotSql("embedding", q75Vec)})
           |  / (sqrt(${selfDotSql("embedding", 64)}) * $normQ) AS cos
           |  FROM embeddings WHERE label IN (0, 1) AND vec_id < 300),
           |r AS (SELECT vec_id, label FROM s ORDER BY cos DESC, vec_id
           |  LIMIT 15)
           |SELECT vec_id, label FROM r ORDER BY vec_id""".stripMargin
      }),

    // Product quantization ANN (Jégou et al., PAMI 2011): per-subspace
    // spherical k-means codebooks, scan-fused positional encoding, ADC
    // scoring via per-query lookup tables — m element_at lookups per
    // candidate instead of a dim-wide dot
    Q("q153_ann_pq", run = (s, dir) => {
      import s.implicits._
      val emb = tbl(s, dir, "embeddings")
      val cb = Quantize.pqCodebooks(emb, "vec_id", "embedding",
        dim = 64, m = 2, k = 4, iters = 2)
      val qdf = Seq((-1L, q75Vec)).toDF("vec_id", "embedding")
      Quantize.pqTopK(emb, qdf, "vec_id", "embedding", cb,
        dim = 64, m = 2, k = 10)
        .select(col("neighbor_id").as("vec_id"),
          col("score").cast("decimal(18,6)").cast("double").as("score"))
        .orderBy("vec_id")
    }, oracle = pqOracleSql),

    // PQ ADC against a PERSISTED code table: the corpus is encoded
    // once (m·k sub-cosines per vector) into saved (id, codes) rows
    // a few bytes wide, and each query batch scores the SAVED codes
    // through its LUT — never a corpus re-encode or float re-read.
    // Must equal q153 exactly (same oracle)
    Q("q262_pq_store", run = (s, dir) => {
      import s.implicits._
      val emb = tbl(s, dir, "embeddings")
      val cb = Quantize.pqCodebooks(emb, "vec_id", "embedding",
        dim = 64, m = 2, k = 4, iters = 2)
      val store = scratchDir("graft-pqstore").toString
      // r16 (guide §6): REBALANCE before the write — AQE coalesces the
      // code table to advisory-size output files (one file at bench
      // scale instead of up-to-32 tiny ones, ~128 MB files at 100 TB)
      // rather than inheriting the scan/session task count
      Quantize.pqCodeSignatures(emb, "vec_id", "embedding", cb,
          dim = 64, m = 2)
        .hint("rebalance")
        .write.mode("overwrite").parquet(store)
      val qdf = Seq((-1L, q75Vec)).toDF("vec_id", "embedding")
      Quantize.pqTopKPrecomputed(qdf, s.read.parquet(store),
        "vec_id", "embedding", cb, dim = 64, m = 2, k = 10)
        .select(col("neighbor_id").as("vec_id"),
          col("score").cast("decimal(18,6)").cast("double").as("score"))
        .orderBy("vec_id")
    },
    // the saved code table scores exactly like the in-line encode —
    // SAME replay as q153 (shared helper)
    oracle = pqOracleSql),

    // $vectorSearch with index-level binary quantization: hamming
    // shortlist of numCandidates over sign-bit signatures, exact-cosine
    // rescore to the limit — Atlas's auto-quantized search flow as a
    // stage option
    Q("q192_vector_search_binary", run = (s, dir) =>
      coll(s, dir, "embeddings").pipe(Seq(
        Map("$vectorSearch" -> Map("path" -> "embedding",
          "queryVector" -> q75Vec, "limit" -> 25,
          "numCandidates" -> 60, "quantization" -> "binary",
          "tieBreak" -> "vec_id")),
        Map("$project" -> Map("vec_id" -> 1))))
        .orderBy("vec_id"),
      // the query signature is packed at oracle-build time with the same
      // 32-bit-word rule the engine uses; hamming + rescore recomputed
      oracle = {
        val qSig = Array.tabulate(2) { w =>
          var acc = 0L
          var j = 0
          while (j < 32) {
            if (q75Vec(w * 32 + j) > 0) acc |= 1L << j; j += 1
          }
          acc
        }
        val normQ = math.sqrt(q75Vec.map(x => x * x).sum)
        s"""WITH sig AS (
           |  SELECT vec_id, embedding,
           |    list_transform(range(0, 2), w ->
           |      list_reduce(list_transform(range(1, 33), j ->
           |        CASE WHEN embedding[w * 32 + j] > 0
           |          THEN CAST(1 AS BIGINT) << (j - 1)
           |          ELSE CAST(0 AS BIGINT) END),
           |        (a, b) -> a | b)) AS s
           |  FROM embeddings),
           |h AS (SELECT vec_id, embedding,
           |    bit_count(xor(s[1], CAST(${qSig(0)} AS BIGINT)))
           |      + bit_count(xor(s[2], CAST(${qSig(1)} AS BIGINT))) AS ham
           |  FROM sig),
           |short AS (SELECT vec_id, embedding FROM h
           |  ORDER BY ham, vec_id LIMIT 60),
           |sc AS (SELECT vec_id,
           |  (${litDotSql("embedding", q75Vec)})
           |  / (sqrt(${selfDotSql("embedding", 64)}) * $normQ) AS cos
           |  FROM short),
           |r AS (SELECT vec_id FROM sc ORDER BY cos DESC, vec_id LIMIT 25)
           |SELECT vec_id FROM r ORDER BY vec_id""".stripMargin
      }),

    // $vectorSearch pipeline stage: literal query vector folded into the
    // scan, TakeOrdered top-limit — no join anywhere in the plan
    Q("q75_vector_search", run = (s, dir) =>
      coll(s, dir, "embeddings").pipe(Seq(
        Map("$vectorSearch" -> Map("path" -> "embedding",
          "queryVector" -> q75Vec, "limit" -> 25, "tieBreak" -> "vec_id")),
        Map("$project" -> Map("vec_id" -> 1))))
        .orderBy("vec_id"),
      oracle = {
        val normQ = math.sqrt(q75Vec.map(x => x * x).sum)
        s"""WITH s AS (SELECT vec_id,
           |  (${litDotSql("embedding", q75Vec)})
           |  / (sqrt(${selfDotSql("embedding", 64)}) * $normQ) AS cos
           |  FROM embeddings),
           |r AS (SELECT vec_id FROM s ORDER BY cos DESC, vec_id LIMIT 25)
           |SELECT vec_id FROM r ORDER BY vec_id""".stripMargin
      }),

    // hybrid retrieval for ONE query: BM25 lexical leg from the SAVED
    // postings index (corpus text never read at query time) + exact-
    // cosine vector leg over the embedding sidecar, RRF-fused — the
    // RAG-retrieval preset over a curated corpus
    Q("q260_hybrid_search", run = (s, dir) => {
      // lexical corpus bounded: q257 already pays the full-corpus
      // index build; this query demonstrates the FUSION preset
      val docs = tbl(s, dir, "documents").where(col("doc_id") < 1000)
      val e = tbl(s, dir, "embeddings")
      val store = scratchDir("graft-hybstore").toString
      val idx = TextSearch.bm25Index(docs, "doc_id", "text")
      // postings + stats land in different dirs: overlap (guide §2.6)
      concurrently(
        () => storeWrite(idx.postings, "bkt", s"$store/postings",
          preClustered = true),
        () => idx.stats.write.mode("overwrite").parquet(s"$store/stats"))
      graft.ops.Hybrid.hybridSearch(
        TextSearch.Bm25Index(s.read.parquet(s"$store/postings"),
          s.read.parquet(s"$store/stats")),
        "doc_id", Seq("data", "query", "spark"),
        e, "vec_id", "embedding", q75Vec, k = 15)
        .select(col("neighbor_id"),
          col("score").cast("decimal(18,9)").cast("double").as("score"),
          col("fused_rank"))
        .orderBy("fused_rank")
    },
    // both legs replayed (q85's BM25 chain -> ranks; q75's literal-
    // vector cosine -> ranks) then the q88 RRF decimal-sum fusion
    oracle = {
      val normQ = math.sqrt(q75Vec.map(x => x * x).sum)
      s"""WITH tk AS (
         |  SELECT doc_id,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS t
         |  FROM documents WHERE doc_id < 1000),
         |toks AS (
         |  SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tk),
         |hits AS (
         |  SELECT doc_id, dl, term, COUNT(*) AS tf FROM toks
         |  WHERE term IN ('data', 'query', 'spark')
         |  GROUP BY doc_id, dl, term),
         |wd AS (
         |  SELECT doc_id, dl, term, tf,
         |    COUNT(*) OVER (PARTITION BY term) AS df
         |  FROM hits),
         |stats AS (
         |  SELECT COUNT(*) AS n_docs, avg(CAST(len(t) AS DOUBLE)) AS avgdl
         |  FROM tk),
         |lexsc AS (
         |  SELECT doc_id,
         |    CAST(SUM(CAST(
         |      ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2)
         |      / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
         |      AS DECIMAL(28,12))) AS DOUBLE) AS score
         |  FROM wd, stats GROUP BY doc_id),
         |lex AS (
         |  SELECT doc_id AS neighbor_id,
         |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
         |  FROM lexsc),
         |vecs AS (SELECT vec_id,
         |  (${litDotSql("embedding", q75Vec)})
         |  / (sqrt(${selfDotSql("embedding", 64)}) * $normQ) AS cos
         |  FROM embeddings),
         |vec AS (
         |  SELECT vec_id AS neighbor_id,
         |    row_number() OVER (ORDER BY cos DESC, vec_id) AS rank
         |  FROM vecs),
         |u AS (
         |  SELECT neighbor_id, rank FROM lex WHERE rank <= 30
         |  UNION ALL
         |  SELECT neighbor_id, rank FROM vec WHERE rank <= 30),
         |f AS (
         |  SELECT neighbor_id,
         |    CAST(SUM(CAST(1.0 / (rank + 60) AS DECIMAL(28,12)))
         |      AS DOUBLE) AS score
         |  FROM u GROUP BY neighbor_id),
         |o AS (
         |  SELECT neighbor_id, score,
         |    CAST(row_number() OVER (
         |      ORDER BY score DESC, neighbor_id) AS INT) AS fused_rank
         |  FROM f)
         |SELECT neighbor_id,
         |  CAST(CAST(score AS DECIMAL(18,9)) AS DOUBLE) AS score,
         |  fused_rank
         |FROM o WHERE fused_rank <= 15
         |ORDER BY fused_rank""".stripMargin
    }),

    // hybrid retrieval with BOTH legs index-served (the deployed
    // shape): lexical from the saved postings' bucket partitions,
    // vector from the saved IVF cell index — the corpus is neither
    // re-tokenized nor re-assigned at query time
    Q("q264_hybrid_ivf", run = (s, dir) => {
      val docs = tbl(s, dir, "documents").where(col("doc_id") < 1000)
      val e = tbl(s, dir, "embeddings")
      val cents = e.where(col("vec_id") < 16)
      val store = scratchDir("graft-hybivf").toString
      val idx = TextSearch.bm25Index(docs, "doc_id", "text")
      // three independent index writes overlapped (guide §2.6)
      concurrently(
        () => storeWrite(idx.postings, "bkt", s"$store/postings",
          preClustered = true),
        () => idx.stats.write.mode("overwrite").parquet(s"$store/stats"),
        () => storeWrite(
          Similarity.ivfCellSignatures(e, "vec_id", "embedding", cents),
          "cell", s"$store/cells"))
      graft.ops.Hybrid.hybridSearchIvf(
        TextSearch.Bm25Index(s.read.parquet(s"$store/postings"),
          s.read.parquet(s"$store/stats")),
        "doc_id", Seq("data", "query", "spark"),
        s.read.parquet(s"$store/cells"), "vec_id", "embedding",
        cents, q75Vec, k = 15)
        .select(col("neighbor_id"),
          col("score").cast("decimal(18,9)").cast("double").as("score"),
          col("fused_rank"))
        .orderBy("fused_rank")
    },
    // both legs replayed with the VECTOR leg through the IVF
    // machinery: brute corpus cell assignment (q74's asgn), the
    // literal query's probe cells, candidates from probed cells only,
    // exact cosine ranks within candidates, then the q88 RRF fusion
    oracle = {
      val normQ = math.sqrt(q75Vec.map(x => x * x).sum)
      s"""WITH tk AS (
         |  SELECT doc_id,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS t
         |  FROM documents WHERE doc_id < 1000),
         |toks AS (
         |  SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tk),
         |hits AS (
         |  SELECT doc_id, dl, term, COUNT(*) AS tf FROM toks
         |  WHERE term IN ('data', 'query', 'spark')
         |  GROUP BY doc_id, dl, term),
         |wd AS (
         |  SELECT doc_id, dl, term, tf,
         |    COUNT(*) OVER (PARTITION BY term) AS df
         |  FROM hits),
         |stats AS (
         |  SELECT COUNT(*) AS n_docs, avg(CAST(len(t) AS DOUBLE)) AS avgdl
         |  FROM tk),
         |lexsc AS (
         |  SELECT doc_id,
         |    CAST(SUM(CAST(
         |      ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2)
         |      / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
         |      AS DECIMAL(28,12))) AS DOUBLE) AS score
         |  FROM wd, stats GROUP BY doc_id),
         |lex AS (
         |  SELECT doc_id AS neighbor_id,
         |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
         |  FROM lexsc),
         |cents AS (
         |  SELECT vec_id AS cid, embedding AS cv FROM embeddings
         |  WHERE vec_id < 16),
         |pc AS (
         |  SELECT e.vec_id AS ia, c.cid AS ib, e.embedding AS ea,
         |    c.cv AS eb
         |  FROM embeddings e CROSS JOIN cents c),
         |dc AS (SELECT ia, ib,
         |  SUM(CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS dot,
         |  SUM(CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE)) AS na,
         |  SUM(CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS nb
         |  FROM pc, UNNEST(range(1, len(ea)+1)) AS u(i)
         |  GROUP BY ia, ib),
         |asgn AS (SELECT ia, ib AS cell,
         |  row_number() OVER (PARTITION BY ia
         |    ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, ib ASC) AS rn FROM dc),
         |cellof AS (SELECT ia AS nid, cell FROM asgn WHERE rn = 1),
         |qp AS (SELECT cid AS cell,
         |    row_number() OVER (ORDER BY
         |      (${litDotSql("cv", q75Vec)})
         |      / (sqrt(${selfDotSql("cv", 64)}) * $normQ) DESC, cid)
         |      AS rn
         |  FROM cents),
         |cand AS (
         |  SELECT c.nid FROM qp JOIN cellof c ON c.cell = qp.cell
         |  WHERE qp.rn <= 4),
         |vs AS (SELECT vec_id,
         |  (${litDotSql("embedding", q75Vec)})
         |  / (sqrt(${selfDotSql("embedding", 64)}) * $normQ) AS cos
         |  FROM embeddings WHERE vec_id IN (SELECT nid FROM cand)),
         |vec AS (
         |  SELECT vec_id AS neighbor_id,
         |    row_number() OVER (ORDER BY cos DESC, vec_id) AS rank
         |  FROM vs),
         |u AS (
         |  SELECT neighbor_id, rank FROM lex WHERE rank <= 30
         |  UNION ALL
         |  SELECT neighbor_id, rank FROM vec WHERE rank <= 30),
         |f AS (
         |  SELECT neighbor_id,
         |    CAST(SUM(CAST(1.0 / (rank + 60) AS DECIMAL(28,12)))
         |      AS DOUBLE) AS score
         |  FROM u GROUP BY neighbor_id),
         |o AS (
         |  SELECT neighbor_id, score,
         |    CAST(row_number() OVER (
         |      ORDER BY score DESC, neighbor_id) AS INT) AS fused_rank
         |  FROM f)
         |SELECT neighbor_id,
         |  CAST(CAST(score AS DECIMAL(18,9)) AS DOUBLE) AS score,
         |  fused_rank
         |FROM o WHERE fused_rank <= 15
         |ORDER BY fused_rank""".stripMargin
    }),

    // full IVF ANN search: shuffle-free coarse assignment (centroid
    // constants folded into codegen), nprobe query probing, cell-key
    // equi-join candidates, exact cosine re-rank
    Q("q74_ann_ivf", run = (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.ivfTopK(e, e.where(col("vec_id") < 8), "vec_id",
        "embedding", centroids = e.where(col("vec_id") < 16),
        k = 10, nprobe = 4)
        .orderBy("query_id", "rank")
    }, oracle = ivfOracle),

    // IVF ANN against a PERSISTED cell-partitioned index (the q244
    // store story for vector search): assignments + vectors + self-
    // dots are written once partitioned by cell, queries probe and
    // read ONLY their cells' partitions, the corpus is never
    // re-assigned or re-read — must equal q74 exactly (same oracle)
    Q("q261_ivf_store", run = (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val cents = e.where(col("vec_id") < 16)
      val store = scratchDir("graft-ivfstore").toString
      storeWrite(
        Similarity.ivfCellSignatures(e, "vec_id", "embedding", cents),
        "cell", store)
      Similarity.ivfTopKPrecomputed(e.where(col("vec_id") < 8),
        s.read.parquet(store), "vec_id", "embedding", cents,
        k = 10, nprobe = 4)
        .orderBy("query_id", "rank")
    },
    // the saved-index path is bit-identical to the recompute path by
    // construction — SAME replay as q74 (shared helper)
    oracle = ivfOracle),

    // Atlas-style $search (pass-through db/wrapper.go:88-94): BM25 text
    // operator, score surfaced via {$meta: "searchScore"} — scan-fused
    // per-row scoring against one broadcast stats row, no per-doc shuffle
    Q("q120_search_text", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$search" -> Map("index" -> "default", "text" ->
          Map("query" -> "stream filter shuffle", "path" -> "text"))),
        Map("$project" -> Map("doc_id" -> 1,
          "score" -> Map("$meta" -> "searchScore")))))
        .select(col("doc_id"),
          col("score").cast("decimal(18,9)").cast("double").as("score"))
        .orderBy(desc("score"), asc("doc_id")).limit(20),
      oracle = """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tk),
        |hits AS (
        |  SELECT doc_id, dl, term, COUNT(*) AS tf FROM toks
        |  WHERE term IN ('stream', 'filter', 'shuffle')
        |  GROUP BY doc_id, dl, term),
        |stats AS (
        |  SELECT COUNT(*) AS n_docs, avg(CAST(len(t) AS DOUBLE)) AS avgdl
        |  FROM tk),
        |dfreq AS (
        |  SELECT term, COUNT(*) AS df FROM hits GROUP BY term),
        |sc AS (
        |  SELECT doc_id,
        |    SUM(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2)
        |      / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) AS score
        |  FROM hits JOIN dfreq USING (term), stats GROUP BY doc_id)
        |SELECT doc_id, CAST(CAST(score AS DECIMAL(18,9)) AS DOUBLE) AS score
        |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),

    // $searchMeta count + $collStats: metadata results as 1-row frames
    Q("q121_search_meta", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$searchMeta" -> Map("text" ->
          Map("query" -> "stream filter shuffle", "path" -> "text")))))
        .select(col("count.total").as("total")),
      oracle = """SELECT COUNT(*) AS total FROM (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents)
        |WHERE len(list_filter(t,
        |  x -> x IN ('stream', 'filter', 'shuffle'))) > 0""".stripMargin),

    Q("q122_collstats", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$collStats" -> Map("count" -> Map.empty[String, Any],
          "storageStats" -> Map.empty[String, Any]))))
        .select(col("count"), col("storageStats.nindexes").as("nindexes")),
      oracle = """SELECT COUNT(*) AS count, 0 AS nindexes FROM documents""".stripMargin),

    // $search compound: BM25 must-text + phrase mustNot + wildcard filter
    // + scoring should-phrase; score = must BM25 + matching should
    // occurrences (filter/mustNot score 0, Lucene-style)
    Q("q138_search_compound", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$search" -> Map("compound" -> Map(
          "must" -> Seq(Map("text" ->
            Map("query" -> "stream filter", "path" -> "text"))),
          "mustNot" -> Seq(Map("phrase" ->
            Map("query" -> "slow merge", "path" -> "text"))),
          "filter" -> Seq(Map("wildcard" ->
            Map("query" -> "*join*", "path" -> "text"))),
          "should" -> Seq(Map("phrase" ->
            Map("query" -> "hash join", "path" -> "text")))))),
        Map("$project" -> Map("doc_id" -> 1,
          "score" -> Map("$meta" -> "searchScore")))))
        .select(col("doc_id"),
          col("score").cast("decimal(18,9)").cast("double").as("score"))
        .orderBy(desc("score"), asc("doc_id")).limit(25),
      oracle = """WITH tk AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tk),
        |hits AS (
        |  SELECT doc_id, dl, term, COUNT(*) AS tf FROM toks
        |  WHERE term IN ('stream', 'filter')
        |  GROUP BY doc_id, dl, term),
        |stats AS (
        |  SELECT COUNT(*) AS n_docs, avg(CAST(len(t) AS DOUBLE)) AS avgdl
        |  FROM tk),
        |dfreq AS (
        |  SELECT term, COUNT(*) AS df FROM hits GROUP BY term),
        |bm AS (
        |  SELECT doc_id,
        |    SUM(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2)
        |      / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) AS mscore
        |  FROM hits JOIN dfreq USING (term), stats GROUP BY doc_id),
        |matched AS (
        |  SELECT tk.doc_id,
        |    bm.mscore + CASE WHEN contains(tk.text, 'hash join')
        |      THEN (len(tk.text) - len(replace(tk.text, 'hash join', '')))
        |           / 9.0
        |      ELSE 0 END AS score
        |  FROM tk JOIN bm USING (doc_id)
        |  WHERE NOT contains(tk.text, 'slow merge')
        |    AND contains(tk.text, 'join'))
        |SELECT doc_id, CAST(CAST(score AS DECIMAL(18,9)) AS DOUBLE) AS score
        |FROM matched ORDER BY score DESC, doc_id LIMIT 25""".stripMargin),

    // $text grammar: OR-term + "quoted phrase" (must be present) +
    // -term exclusion (must be absent), through the find() surface
    Q("q139_text_negation", run = (s, dir) =>
      coll(s, dir, "documents").find(Map(
        "$text" -> Map("$search" -> "spark -slow \"stream filter\"")))
        .sort("doc_id").select("doc_id", "lang").toDF,
      oracle = """SELECT doc_id, lang FROM documents
        |WHERE list_contains(
        |    list_filter(string_split(text, ' '), x -> x <> ''), 'spark')
        |  AND contains(text, 'stream filter')
        |  AND NOT list_contains(
        |    list_filter(string_split(text, ' '), x -> x <> ''), 'slow')
        |ORDER BY doc_id""".stripMargin),

    // $text default case-insensitivity (Mongo parity): upper-cased search
    // terms fold onto the lowercase corpus; exclusions fold too
    Q("q144_text_case", run = (s, dir) =>
      coll(s, dir, "documents").find(Map(
        "$text" -> Map("$search" -> "SPARK -Filter",
          "$caseSensitive" -> false)))
        .sort("doc_id").select("doc_id").toDF,
      oracle = """SELECT doc_id FROM documents
        |WHERE list_contains(
        |    list_filter(string_split(lower(text), ' '), x -> x <> ''),
        |    'spark')
        |  AND NOT list_contains(
        |    list_filter(string_split(lower(text), ' '), x -> x <> ''),
        |    'filter')
        |ORDER BY doc_id""".stripMargin),

    // $searchMeta DATE facets: [boundaries) year buckets keyed by the
    // lower boundary timestamp, over a range-filtered operator set
    Q("q193_searchmeta_date_facet", run = (s, dir) => {
      val meta = coll(s, dir, "orders").pipe(Seq(
        Map("$searchMeta" -> Map("facet" -> Map(
          "operator" -> Map("range" ->
            Map("path" -> "o_totalprice", "gte" -> 50000)),
          "facets" -> Map(
            "byYear" -> Map("type" -> "date", "path" -> "o_orderdate",
              "boundaries" -> Seq("1993-01-01", "1995-01-01",
                "1997-01-01", "1999-01-01"))))))))
      meta.select(lit("year").as("facet"),
          explode(col("facet.byYear.buckets")).as("b"))
        .select(col("facet"), col("b._id").cast("string").as("bucket"),
          col("b.count").as("cnt"))
        .unionByName(meta.select(lit("total").as("facet"),
          lit("all").as("bucket"), col("count.total").as("cnt")))
        .orderBy("facet", "bucket")
    }, oracle = """WITH m AS (
        |  SELECT o_orderdate FROM orders WHERE o_totalprice >= 50000),
        |yb AS (
        |  SELECT CASE
        |      WHEN o_orderdate < TIMESTAMP '1995-01-01'
        |        THEN TIMESTAMP '1993-01-01'
        |      WHEN o_orderdate < TIMESTAMP '1997-01-01'
        |        THEN TIMESTAMP '1995-01-01'
        |      ELSE TIMESTAMP '1997-01-01' END AS b, COUNT(*) AS cnt
        |  FROM m
        |  WHERE o_orderdate >= TIMESTAMP '1993-01-01'
        |    AND o_orderdate < TIMESTAMP '1999-01-01'
        |  GROUP BY 1)
        |SELECT 'year' AS facet, CAST(b AS VARCHAR) AS bucket, cnt FROM yb
        |UNION ALL SELECT 'total', 'all', COUNT(*) FROM m
        |ORDER BY facet, bucket""".stripMargin),

    // $searchMeta facet collector: string top-N + number-boundary facets
    // under a text operator pre-filter; the struct result is flattened to
    // driver-comparable rows (facet, bucket, cnt)
    Q("q142_searchmeta_facet", run = (s, dir) => {
      val meta = coll(s, dir, "documents").pipe(Seq(
        Map("$searchMeta" -> Map("facet" -> Map(
          "operator" -> Map("text" ->
            Map("query" -> "stream", "path" -> "text")),
          "facets" -> Map(
            "byLang" -> Map("type" -> "string", "path" -> "lang",
              "numBuckets" -> 3),
            "byLen" -> Map("type" -> "number", "path" -> "n_chars",
              "boundaries" -> Seq(0, 200, 400, 600))))))))
      meta.select(lit("lang").as("facet"),
          explode(col("facet.byLang.buckets")).as("b"))
        .select(col("facet"), col("b._id").cast("string").as("bucket"),
          col("b.count").as("cnt"))
        .unionByName(meta.select(lit("len").as("facet"),
            explode(col("facet.byLen.buckets")).as("b"))
          .select(col("facet"), col("b._id").cast("string").as("bucket"),
            col("b.count").as("cnt")))
        .unionByName(meta.select(lit("total").as("facet"),
          lit("all").as("bucket"), col("count.total").as("cnt")))
        .orderBy("facet", "bucket")
    }, oracle = """WITH m AS (
        |  SELECT lang, n_chars FROM documents
        |  WHERE len(list_filter(list_filter(string_split(text, ' '),
        |    x -> x <> ''), x -> x = 'stream')) > 0),
        |lang_b AS (
        |  SELECT lang AS bucket, COUNT(*) AS cnt FROM m GROUP BY 1
        |  ORDER BY cnt DESC, bucket LIMIT 3),
        |len_b AS (
        |  SELECT CASE WHEN n_chars < 200 THEN 0.0
        |              WHEN n_chars < 400 THEN 200.0
        |              ELSE 400.0 END AS b, COUNT(*) AS cnt
        |  FROM m WHERE n_chars >= 0 AND n_chars < 600 GROUP BY 1)
        |SELECT 'lang' AS facet, bucket, cnt FROM lang_b
        |UNION ALL SELECT 'len', CAST(b AS VARCHAR), cnt FROM len_b
        |UNION ALL SELECT 'total', 'all', COUNT(*) FROM m
        |ORDER BY facet, bucket""".stripMargin),

    // $search structured operators (equals/in/range/exists) as compound
    // filter/must legs plus a boosted should-phrase; constant-score legs
    // + boost multiplier reproduce exactly in SQL
    Q("q143_search_structured", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$search" -> Map("compound" -> Map(
          "filter" -> Seq(
            Map("in" -> Map("path" -> "lang",
              "value" -> Seq("en", "fr"))),
            Map("range" -> Map("path" -> "n_chars",
              "gte" -> 100, "lt" -> 400))),
          "must" -> Seq(Map("exists" -> Map("path" -> "source"))),
          "should" -> Seq(Map("phrase" -> Map(
            "query" -> "vector scan", "path" -> "text",
            "score" -> Map("boost" -> Map("value" -> 5.0)))))))),
        Map("$project" -> Map("doc_id" -> 1,
          "score" -> Map("$meta" -> "searchScore")))))
        .select(col("doc_id"), col("score").cast("double").as("score"))
        .orderBy("doc_id"),
      oracle = """SELECT doc_id, CAST(1.0 +
        |  CASE WHEN contains(text, 'vector scan')
        |    THEN ((len(text) - len(replace(text, 'vector scan', '')))
        |          / 11.0) * 5.0
        |    ELSE 0 END AS DOUBLE) AS score
        |FROM documents
        |WHERE lang IN ('en', 'fr')
        |  AND n_chars >= 100 AND n_chars < 400
        |  AND source IS NOT NULL
        |ORDER BY doc_id""".stripMargin),

    // $rankFusion (Mongo 8.1): RRF over a BM25 lexical ranking and a
    // length ranking, fused on doc_id (columnar key extension), fused
    // score exposed through the searchScore carrier
    Q("q146_rank_fusion", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$rankFusion" -> Map(
          "key" -> "doc_id",
          "input" -> Map("pipelines" -> Map(
            "lex" -> Seq(
              Map("$search" -> Map("text" ->
                Map("query" -> "stream filter", "path" -> "text"))),
              Map("$sort" -> Map("score" -> Map("$meta" -> "searchScore"),
                "doc_id" -> 1)),
              Map("$limit" -> 20)),
            "len" -> Seq(
              Map("$sort" -> Map("n_chars" -> -1, "doc_id" -> 1)),
              Map("$limit" -> 20)))),
          "combination" -> Map("weights" ->
            Map("lex" -> 1.0, "len" -> 1.0)))),
        Map("$project" -> Map("doc_id" -> 1,
          "score" -> Map("$meta" -> "searchScore")))))
        .select(col("doc_id"),
          col("score").cast("decimal(18,9)").cast("double").as("score"))
        .orderBy(desc("score"), asc("doc_id")),
      oracle = """WITH tk AS (
        |  SELECT doc_id, n_chars,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tk),
        |hits AS (
        |  SELECT doc_id, dl, term, COUNT(*) AS tf FROM toks
        |  WHERE term IN ('stream', 'filter')
        |  GROUP BY doc_id, dl, term),
        |stats AS (
        |  SELECT COUNT(*) AS n_docs, avg(CAST(len(t) AS DOUBLE)) AS avgdl
        |  FROM tk),
        |dfreq AS (
        |  SELECT term, COUNT(*) AS df FROM hits GROUP BY term),
        |bm AS (
        |  SELECT doc_id,
        |    SUM(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2)
        |      / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) AS score
        |  FROM hits JOIN dfreq USING (term), stats GROUP BY doc_id),
        |lex AS (
        |  SELECT doc_id, rr FROM (
        |    SELECT doc_id,
        |      row_number() OVER (ORDER BY score DESC, doc_id) AS rr
        |    FROM bm) WHERE rr <= 20),
        |len_r AS (
        |  SELECT doc_id, rr FROM (
        |    SELECT doc_id,
        |      row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rr
        |    FROM tk) WHERE rr <= 20),
        |u AS (
        |  SELECT doc_id, rr FROM lex
        |  UNION ALL SELECT doc_id, rr FROM len_r),
        |f AS (
        |  SELECT doc_id,
        |    CAST(SUM(CAST(1.0 / (rr + 60) AS DECIMAL(28,12))) AS DOUBLE)
        |      AS score
        |  FROM u GROUP BY doc_id)
        |SELECT doc_id, CAST(CAST(score AS DECIMAL(18,9)) AS DOUBLE) AS score
        |FROM f ORDER BY score DESC, doc_id""".stripMargin),

    // $scoreFusion (Mongo 8.1): minMaxScaler-normalized weighted average
    // of a BM25 text leg and a phrase-occurrence leg, fused on doc_id
    Q("q147_score_fusion", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$scoreFusion" -> Map(
          "key" -> "doc_id",
          "input" -> Map(
            "normalization" -> "minMaxScaler",
            "pipelines" -> Map(
              "lex" -> Seq(
                Map("$search" -> Map("text" ->
                  Map("query" -> "stream filter", "path" -> "text"))),
                Map("$sort" -> Map("score" -> Map("$meta" -> "searchScore"),
                  "doc_id" -> 1)),
                Map("$limit" -> 20)),
              "ph" -> Seq(
                Map("$search" -> Map("phrase" ->
                  Map("query" -> "hash join", "path" -> "text"))),
                Map("$sort" -> Map("score" -> Map("$meta" -> "searchScore"),
                  "doc_id" -> 1)),
                Map("$limit" -> 20)))),
          "combination" -> Map("method" -> "avg",
            "weights" -> Map("lex" -> 2.0)))),
        Map("$project" -> Map("doc_id" -> 1,
          "score" -> Map("$meta" -> "searchScore")))))
        .select(col("doc_id"),
          col("score").cast("decimal(18,9)").cast("double").as("score"))
        .orderBy(desc("score"), asc("doc_id")),
      oracle = """WITH tk AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tk),
        |hits AS (
        |  SELECT doc_id, dl, term, COUNT(*) AS tf FROM toks
        |  WHERE term IN ('stream', 'filter')
        |  GROUP BY doc_id, dl, term),
        |stats AS (
        |  SELECT COUNT(*) AS n_docs, avg(CAST(len(t) AS DOUBLE)) AS avgdl
        |  FROM tk),
        |dfreq AS (
        |  SELECT term, COUNT(*) AS df FROM hits GROUP BY term),
        |bm AS (
        |  SELECT doc_id,
        |    SUM(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2)
        |      / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) AS score
        |  FROM hits JOIN dfreq USING (term), stats GROUP BY doc_id),
        |lex20 AS (
        |  SELECT doc_id, score FROM (
        |    SELECT doc_id, score,
        |      row_number() OVER (ORDER BY score DESC, doc_id) AS rn
        |    FROM bm) WHERE rn <= 20),
        |lexmm AS (SELECT min(score) AS mn, max(score) AS mx FROM lex20),
        |lexc AS (
        |  SELECT doc_id, CAST(2.0 * (CASE WHEN mx = mn THEN 0.0
        |    ELSE (score - mn) / (mx - mn) END) AS DECIMAL(28,12)) AS c
        |  FROM lex20, lexmm),
        |ph AS (
        |  SELECT doc_id,
        |    (len(text) - len(replace(text, 'hash join', ''))) / 9.0 AS score
        |  FROM tk WHERE contains(text, 'hash join')),
        |ph20 AS (
        |  SELECT doc_id, score FROM (
        |    SELECT doc_id, score,
        |      row_number() OVER (ORDER BY score DESC, doc_id) AS rn
        |    FROM ph) WHERE rn <= 20),
        |phmm AS (SELECT min(score) AS mn, max(score) AS mx FROM ph20),
        |phc AS (
        |  SELECT doc_id, CAST(1.0 * (CASE WHEN mx = mn THEN 0.0
        |    ELSE (score - mn) / (mx - mn) END) AS DECIMAL(28,12)) AS c
        |  FROM ph20, phmm),
        |u AS (SELECT doc_id, c FROM lexc UNION ALL SELECT doc_id, c FROM phc),
        |f AS (
        |  SELECT doc_id, CAST(SUM(c) / 2.0 AS DOUBLE) AS score
        |  FROM u GROUP BY doc_id)
        |SELECT doc_id, CAST(CAST(score AS DECIMAL(18,9)) AS DOUBLE) AS score
        |FROM f ORDER BY score DESC, doc_id""".stripMargin),

    // $search moreLikeThis: the like docs' analyzed terms become one
    // BM25 text query — find-similar without a vector index
    Q("q159_search_morelikethis", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$search" -> Map("moreLikeThis" -> Map(
          "like" -> Seq(Map("text" -> "stream filter window")),
          "path" -> "text"))),
        Map("$project" -> Map("doc_id" -> 1,
          "score" -> Map("$meta" -> "searchScore")))))
        .select(col("doc_id"),
          col("score").cast("decimal(18,9)").cast("double").as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(20),
      oracle = """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tk),
        |hits AS (
        |  SELECT doc_id, dl, term, COUNT(*) AS tf FROM toks
        |  WHERE term IN ('stream', 'filter', 'window')
        |  GROUP BY doc_id, dl, term),
        |stats AS (
        |  SELECT COUNT(*) AS n_docs, avg(CAST(len(t) AS DOUBLE)) AS avgdl
        |  FROM tk),
        |dfreq AS (
        |  SELECT term, COUNT(*) AS df FROM hits GROUP BY term),
        |sc AS (
        |  SELECT doc_id,
        |    SUM(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2)
        |      / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) AS score
        |  FROM hits JOIN dfreq USING (term), stats GROUP BY doc_id)
        |SELECT doc_id, CAST(CAST(score AS DECIMAL(18,9)) AS DOUBLE) AS score
        |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),

    // $search queryString: Lucene query syntax (AND/OR/NOT, parens,
    // field: overrides, wildcards) compiled to one scan predicate
    Q("q160_search_querystring", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$search" -> Map("queryString" -> Map(
          "defaultPath" -> "text",
          "query" -> "(spark OR shuffle) AND NOT lang:de AND quer*"))),
        Map("$project" -> Map("doc_id" -> 1, "lang" -> 1))))
        .orderBy("doc_id"),
      oracle = """WITH tk AS (SELECT doc_id, lang,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents)
        |SELECT doc_id, lang FROM tk
        |WHERE (list_contains(t, 'spark') OR list_contains(t, 'shuffle'))
        |  AND NOT (lang = 'de')
        |  AND len(list_filter(t,
        |    x -> regexp_full_match(x, 'quer.*'))) > 0
        |ORDER BY doc_id""".stripMargin),

    // $search embeddedDocument: per-element inner operator over an
    // array-of-documents column (lineitems grouped per order), score =
    // sum of matching elements' scores. Lambda algebra in the scan — no
    // explode, no join; the only exchanges are the grouping aggregate
    // and the final TakeOrdered.
    Q("q161_search_embedded", run = (s, dir) => {
      val grouped = tbl(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("order_key"))
        .agg(collect_list(struct(col("l_returnflag").as("flag"),
          col("l_quantity").as("qty"))).as("items"))
      graft.pipeline.PipelineCompiler.compile(Seq(
        Map("$search" -> Map("embeddedDocument" -> Map(
          "path" -> "items",
          "operator" -> Map("compound" -> Map(
            "must" -> Seq(Map("equals" ->
              Map("path" -> "items.flag", "value" -> "R"))),
            "filter" -> Seq(Map("range" ->
              Map("path" -> "items.qty", "gte" -> 30)))))))),
        Map("$project" -> Map("order_key" -> 1,
          "score" -> Map("$meta" -> "searchScore")))))(grouped)
        .select(col("order_key"), col("score").cast("double").as("score"))
        .orderBy(col("score").desc, col("order_key")).limit(50)
    }, oracle = """SELECT l_orderkey AS order_key, CAST(COUNT(*) AS DOUBLE) AS score
        |FROM lineitem WHERE l_returnflag = 'R' AND l_quantity >= 30
        |GROUP BY 1 ORDER BY score DESC, order_key LIMIT 50""".stripMargin),

    // Analyzed-token sloppy phrase: terms must appear IN ORDER with total
    // inter-term gap <= slop (Lucene sloppy-phrase); score = number of
    // sloppy occurrences — pure scan-local array algebra
    Q("q179_search_phrase_slop", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$search" -> Map("phrase" -> Map(
          "query" -> "stream filter", "path" -> "text", "slop" -> 1))),
        Map("$project" -> Map("doc_id" -> 1,
          "score" -> Map("$meta" -> "searchScore")))))
        .select(col("doc_id"), col("score").cast("double").as("score"))
        .orderBy("doc_id"),
      oracle = """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, len(list_filter(range(1, len(t)+1),
        |    i -> t[i] = 'stream' AND len(list_filter(
        |      range(i+1, least(i+3, len(t)+1)), j -> t[j] = 'filter')) > 0))
        |    AS occs
        |  FROM tk)
        |SELECT doc_id, CAST(occs AS DOUBLE) AS score FROM occ
        |WHERE occs > 0 ORDER BY doc_id""".stripMargin),

    // Atlas {score: {function}}: the full expression DSL — relevance
    // multiplied by log1p of a numeric field and a gaussian decay
    // centered on n_chars 300 (boost-by-popularity + decay-by-distance,
    // the canonical Atlas function-score idiom); pure scan algebra in
    // the same score projection as the BM25 terms it modifies
    Q("q190_search_function_score", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$search" -> Map("text" -> Map(
          "query" -> "stream", "path" -> "text",
          "score" -> Map("function" -> Map("multiply" -> Seq(
            Map("score" -> "relevance"),
            Map("log1p" -> Map("path" -> Map("value" -> "n_chars"))),
            Map("gauss" -> Map(
              "path" -> Map("value" -> "n_chars"),
              "origin" -> 300, "scale" -> 150, "decay" -> 0.5)))))))),
        Map("$project" -> Map("doc_id" -> 1,
          "score" -> Map("$meta" -> "searchScore")))))
        .select(col("doc_id"),
          col("score").cast("decimal(18,9)").cast("double").as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(25),
      // BM25(stream) recomputed as in q120, then the same function
      // algebra: x log10(n_chars+1) x 0.5^((|n_chars-300|/150)^2)
      oracle = """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tk),
        |hits AS (
        |  SELECT doc_id, dl, term, COUNT(*) AS tf FROM toks
        |  WHERE term = 'stream' GROUP BY doc_id, dl, term),
        |stats AS (
        |  SELECT COUNT(*) AS n_docs, avg(CAST(len(t) AS DOUBLE)) AS avgdl
        |  FROM tk),
        |dfreq AS (
        |  SELECT term, COUNT(*) AS df FROM hits GROUP BY term),
        |sc AS (
        |  SELECT doc_id,
        |    SUM(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2)
        |      / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) AS rel
        |  FROM hits JOIN dfreq USING (term), stats GROUP BY doc_id),
        |fn AS (
        |  SELECT d.doc_id,
        |    rel * log10(d.n_chars + 1.0)
        |        * pow(0.5, pow(greatest(0.0, abs(d.n_chars - 300.0))
        |            / 150.0, 2)) AS score
        |  FROM sc JOIN documents d USING (doc_id))
        |SELECT doc_id,
        |  CAST(CAST(score AS DECIMAL(18,9)) AS DOUBLE) AS score
        |FROM fn ORDER BY score DESC, doc_id LIMIT 25""".stripMargin),

    // classic $match $text with $language "english": the quoted phrase
    // "filtering queries" stems to [filter, queri] and adjacency runs
    // in the STOP-REMOVED stemmed stream on both sides — "filter the
    // query" matches because 'the' is unindexed
    Q("q194_text_language_english", run = (s, dir) =>
      coll(s, dir, "documents")
        .find(Map("$text" -> Map(
          "$search" -> "\"filtering queries\"",
          "$language" -> "english")))
        .select("doc_id").toDF.orderBy("doc_id"),
      // stop-filtered adjacency: on this base-form corpus the only tokens
      // stemming to (filter, queri) are 'filter' and 'query', so the
      // stemmed-stream adjacency reduces to adjacency of those two words
      // in the stop-removed token list
      oracle = """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(list_filter(
        |      regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> x <> ''),
        |      x -> x NOT IN ('a','an','and','are','as','at','be','but',
        |        'by','for','if','in','into','is','it','no','not','of',
        |        'on','or','such','that','the','their','then','there',
        |        'these','they','this','to','was','will','with')) AS t
        |  FROM documents)
        |SELECT doc_id FROM tk
        |WHERE len(list_filter(range(1, len(t) + 1), i ->
        |  i + 1 <= len(t) AND t[i] = 'filter' AND t[i + 1] = 'query'))
        |  > 0
        |ORDER BY doc_id""".stripMargin),

    // Atlas lucene.english analyzer: possessive strip + stop-word
    // removal + Porter stemming on BOTH sides — the query's inflected
    // terms ("filtering queries") reduce to the same index terms as the
    // documents' base forms ("filter", "query" — step1c folds query→
    // queri exactly like queries→queri), and the stop word "the"
    // contributes nothing (un-stopped it would match every doc)
    Q("q187_search_english_stemming", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$search" -> Map(
          "analyzer" -> "lucene.english",
          "compound" -> Map("filter" -> Seq(
            Map("text" -> Map("query" -> "the filtering queries",
              "path" -> "text")))))),
        Map("$project" -> Map("doc_id" -> 1))))
        .orderBy("doc_id"),
      // the corpus vocabulary is 31 fixed base-form words, so the Porter
      // stem-equivalence the engine computes reduces, ON THIS CORPUS, to
      // exact membership: the only vocabulary tokens stemming to the
      // analyzed query terms (filter, queri) are 'filter' and 'query';
      // the stop word 'the' is dropped by the analyzer (were it not,
      // every doc containing 'the' would match and this oracle would fail)
      oracle = """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> x <> '') AS t
        |  FROM documents)
        |SELECT doc_id FROM tk
        |WHERE list_contains(t, 'filter') OR list_contains(t, 'query')
        |ORDER BY doc_id""".stripMargin),

    // Atlas lucene.french analyzer: Snowball French stemming + stop
    // removal on BOTH sides over a deterministic French fixture column
    // (the corpus text is English, so the fixture derives three words
    // from doc_id — inflection groups exercise step-1 suffix chains
    // [majestueusement→majestu], undoubling [continuelle→continuel] and
    // er-verb endings; the stop word in the middle must vanish). Query
    // "la continuelle majestueusement" analyzes to [continuel, majestu];
    // OR-match semantics like q187
    Q("q197_search_french_stemming", run = (s, dir) => {
      val w1 = Seq("continuellement", "continuelle", "continuel",
        "chercher", "cherchez")
      val w2 = Seq("les", "et", "la", "de")
      val w3 = Seq("majestueux", "majestueuse", "traitement", "traiter",
        "nationale", "finissait")
      val df = tbl(s, dir, "documents").where(col("doc_id") < 400)
        .withColumn("ftext", concat_ws(" ",
          element_at(typedlit(w1), (col("doc_id") % 5 + 1).cast("int")),
          element_at(typedlit(w2),
            ((col("doc_id") / 5).cast("long") % 4 + 1).cast("int")),
          element_at(typedlit(w3),
            ((col("doc_id") / 20).cast("long") % 6 + 1).cast("int"))))
      graft.pipeline.PipelineCompiler.compile(Seq(
        Map("$search" -> Map(
          "analyzer" -> "lucene.french",
          "compound" -> Map("filter" -> Seq(
            Map("text" -> Map(
              "query" -> "la continuelle majestueusement",
              "path" -> "ftext")))))),
        Map("$project" -> Map("doc_id" -> 1))))(df)
        .orderBy("doc_id")
    },
    // the fixture derives its words from doc_id, so the oracle rebuilds
    // the same selection and the Snowball stem-equivalence the engine
    // computes reduces, ON THIS FIXTURE, to membership in the inflection
    // group whose stem matches an analyzed query term (continuel /
    // majestu); the stemmer behavior itself is pinned by unit specs on
    // published-algorithm pairs, and the stop word slot must never match
    oracle = """SELECT doc_id FROM documents
        |WHERE doc_id < 400 AND (
        |  (['continuellement','continuelle','continuel','chercher',
        |    'cherchez'])[(doc_id % 5) + 1]
        |    IN ('continuellement', 'continuelle', 'continuel')
        |  OR (['majestueux','majestueuse','traitement','traiter',
        |      'nationale','finissait'])[((doc_id // 20) % 6) + 1]
        |    IN ('majestueux', 'majestueuse'))
        |ORDER BY doc_id""".stripMargin),

    // $text $language "german": Snowball German stemming (with umlaut
    // folding in the postlude) + stop removal, phrase adjacency running
    // in the stop-removed stemmed stream — "mögliche kinder" matches
    // "möglichkeiten der kindern" because 'der' is unindexed and both
    // inflections stem to [moglich, kind]
    Q("q198_text_language_german", run = (s, dir) => {
      val g1 = Seq("möglichkeiten", "mögliche", "möglich", "laufen",
        "laufe")
      val g2 = Seq("der", "die", "und", "das")
      val g3 = Seq("kinder", "kindes", "kind", "bedürfnisse",
        "wanderung")
      val df = tbl(s, dir, "documents").where(col("doc_id") < 400)
        .withColumn("text", concat_ws(" ",
          element_at(typedlit(g1), (col("doc_id") % 5 + 1).cast("int")),
          element_at(typedlit(g2),
            ((col("doc_id") / 5).cast("long") % 4 + 1).cast("int")),
          element_at(typedlit(g3),
            ((col("doc_id") / 20).cast("long") % 5 + 1).cast("int"))))
      graft.pipeline.PipelineCompiler.compile(Seq(
        Map("$match" -> Map("$text" -> Map(
          "$search" -> "\"mögliche kinder\"",
          "$language" -> "german"))),
        Map("$project" -> Map("doc_id" -> 1))))(df)
        .orderBy("doc_id")
    },
    // phrase adjacency in the stop-removed stemmed stream: the middle
    // slot is always a stop word, so the phrase [moglich, kind] matches
    // exactly when slot 1 is in the möglich group AND slot 3 is in the
    // kind group
    oracle = """SELECT doc_id FROM documents
        |WHERE doc_id < 400 AND
        |  (['möglichkeiten','mögliche','möglich','laufen','laufe'])
        |    [(doc_id % 5) + 1]
        |    IN ('möglichkeiten', 'mögliche', 'möglich')
        |  AND (['kinder','kindes','kind','bedürfnisse','wanderung'])
        |    [((doc_id // 20) % 5) + 1]
        |    IN ('kinder', 'kindes', 'kind')
        |ORDER BY doc_id""".stripMargin),

    // Atlas $search searchAfter keyset pagination: page 1's last
    // {$meta: "searchSequenceToken"} (a base64 cursor encoding the
    // sort-key values) resumes page 2 strictly after that position —
    // no overlap, no gap. Sort is (BM25 score desc, doc_id asc): a
    // total order, so the cursor is exact even across score ties. The
    // single collected token is bounded driver state (one row)
    Q("q200_search_after_pagination", run = (s, dir) => {
      val sortSpec = Map("s" -> Map("$meta" -> "searchScore"),
        "doc_id" -> 1)
      def stages(after: Option[String]) = Seq(
        Map("$search" -> (Map(
          "text" -> Map("query" -> "stream filter", "path" -> "text"),
          "sort" -> sortSpec) ++
          after.map("searchAfter" -> _).toMap)),
        Map("$limit" -> 10),
        Map("$project" -> Map("doc_id" -> 1,
          "tok" -> Map("$meta" -> "searchSequenceToken"))))
      val c = coll(s, dir, "documents")
      val cursor = c.pipe(stages(None)).collect()
        .last.getAs[String]("tok")
      c.pipe(stages(Some(cursor))).select("doc_id")
    },
    // page 2 of the (bm25 desc, doc_id) ordering = rows 11-20: keyset
    // pagination must equal OFFSET pagination on a total order. Same
    // BM25 CTEs as q186; per-doc scores sum at most two terms, so the
    // double addition is order-exact in both engines
    oracle = """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tk),
        |hits AS (
        |  SELECT doc_id, dl, term, COUNT(*) AS tf FROM toks
        |  WHERE term IN ('stream', 'filter')
        |  GROUP BY doc_id, dl, term),
        |stats AS (
        |  SELECT COUNT(*) AS n_docs, avg(CAST(len(t) AS DOUBLE)) AS avgdl
        |  FROM tk),
        |dfreq AS (
        |  SELECT term, COUNT(*) AS df FROM hits GROUP BY term),
        |bm AS (
        |  SELECT doc_id,
        |    SUM(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2)
        |      / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) AS s
        |  FROM hits JOIN dfreq USING (term), stats GROUP BY doc_id)
        |SELECT doc_id FROM bm
        |ORDER BY s DESC, doc_id LIMIT 10 OFFSET 10""".stripMargin),

    // lucene.spanish $search: Snowball Spanish stemming — trabajador /
    // trabajando / trabaja all index as 'trabaj', generosamente's
    // amente chain reaches 'gener' (os follow-up in R2), and the stop
    // slot never matches
    Q("q202_search_spanish_stemming", run = (s, dir) => {
      val w1 = Seq("trabajando", "trabajadores", "trabaja", "canciones",
        "atenciones")
      val w2 = Seq("de", "la", "que", "el")
      val w3 = Seq("generosidad", "generoso", "lógica", "lógicamente",
        "comunicación", "niños")
      val df = tbl(s, dir, "documents").where(col("doc_id") < 400)
        .withColumn("stext", concat_ws(" ",
          element_at(typedlit(w1), (col("doc_id") % 5 + 1).cast("int")),
          element_at(typedlit(w2),
            ((col("doc_id") / 5).cast("long") % 4 + 1).cast("int")),
          element_at(typedlit(w3),
            ((col("doc_id") / 20).cast("long") % 6 + 1).cast("int"))))
      graft.pipeline.PipelineCompiler.compile(Seq(
        Map("$search" -> Map(
          "analyzer" -> "lucene.spanish",
          "compound" -> Map("filter" -> Seq(
            Map("text" -> Map(
              "query" -> "el trabajador generosamente",
              "path" -> "stext")))))),
        Map("$project" -> Map("doc_id" -> 1))))(df)
        .orderBy("doc_id")
    },
    // same honest-reduction pattern as q197: the fixture derives its
    // words from doc_id, so Snowball stem-equivalence reduces to
    // membership in the inflection group whose stem matches an analyzed
    // query term (trabaj / gener); the stemmer itself is pinned by unit
    // specs on published-algorithm pairs, and the stop slot must never
    // match
    oracle = """SELECT doc_id FROM documents
        |WHERE doc_id < 400 AND (
        |  (doc_id % 5) IN (0, 1, 2)
        |  OR ((doc_id // 20) % 6) IN (0, 1))
        |ORDER BY doc_id""".stripMargin),

    // $text $language "spanish"/"italian": q203 runs the Italian chain
    // with phrase adjacency in the stop-removed stemmed stream —
    // "nazionale possibilità" matches "nazionali della possibile"
    // because 'della' is unindexed and the inflections stem together
    // (while nazione stems to nazion ≠ nazional, the published split)
    Q("q203_text_language_italian", run = (s, dir) => {
      val g1 = Seq("nazionale", "nazionali", "nazione", "mangiare",
        "mangiando")
      val g2 = Seq("della", "dello", "delle", "degli")
      val g3 = Seq("possibilità", "possibile", "abbandonata", "crocchi",
        "fortunatamente")
      val df = tbl(s, dir, "documents").where(col("doc_id") < 400)
        .withColumn("text", concat_ws(" ",
          element_at(typedlit(g1), (col("doc_id") % 5 + 1).cast("int")),
          element_at(typedlit(g2),
            ((col("doc_id") / 5).cast("long") % 4 + 1).cast("int")),
          element_at(typedlit(g3),
            ((col("doc_id") / 20).cast("long") % 5 + 1).cast("int"))))
      graft.pipeline.PipelineCompiler.compile(Seq(
        Map("$match" -> Map("$text" -> Map(
          "$search" -> "\"nazionale possibilità\"",
          "$language" -> "italian"))),
        Map("$project" -> Map("doc_id" -> 1))))(df)
        .orderBy("doc_id")
    },
    // phrase adjacency in the stop-removed stemmed stream: the middle
    // slot is always a stop word, so the phrase [nazional, possibil]
    // matches exactly when slot 1 is in the nazionale group (nazione
    // stems to nazion — NOT a member, the published ale/e split) AND
    // slot 3 is in the possibilità group
    oracle = """SELECT doc_id FROM documents
        |WHERE doc_id < 400 AND
        |  (doc_id % 5) IN (0, 1)
        |  AND ((doc_id // 20) % 5) IN (0, 1)
        |ORDER BY doc_id""".stripMargin),

    // lucene.portuguese $search: Snowball Portuguese stemming —
    // trabalhando / trabalhadores / trabalha meet the query's
    // 'trabalhador', the cantar verb family (cantando / cantei) meets
    // 'cantar', and the stop slot never matches
    Q("q205_search_portuguese_stemming", run = (s, dir) => {
      val w1 = Seq("trabalhando", "trabalhadores", "trabalha",
        "logicamente", "amabilidade")
      val w2 = Seq("de", "para", "com", "não")
      val w3 = Seq("generoso", "cantando", "cantei", "chegue",
        "generosidade")
      val df = tbl(s, dir, "documents").where(col("doc_id") < 400)
        .withColumn("ptext", concat_ws(" ",
          element_at(typedlit(w1), (col("doc_id") % 5 + 1).cast("int")),
          element_at(typedlit(w2),
            ((col("doc_id") / 5).cast("long") % 4 + 1).cast("int")),
          element_at(typedlit(w3),
            ((col("doc_id") / 20).cast("long") % 5 + 1).cast("int"))))
      graft.pipeline.PipelineCompiler.compile(Seq(
        Map("$search" -> Map(
          "analyzer" -> "lucene.portuguese",
          "compound" -> Map("filter" -> Seq(
            Map("text" -> Map(
              "query" -> "o trabalhador cantar",
              "path" -> "ptext")))))),
        Map("$project" -> Map("doc_id" -> 1))))(df)
        .orderBy("doc_id")
    },
    // honest-reduction (the q197/q202 pattern): stem-equivalence
    // reduces ON THIS FIXTURE to inflection-group membership — the
    // trabalh group in slot 1, the cant verb family in slot 3; the
    // stemmer itself is pinned by unit specs
    oracle = """SELECT doc_id FROM documents
        |WHERE doc_id < 400 AND (
        |  (doc_id % 5) IN (0, 1, 2)
        |  OR ((doc_id // 20) % 5) IN (1, 2))
        |ORDER BY doc_id""".stripMargin),

    // lucene.dutch $search: Snowball Dutch stemming — lichamelijk /
    // lichamen / lichaam all index as 'licham' (the heden→heid→delete
    // chain plus the step-4 vowel undouble), gelukkige meets
    // 'gelukkig', and the stop slot never matches
    Q("q206_search_dutch_stemming", run = (s, dir) => {
      val w1 = Seq("lichamelijk", "lichamen", "lichaam", "boeken",
        "bakken")
      val w2 = Seq("de", "van", "het", "een")
      val w3 = Seq("gelukkige", "mogelijkheden", "bomen", "maan",
        "jongens")
      val df = tbl(s, dir, "documents").where(col("doc_id") < 400)
        .withColumn("ntext", concat_ws(" ",
          element_at(typedlit(w1), (col("doc_id") % 5 + 1).cast("int")),
          element_at(typedlit(w2),
            ((col("doc_id") / 5).cast("long") % 4 + 1).cast("int")),
          element_at(typedlit(w3),
            ((col("doc_id") / 20).cast("long") % 5 + 1).cast("int"))))
      graft.pipeline.PipelineCompiler.compile(Seq(
        Map("$search" -> Map(
          "analyzer" -> "lucene.dutch",
          "compound" -> Map("filter" -> Seq(
            Map("text" -> Map(
              "query" -> "de lichamelijkheden gelukkig",
              "path" -> "ntext")))))),
        Map("$project" -> Map("doc_id" -> 1))))(df)
        .orderBy("doc_id")
    },
    // honest-reduction: stem-equivalence reduces ON THIS FIXTURE to
    // inflection-group membership — the licham group in slot 1
    // (boeken/bakken stem elsewhere), the gelukk group in slot 3
    // (mogelijkheden → mogelijk, bomen → bom, maan → man, jongens →
    // jongen all miss); the stemmer itself is pinned by unit specs
    oracle = """SELECT doc_id FROM documents
        |WHERE doc_id < 400 AND (
        |  (doc_id % 5) IN (0, 1, 2)
        |  OR ((doc_id // 20) % 5) = 0)
        |ORDER BY doc_id""".stripMargin),

    // lucene.swedish $search: Snowball Swedish stemming — the flicka
    // plural family (orna/or/a) meets 'flicka', the möjlig het+lig
    // chain meets 'möjligheter' at 'möj', and the stop slot never
    // matches
    Q("q207_search_swedish_stemming", run = (s, dir) => {
      val w1 = Seq("flickorna", "flickor", "flicka", "bilarna",
        "tidning")
      val w2 = Seq("och", "att", "som", "när")
      val w3 = Seq("möjligheterna", "möjlighet", "tryckt", "upplöst",
        "generös")
      val df = tbl(s, dir, "documents").where(col("doc_id") < 400)
        .withColumn("svtext", concat_ws(" ",
          element_at(typedlit(w1), (col("doc_id") % 5 + 1).cast("int")),
          element_at(typedlit(w2),
            ((col("doc_id") / 5).cast("long") % 4 + 1).cast("int")),
          element_at(typedlit(w3),
            ((col("doc_id") / 20).cast("long") % 5 + 1).cast("int"))))
      graft.pipeline.PipelineCompiler.compile(Seq(
        Map("$search" -> Map(
          "analyzer" -> "lucene.swedish",
          "compound" -> Map("filter" -> Seq(
            Map("text" -> Map(
              "query" -> "och flicka möjligheter",
              "path" -> "svtext")))))),
        Map("$project" -> Map("doc_id" -> 1))))(df)
        .orderBy("doc_id")
    },
    // honest-reduction (the q197/q205 pattern): stem-equivalence
    // reduces ON THIS FIXTURE to inflection-group membership — the
    // flick group in slot 1 (bilarna → bil, tidning unstemmed), the
    // möj group in slot 3 (tryckt → tryck, upplöst → upplös,
    // generös unstemmed); the stemmer itself is pinned by unit specs
    oracle = """SELECT doc_id FROM documents
        |WHERE doc_id < 400 AND (
        |  (doc_id % 5) IN (0, 1, 2)
        |  OR ((doc_id // 20) % 5) IN (0, 1))
        |ORDER BY doc_id""".stripMargin),

    // $text $language da: Snowball Danish stemming through the $text
    // surface — the hund plural family meets 'hunde', the els chain
    // meets 'undersøgelser' at 'undersøg', the stop slot never matches
    Q("q208_text_language_danish", run = (s, dir) => {
      val w1 = Seq("hundene", "hunden", "hunde", "parallelle", "bakker")
      val w2 = Seq("og", "til", "men", "efter")
      val w3 = Seq("undersøgelsen", "undersøgelse", "venlig", "billige",
        "bord")
      val df = tbl(s, dir, "documents").where(col("doc_id") < 400)
        .withColumn("text", concat_ws(" ",
          element_at(typedlit(w1), (col("doc_id") % 5 + 1).cast("int")),
          element_at(typedlit(w2),
            ((col("doc_id") / 5).cast("long") % 4 + 1).cast("int")),
          element_at(typedlit(w3),
            ((col("doc_id") / 20).cast("long") % 5 + 1).cast("int"))))
      graft.pipeline.PipelineCompiler.compile(Seq(
        Map("$match" -> Map("$text" -> Map(
          "$search" -> "hunde og undersøgelser",
          "$language" -> "da"))),
        Map("$project" -> Map("doc_id" -> 1))))(df)
        .orderBy("doc_id")
    },
    // honest-reduction: the hund group in slot 1 (parallelle →
    // parallel, bakker → bakk), the undersøg group in slot 3
    // (venlig → ven, billige → bil, bord unstemmed)
    oracle = """SELECT doc_id FROM documents
        |WHERE doc_id < 400 AND (
        |  (doc_id % 5) IN (0, 1, 2)
        |  OR ((doc_id // 20) % 5) IN (0, 1))
        |ORDER BY doc_id""".stripMargin),

    // lucene.norwegian $search: Snowball Norwegian stemming — the hus
    // et/ene/ets family meets 'huset', erte→er meets 'vurdere' at
    // 'vurder', the stop slot never matches
    Q("q209_search_norwegian_stemming", run = (s, dir) => {
      val w1 = Seq("huset", "husene", "husets", "gutter", "bord")
      val w2 = Seq("og", "til", "er", "som")
      val w3 = Seq("vurderte", "vurdere", "naturlige", "kaster",
        "kastet")
      val df = tbl(s, dir, "documents").where(col("doc_id") < 400)
        .withColumn("notext", concat_ws(" ",
          element_at(typedlit(w1), (col("doc_id") % 5 + 1).cast("int")),
          element_at(typedlit(w2),
            ((col("doc_id") / 5).cast("long") % 4 + 1).cast("int")),
          element_at(typedlit(w3),
            ((col("doc_id") / 20).cast("long") % 5 + 1).cast("int"))))
      graft.pipeline.PipelineCompiler.compile(Seq(
        Map("$search" -> Map(
          "analyzer" -> "lucene.norwegian",
          "compound" -> Map("filter" -> Seq(
            Map("text" -> Map(
              "query" -> "og huset vurdere",
              "path" -> "notext")))))),
        Map("$project" -> Map("doc_id" -> 1))))(df)
        .orderBy("doc_id")
    },
    // honest-reduction: the hus group in slot 1 (gutter → gutt, bord
    // unstemmed), the vurder group in slot 3 (naturlige → natur,
    // kaster/kastet → kast)
    oracle = """SELECT doc_id FROM documents
        |WHERE doc_id < 400 AND (
        |  (doc_id % 5) IN (0, 1, 2)
        |  OR ((doc_id // 20) % 5) IN (0, 1))
        |ORDER BY doc_id""".stripMargin),

    // lucene.russian $search: Snowball Russian stemming — the first
    // non-Latin ALPHABETIC analysis chain (CJK covers the
    // no-word-separator case); бегать/бегала/бегали meet on one stem,
    // возможности/возможностями/возможностей likewise (noun ending +
    // derivational ость-in-R2), and the stop slot (и/в/не/на) never
    // matches — nor does the stop query term и
    Q("q212_search_russian_stemming", run = (s, dir) => {
      val w1 = Seq("бегала", "бегали", "книгами", "красивый", "бегать")
      val w2 = Seq("и", "в", "не", "на")
      val w3 = Seq("возможностями", "возможность", "книга",
        "странное", "возможностей")
      val df = tbl(s, dir, "documents").where(col("doc_id") < 400)
        .withColumn("rtext", concat_ws(" ",
          element_at(typedlit(w1), (col("doc_id") % 5 + 1).cast("int")),
          element_at(typedlit(w2),
            ((col("doc_id") / 5).cast("long") % 4 + 1).cast("int")),
          element_at(typedlit(w3),
            ((col("doc_id") / 20).cast("long") % 5 + 1).cast("int"))))
      graft.pipeline.PipelineCompiler.compile(Seq(
        Map("$search" -> Map(
          "analyzer" -> "lucene.russian",
          "compound" -> Map("filter" -> Seq(
            Map("text" -> Map(
              "query" -> "и бегать возможности",
              "path" -> "rtext")))))),
        Map("$project" -> Map("doc_id" -> 1))))(df)
        .orderBy("doc_id")
    },
    // honest-reduction (the q197/q205 pattern): Snowball Russian
    // stem-equivalence reduces ON THIS FIXTURE to membership in the
    // inflection groups whose stems match the analyzed query terms
    // (бега / возможн); the stemmer itself is pinned by unit specs on
    // published-algorithm pairs, the stop term (и) must never match
    oracle = """SELECT doc_id FROM documents
        |WHERE doc_id < 400 AND (
        |  (doc_id % 5) IN (0, 1, 4)
        |  OR ((doc_id // 20) % 5) IN (0, 1, 4))
        |ORDER BY doc_id""".stripMargin),

    // lucene.turkish $search: Snowball Turkish stemming pairs the
    // tailored tr collation with stemmed search (the last tailored
    // locale with a published algorithmic stemmer — pl needs the
    // dictionary-based Stempel). kitaplarım/kitaplar/kitabı meet on
    // one stem through possessive/plural/accusative+devoicing chains;
    // evdekiler/evde/evlerim meet through the -ki chain; the stop
    // slot (ve/bu/bir/ile) never matches — nor does the stop query
    // term ve
    Q("q222_search_turkish_stemming", run = (s, dir) => {
      val w1 = Seq("kitaplarım", "kitaplar", "arabam", "gelmiş",
        "kitabı")
      val w2 = Seq("ve", "bu", "bir", "ile")
      val w3 = Seq("evdekiler", "evde", "gözlerimde", "arabalar",
        "evlerim")
      val df = tbl(s, dir, "documents").where(col("doc_id") < 400)
        .withColumn("rtext", concat_ws(" ",
          element_at(typedlit(w1), (col("doc_id") % 5 + 1).cast("int")),
          element_at(typedlit(w2),
            ((col("doc_id") / 5).cast("long") % 4 + 1).cast("int")),
          element_at(typedlit(w3),
            ((col("doc_id") / 20).cast("long") % 5 + 1).cast("int"))))
      graft.pipeline.PipelineCompiler.compile(Seq(
        Map("$search" -> Map(
          "analyzer" -> "lucene.turkish",
          "compound" -> Map("filter" -> Seq(
            Map("text" -> Map(
              "query" -> "ve kitaplarımdan evdeki",
              "path" -> "rtext")))))),
        Map("$project" -> Map("doc_id" -> 1))))(df)
        .orderBy("doc_id")
    },
    // honest-reduction (the q212 pattern): Snowball Turkish
    // stem-equivalence reduces ON THIS FIXTURE to membership in the
    // inflection groups whose stems match the analyzed query terms
    // (kitap / ev); the stemmer itself is pinned by unit specs on
    // hand-verified inflection families, the stop term (ve) must
    // never match
    oracle = """SELECT doc_id FROM documents
        |WHERE doc_id < 400 AND (
        |  (doc_id % 5) IN (0, 1, 4)
        |  OR ((doc_id // 20) % 5) IN (0, 1, 4))
        |ORDER BY doc_id""".stripMargin),

    // lucene.czech $search: the published Dolamic & Savoy light
    // stemmer (Czech has no Snowball algorithm) — městech/města/město
    // meet on one stem through case endings, praze/prahy/praha through
    // the z→h palatalization normalization; the stop slot never
    // matches, nor does the stop query term a
    Q("q223_search_czech_stemming", run = (s, dir) => {
      val w1 = Seq("městech", "města", "pracovníci", "bratrova",
        "město")
      val w2 = Seq("a", "je", "na", "to")
      val w3 = Seq("praze", "prahy", "ženách", "bratrův", "praha")
      val df = tbl(s, dir, "documents").where(col("doc_id") < 400)
        .withColumn("rtext", concat_ws(" ",
          element_at(typedlit(w1), (col("doc_id") % 5 + 1).cast("int")),
          element_at(typedlit(w2),
            ((col("doc_id") / 5).cast("long") % 4 + 1).cast("int")),
          element_at(typedlit(w3),
            ((col("doc_id") / 20).cast("long") % 5 + 1).cast("int"))))
      graft.pipeline.PipelineCompiler.compile(Seq(
        Map("$search" -> Map(
          "analyzer" -> "lucene.czech",
          "compound" -> Map("filter" -> Seq(
            Map("text" -> Map(
              "query" -> "a městě praha",
              "path" -> "rtext")))))),
        Map("$project" -> Map("doc_id" -> 1))))(df)
        .orderBy("doc_id")
    },
    // honest-reduction (the q212/q222 pattern): stem-equivalence
    // reduces ON THIS FIXTURE to inflection-group membership (měst /
    // prah); the stemmer is pinned by unit specs on published pairs,
    // the stop term (a) must never match
    oracle = """SELECT doc_id FROM documents
        |WHERE doc_id < 400 AND (
        |  (doc_id % 5) IN (0, 1, 4)
        |  OR ((doc_id // 20) % 5) IN (0, 1, 4))
        |ORDER BY doc_id""".stripMargin),

    // lucene.cjk bigram analysis: CJK text has no word separators, so
    // the analyzer matches on overlapping character bigrams (Lucene
    // CJKAnalyzer's published algorithm) — "数据处理" analyzes to
    // [数据, 据处, 处理] and meets any document sharing a bigram, while
    // "机器学习" shares none; the non-CJK token in the same text field
    // tokenizes as an ordinary word through the same analyzer
    Q("q201_search_cjk_bigrams", run = (s, dir) => {
      val c1 = Seq("数据处理", "处理数据", "机器学习", "学习机器",
        "数据分析")
      val c2 = Seq("spark", "data", "query", "engine")
      val df = tbl(s, dir, "documents").where(col("doc_id") < 400)
        .withColumn("ctext", concat_ws(" ",
          element_at(typedlit(c1), (col("doc_id") % 5 + 1).cast("int")),
          element_at(typedlit(c2),
            ((col("doc_id") / 5).cast("long") % 4 + 1).cast("int"))))
      graft.pipeline.PipelineCompiler.compile(Seq(
        Map("$search" -> Map(
          "analyzer" -> "lucene.cjk",
          "compound" -> Map("filter" -> Seq(
            Map("text" -> Map(
              "query" -> "数据处理 engine",
              "path" -> "ctext")))))),
        Map("$project" -> Map("doc_id" -> 1))))(df)
        .orderBy("doc_id")
    },
    // the fixture derives its words from doc_id, so the oracle rebuilds
    // the same selection and bigram OVERLAP reduces, ON THIS FIXTURE,
    // to slot membership: of the five CJK slots only 数据处理 / 处理数据
    // / 数据分析 share a bigram with the query's [数据, 据处, 处理]
    // (机器学习 and 学习机器 share none — same characters reordered is
    // NOT enough, the bigrams differ), plus the English word slot
    // matching 'engine' through the same analyzer; the tokenizer itself
    // is pinned by unit specs
    oracle = """SELECT doc_id FROM documents
        |WHERE doc_id < 400 AND (
        |  (doc_id % 5) IN (0, 1, 4)
        |  OR ((doc_id // 5) % 4) = 3)
        |ORDER BY doc_id""".stripMargin),

    // Atlas $search scoreDetails: per-clause breakdown through
    // {$meta: "searchScoreDetails"} — flat {value, description} list of
    // the scoring clauses with the total on the top struct (documented
    // simplification of Lucene's explain tree); exploded to rows for
    // the oracle
    Q("q186_search_score_details", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$search" -> Map(
          "scoreDetails" -> true,
          "compound" -> Map(
            "must" -> Seq(Map("text" ->
              Map("query" -> "stream filter", "path" -> "text"))),
            "should" -> Seq(Map("phrase" ->
              Map("query" -> "hash join", "path" -> "text")))))),
        Map("$project" -> Map("doc_id" -> 1,
          "sd" -> Map("$meta" -> "searchScoreDetails")))))
        .select(col("doc_id"),
          col("sd.value").cast("decimal(18,9)").cast("double")
            .as("total"),
          explode(col("sd.details")).as("leg"))
        .select(col("doc_id"), col("total"),
          col("leg.description").as("leg_desc"),
          col("leg.value").cast("decimal(18,9)").cast("double")
            .as("leg_value"))
        .orderBy("doc_id", "leg_desc"),
      oracle = """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tk),
        |hits AS (
        |  SELECT doc_id, dl, term, COUNT(*) AS tf FROM toks
        |  WHERE term IN ('stream', 'filter')
        |  GROUP BY doc_id, dl, term),
        |stats AS (
        |  SELECT COUNT(*) AS n_docs, avg(CAST(len(t) AS DOUBLE)) AS avgdl
        |  FROM tk),
        |dfreq AS (
        |  SELECT term, COUNT(*) AS df FROM hits GROUP BY term),
        |bm AS (
        |  SELECT doc_id,
        |    SUM(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2)
        |      / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) AS bm25
        |  FROM hits JOIN dfreq USING (term), stats GROUP BY doc_id),
        |ph AS (
        |  SELECT doc_id, CAST(len(list_filter(range(1, len(t)), i ->
        |    t[i] = 'hash' AND t[i + 1] = 'join')) AS DOUBLE) AS occ
        |  FROM tk),
        |m AS (
        |  SELECT b.doc_id, b.bm25, COALESCE(p.occ, 0) AS occ
        |  FROM bm b JOIN ph p USING (doc_id)),
        |legs AS (
        |  SELECT doc_id, bm25 + occ AS total,
        |    'must.text' AS leg_desc, bm25 AS lv FROM m
        |  UNION ALL
        |  SELECT doc_id, bm25 + occ, 'should.phrase', occ FROM m)
        |SELECT doc_id,
        |  CAST(CAST(total AS DECIMAL(18,9)) AS DOUBLE) AS total,
        |  leg_desc,
        |  CAST(CAST(lv AS DECIMAL(18,9)) AS DOUBLE) AS leg_value
        |FROM legs ORDER BY doc_id, leg_desc""".stripMargin),

    // Atlas autocomplete fuzzy: "strae" — one edit off the "strea"
    // prefix — still completes to stream/streaming; prefixLength 2 pins
    // the first two characters exact. Some prefix of the token within
    // maxEdits gram lengths must be within edit distance 1 of the term.
    Q("q188_autocomplete_fuzzy", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$search" -> Map("autocomplete" ->
          Map("query" -> "strae", "path" -> "text",
            "fuzzy" -> Map("maxEdits" -> 1, "prefixLength" -> 2)))),
        Map("$project" -> Map("doc_id" -> 1))))
        .orderBy("doc_id"),
      // same predicate in DuckDB terms: token starts with the pinned 'st'
      // and one of its prefixes of length 4/5/6 (term length 5 ± 1) is
      // within levenshtein distance 1 of 'strae'
      oracle = """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents)
        |SELECT doc_id FROM tk
        |WHERE len(list_filter(t, x -> x[1:2] = 'st'
        |  AND (levenshtein(x[1:4], 'strae') <= 1
        |    OR levenshtein(x[1:5], 'strae') <= 1
        |    OR levenshtein(x[1:6], 'strae') <= 1))) > 0
        |ORDER BY doc_id""".stripMargin),

    // Atlas autocomplete tokenOrder: multi-token query, each analyzed
    // term a PREFIX of document tokens (edgeGram reading) — "sequential"
    // requires the prefixed tokens adjacent and in order; compared
    // against the "any" form on count via the oracle
    Q("q185_autocomplete_seq", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$search" -> Map("autocomplete" ->
          Map("query" -> "strea filte", "path" -> "text",
            "tokenOrder" -> "sequential"))),
        Map("$project" -> Map("doc_id" -> 1))))
        .orderBy("doc_id"),
      oracle = """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents)
        |SELECT doc_id FROM tk
        |WHERE len(list_filter(range(1, len(t) + 1), i ->
        |  i + 1 <= len(t) AND starts_with(t[i], 'strea')
        |  AND starts_with(t[i + 1], 'filte'))) > 0
        |ORDER BY doc_id""".stripMargin),

    // Atlas text.matchCriteria "all": every analyzed term must be
    // present (the default "any" ORs them); scoring is the same BM25 sum
    Q("q184_text_matchall", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$search" -> Map("text" ->
          Map("query" -> "stream filter", "path" -> "text",
            "matchCriteria" -> "all"))),
        Map("$project" -> Map("doc_id" -> 1,
          "score" -> Map("$meta" -> "searchScore")))))
        .select(col("doc_id"),
          col("score").cast("decimal(18,9)").cast("double").as("score"))
        .orderBy(desc("score"), asc("doc_id")).limit(20),
      oracle = """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tk),
        |hits AS (
        |  SELECT doc_id, dl, term, COUNT(*) AS tf FROM toks
        |  WHERE term IN ('stream', 'filter')
        |  GROUP BY doc_id, dl, term),
        |stats AS (
        |  SELECT COUNT(*) AS n_docs, avg(CAST(len(t) AS DOUBLE)) AS avgdl
        |  FROM tk),
        |dfreq AS (
        |  SELECT term, COUNT(*) AS df FROM hits GROUP BY term),
        |sc AS (
        |  SELECT doc_id, COUNT(*) AS nterms,
        |    SUM(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2)
        |      / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) AS score
        |  FROM hits JOIN dfreq USING (term), stats GROUP BY doc_id)
        |SELECT doc_id, CAST(CAST(score AS DECIMAL(18,9)) AS DOUBLE)
        |  AS score
        |FROM sc WHERE nterms = 2
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),

    // Multi-field paths: phrase occurrences SUM across a path array, and
    // near scores each field of its path array and sums (Atlas
    // multi-field clause reading) — all scan-fused scalar/array math
    Q("q182_search_multipath", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$search" -> Map("compound" -> Map(
          "must" -> Seq(Map("phrase" -> Map(
            "query" -> "stream", "path" -> Seq("text", "source")))),
          "should" -> Seq(Map("near" -> Map(
            "path" -> Seq("n_chars", "doc_id"),
            "origin" -> 300, "pivot" -> 100)))))),
        Map("$project" -> Map("doc_id" -> 1,
          "score" -> Map("$meta" -> "searchScore")))))
        .select(col("doc_id"),
          col("score").cast("decimal(18,9)").cast("double").as("score"))
        .orderBy("doc_id"),
      oracle = """WITH tk AS (
        |  SELECT doc_id, n_chars, source,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(t, x -> x = 'stream'))
        |      + CASE WHEN source = 'stream' THEN 1 ELSE 0 END AS DOUBLE)
        |    + (100.0/(100.0 + abs(n_chars - 300))
        |      + 100.0/(100.0 + abs(doc_id - 300))) AS score,
        |    len(list_filter(t, x -> x = 'stream'))
        |      + CASE WHEN source = 'stream' THEN 1 ELSE 0 END AS occ
        |  FROM tk)
        |SELECT doc_id, CAST(CAST(score AS DECIMAL(18,9)) AS DOUBLE)
        |  AS score
        |FROM sc WHERE occ > 0 ORDER BY doc_id""".stripMargin),

    // $search analyzer selection: stage-level lucene.standard (lowercase
    // + punctuation split — the uppercase query analyzes to the stored
    // terms) plus a per-leg lucene.keyword multi path (whole-field exact
    // match on lang)
    Q("q181_search_analyzer", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$search" -> Map(
          "analyzer" -> "lucene.standard",
          "compound" -> Map("filter" -> Seq(
            Map("text" -> Map("query" -> "STREAM Filter",
              "path" -> "text")),
            Map("text" -> Map("query" -> "en",
              "path" -> Map("value" -> "lang",
                "multi" -> "lucene.keyword"))))))),
        Map("$project" -> Map("doc_id" -> 1))))
        .orderBy("doc_id"),
      oracle = """WITH tk AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
        |  FROM documents)
        |SELECT doc_id FROM tk
        |WHERE (list_contains(t, 'stream') OR list_contains(t, 'filter'))
        |  AND lang = 'en'
        |ORDER BY doc_id""".stripMargin),

    // $search text with an Atlas synonyms mapping collection: the query
    // term expands to its equivalent class, BM25 scores the class as one
    // term — the mapping is a bounded dimension table collected once
    Q("q176_search_synonyms", run = (s, dir) => {
      import s.implicits._
      val syn = Seq(Tuple1(Seq("merge", "join"))).toDF("synonyms")
      graft.pipeline.PipelineCompiler.compile(Seq(
        Map("$search" -> Map("text" -> Map(
          "query" -> "merge stream", "path" -> "text",
          "synonyms" -> "syn"))),
        Map("$project" -> Map("doc_id" -> 1,
          "score" -> Map("$meta" -> "searchScore")))),
        tables = { case "syn" => syn
                   case other => tbl(s, dir, other) })(
        tbl(s, dir, "documents"))
        .select(col("doc_id"),
          col("score").cast("decimal(18,9)").cast("double").as("score"))
        .orderBy(desc("score"), asc("doc_id")).limit(30)
    }, oracle = """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tk),
        |hits AS (
        |  SELECT doc_id, dl,
        |    CASE WHEN term IN ('merge', 'join') THEN 'merge'
        |         WHEN term = 'stream' THEN 'stream' END AS qterm,
        |    COUNT(*) AS tf
        |  FROM toks
        |  WHERE term IN ('merge', 'join', 'stream')
        |  GROUP BY doc_id, dl, qterm),
        |stats AS (
        |  SELECT COUNT(*) AS n_docs, avg(CAST(len(t) AS DOUBLE)) AS avgdl
        |  FROM tk),
        |dfreq AS (
        |  SELECT qterm, COUNT(*) AS df FROM hits GROUP BY qterm),
        |sc AS (
        |  SELECT doc_id,
        |    SUM(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2)
        |      / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) AS score
        |  FROM hits JOIN dfreq USING (qterm), stats GROUP BY doc_id)
        |SELECT doc_id, CAST(CAST(score AS DECIMAL(18,9)) AS DOUBLE) AS score
        |FROM sc ORDER BY score DESC, doc_id LIMIT 30""".stripMargin),

    // $search count option: match-count metadata carried to later stages
    // through $$SEARCH_META.count.total (one broadcast count row)
    Q("q171_search_count", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$search" -> Map(
          "text" -> Map("query" -> "vector", "path" -> "text"),
          "count" -> Map("type" -> "total"))),
        Map("$project" -> Map("doc_id" -> 1,
          "total" -> "$$SEARCH_META.count.total"))))
        .select(col("doc_id"), col("total"))
        .orderBy("doc_id"),
      oracle = """WITH m AS (SELECT doc_id FROM documents
        |  WHERE list_contains(list_filter(string_split(text, ' '),
        |    x -> x <> ''), 'vector'))
        |SELECT doc_id, (SELECT COUNT(*) FROM m) AS total
        |FROM m ORDER BY doc_id""".stripMargin),

    // $search highlight option: per-hit passages (pre/hit/post token
    // windows) through {$meta: "searchHighlights"}, declared as exploded
    // scalar legs for the driver comparator
    Q("q170_search_highlight", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$search" -> Map(
          "text" -> Map("query" -> "stream filter", "path" -> "text"),
          "highlight" -> Map("path" -> "text", "maxNumPassages" -> 3))),
        Map("$match" -> Map("doc_id" -> Map("$lt" -> 120))),
        Map("$project" -> Map("doc_id" -> 1,
          "hl" -> Map("$meta" -> "searchHighlights")))))
        .select(col("doc_id"), posexplode(col("hl")).as(Seq("pos", "p")))
        .select(col("doc_id"), col("pos"),
          col("p.texts")(0)("value").as("pre"),
          col("p.texts")(1)("value").as("hit"),
          col("p.texts")(2)("value").as("post"))
        .orderBy("doc_id", "pos"),
      oracle = """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents WHERE doc_id < 120),
        |hit AS (SELECT doc_id, i, t
        |  FROM tk, UNNEST(range(1, len(t) + 1)) u(i)
        |  WHERE t[i] IN ('stream', 'filter')),
        |rk AS (SELECT doc_id, i, t,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS pos
        |  FROM hit)
        |SELECT doc_id, CAST(pos AS INT) AS pos,
        |  COALESCE(array_to_string(t[greatest(i-2, 1) : i-1], ' '), '')
        |    AS pre,
        |  t[i] AS hit,
        |  COALESCE(array_to_string(t[i+1 : least(i+2, len(t))], ' '), '')
        |    AS post
        |FROM rk WHERE pos < 3
        |ORDER BY doc_id, pos""".stripMargin),

    // PCA-accelerated ANN: coarse candidates by projected-space L2 +
    // exact cosine re-rank. Full-basis configuration (a rotation) makes
    // the coarse order exactly plain-L2 order, so the whole two-stage
    // plan is oracle-checkable in SQL; the truncated configuration is
    // spec-covered (recall vs brute force).
    Q("q165_ann_pca", run = (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      graft.ops.Pca.pcaTopK(emb, emb.where(col("vec_id") < 5), "vec_id",
          "embedding", k = 10, nComponents = 64, overfetch = 4)
        .orderBy("query_id", "rank")
    }, oracle = s"""WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
         |p AS (
         |  SELECT q.vec_id AS ia, c.vec_id AS ib, q.embedding AS ea, c.embedding AS eb
         |  FROM q, embeddings c WHERE c.vec_id <> q.vec_id),
         |d AS (SELECT ia, ib,
         |  SUM(CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS dot,
         |  SUM(CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE)) AS na,
         |  SUM(CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS nb,
         |  SUM((CAST(ea[i] AS DOUBLE) - CAST(eb[i] AS DOUBLE))
         |    * (CAST(ea[i] AS DOUBLE) - CAST(eb[i] AS DOUBLE))) AS d2
         |  FROM p, UNNEST(range(1, len(ea)+1)) AS u(i)
         |  GROUP BY ia, ib),
         |coarse AS (SELECT *, row_number() OVER (
         |    PARTITION BY ia ORDER BY d2 ASC, ib ASC) AS cr FROM d),
         |rr AS (SELECT ia AS query_id, ib AS neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY ia
         |      ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, ib ASC) AS INT)
         |      AS rank
         |  FROM coarse WHERE cr <= 40)
         |SELECT query_id, neighbor_id, rank FROM rr WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin),

    // $search geo legs: geoWithin box filter + geoShape within (diamond
    // polygon, closed-form containment in the oracle) + boosted geoWithin
    // circle should-leg (haversine radius) — all scan-fused literal
    // geometry, no join anywhere
    Q("q162_search_geo", run = (s, dir) =>
      coll(s, dir, "embeddings").pipe(Seq(
        Map("$addFields" -> Map("pt" -> Seq(
          Map("$arrayElemAt" -> Seq("$embedding", 0)),
          Map("$arrayElemAt" -> Seq("$embedding", 1))))),
        Map("$search" -> Map("compound" -> Map(
          "filter" -> Seq(Map("geoWithin" -> Map(
            "path" -> "pt",
            "box" -> Map(
              "bottomLeft" -> Map("type" -> "Point",
                "coordinates" -> Seq(-0.5, -0.5)),
              "topRight" -> Map("type" -> "Point",
                "coordinates" -> Seq(0.5, 0.5)))))),
          "must" -> Seq(Map("geoShape" -> Map(
            "path" -> "pt",
            "relation" -> "within",
            "geometry" -> Map("type" -> "Polygon",
              "coordinates" -> Seq(Seq(
                Seq(0.4, 0.0), Seq(0.0, 0.4), Seq(-0.4, 0.0),
                Seq(0.0, -0.4), Seq(0.4, 0.0))))))),
          "should" -> Seq(Map("geoWithin" -> Map(
            "path" -> "pt",
            "circle" -> Map(
              "center" -> Map("type" -> "Point",
                "coordinates" -> Seq(0.0, 0.2)),
              "radius" -> 30000),
            "score" -> Map("boost" -> Map("value" -> 5.0)))))))),
        Map("$project" -> Map("vec_id" -> 1,
          "score" -> Map("$meta" -> "searchScore")))))
        .select(col("vec_id"), col("score").cast("double").as("score"))
        .orderBy("vec_id"),
      oracle = """WITH p AS (
        |  SELECT vec_id,
        |    CAST(embedding[1] AS DOUBLE) AS x,
        |    CAST(embedding[2] AS DOUBLE) AS y
        |  FROM embeddings),
        |h AS (
        |  SELECT vec_id, x, y,
        |    2 * 6371008.8 * asin(sqrt(
        |      pow(sin(radians(y - 0.2) * 0.5), 2) +
        |      cos(radians(0.2)) * cos(radians(y)) *
        |      pow(sin(radians(x - 0.0) * 0.5), 2))) AS hav
        |  FROM p)
        |SELECT vec_id,
        |  CAST(1.0 + CASE WHEN hav <= 30000 THEN 5.0 ELSE 0.0 END
        |    AS DOUBLE) AS score
        |FROM h
        |WHERE x >= -0.5 AND x <= 0.5 AND y >= -0.5 AND y <= 0.5
        |  AND abs(x) + abs(y) <= 0.4
        |ORDER BY vec_id""".stripMargin),

    // $search regex (anchored Lucene regex over analyzed terms, must leg)
    // + near (proximity scoring should leg: pivot/(pivot+|x-origin|))
    Q("q156_search_regex_near", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$search" -> Map("compound" -> Map(
          "must" -> Seq(Map("regex" ->
            Map("query" -> "qu.r[yi]", "path" -> "text"))),
          "should" -> Seq(Map("near" -> Map("path" -> "n_chars",
            "origin" -> 300, "pivot" -> 100)))))),
        Map("$project" -> Map("doc_id" -> 1,
          "score" -> Map("$meta" -> "searchScore")))))
        .select(col("doc_id"),
          col("score").cast("decimal(18,9)").cast("double").as("score"))
        .orderBy("doc_id"),
      oracle = """WITH tk AS (SELECT doc_id, n_chars,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(CAST(1.0 + 100.0 / (100.0
        |    + abs(CAST(n_chars AS DOUBLE) - 300.0))
        |    AS DECIMAL(18,9)) AS DOUBLE) AS score
        |FROM tk
        |WHERE len(list_filter(t,
        |  x -> regexp_full_match(x, 'qu.r[yi]'))) > 0
        |ORDER BY doc_id""".stripMargin),

    // $search text with the fuzzy option: a token hits a term within
    // maxEdits levenshtein distance; BM25 over fuzzy tf/df
    Q("q157_search_fuzzy", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$search" -> Map("text" -> Map(
          "query" -> "stream filtr", "path" -> "text",
          "fuzzy" -> Map("maxEdits" -> 1)))),
        Map("$project" -> Map("doc_id" -> 1,
          "score" -> Map("$meta" -> "searchScore")))))
        .select(col("doc_id"),
          col("score").cast("decimal(18,9)").cast("double").as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(20),
      oracle = """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
        |    avg(CAST(len(t) AS DOUBLE)) AS avgdl FROM tk),
        |h AS (
        |  SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl, 'stream' AS term,
        |    CAST(len(list_filter(t,
        |      x -> levenshtein(x, 'stream') <= 1)) AS DOUBLE) AS tf
        |  FROM tk
        |  UNION ALL
        |  SELECT doc_id, CAST(len(t) AS DOUBLE), 'filtr',
        |    CAST(len(list_filter(t,
        |      x -> levenshtein(x, 'filtr') <= 1)) AS DOUBLE)
        |  FROM tk),
        |dfreq AS (SELECT term,
        |    CAST(COUNT(*) FILTER (WHERE tf > 0) AS DOUBLE) AS df
        |  FROM h GROUP BY term),
        |sc AS (SELECT doc_id,
        |    SUM(CASE WHEN tf > 0
        |      THEN ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2)
        |        / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
        |      ELSE 0.0 END) AS score
        |  FROM h JOIN dfreq USING (term), stats GROUP BY doc_id)
        |SELECT doc_id, CAST(CAST(score AS DECIMAL(18,9)) AS DOUBLE) AS score
        |FROM sc WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),

    // $rankFusion scoreDetails: true — per-pipeline {pipeline, rank,
    // weight, value} breakdown on the scoreDetails meta carrier,
    // flattened to scalar rows for the comparator
    Q("q154_rankfusion_details", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$rankFusion" -> Map(
          "key" -> "doc_id",
          "input" -> Map("pipelines" -> Map(
            "len" -> Seq(
              Map("$sort" -> Map("n_chars" -> -1, "doc_id" -> 1)),
              Map("$limit" -> 8)),
            "id" -> Seq(
              Map("$sort" -> Map("doc_id" -> 1)),
              Map("$limit" -> 8)))),
          "combination" -> Map("weights" -> Map("len" -> 2.0)),
          "scoreDetails" -> true)),
        Map("$project" -> Map("doc_id" -> 1,
          "score" -> Map("$meta" -> "searchScore"),
          "details" -> Map("$meta" -> "scoreDetails")))))
        .select(col("doc_id"),
          col("score").cast("decimal(18,9)").cast("double").as("score"),
          explode(col("details")).as("d"))
        .select(col("doc_id"), col("score"),
          col("d.pipeline").as("pipeline"), col("d.rank").as("rank"),
          col("d.weight").as("weight"),
          col("d.value").cast("decimal(18,9)").cast("double").as("value"))
        .orderBy("doc_id", "pipeline"),
      oracle = """WITH l AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r
        |  FROM documents QUALIFY r <= 8),
        |i AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS r
        |  FROM documents QUALIFY r <= 8),
        |c AS (SELECT doc_id, 'len' AS pipeline, r, 2.0 AS weight FROM l
        |  UNION ALL
        |  SELECT doc_id, 'id' AS pipeline, r, 1.0 AS weight FROM i),
        |sc AS (SELECT doc_id,
        |    CAST(SUM(CAST(weight / (60 + r) AS DECIMAL(28,12)))
        |      AS DOUBLE) AS score
        |  FROM c GROUP BY 1)
        |SELECT c.doc_id,
        |  CAST(CAST(sc.score AS DECIMAL(18,9)) AS DOUBLE) AS score,
        |  c.pipeline, CAST(c.r AS BIGINT) AS "rank", c.weight,
        |  CAST(CAST(c.weight / (60 + c.r) AS DECIMAL(18,9)) AS DOUBLE)
        |    AS value
        |FROM c JOIN sc USING (doc_id)
        |ORDER BY doc_id, pipeline""".stripMargin),

    // $scoreFusion scoreDetails over $score-bearing sub-pipelines:
    // {pipeline, rawScore, weight, value} per contribution
    Q("q155_scorefusion_details", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$scoreFusion" -> Map(
          "key" -> "doc_id",
          "input" -> Map(
            "normalization" -> "none",
            "pipelines" -> Map(
              "chars" -> Seq(
                Map("$score" -> Map("score" -> "$n_chars",
                  "normalization" -> "minMaxScaler")),
                Map("$sort" -> Map("s" -> Map("$meta" -> "score"),
                  "doc_id" -> 1)),
                Map("$limit" -> 8)),
              "early" -> Seq(
                Map("$score" -> Map(
                  "score" -> Map("$multiply" -> Seq("$doc_id", -1.0)),
                  "normalization" -> "minMaxScaler")),
                Map("$sort" -> Map("s" -> Map("$meta" -> "score"),
                  "doc_id" -> 1)),
                Map("$limit" -> 8)))),
          "combination" -> Map("method" -> "sum",
            "weights" -> Map("chars" -> 3.0)),
          "scoreDetails" -> true)),
        Map("$project" -> Map("doc_id" -> 1,
          "score" -> Map("$meta" -> "searchScore"),
          "details" -> Map("$meta" -> "scoreDetails")))))
        .select(col("doc_id"),
          col("score").cast("decimal(18,9)").cast("double").as("score"),
          explode(col("details")).as("d"))
        .select(col("doc_id"), col("score"),
          col("d.pipeline").as("pipeline"),
          col("d.rawScore").cast("decimal(18,9)").cast("double")
            .as("raw_score"),
          col("d.weight").as("weight"),
          col("d.value").cast("decimal(18,9)").cast("double").as("value"))
        .orderBy("doc_id", "pipeline"),
      oracle = """WITH s1 AS (SELECT doc_id,
        |    CASE WHEN max(CAST(n_chars AS DOUBLE)) OVER ()
        |        = min(CAST(n_chars AS DOUBLE)) OVER () THEN 0.0
        |      ELSE (CAST(n_chars AS DOUBLE)
        |        - min(CAST(n_chars AS DOUBLE)) OVER ())
        |      / (max(CAST(n_chars AS DOUBLE)) OVER ()
        |        - min(CAST(n_chars AS DOUBLE)) OVER ()) END AS sc
        |  FROM documents),
        |p1 AS (SELECT doc_id, sc,
        |    row_number() OVER (ORDER BY sc DESC, doc_id) AS rn
        |  FROM s1 QUALIFY rn <= 8),
        |s2 AS (SELECT doc_id,
        |    CASE WHEN max(CAST(doc_id AS DOUBLE) * (-1.0)) OVER ()
        |        = min(CAST(doc_id AS DOUBLE) * (-1.0)) OVER () THEN 0.0
        |      ELSE (CAST(doc_id AS DOUBLE) * (-1.0)
        |        - min(CAST(doc_id AS DOUBLE) * (-1.0)) OVER ())
        |      / (max(CAST(doc_id AS DOUBLE) * (-1.0)) OVER ()
        |        - min(CAST(doc_id AS DOUBLE) * (-1.0)) OVER ()) END AS sc
        |  FROM documents),
        |p2 AS (SELECT doc_id, sc,
        |    row_number() OVER (ORDER BY sc DESC, doc_id) AS rn
        |  FROM s2 QUALIFY rn <= 8),
        |c AS (SELECT doc_id, 'chars' AS pipeline, sc AS raw,
        |    3.0 AS weight FROM p1
        |  UNION ALL
        |  SELECT doc_id, 'early' AS pipeline, sc, 1.0 AS weight FROM p2),
        |f AS (SELECT doc_id,
        |    CAST(SUM(CAST(raw * weight AS DECIMAL(28,12))) AS DOUBLE)
        |      AS score
        |  FROM c GROUP BY 1)
        |SELECT c.doc_id,
        |  CAST(CAST(f.score AS DECIMAL(18,9)) AS DOUBLE) AS score,
        |  c.pipeline,
        |  CAST(CAST(c.raw AS DECIMAL(18,9)) AS DOUBLE) AS raw_score,
        |  c.weight,
        |  CAST(CAST(c.raw * c.weight AS DECIMAL(18,9)) AS DOUBLE) AS value
        |FROM c JOIN f USING (doc_id)
        |ORDER BY doc_id, pipeline""".stripMargin),

    // Mongo 8.1 $score stage: expression-valued score meta with
    // minMaxScaler normalization over the current result set (1-row
    // min/max broadcast) and a weight — read back via {$meta: "score"}
    Q("q152_score_stage", run = (s, dir) =>
      coll(s, dir, "orders").pipe(Seq(
        Map("$match" -> Map("o_orderkey" -> Map("$lte" -> 2000))),
        Map("$score" -> Map(
          "score" -> Map("$divide" -> Seq("$o_totalprice", 1000.0)),
          "normalization" -> "minMaxScaler",
          "weight" -> 0.8)),
        Map("$project" -> Map("o_orderkey" -> 1,
          "sc" -> Map("$meta" -> "score")))))
        .select(col("o_orderkey"),
          col("sc").cast("decimal(18,9)").cast("double").as("sc"))
        .orderBy("o_orderkey"),
      oracle = """WITH w AS (SELECT o_orderkey, o_totalprice / 1000.0 AS r
        |  FROM orders WHERE o_orderkey <= 2000),
        |m AS (SELECT min(r) AS mn, max(r) AS mx FROM w)
        |SELECT o_orderkey,
        |  CAST(CAST((CASE WHEN mx = mn THEN 0.0
        |    ELSE (r - mn) / (mx - mn) END) * 0.8
        |    AS DECIMAL(18,9)) AS DOUBLE) AS sc
        |FROM w, m ORDER BY o_orderkey""".stripMargin),

    // $search wildcard + autocomplete as compound should-legs with
    // minimumShouldMatch — constant-scored term-expansion operators
    Q("q140_search_wildcard_auto", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$search" -> Map("compound" -> Map(
          "minimumShouldMatch" -> 1,
          "should" -> Seq(
            Map("wildcard" ->
              Map("query" -> "*vector scan*", "path" -> "text")),
            Map("autocomplete" ->
              Map("query" -> "custom", "path" -> "text")))))),
        Map("$project" -> Map("doc_id" -> 1,
          "score" -> Map("$meta" -> "searchScore")))))
        .select(col("doc_id"), col("score").cast("double").as("score"))
        .orderBy("doc_id"),
      oracle = """SELECT doc_id, CAST(
        |    (CASE WHEN contains(text, 'vector scan') THEN 1.0 ELSE 0 END)
        |  + (CASE WHEN len(list_filter(string_split(text, ' '),
        |        x -> x LIKE 'custom%')) > 0 THEN 1.0 ELSE 0 END)
        |  AS DOUBLE) AS score
        |FROM documents
        |WHERE contains(text, 'vector scan')
        |   OR len(list_filter(string_split(text, ' '),
        |        x -> x LIKE 'custom%')) > 0
        |ORDER BY doc_id""".stripMargin),

    // binary (1-bit) quantized ANN: sign-bit signatures, hamming
    // shortlist of 40, exact-cosine rescoring to top-10 — the
    // auto-quantization flow of a production vector index (word-sized
    // integer ops per candidate, float math only on the shortlist)
    Q("q191_ann_binary", run = (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.binaryAnnTopK(e, e.where(col("vec_id") < 8), "vec_id",
        "embedding", k = 10, shortlist = 40)
        .orderBy("query_id", "rank")
    },
    // the oracle recomputes the 32-bit-word sign packing, hamming
    // shortlist, and cosine rescoring bit-for-bit (weights stay off the
    // sign bit precisely so this SQL is expressible)
    oracle = s"""WITH sig AS (
         |  SELECT vec_id, embedding,
         |    list_transform(range(0, 2), w ->
         |      list_reduce(list_transform(range(1, 33), j ->
         |        CASE WHEN embedding[w * 32 + j] > 0
         |          THEN CAST(1 AS BIGINT) << (j - 1)
         |          ELSE CAST(0 AS BIGINT) END),
         |        (a, b) -> a | b)) AS s
         |  FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qe, s AS qs
         |  FROM sig WHERE vec_id < 8),
         |h AS (
         |  SELECT qid, c.vec_id AS nid, c.embedding AS ce, qe,
         |    bit_count(xor(c.s[1], qs[1])) + bit_count(xor(c.s[2], qs[2]))
         |      AS ham
         |  FROM sig c, q WHERE c.vec_id <> qid),
         |short AS (
         |  SELECT qid, nid, ce, qe FROM (
         |    SELECT qid, nid, ce, qe,
         |      row_number() OVER (PARTITION BY qid ORDER BY ham, nid)
         |        AS hr FROM h)
         |  WHERE hr <= 40),
         |p AS (
         |  SELECT qid AS ia, nid AS ib, qe AS ea, ce AS eb FROM short),
         |${cosineCtes("p")},
         |r AS (
         |  SELECT ia AS query_id, ib AS neighbor_id,
         |    CAST(row_number() OVER (
         |      PARTITION BY ia
         |      ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, ib) AS INT)
         |      AS rank
         |  FROM d)
         |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin),

    // exact brute-force cosine top-k (rank output, id tie-break)
    Q("q23_ann_brute", run = (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.where(col("vec_id") < 8), "vec_id",
        "embedding", k = 10)
        .orderBy("query_id", "rank")
    }, oracle = s"""WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
         |p AS (
         |  SELECT q.vec_id AS ia, c.vec_id AS ib, q.embedding AS ea, c.embedding AS eb
         |  FROM q, embeddings c WHERE c.vec_id <> q.vec_id),
         |${cosineCtes("p")},
         |r AS (
         |  SELECT ia AS query_id, ib AS neighbor_id,
         |    CAST(row_number() OVER (
         |      PARTITION BY ia ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, ib) AS INT) AS rank
         |  FROM d)
         |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin),

    // approximate top-k via deterministic hyperplane LSH; the oracle embeds
    // the same driver-side plane constants as literal dot-product sums
    Q("q24_ann_lsh", run = (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.lshTopK(e, e.where(col("vec_id") < 8), "vec_id",
        "embedding", k = 10, nPlanes = 4, tables = 16, dim = 64)
        .orderBy("query_id", "rank")
    }, oracle = s"""WITH bkts AS (
         |${lshBucketsCte(16, 4, 64)}),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS ia, c.vec_id AS ib
         |  FROM bkts c JOIN bkts q ON c.t = q.t AND c.bkt = q.bkt
         |  WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id),
         |p AS (
         |  SELECT ia, ib, x.embedding AS ea, y.embedding AS eb FROM cand
         |  JOIN embeddings x ON x.vec_id = ia
         |  JOIN embeddings y ON y.vec_id = ib),
         |${cosineCtes("p")},
         |r AS (
         |  SELECT ia AS query_id, ib AS neighbor_id,
         |    CAST(row_number() OVER (
         |      PARTITION BY ia ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, ib) AS INT) AS rank
         |  FROM d)
         |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin),

    // $text query predicate: OR-of-terms token match over the text column
    // (the engine's text-index convention), composed with other clauses
    Q("q91_text_search", run = (s, dir) =>
      coll(s, dir, "documents").find(Map(
        "$text" -> Map("$search" -> "spark shuffle"),
        "lang" -> "en"))
        .sort("doc_id").select("doc_id", "lang").toDF,
      oracle = """WITH tk AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents)
        |SELECT doc_id, lang FROM tk
        |WHERE lang = 'en'
        |  AND (list_contains(t, 'spark') OR list_contains(t, 'shuffle'))
        |ORDER BY doc_id""".stripMargin),

    // hybrid retrieval: reciprocal-rank fusion of the exact float ranking
    // and the int8-quantized ranking (rank-only consensus, score-scale-free)
    Q("q88_hybrid_rrf", run = (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 8)
      graft.ops.Hybrid.rrfFuse(Seq(
        Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 10),
        Quantize.quantizedTopK(e, q, "vec_id", "embedding", k = 10)),
        k = 10)
        .select(col("query_id"), col("neighbor_id"),
          col("score").cast("decimal(18,9)").cast("double").as("score"),
          col("fused_rank"))
        .orderBy("query_id", "fused_rank")
    }, oracle = s"""WITH p AS (
         |  SELECT q.vec_id AS ia, c.vec_id AS ib,
         |    q.embedding AS ea, c.embedding AS eb
         |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 8),
         |${cosineCtes("p")},
         |r1 AS (
         |  SELECT ia AS query_id, ib AS neighbor_id,
         |    row_number() OVER (PARTITION BY ia
         |      ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, ib) AS rank
         |  FROM d),
         |qbase AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |qmm AS (
         |  SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS m
         |  FROM qbase),
         |qqv AS (
         |  SELECT vec_id, CAST(list_transform(e, x -> floor(
         |    x / (CASE WHEN m > 0 THEN m / 127.0 ELSE 1.0 END) + 0.5))
         |    AS DOUBLE[]) AS qv
         |  FROM qmm),
         |qn AS (SELECT vec_id, qv, list_dot_product(qv, qv) AS nn FROM qqv),
         |qpairs AS (
         |  SELECT q.vec_id AS ia, c.vec_id AS ib,
         |    list_dot_product(q.qv, c.qv) AS dot, q.nn AS na, c.nn AS nb
         |  FROM qn q JOIN qn c ON c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 8),
         |r2 AS (
         |  SELECT ia AS query_id, ib AS neighbor_id,
         |    row_number() OVER (PARTITION BY ia ORDER BY
         |      CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |           ELSE dot / (sqrt(na) * sqrt(nb)) END DESC, ib) AS rank
         |  FROM qpairs),
         |u AS (
         |  SELECT query_id, neighbor_id, rank FROM r1 WHERE rank <= 10
         |  UNION ALL
         |  SELECT query_id, neighbor_id, rank FROM r2 WHERE rank <= 10),
         |f AS (
         |  SELECT query_id, neighbor_id,
         |    CAST(SUM(CAST(1.0 / (rank + 60) AS DECIMAL(28,12)))
         |      AS DOUBLE) AS score
         |  FROM u GROUP BY query_id, neighbor_id),
         |o AS (
         |  SELECT query_id, neighbor_id, score,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, neighbor_id) AS INT) AS fused_rank
         |  FROM f)
         |SELECT query_id, neighbor_id,
         |  CAST(CAST(score AS DECIMAL(18,9)) AS DOUBLE) AS score, fused_rank
         |FROM o WHERE fused_rank <= 10 ORDER BY query_id, fused_rank""".stripMargin),

    // IVF coarse assignment: nearest of 4 deterministic centroids (the
    // first 4 vectors) by cosine, centroid-id tie-break; centroids
    // broadcast, corpus scanned once
    Q("q64_ivf_assign", run = (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.ivfAssign(e, "vec_id", "embedding",
        e.where(col("vec_id") < 4))
        .select("vec_id", "centroid_id")
        .orderBy("vec_id")
    }, oracle = s"""WITH c AS (
         |  SELECT vec_id AS cid, embedding AS ce FROM embeddings
         |  WHERE vec_id < 4),
         |p AS (
         |  SELECT e.vec_id AS ia, c.cid AS ib,
         |         e.embedding AS ea, c.ce AS eb
         |  FROM embeddings e, c),
         |${cosineCtes("p")},
         |r AS (
         |  SELECT ia AS vec_id, ib AS centroid_id,
         |    row_number() OVER (PARTITION BY ia
         |      ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, ib) AS rn
         |  FROM d)
         |SELECT vec_id, centroid_id FROM r WHERE rn = 1
         |ORDER BY vec_id""".stripMargin),

    // int8 scalar quantization + top-k over the quantized codes: per-vector
    // scales cancel in cosine, so candidate math is exact integer arithmetic
    Q("q80_quantized_ann", run = (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Quantize.quantizedTopK(e, e.where(col("vec_id") < 8),
        "vec_id", "embedding", k = 10)
        .orderBy("query_id", "rank")
    }, oracle = """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |mm AS (
        |  SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS m
        |  FROM base),
        |qq AS (
        |  SELECT vec_id, CAST(list_transform(e, x -> floor(
        |    x / (CASE WHEN m > 0 THEN m / 127.0 ELSE 1.0 END) + 0.5))
        |    AS DOUBLE[]) AS qv
        |  FROM mm),
        |n AS (SELECT vec_id, qv, list_dot_product(qv, qv) AS nn FROM qq),
        |pairs AS (
        |  SELECT q.vec_id AS ia, c.vec_id AS ib,
        |    list_dot_product(q.qv, c.qv) AS dot, q.nn AS na, c.nn AS nb
        |  FROM n q JOIN n c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 8),
        |r AS (
        |  SELECT ia AS query_id, ib AS neighbor_id,
        |    CAST(row_number() OVER (PARTITION BY ia ORDER BY
        |      CASE WHEN na = 0 OR nb = 0 THEN 0.0
        |           ELSE dot / (sqrt(na) * sqrt(nb)) END DESC, ib) AS INT)
        |      AS rank
        |  FROM pairs)
        |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin),

    // BM25 keyword retrieval: query-term filter fused into the explode,
    // broadcast corpus stats, term-window df, decimal-exact score sum
    Q("q85_bm25", run = (s, dir) =>
      TextSearch.bm25(tbl(s, dir, "documents"), "doc_id", "text",
        Seq("data", "query", "spark"), k = 20)
        .select(col("doc_id"),
          col("score").cast("decimal(18,9)").cast("double").as("score"),
          col("matched"))
        .orderBy(col("score").desc, col("doc_id")),
      oracle = """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tk),
        |hits AS (
        |  SELECT doc_id, dl, term, COUNT(*) AS tf FROM toks
        |  WHERE term IN ('data', 'query', 'spark')
        |  GROUP BY doc_id, dl, term),
        |wd AS (
        |  SELECT doc_id, dl, term, tf,
        |    COUNT(*) OVER (PARTITION BY term) AS df
        |  FROM hits),
        |stats AS (
        |  SELECT COUNT(*) AS n_docs, avg(CAST(len(t) AS DOUBLE)) AS avgdl
        |  FROM tk),
        |sc AS (
        |  SELECT doc_id,
        |    CAST(SUM(CAST(
        |      ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2)
        |      / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
        |      AS DECIMAL(28,12))) AS DOUBLE) AS score,
        |    COUNT(*) AS matched
        |  FROM wd, stats GROUP BY doc_id)
        |SELECT doc_id, CAST(CAST(score AS DECIMAL(18,9)) AS DOUBLE) AS score,
        |  matched
        |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),

    // BM25 against a PERSISTED term-bucketed postings index built in
    // TWO appended batches (index once / append daily / query many):
    // postings append under their bkt partitions, the one-row stats
    // sidecar key-sums, and scoring reads ONLY the query terms'
    // bucket partitions + the sidecar — never corpus text. Must equal
    // the one-shot q85 scoring (same oracle).
    Q("q257_bm25_store", run = (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val store = scratchDir("graft-bm25store").toString
      val b1 = TextSearch.bm25Index(
        docs.where(col("doc_id") < 300), "doc_id", "text")
      val b2 = TextSearch.bm25Index(
        docs.where(col("doc_id") >= 300), "doc_id", "text")
      // per-batch phases: postings and stats land in DIFFERENT dirs, so
      // each batch's two writes overlap (guide §2.6); batch 2's appends
      // stay AFTER batch 1's overwrites of the same paths
      concurrently(
        () => storeWrite(b1.postings, "bkt", s"$store/postings",
          preClustered = true),
        () => b1.stats.write.mode("overwrite").parquet(s"$store/stats"))
      concurrently(
        () => storeWrite(b2.postings, "bkt", s"$store/postings",
          mode = "append", preClustered = true),
        () => b2.stats.write.mode("append").parquet(s"$store/stats"))
      val idx = TextSearch.Bm25Index(
        s.read.parquet(s"$store/postings"),
        TextSearch.mergeBm25Stats(s.read.parquet(s"$store/stats")))
      TextSearch.bm25Precomputed(idx, "doc_id",
        Seq("data", "query", "spark"), k = 20)
        .select(col("doc_id"),
          col("score").cast("decimal(18,9)").cast("double").as("score"),
          col("matched"))
        .orderBy(col("score").desc, col("doc_id"))
    },
    // the two-batch appended index scores exactly like the one-shot
    // pass — SAME replay as q85 (postings/stats are a pure refactor
    // of the same math; the decimal(18,9) cast absorbs the batch-sum
    // association of avgdl, which Spark's own partial aggregation
    // does not fix either)
    oracle = """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tk),
        |hits AS (
        |  SELECT doc_id, dl, term, COUNT(*) AS tf FROM toks
        |  WHERE term IN ('data', 'query', 'spark')
        |  GROUP BY doc_id, dl, term),
        |wd AS (
        |  SELECT doc_id, dl, term, tf,
        |    COUNT(*) OVER (PARTITION BY term) AS df
        |  FROM hits),
        |stats AS (
        |  SELECT COUNT(*) AS n_docs, avg(CAST(len(t) AS DOUBLE)) AS avgdl
        |  FROM tk),
        |sc AS (
        |  SELECT doc_id,
        |    CAST(SUM(CAST(
        |      ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2)
        |      / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
        |      AS DECIMAL(28,12))) AS DOUBLE) AS score,
        |    COUNT(*) AS matched
        |  FROM wd, stats GROUP BY doc_id)
        |SELECT doc_id, CAST(CAST(score AS DECIMAL(18,9)) AS DOUBLE) AS score,
        |  matched
        |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),

    // TF-IDF top terms per document: one explode + one (doc,term) aggregate
    // + one term-keyed window — df/N over the WHOLE corpus, output filtered
    Q("q82_tfidf", run = (s, dir) =>
      TfIdf.topTerms(tbl(s, dir, "documents"), "doc_id", "text", 3)
        .where(col("doc_id") < 30)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("tfidf").cast("decimal(18,9)").cast("double").as("tfidf"),
          col("rank").cast("long").as("rank"))
        .orderBy("doc_id", "rank"),
      oracle = """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
        |wd AS (
        |  SELECT doc_id, term, tf, COUNT(*) OVER (PARTITION BY term) AS df
        |  FROM tf),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |sc AS (
        |  SELECT doc_id, term, tf, df,
        |    tf * (ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)) + 1.0) AS tfidf
        |  FROM wd, n),
        |r AS (
        |  SELECT doc_id, term, tf, df, tfidf,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf DESC, term) AS rank
        |  FROM sc)
        |SELECT doc_id, term, tf, df,
        |  CAST(CAST(tfidf AS DECIMAL(18,9)) AS DOUBLE) AS tfidf, rank
        |FROM r WHERE rank <= 3 AND doc_id < 30
        |ORDER BY doc_id, rank""".stripMargin),

    // TF-IDF top terms for a DELTA batch under the UNION's document
    // frequencies, from the SAVED postings index (one store format
    // serves BM25 retrieval and term weighting): df = saved per-term
    // row counts + the delta's own, N = sidecar + delta — corpus
    // text is never re-read. Equal to the one-shot topTerms on the
    // union restricted to the delta's docs.
    Q("q258_tfidf_incremental", run = (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val store = scratchDir("graft-tfidfstore").toString
      val idx = TextSearch.bm25Index(
        docs.where(col("doc_id") < 300), "doc_id", "text")
      // postings + stats land in different dirs: overlap (guide §2.6)
      concurrently(
        () => storeWrite(idx.postings, "bkt", s"$store/postings",
          preClustered = true),
        () => idx.stats.write.mode("overwrite").parquet(s"$store/stats"))
      TfIdf.topTermsPrecomputed(
        docs.where(col("doc_id") >= 300 && col("doc_id") < 400),
        TextSearch.Bm25Index(s.read.parquet(s"$store/postings"),
          s.read.parquet(s"$store/stats")),
        "doc_id", "text", 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("tfidf").cast("decimal(18,9)").cast("double").as("tfidf"),
          col("rank").cast("long").as("rank"))
        .orderBy("doc_id", "rank")
    },
    // q82's replay over the UNION (docs < 400 = indexed 0-299 plus
    // the 300-399 delta), output restricted to the delta — union
    // statistics, delta rows: the incremental face's contract
    oracle = """WITH docs4 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 400),
        |toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
        |  FROM docs4),
        |tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
        |wd AS (
        |  SELECT doc_id, term, tf, COUNT(*) OVER (PARTITION BY term) AS df
        |  FROM tf),
        |n AS (SELECT COUNT(*) AS n_docs FROM docs4),
        |sc AS (
        |  SELECT doc_id, term, tf, df,
        |    tf * (ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)) + 1.0) AS tfidf
        |  FROM wd, n),
        |r AS (
        |  SELECT doc_id, term, tf, df, tfidf,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf DESC, term) AS rank
        |  FROM sc)
        |SELECT doc_id, term, tf, df,
        |  CAST(CAST(tfidf AS DECIMAL(18,9)) AS DOUBLE) AS tfidf, rank
        |FROM r WHERE rank <= 3 AND doc_id >= 300
        |ORDER BY doc_id, rank""".stripMargin),
  )
}
