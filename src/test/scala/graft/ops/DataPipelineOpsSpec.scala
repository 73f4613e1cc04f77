package graft.ops

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DataPipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- Chunking ----

  private lazy val docs = Seq(
    (1L, "a b c d e f g h i j"), // 10 tokens
    (2L, "x y z"),               // 3 tokens
    (3L, ""),                    // 0 tokens — no chunks
    (4L, "only four small words")
  ).toDF("doc_id", "text")

  test("tokenChunks covers all tokens with overlap, no redundant tail") {
    val out = Chunking.tokenChunks(docs, "doc_id", "text", 8, overlap = 2)
      .orderBy("doc_id", "chunk_idx")
      .as[(Long, Long, String, Long)].collect()
    // doc 1: 10 tokens, size 8, stride 6 -> starts 1,7
    assert(out.filter(_._1 == 1L).map(_._3).toSeq ==
      Seq("a b c d e f g h", "g h i j"))
    assert(out.filter(_._1 == 1L).map(_._4).toSeq == Seq(8L, 4L))
    // doc 2: 3 tokens -> one short chunk
    assert(out.filter(_._1 == 2L).map(_._3).toSeq == Seq("x y z"))
    // doc 3: empty -> nothing
    assert(!out.exists(_._1 == 3L))
    // chunk_idx is 0-based consecutive
    assert(out.filter(_._1 == 1L).map(_._2).toSeq == Seq(0L, 1L))
  }

  test("tokenChunks without overlap emits ceil(n/size) chunks") {
    val out = Chunking.tokenChunks(docs, "doc_id", "text", 3)
      .where($"doc_id" === 1L)
    assert(out.count() == 4) // 10 tokens / 3 -> 3,3,3,1
    assert(out.agg(sum("n_tokens")).as[Long].head() == 10L)
  }

  test("tokenChunks rejects overlap >= chunkSize") {
    intercept[IllegalArgumentException] {
      Chunking.tokenChunks(docs, "doc_id", "text", 4, overlap = 4)
    }
  }

  // ---- Quantize ----

  private lazy val vecs = Seq(
    (1L, Array(1.0f, -2.0f, 0.5f, 4.0f)),
    (2L, Array(1.1f, -2.1f, 0.4f, 3.9f)),   // near vec 1
    (3L, Array(-4.0f, 0.0f, 2.0f, -1.0f)),  // far from vec 1
    (4L, Array(0.0f, 0.0f, 0.0f, 0.0f))     // zero vector
  ).toDF("vec_id", "embedding")

  test("quantizeInt8 codes are in [-127,127], max component hits ±127") {
    val q = Quantize.quantizeInt8(vecs, "embedding")
      .select($"vec_id", $"qvec", $"qscale").as[(Long, Seq[Int], Double)]
      .collect().sortBy(_._1)
    assert(q.forall(_._2.forall(c => c >= -127 && c <= 127)))
    // scale = 4/127; -2 -> -63.5, half-away-from-neg-inf rounds up to -63
    assert(q(0)._2 == Seq(32, -63, 16, 127))
    assert(q(3)._2 == Seq(0, 0, 0, 0) && q(3)._3 == 1.0) // zero vec
  }

  test("quantized reconstruction error is bounded by scale/2") {
    val q = Quantize.quantizeInt8(vecs, "embedding")
      .select($"embedding".cast("array<double>"), $"qvec", $"qscale")
      .as[(Seq[Double], Seq[Int], Double)].collect()
    for ((orig, codes, scale) <- q; (x, c) <- orig.zip(codes))
      assert(math.abs(x - c * scale) <= scale / 2 + 1e-12)
  }

  test("quantizedTopK ranks the near neighbor first, skips self") {
    val out = Quantize.quantizedTopK(vecs,
        vecs.where($"vec_id" === 1L), "vec_id", "embedding", k = 3)
      .as[(Long, Long, Int)].collect().sortBy(_._3)
    // vec 2 nearly parallel; zero vec 4 scores 0.0; vec 3 is anti-correlated
    assert(out.map(_._2).toSeq == Seq(2L, 4L, 3L))
    assert(out.forall(_._1 == 1L) && !out.exists(_._2 == 1L))
  }

  test("pq: codebooks cover subspaces, encode is positional, ADC ranks") {
    // 4-dim vectors, m=2 subspaces of 2 dims; k=2 centroids per subspace
    val data = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (2L, Array(0.9f, 0.1f, 0.1f, 0.9f)),   // near vec 1 in both halves
      (3L, Array(0.0f, 1.0f, 1.0f, 0.0f)),   // orthogonal in both halves
      (4L, Array(0.1f, 0.9f, 0.9f, 0.1f))    // near vec 3
    ).toDF("vec_id", "embedding")
    val cb = Quantize.pqCodebooks(data, "vec_id", "embedding",
      dim = 4, m = 2, k = 2, iters = 2)
    assert(cb.select("subspace").distinct().count() == 2)
    assert(cb.count() == 4) // m*k
    val enc = Quantize.pqEncode(data, "vec_id", "embedding", cb, 4, 2)
      .as[(Long, Seq[Long])].collect().toMap
    assert(enc.values.forall(c => c.size == 2 && c.forall(x => x == 0 || x == 1)))
    // near pairs share codes, orthogonal pairs differ
    assert(enc(1L) == enc(2L) && enc(3L) == enc(4L) && enc(1L) != enc(3L))
    val top = Quantize.pqTopK(data, data.where($"vec_id" === 1L),
      "vec_id", "embedding", cb, dim = 4, m = 2, k = 3)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    // vec 2 shares vec 1's codes -> highest ADC score; self excluded
    assert(top.head._1 == 2L && !top.exists(_._1 == 1L))
  }

  // ---- Redaction ----

  test("redactPii replaces all categories globally, in rule order") {
    val txt = "mail a@b.com and c.d@e.org call 555-123-4567 or 555.123.4567" +
      " ssn 123-45-6789 host 10.0.0.1"
    val out = spark.range(1).select(Redaction.redactPii(lit(txt)))
      .as[String].head()
    assert(out == "mail <EMAIL> and <EMAIL> call <PHONE> or <PHONE>" +
      " ssn <SSN> host <IP>")
  }

  test("piiCount counts per category without double-counting overlaps") {
    val txt = "a@b.com 123-45-6789 555-123-4567 10.0.0.1 a@b.com"
    val df = spark.range(1).select(
      Redaction.piiCount(lit(txt), "email").as("e"),
      Redaction.piiCount(lit(txt), "ssn").as("s"),
      Redaction.piiCount(lit(txt), "phone").as("p"),
      Redaction.piiCount(lit(txt), "ip").as("i"))
    assert(df.as[(Int, Int, Int, Int)].head() == ((2, 1, 1, 1)))
  }

  test("piiCount rejects unknown categories") {
    intercept[IllegalArgumentException] {
      Redaction.piiCount(lit("x"), "nope")
    }
  }

  // ---- TfIdf ----

  private lazy val corpus = Seq(
    (1L, "apple banana apple"),
    (2L, "banana cherry"),
    (3L, "cherry cherry durian")
  ).toDF("doc_id", "text")

  test("tfidf computes tf, df, and smooth idf") {
    val rows = TfIdf.tfidf(corpus, "doc_id", "text")
      .as[(Long, String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    assert(rows((1L, "apple"))._1 == 2L)   // tf
    assert(rows((1L, "banana"))._2 == 2L)  // df: docs 1 and 2
    assert(rows((3L, "durian"))._2 == 1L)
    val expected = 2.0 * (math.log(4.0 / 2.0) + 1.0) // tf=2, N=3, df=1
    assert(math.abs(rows((1L, "apple"))._3 - expected) < 1e-12)
  }

  // ---- Gopher quality rules ----

  test("gopher flags fire on the documented boundaries") {
    val good = (("the and with " * 20) + "alpha beta gamma delta").trim
    val short = "the and of words"                  // < 50 words
    val longWords = Seq.fill(60)("pneumonoultramicro").mkString(" ")
    val d = Seq((1L, good), (2L, short), (3L, longWords))
      .toDF("doc_id", "text")
    val out = d.select(col("doc_id") +:
        TextFunctions.gopherQualityFlags(col("text"))
          .map { case (n, c) => c.as(n) } :+
        TextFunctions.gopherKeep(col("text")).as("keep"): _*)
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().sortBy(_._1)
    assert(out(0)._6)                 // good doc keeps
    assert(!out(1)._2 && !out(1)._6)  // short doc fails word count
    assert(!out(2)._3 && !out(2)._6)  // 18-char words fail mean length
  }

  // ---- vocabulary pruning ----

  test("pruneRareTokens drops below-min-count tokens, keeps order") {
    val d = Seq(
      (1L, "common rare1 common other"),
      (2L, "other common rare2"),
      (3L, "rare3")).toDF("doc_id", "text")
    val out = TextFunctions.pruneRareTokens(d, "doc_id", "text", 2)
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "common common other")
    assert(out(2L) == "other common")
    assert(out(3L) == "") // all-rare doc survives, empty
  }

  // ---- k-means ----

  test("kmeans converges to the two obvious spherical clusters") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val cents = Clustering.kmeans(vecs, "vec_id", "embedding",
        k = 2, iters = 2)
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    assert(cents.map(_._1).toSeq == Seq(1L, 2L))
    // after 2 iterations: c1 = mean(v1,v2), c2 = mean(v3,v4)
    val Seq(c1, c2) = cents.map(_._2).toSeq
    assert(c1.zip(Seq(0.95, 0.05)).forall { case (a, b) =>
      math.abs(a - b) < 1e-6 })
    assert(c2.zip(Seq(0.05, 0.95)).forall { case (a, b) =>
      math.abs(a - b) < 1e-6 })
  }

  test("two-level sqrt(k) assignment: routes through super-centroids, " +
      "matches the exact argmax on separated clusters, and emits the " +
      "winning cosine") {
    val dim = 12
    // 12 one-hot prototypes x 4 points: k = 12 well-separated cells.
    // id = c + 12j so the k smallest ids (the deterministic seed) cover
    // every cluster — a seed that misses a direction leaves rows in
    // all-zero-cosine tie-land where float ulps, not geometry, decide.
    val pts = (for { c <- 0 until 12; j <- 0 until 4 } yield {
      val v = Array.fill(dim)(0.0f); v(c) = 1f + 0.01f * j
      (c + 12L * j, v.toSeq)
    }).toDF("vec_id", "embedding")
    val exact = Clustering.kmeans(pts, "vec_id", "embedding", 12, 2)
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    // coarsen is deterministic and loses no member
    val cents = exact.map { case (id, v) => (id, v.toArray) }
    val groups = Clustering.coarsen(cents, 4)
    assert(groups.flatMap(_._2.map(_._1)).sorted == cents.map(_._1))
    assert(groups.size > 1 && groups.size <= 4)
    // forcing the two-level path reproduces the exact fit on separated
    // data (every row's nearest centroid lives in its nearest
    // super-centroid's group), including end-to-end through
    // semDeDupKMeans
    spark.conf.set("spark.graft.kmeans.twoLevelAssignMinK", "4")
    try {
      val two = Clustering.kmeans(pts, "vec_id", "embedding", 12, 2)
        .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
      assert(two == exact)
      val assigned = Clustering.withNearestCentroid(pts, "embedding",
        cents, "cell", cosOut = Some("cc"))
        .select($"vec_id", $"cell", $"cc")
        .as[(Long, Long, Double)].collect()
      assert(assigned.forall { case (id, cell, cc) =>
        cell == id % 12 && cc > 0.99 })
      val kept = Dedup.semDeDupKMeans(pts, "vec_id", "embedding",
        eps = 0.999, k = 12, iters = 1)
        .select("vec_id").as[Long].collect().toSet
      // within each cell all 4 rows are >0.999-cosine-similar: only the
      // smallest id survives
      assert(kept == (0 until 12).map(_.toLong).toSet)
    } finally spark.conf.unset("spark.graft.kmeans.twoLevelAssignMinK")
  }

  test("kmeans with zero iterations returns the deterministic seed") {
    val vecs = Seq((3L, Array(1.0f)), (1L, Array(2.0f)), (2L, Array(3.0f)))
      .toDF("vec_id", "embedding")
    val cents = Clustering.kmeans(vecs, "vec_id", "embedding", 2, 0)
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    assert(cents.toSeq == Seq((1L, Seq(2.0)), (2L, Seq(3.0))))
  }

  // ---- Hybrid RRF ----

  test("rrfFuse sums reciprocal ranks across rankings, reranks top-k") {
    val r1 = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3))
      .toDF("query_id", "neighbor_id", "rank")
    val r2 = Seq((1L, 11L, 1), (1L, 10L, 2), (1L, 13L, 3))
      .toDF("query_id", "neighbor_id", "rank")
    val out = Hybrid.rrfFuse(Seq(r1, r2), k = 3)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    // 10 and 11 both score 1/61 + 1/62; tie breaks on neighbor id
    assert(out.map(_._2).toSeq == Seq(10L, 11L, 12L))
    assert(math.abs(out(0)._3 - (1.0 / 61 + 1.0 / 62)) < 1e-9)
    assert(out(0)._3 == out(1)._3)
    // 12 (rank 3 in one list) beats nothing below it but outranks 13 by id
    assert(math.abs(out(2)._3 - 1.0 / 63) < 1e-9)
    intercept[IllegalArgumentException] { Hybrid.rrfFuse(Seq.empty, 1) }
  }

  // ---- BM25 ----

  test("bm25 matches the textbook formula and ranks deterministically") {
    val out = TextSearch.bm25(corpus, "doc_id", "text",
      Seq("apple", "cherry"))
      .as[(Long, Double, Long)].collect()
    // N=3, avgdl=(3+2+3)/3; df(apple)=1, df(cherry)=2
    val n = 3.0; val avgdl = 8.0 / 3.0
    def idf(df: Double) = math.log(1 + (n - df + 0.5) / (df + 0.5))
    def w(tf: Double, dl: Double, df: Double) =
      idf(df) * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
    val byId = out.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(math.abs(byId(1L)._1 - w(2, 3, 1)) < 1e-9) // "apple" ×2
    assert(math.abs(byId(2L)._1 - w(1, 2, 2)) < 1e-9) // "cherry" ×1
    assert(math.abs(byId(3L)._1 - w(2, 3, 2)) < 1e-9) // "cherry" ×2
    assert(byId(1L)._2 == 1L && byId(2L)._2 == 1L)
    // order: score desc — doc 1 (rare term) first
    assert(out.head._1 == 1L)
  }

  test("bm25 top-k keeps only the best k; empty query rejected") {
    assert(TextSearch.bm25(corpus, "doc_id", "text",
      Seq("apple", "cherry"), k = 1).count() == 1)
    intercept[IllegalArgumentException] {
      TextSearch.bm25(corpus, "doc_id", "text", Seq.empty)
    }
  }

  test("bm25Precomputed over a two-batch appended index equals the " +
      "one-shot scoring; mismatched p_buckets rejects; stats sidecar " +
      "merges exactly") {
    val c1 = corpus.where($"doc_id" <= 1)
    val c2 = corpus.where($"doc_id" > 1)
    val i1 = TextSearch.bm25Index(c1, "doc_id", "text", buckets = 16)
    val i2 = TextSearch.bm25Index(c2, "doc_id", "text", buckets = 16)
    val idx = TextSearch.Bm25Index(
      i1.postings.unionByName(i2.postings),
      TextSearch.mergeBm25Stats(i1.stats, i2.stats))
    val got = TextSearch.bm25Precomputed(idx, "doc_id",
      Seq("apple", "cherry"), buckets = 16)
      .as[(Long, Double, Long)].collect().toSeq.sortBy(_._1)
    val want = TextSearch.bm25(corpus, "doc_id", "text",
      Seq("apple", "cherry"))
      .as[(Long, Double, Long)].collect().toSeq.sortBy(_._1)
    assert(got.map(_._1) == want.map(_._1) &&
      got.map(_._3) == want.map(_._3))
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g._2 - w._2) < 1e-12, s"doc ${g._1}") }
    // top-k through the store face
    assert(TextSearch.bm25Precomputed(idx, "doc_id",
      Seq("apple", "cherry"), k = 1, buckets = 16).count() == 1)
    // index bucketed at 16, queried at 32 → a moved bucket would
    // silently lose terms; must reject loudly instead
    val ex = intercept[IllegalArgumentException] {
      TextSearch.bm25Precomputed(idx, "doc_id", Seq("apple"),
        buckets = 32).collect()
    }
    assert(ex.getMessage.contains("p_buckets"))
  }

  test("ivfTopKPrecomputed equals ivfTopK from a saved cell index; " +
      "a different centroid set rejects loudly") {
    val rnd = new scala.util.Random(42)
    val vecs = (0L until 60L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val cents = vecs.where($"vec_id" < 6)
    val queries = vecs.where($"vec_id" >= 50)
    val store = Similarity.ivfCellSignatures(vecs, "vec_id",
      "embedding", cents)
    val got = Similarity.ivfTopKPrecomputed(queries, store, "vec_id",
      "embedding", cents, k = 5, nprobe = 2)
      .as[(Long, Long, Int)].collect().toSet
    val want = Similarity.ivfTopK(vecs, queries, "vec_id",
      "embedding", cents, k = 5, nprobe = 2)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == want && got.nonEmpty)
    // index built under centroids {0..5}, queried under {0..6}:
    // different partition of space — must reject, not silently miss
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfTopKPrecomputed(queries, store, "vec_id",
        "embedding", vecs.where($"vec_id" < 7), k = 5).collect()
    }
    assert(ex.getMessage.contains("p_centstamp"))
    // legacy store without the stamp skips the check
    assert(Similarity.ivfTopKPrecomputed(queries,
      store.drop("p_centstamp"), "vec_id", "embedding", cents,
      k = 5).count() > 0)
  }

  test("pqTopKPrecomputed equals pqTopK from a saved code table; " +
      "codes encoded under different codebooks reject loudly") {
    val rnd = new scala.util.Random(99)
    val vecs = (0L until 50L).map(i =>
      (i, Array.fill(8)(rnd.nextDouble() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val cb = Quantize.pqCodebooks(vecs, "vec_id", "embedding",
      dim = 8, m = 2, k = 3, iters = 2)
    val queries = vecs.where($"vec_id" < 3)
    val store = Quantize.pqCodeSignatures(vecs, "vec_id",
      "embedding", cb, dim = 8, m = 2)
    val got = Quantize.pqTopKPrecomputed(queries, store, "vec_id",
      "embedding", cb, dim = 8, m = 2, k = 5)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val want = Quantize.pqTopK(vecs, queries, "vec_id", "embedding",
      cb, dim = 8, m = 2, k = 5)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == want && got.nonEmpty)
    // different training set -> different centroids -> different stamp
    val cb2 = Quantize.pqCodebooks(vecs.where($"vec_id" < 30),
      "vec_id", "embedding", dim = 8, m = 2, k = 3, iters = 2)
    val ex = intercept[IllegalArgumentException] {
      Quantize.pqTopKPrecomputed(queries, store, "vec_id",
        "embedding", cb2, dim = 8, m = 2, k = 5).collect()
    }
    assert(ex.getMessage.contains("p_pqstamp"))
    // legacy store without the stamp skips the check
    assert(Quantize.pqTopKPrecomputed(queries,
      store.drop("p_pqstamp"), "vec_id", "embedding", cb,
      dim = 8, m = 2, k = 5).count() > 0)
  }

  test("hybridSearch: store-served BM25 leg + exact-cosine vector " +
      "leg fuse to the same ranking as hand-composed rrfFuse") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(0.8f, 0.6f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val qv = Seq(1.0, 0.1, 0.0)
    val idx = TextSearch.bm25Index(corpus, "doc_id", "text",
      buckets = 8)
    val got = graft.ops.Hybrid.hybridSearch(idx, "doc_id",
      Seq("apple", "cherry"), vecs, "vec_id", "embedding", qv,
      k = 3, buckets = 8)
      .select("neighbor_id", "fused_rank")
      .as[(Long, Int)].collect().toSet
    // hand-composed legs (the q88 shape): bm25 ranks + brute ranks
    val lexRank = TextSearch.bm25(corpus, "doc_id", "text",
      Seq("apple", "cherry"))
      .orderBy($"score".desc, $"doc_id")
      .collect().map(_.getLong(0)).zipWithIndex
      .map { case (id, i) => (-1L, id, i + 1) }
      .toSeq.toDF("query_id", "neighbor_id", "rank")
    val dv = vecs.select($"vec_id",
      $"embedding".cast("array<double>").as("embedding"))
    val q = spark.range(1).select(lit(-1L).as("vec_id"),
      typedlit(qv).as("embedding"))
    val vecRank = Similarity.bruteForceTopK(dv, q, "vec_id",
      "embedding", 6)
    val want = graft.ops.Hybrid.rrfFuse(Seq(lexRank, vecRank), 3)
      .select("neighbor_id", "fused_rank")
      .as[(Long, Int)].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("hybridSearchIvf: both legs index-served — equals rrfFuse of " +
      "the bm25 ranks and the IVF-store ranks") {
    val rnd = new scala.util.Random(7)
    val vecs = (1L until 40L).map(i =>
      (i, Array.fill(6)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val cents = vecs.where($"vec_id" < 5)
    val ivfStore = Similarity.ivfCellSignatures(vecs, "vec_id",
      "embedding", cents)
    val qv = Seq(0.5, -0.2, 0.8, 0.0, 0.1, -0.4)
    val idx = TextSearch.bm25Index(corpus, "doc_id", "text",
      buckets = 8)
    val got = graft.ops.Hybrid.hybridSearchIvf(idx, "doc_id",
      Seq("apple", "cherry"), ivfStore, "vec_id", "embedding",
      cents, qv, k = 4, nprobe = 2, buckets = 8)
      .select("neighbor_id", "fused_rank")
      .as[(Long, Int)].collect().toSet
    val lexRank = TextSearch.bm25(corpus, "doc_id", "text",
      Seq("apple", "cherry"))
      .orderBy($"score".desc, $"doc_id")
      .collect().map(_.getLong(0)).zipWithIndex
      .map { case (id, i) => (-1L, id, i + 1) }
      .toSeq.toDF("query_id", "neighbor_id", "rank")
    val q = spark.range(1).select(lit(-1L).as("vec_id"),
      typedlit(qv).as("embedding"))
    val vecRank = Similarity.ivfTopKPrecomputed(q, ivfStore,
      "vec_id", "embedding", cents, k = 8, nprobe = 2)
    val want = graft.ops.Hybrid.rrfFuse(Seq(lexRank, vecRank), 4)
      .select("neighbor_id", "fused_rank")
      .as[(Long, Int)].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("tfidfPrecomputed + topTermsPrecomputed: delta scored under " +
      "UNION statistics from the saved index equals the one-shot on " +
      "the union restricted to the delta") {
    val ref = corpus.where($"doc_id" <= 2)
    val delta = corpus.where($"doc_id" > 2)
    val idx = TextSearch.bm25Index(ref, "doc_id", "text", buckets = 8)
    val got = TfIdf.tfidfPrecomputed(delta, idx, "doc_id", "text")
      .select("doc_id", "term", "tf", "df", "tfidf")
      .as[(Long, String, Long, Long, Double)].collect().toSet
    val want = TfIdf.tfidf(corpus, "doc_id", "text")
      .where($"doc_id" > 2)
      .select("doc_id", "term", "tf", "df", "tfidf")
      .as[(Long, String, Long, Long, Double)].collect().toSet
    assert(got == want && got.nonEmpty)
    val gotTop = TfIdf.topTermsPrecomputed(delta, idx, "doc_id",
      "text", 2).select("doc_id", "term", "rank")
      .as[(Long, String, Int)].collect().toSet
    val wantTop = TfIdf.topTerms(corpus, "doc_id", "text", 2)
      .where($"doc_id" > 2).select("doc_id", "term", "rank")
      .as[(Long, String, Int)].collect().toSet
    assert(gotTop == wantTop && gotTop.nonEmpty)
  }

  test("topTerms is deterministic with term-asc tie-break") {
    val top = TfIdf.topTerms(corpus, "doc_id", "text", 1)
      .select("doc_id", "term").as[(Long, String)].collect().toMap
    assert(top(1L) == "apple")
    assert(top(3L) == "cherry")
    // doc 2: banana and cherry tie (tf=1, df=2) -> banana wins alphabetically
    assert(top(2L) == "banana")
  }

  // ---- Repetition signals ----

  test("repetitionSignals measures duplicate lines and repeated 2-grams") {
    val docs = Seq(
      // 4 lines, "dup" twice: dup_line_frac = 1/4; line chars 3+3+5+4=15,
      // distinct 3+5+4=12 -> char frac 3/15
      (1L, "dup\ndup\nalpha\nbeta"),
      // "a b" 2-gram appears 3x in "a b a b a b" (len 11 chars):
      // grams: a b, b a, a b, b a, a b -> top = 3 * len("a b") = 9
      (2L, "a b a b a b"),
      (3L, "")).toDF("doc_id", "text")
    val out = TextFunctions.repetitionSignals(docs, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Double, Double, Double)].collect().toSeq
    assert(out(0)._2 == 0.25 && out(0)._3 == 3.0 / 15.0)
    assert(out(1)._2 == 0.0 && out(1)._4 == 9.0 / 11.0)
    assert(out(2) == ((3L, 0.0, 0.0, 0.0)))
  }

  // ---- Decontaminate ----

  test("contamination flags corpus docs overlapping the benchmark") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // contains bench 10's text
      (2L, "completely unrelated words here today"),
      (3L, "what is the capital of france paris obviously")  // contains bench 11
    ).toDF("doc_id", "text")
    val bench = Seq(
      (10L, "quick brown fox jumps"),
      (11L, "what is the capital of france")
    ).toDF("doc_id", "text")
    val out = Decontaminate.contamination(corpus, "doc_id", "text",
      bench, "doc_id", "text", n = 3, minHits = 2L)
      .select("doc_id", "hits", "first_bench")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // doc 1 shares "quick brown fox"/"brown fox jumps" with bench 10;
    // doc 3 shares 4 windows of bench 11; doc 2 shares nothing
    assert(out == Seq((1L, 2L, 10L), (3L, 4L, 11L)))
  }

  test("contamination maxBenchDf drops boilerplate n-grams in-plan") {
    val corpus = Seq((1L, "shared boiler plate text")).toDF("doc_id", "text")
    // the same 3-gram appears in every benchmark doc -> df = 3
    val bench = Seq(
      (10L, "shared boiler plate a"), (11L, "shared boiler plate b"),
      (12L, "shared boiler plate c")).toDF("doc_id", "text")
    val all = Decontaminate.contamination(corpus, "doc_id", "text",
      bench, "doc_id", "text", n = 3)
    assert(all.count() == 1)
    val capped = Decontaminate.contamination(corpus, "doc_id", "text",
      bench, "doc_id", "text", n = 3, maxBenchDf = 2L)
    assert(capped.count() == 0)
  }

  test("contaminationBloom matches the exact path (prefilter only prunes)") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated words here today"),
      (3L, "what is the capital of france paris obviously")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (10L, "quick brown fox jumps"),
      (11L, "what is the capital of france")
    ).toDF("doc_id", "text")
    val exact = Decontaminate.contamination(corpus, "doc_id", "text",
      bench, "doc_id", "text", n = 3, minHits = 2L)
      .orderBy("doc_id").collect().toSeq
    val bloom = Decontaminate.contaminationBloom(corpus, "doc_id", "text",
      bench, "doc_id", "text", n = 3, minHits = 2L,
      expectedBenchShingles = 1024L)
      .orderBy("doc_id").collect().toSeq
    assert(bloom == exact)
  }

  test("minhashLshPairsBetween matches the self-join restricted to " +
      "the frame split") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "an entirely different document about spark and scala"),
      (11L, "the quick brown fox jumps over the lazy dog tonight"),
      (12L, "another unrelated piece of text with its own words")
    ).toDF("doc_id", "text")
    val between = graft.ops.Dedup.minhashLshPairsBetween(
      docs.where($"doc_id" >= 10), docs.where($"doc_id" < 10),
      "doc_id", "text")
      .as[(Long, Long)].collect().toSeq.sorted
    assert(between == Seq((11L, 1L)))
    val self = graft.ops.Dedup.minhashLshPairs(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSeq
      .map { case (a, b) => if (a >= 10) (a, b) else (b, a) }
      .filter { case (n, r) => n >= 10 && r < 10 }.sorted
    graft.ops.Dedup.releaseCaches()
    assert(between == self)
  }

  test("editDistancePairs matches brute-force levenshtein at d=1 and " +
      "d=2 (segments, shifts, shorts, empties)") {
    val docs = Seq(
      (1L, "prod-alpha"), (2L, "prod-alphA"), (3L, "prod-alpha7"),
      (4L, "prod-alph"), (5L, "prod-beta"), (6L, "x"), (7L, "xy"),
      (8L, ""), (9L, "prod-alpha"), (10L, "entirely-else")
    ).toDF("doc_id", "s")
    for (d <- Seq(1, 2)) {
      val got = graft.ops.Dedup.editDistancePairs(docs, "doc_id", "s", d)
        .as[(Long, Long)].collect().toSeq.sorted
      val brute = docs.as("a").crossJoin(docs.as("b"))
        .where($"a.doc_id" < $"b.doc_id" &&
          levenshtein($"a.s", $"b.s") <= d)
        .select($"a.doc_id", $"b.doc_id")
        .as[(Long, Long)].collect().toSeq.sorted
      assert(got == brute, s"d=$d")
      // sanity at d=1: the exact dup, the case sub, the insert, the
      // delete, and the 1-apart shorts must all be present
      if (d == 1) assert(got.contains((1L, 9L)) &&
        got.contains((1L, 2L)) && got.contains((1L, 3L)) &&
        got.contains((1L, 4L)) && got.contains((6L, 7L)) &&
        got.contains((6L, 8L)))
    }
  }

  test("editDistancePairsBetween matches brute cross levenshtein in " +
      "both frame orientations (shorts, empties, d=1 and d=2)") {
    val all = Seq(
      (1L, "prod-alpha"), (2L, "prod-alphA"), (3L, "prod-alpha7"),
      (4L, "prod-alph"), (5L, "prod-beta"), (6L, "x"), (7L, "xy"),
      (8L, ""), (9L, "prod-alpha"), (10L, "entirely-else")
    ).toDF("doc_id", "s")
    val ref = all.where($"doc_id" < 6)
    val neu = all.where($"doc_id" >= 6)
    for (d <- Seq(1, 2); (a, b) <- Seq((neu, ref), (ref, neu))) {
      val got = graft.ops.Dedup.editDistancePairsBetween(
        a, b, "doc_id", "s", d)
        .as[(Long, Long)].collect().toSeq.sorted
      val brute = a.as("x").crossJoin(b.as("y"))
        .where(levenshtein($"x.s", $"y.s") <= d)
        .select($"x.doc_id", $"y.doc_id")
        .as[(Long, Long)].collect().toSeq.sorted
      assert(got == brute, s"d=$d")
    }
    // the delta's exact dup of a ref code crosses the frames
    assert(graft.ops.Dedup.editDistancePairsBetween(
      neu, ref, "doc_id", "s", 1)
      .as[(Long, Long)].collect().toSet.contains((9L, 1L)))
  }

  test("property: PassJoin faces equal brute levenshtein on 100+ " +
      "random strings (small alphabet forces segment collisions; " +
      "self, Between, and store faces; d=1 and d=2)") {
    // the star-contraction lesson industrialized for the edit-distance
    // family: random strings over {a,b} with lengths 0..8 concentrate
    // every segment bucket and hit every boundary (shorts, empties,
    // equal strings, off-by-one lengths)
    val rnd = new scala.util.Random(4242)
    val strs = (0L until 110L).map { i =>
      val n = rnd.nextInt(9)
      (i, (0 until n).map(_ => if (rnd.nextBoolean()) 'a' else 'b')
        .mkString)
    }
    val df = strs.toDF("doc_id", "s")
    def lev(a: String, b: String): Int = {
      val m = Array.tabulate(a.length + 1, b.length + 1) {
        (i, j) => if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        m(i)(j) = math.min(math.min(m(i - 1)(j), m(i)(j - 1)) + 1,
          m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      m(a.length)(b.length)
    }
    for (d <- Seq(1, 2)) {
      val brute = (for {
        (ia, sa) <- strs; (ib, sb) <- strs
        if ia < ib && lev(sa, sb) <= d
      } yield (ia, ib)).toSet
      val self = graft.ops.Dedup.editDistancePairs(df, "doc_id", "s", d)
        .as[(Long, Long)].collect().toSet
      assert(self == brute, s"self d=$d")
      val refD = df.where($"doc_id" < 60)
      val newD = df.where($"doc_id" >= 60)
      val bruteX = (for {
        (ia, sa) <- strs.filter(_._1 >= 60)
        (ib, sb) <- strs.filter(_._1 < 60)
        if lev(sa, sb) <= d
      } yield (ia, ib)).toSet
      val between = graft.ops.Dedup.editDistancePairsBetween(
        newD, refD, "doc_id", "s", d)
        .as[(Long, Long)].collect().toSet
      assert(between == bruteX, s"between d=$d")
      val store = graft.ops.Dedup.editDistanceSegmentStore(
        refD, "doc_id", "s", d)
      val viaStore = graft.ops.Dedup.editDistancePairsBetweenPrecomputed(
        newD, store, "doc_id", "s", d)
        .as[(Long, Long)].collect().toSet
      assert(viaStore == bruteX, s"store d=$d")
    }
    graft.ops.Dedup.releaseCaches()
  }

  test("property: hammingNearDup equals brute popcount pairs on " +
      "random codes (bits 16 and 64, radius 0..3)") {
    val rnd = new scala.util.Random(777)
    for (bits <- Seq(16, 64); maxH <- Seq(0, 1, 3)) {
      val mask = if (bits == 64) -1L else (1L << bits) - 1
      val codes = (0L until 80L).map(i => (i, rnd.nextLong() & mask))
      val brute = (for {
        (ia, ca) <- codes; (ib, cb) <- codes
        if ia < ib && java.lang.Long.bitCount(ca ^ cb) <= maxH
      } yield (ia, ib)).toSet
      val got = graft.ops.Dedup.hammingNearDup(
        codes.toDF("id", "code"), "id", "code", bits, maxH)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got == brute, s"bits=$bits maxH=$maxH " +
        s"(got ${got.size}, want ${brute.size})")
    }
  }

  test("editDistancePairsBetweenPrecomputed replays the Between face " +
      "from a saved segment store (shorts ride as k=-1 rows; " +
      "mismatched p_maxdist rejects loudly)") {
    val all = Seq(
      (1L, "prod-alpha"), (2L, "prod-alphA"), (3L, "prod-alpha7"),
      (4L, "prod-alph"), (5L, "prod-beta"), (6L, "x"), (7L, "xy"),
      (8L, ""), (9L, "prod-alpha"), (10L, "entirely-else")
    ).toDF("doc_id", "s")
    val ref = all.where($"doc_id" < 6 || $"doc_id" === 8L) // incl empty
    val neu = all.where($"doc_id" >= 6 && $"doc_id" =!= 8L)
    for (d <- Seq(1, 2); (a, b) <- Seq((neu, ref), (ref, neu))) {
      val store = graft.ops.Dedup.editDistanceSegmentStore(
        b, "doc_id", "s", d)
      val got = graft.ops.Dedup.editDistancePairsBetweenPrecomputed(
        a, store, "doc_id", "s", d)
        .as[(Long, Long)].collect().toSeq.sorted
      val want = graft.ops.Dedup.editDistancePairsBetween(
        a, b, "doc_id", "s", d)
        .as[(Long, Long)].collect().toSeq.sorted
      assert(got == want, s"d=$d")
      val brute = a.as("x").crossJoin(b.as("y"))
        .where(levenshtein($"x.s", $"y.s") <= d)
        .select($"x.doc_id", $"y.doc_id")
        .as[(Long, Long)].collect().toSeq.sorted
      assert(got == brute, s"d=$d vs brute")
    }
    // store built at d=1, call at d=2 → segment layouts differ; loud
    val s1 = graft.ops.Dedup.editDistanceSegmentStore(
      ref, "doc_id", "s", 1)
    val ex = intercept[IllegalArgumentException] {
      graft.ops.Dedup.editDistancePairsBetweenPrecomputed(
        neu, s1, "doc_id", "s", 2).collect()
    }
    assert(ex.getMessage.contains("p_maxdist"))
    // legacy store without the stamp skips the check
    assert(graft.ops.Dedup.editDistancePairsBetweenPrecomputed(
      neu, s1.drop("p_maxdist"), "doc_id", "s", 1).count() >= 0)
    graft.ops.Dedup.releaseCaches()
  }

  test("editDistancePairs candidate valve fails fast on concentrated " +
      "segment buckets; 0 disables") {
    // all same length with a shared 6-char tail: every string lands in
    // ONE (l, k=1, "-alpha") bucket — the degenerate shape the valve
    // exists for
    val docs = (0 until 40).map(i => (i.toLong, f"p$i%03d-alpha"))
      .toDF("doc_id", "s")
    spark.conf.set("spark.graft.editdist.maxCandidatePairs", "100")
    val ex = intercept[IllegalStateException] {
      graft.ops.Dedup.editDistancePairs(docs, "doc_id", "s", 1).count()
    }
    assert(ex.getMessage.contains("maxCandidatePairs") &&
      ex.getMessage.contains("boilerplate"))
    spark.conf.set("spark.graft.editdist.maxCandidatePairs", "0")
    try {
      val n = graft.ops.Dedup.editDistancePairs(docs, "doc_id", "s", 1)
        .count()
      val brute = docs.as("a").crossJoin(docs.as("b"))
        .where($"a.doc_id" < $"b.doc_id" &&
          levenshtein($"a.s", $"b.s") <= 1).count()
      assert(n == brute && brute > 0L)
    } finally
      spark.conf.unset("spark.graft.editdist.maxCandidatePairs")
  }

  test("editDistance candidate valve names the Between and store " +
      "faces and keeps the remedy") {
    val docs = (0 until 40).map(i => (i.toLong, f"p$i%03d-alpha"))
      .toDF("doc_id", "s")
    val ref = docs.where($"doc_id" < 20)
    val neu = docs.where($"doc_id" >= 20)
    spark.conf.set("spark.graft.editdist.maxCandidatePairs", "100")
    try {
      val faces = Seq[(String, () => Any)](
        "editDistancePairsBetween:" -> (() => graft.ops.Dedup
          .editDistancePairsBetween(neu, ref, "doc_id", "s", 1).count()),
        "editDistancePairsBetweenPrecomputed:" -> (() => graft.ops.Dedup
          .editDistancePairsBetweenPrecomputed(neu,
            graft.ops.Dedup.editDistanceSegmentStore(ref, "doc_id", "s", 1),
            "doc_id", "s", 1).count()))
      for ((face, run) <- faces) {
        val ex = intercept[IllegalStateException](run())
        assert(ex.getMessage.startsWith(face) &&
          ex.getMessage.contains("maxCandidatePairs") &&
          ex.getMessage.contains("boilerplate"), ex.getMessage)
      }
    } finally
      spark.conf.unset("spark.graft.editdist.maxCandidatePairs")
    graft.ops.Dedup.releaseCaches()
  }

  test("PassJoin faces agree on duplicate ids: a pair qualifies when " +
      "any string of one id is within maxDist of any string of the " +
      "other, and each id pair is output once") {
    // each new id j carries two strings, both within 1 edit of ref id
    // 20+j's last string; ref id 20+j also carries three strings that
    // share a segment with the new strings but sit 2 edits away. The
    // store is appended in two batches, so one ref id has several
    // store strings and the qualifying one arrives last.
    val neu = (0 until 10).flatMap { j =>
      Seq((j.toLong, s"$j${j}ac"), (j.toLong, s"$j${j}bb"))
    }.toDF("doc_id", "s")
    val refBad = (0 until 10).flatMap { j =>
      Seq("xy", "yx", "zz").map(t => ((20 + j).toLong, s"$j$j$t"))
    }.toDF("doc_id", "s")
    val refGood = (0 until 10)
      .map(j => ((20 + j).toLong, s"$j${j}ab")).toDF("doc_id", "s")
    val ref = refBad.unionByName(refGood)
    def brute(a: DataFrame, b: DataFrame, self: Boolean) =
      a.as("x").crossJoin(b.as("y"))
        .where(levenshtein($"x.s", $"y.s") <= 1 &&
          (if (self) $"x.doc_id" < $"y.doc_id" else lit(true)))
        .select($"x.doc_id", $"y.doc_id").distinct()
        .as[(Long, Long)].collect().toSeq.sorted
    val want = (0 until 10).map(j => (j.toLong, (20 + j).toLong))
    val all = neu.unionByName(ref)
    assert(brute(all, all, self = true) == want)
    assert(brute(neu, ref, self = false) == want)
    val store = graft.ops.Dedup.editDistanceSegmentStore(
      refBad, "doc_id", "s", 1).unionByName(
      graft.ops.Dedup.editDistanceSegmentStore(refGood, "doc_id", "s", 1))
    val got = Seq(
      "self" -> graft.ops.Dedup.editDistancePairs(all, "doc_id", "s", 1),
      "between" -> graft.ops.Dedup.editDistancePairsBetween(
        neu, ref, "doc_id", "s", 1),
      "store" -> graft.ops.Dedup.editDistancePairsBetweenPrecomputed(
        neu, store, "doc_id", "s", 1))
      .map { case (face, df) =>
        face -> df.as[(Long, Long)].collect().toSeq.sorted }
    val wrong = got.filter(_._2 != want)
    assert(wrong.isEmpty, wrong.map { case (face, pairs) =>
      s"$face: ${pairs.mkString(" ")}" }.mkString("; "))
    graft.ops.Dedup.releaseCaches()
  }

  test("editDistancePairsBetweenPrecomputed rejects a store without " +
      "its (id, l, k, sub, s) columns, naming the face") {
    val ref = Seq((1L, "prod-alpha"), (2L, "x")).toDF("doc_id", "s")
    val store = graft.ops.Dedup.editDistanceSegmentStore(
      ref, "doc_id", "s", 1)
    val ex = intercept[IllegalArgumentException] {
      graft.ops.Dedup.editDistancePairsBetweenPrecomputed(
        ref, store.drop("s"), "doc_id", "s", 1)
    }
    assert(ex.getMessage.contains("editDistancePairsBetweenPrecomputed") &&
      ex.getMessage.contains("(id, l, k, sub, s)") &&
      ex.getMessage.contains("editDistanceSegmentStore"), ex.getMessage)
  }

  test("PassJoin plan build launches at most the probe jobs of each " +
      "face (limit probes, the store stamp read; no estimate on a " +
      "small input)") {
    val all = Seq(
      (1L, "prod-alpha"), (2L, "prod-alphA"), (3L, "prod-alpha7"),
      (4L, "prod-alph"), (5L, "prod-beta"), (6L, "x"), (7L, "xy"),
      (8L, ""), (9L, "prod-alpha"), (10L, "entirely-else")
    ).toDF("doc_id", "s")
    val ref = all.where($"doc_id" < 6 || $"doc_id" === 8L)
    val neu = all.where($"doc_id" >= 6 && $"doc_id" =!= 8L)
    val longs = all.where(length($"s") > 2)
    val store = graft.ops.Dedup.editDistanceSegmentStore(
      ref, "doc_id", "s", 1)
    val longStore = graft.ops.Dedup.editDistanceSegmentStore(
      longs, "doc_id", "s", 1)
    // budgets: the plan-build job counts of the three separate face
    // bodies that preceded the shared core, measured on these inputs,
    // but for the one case marked below
    val faces = Seq[(String, Int, () => DataFrame)](
      ("self", 7, () =>
        graft.ops.Dedup.editDistancePairs(all, "doc_id", "s", 1)),
      ("self, no shorts", 5, () =>
        graft.ops.Dedup.editDistancePairs(longs, "doc_id", "s", 1)),
      ("between", 10, () => graft.ops.Dedup.editDistancePairsBetween(
        neu, ref, "doc_id", "s", 1)),
      ("between, no shorts", 8, () => graft.ops.Dedup
        .editDistancePairsBetween(longs.where($"doc_id" >= 5),
          longs.where($"doc_id" < 5), "doc_id", "s", 1)),
      // the one exception, 7 against 6: the separate bodies persisted
      // two identical (id, s, n) bases here, which shared one cache;
      // the core persists the reference segment frame, a second cache
      ("between, one frame on both sides", 7, () => graft.ops.Dedup
        .editDistancePairsBetween(longs, longs, "doc_id", "s", 1)),
      ("store", 9, () => graft.ops.Dedup
        .editDistancePairsBetweenPrecomputed(neu, store, "doc_id", "s", 1)),
      ("store, no shorts", 7, () => graft.ops.Dedup
        .editDistancePairsBetweenPrecomputed(longs, longStore, "doc_id",
          "s", 1)))
    for ((face, limit, build) <- faces) {
      val (_, jobs) = jobsIn(build())
      assert(jobs <= limit, s"$face: $jobs plan-build jobs > $limit")
    }
    graft.ops.Dedup.releaseCaches()
  }

  test("normalizeUrl canonicalizes equivalent spellings and keeps " +
      "significant parts") {
    val in = Seq(
      "https://Example.com/A/b?utm_source=x&id=7",     // tracking + case
      "https://example.com:443/A/b?id=7#frag",         // port + fragment
      "https://www.example.com/A/b/?id=7",             // www + slash
      "http://example.com:80/A/b?id=7",                // http default port
      "https://example.com/A/b?id=7&utm_b=2&gclid=z",  // trailing trackers
      "https://example.com/A/b?pref=1",                // pref is NOT ref
      "https://example.com:8443/A/B",                  // non-default port
      "https://example.com:443",                       // port, no path
      "https://example.com/a&ref=x/page",              // '&ref=' in PATH
      "https://user:pw@example.com:443/x",             // userinfo + port
      "https://example.com/b?z=2&id=7",                // param ORDER
      "https://example.com/b?JSESSIONID=A9&id=7&z=2",  // session id
      "https://example.com/b?ref=main&id=7",           // ref is KEPT
      "https://example.com/story?sid=99241"            // sid is KEPT (r14)
    ).toDF("url")
    val out = in.select(
      graft.ops.TextFunctions.normalizeUrl($"url")).as[String]
      .collect().toSeq
    assert(out(0) == "https://example.com/A/b?id=7")
    assert(out(1) == "https://example.com/A/b?id=7")
    assert(out(2) == "https://example.com/A/b?id=7")
    assert(out(3) == "http://example.com/A/b?id=7")
    assert(out(4) == "https://example.com/A/b?id=7")
    assert(out(5) == "https://example.com/A/b?pref=1")
    assert(out(6) == "https://example.com:8443/A/B") // path case kept
    assert(out(7) == "https://example.com")
    // '&'/'=' are legal in paths: the tracking strip and separator
    // repair run on the query string ONLY
    assert(out(8) == "https://example.com/a&ref=x/page")
    // userinfo authorities still drop the default port
    assert(out(9) == "https://user:pw@example.com/x")
    // surviving params SORT: ?z=2&id=7 and ?id=7&z=2 are one key
    assert(out(10) == "https://example.com/b?id=7&z=2")
    // session ids strip case-insensitively, like the trackers
    assert(out(11) == "https://example.com/b?id=7&z=2")
    // `ref` is meaningful (?ref=branch on VCS hosts) — NOT stripped by
    // default; a custom tracker list can opt in
    assert(out(12) == "https://example.com/b?id=7&ref=main")
    // `sid` is a genuine resource id on many sites (forum/story ids)
    // — kept by default since r14 (v3 keys); corpora that use it as a
    // session token opt in below
    assert(out(13) == "https://example.com/story?sid=99241")
    val custom = in.select(graft.ops.TextFunctions.normalizeUrl($"url",
      graft.ops.TextFunctions.DefaultTrackingParams ++ Seq("ref", "sid")))
      .as[String].collect().toSeq
    assert(custom(12) == "https://example.com/b?id=7")
    assert(custom(13) == "https://example.com/story")
  }

  test("domainPercentileFilter thresholds per domain; approx path " +
      "matches exact below the sketch accuracy") {
    // domain a: scores 1..5 (p50 = 3), domain b: 10..50 (p50 = 30) —
    // a global p50 would keep ALL of b and one row of a
    // null sources form their OWN domain (p50 of 7,8,9 = 8) — a plain
    // equi-join would silently delete them
    val df = Seq(
      (1L, Some("a"), 1L), (2L, Some("a"), 2L), (3L, Some("a"), 3L),
      (4L, Some("a"), 4L), (5L, Some("a"), 5L), (6L, Some("b"), 10L),
      (7L, Some("b"), 20L), (8L, Some("b"), 30L), (9L, Some("b"), 40L),
      (10L, Some("b"), 50L), (11L, None, 7L), (12L, None, 8L),
      (13L, None, 9L)
    ).toDF("doc_id", "source", "score")
    val exact = graft.ops.Curation.domainPercentileFilter(
      df, "source", "score", 0.5, exact = true)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(exact == Seq(3L, 4L, 5L, 8L, 9L, 10L, 12L, 13L))
    // the library DEFAULT is the bounded-memory approx sketch
    val approx = graft.ops.Curation.domainPercentileFilter(
      df, "source", "score", 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(approx == exact)
  }

  test("resolveClusters keeps the best-quality doc per cluster and " +
      "passes singletons through") {
    val docs = Seq(
      (1L, "a", 10L), (2L, "a", 30L), (3L, "a", 30L), // cluster {1,2,3}
      (4L, "b", 5L), // singleton
      (5L, "c", 7L), (6L, "c", 2L) // cluster {5,6}
    ).toDF("doc_id", "text", "n_chars")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("id", "component")
    val out = graft.ops.Dedup.resolveClusters(docs, clusters,
      "doc_id", "n_chars")
      .select("doc_id", "component", "cluster_size")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // 2 beats 3 on the id tie-break at equal quality, 1 loses on
    // quality; 4 is its own singleton; 5 beats 6 on quality
    assert(out == Seq((2L, 1L, 3L), (4L, 4L, 1L), (5L, 5L, 2L)))
  }

  test("semantic decontamination flags cosine-near corpus rows; LSH " +
      "path matches the broadcast path on a recall-complete fixture") {
    // corpus 1 duplicates bench 10 exactly (cosine 1), corpus 2 is its
    // negation (cosine -1), corpus 3 is orthogonal, corpus 4 is a
    // scaled copy of bench 11 (cosine 1 — scale-invariant)
    val bench = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (11L, Array(0.0f, 1.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(-1.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 0.0f, 1.0f)),
      (4L, Array(0.0f, 2.0f, 2.0f, 0.0f))).toDF("vec_id", "embedding")
    val exact = Decontaminate.semantic(corpus, "vec_id", "embedding",
      bench, "vec_id", "embedding", threshold = 0.9)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(exact == Seq((1L, 1L, 10L), (4L, 1L, 11L)))
    // identical-direction vectors share every LSH bucket, so recall is
    // complete on this fixture: forcing the limit below the bench size
    // exercises the bucket-join path and must reproduce the broadcast
    // path exactly
    spark.conf.set("spark.graft.semdecon.broadcastLimit", "1")
    try {
      val lsh = Decontaminate.semantic(corpus, "vec_id", "embedding",
        bench, "vec_id", "embedding", threshold = 0.9, dim = 4)
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(lsh == exact)
    } finally spark.conf.unset("spark.graft.semdecon.broadcastLimit")
  }

  test("contaminationBloom: empty benchmark yields empty result") {
    val corpus = Seq((1L, "some corpus text here")).toDF("doc_id", "text")
    val bench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out = Decontaminate.contaminationBloom(corpus, "doc_id", "text",
      bench, "doc_id", "text", n = 3, expectedBenchShingles = 16L)
    assert(out.count() == 0)
  }

  // ---- Dsir ----

  test("dsir weights rank target-like documents higher") {
    // doc 1 is pure target phrasing WITHOUT repeated tokens: weights are
    // unnormalized sums, so a doc repeating a token the raw corpus is
    // rich in (e.g. 'spark spark spark') legitimately pays per
    // occurrence and can rank below a shorter mixed doc — that's the
    // published estimator, not a bug
    val raw = Seq(
      (1L, "spark shuffle partition executor"),
      (2L, "poem moon river autumn leaves poem moon"),
      (3L, "spark partition poem")
    ).toDF("doc_id", "text")
    val target = Seq(
      (10L, "spark shuffle partition executor"),
      (11L, "spark partition broadcast shuffle")
    ).toDF("doc_id", "text")
    // 128 buckets: collision-free for this fixture's features (64 put
    // 'moon river' and 'partition broadcast' in one bucket, which
    // legitimately flips the tiny-corpus ordering — hashed features
    // trade exactly this for bounded state)
    val ratios = Dsir.logRatios(target, raw, "text", buckets = 128)
    assert(ratios.count() == 128)
    val w = Dsir.logWeights(raw, "doc_id", "text", ratios, 128)
      .select("doc_id", "log_weight")
      .as[(Long, Double)].collect().toMap
    // doc 1 is pure target vocabulary, doc 2 pure off-target; only the
    // ORDERING is a property of the method (heavy smoothing on a tiny
    // target corpus can push every absolute weight negative)
    assert(w(1L) > w(3L) && w(3L) > w(2L))
  }

  test("dsir empty-text documents weigh 0 and survive the left join") {
    val raw = Seq((1L, "spark shuffle"), (2L, "")).toDF("doc_id", "text")
    val target = Seq((10L, "spark shuffle")).toDF("doc_id", "text")
    val ratios = Dsir.logRatios(target, raw, "text", buckets = 32)
    val w = Dsir.logWeights(raw, "doc_id", "text", ratios, 32)
      .select("doc_id", "log_weight").as[(Long, Double)].collect().toMap
    assert(w(2L) == 0.0 && w.size == 2)
  }

  test("dsir select is deterministic and takes exactly k") {
    val raw = Seq.tabulate(20)(i =>
      (i.toLong, if (i % 2 == 0) "spark shuffle partition"
                 else "moon river poem")).toDF("doc_id", "text")
    val target = Seq((100L, "spark shuffle partition executor"))
      .toDF("doc_id", "text")
    def run() = Dsir.select(raw, "doc_id", "text", target, k = 5,
      buckets = 64, salt = "t").select("doc_id")
      .as[Long].collect().sorted.toSeq
    val a = run()
    assert(a == run() && a.size == 5)
    // noiseless mode: pure top-k by weight — all selected docs target-like
    val plain = Dsir.select(raw, "doc_id", "text", target, k = 5,
      buckets = 64, gumbel = false).select("doc_id")
      .as[Long].collect().toSeq
    assert(plain.forall(_ % 2 == 0) && plain.size == 5)
  }

  test("removeBoilerplateLines drops cross-corpus lines, keeps order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "nav\nalpha\nmiddle\nfooter"),
      (2L, "nav\nbeta\nfooter"),
      (3L, "nav\ngamma\nfooter"),
      (4L, "nav\nfooter")).toDF("doc_id", "text")
    val out = Dedup.removeBoilerplateLines(docs, "doc_id", "text",
      maxDocFreq = 2).orderBy("doc_id")
      .select("clean").as[String].collect().toSeq
    assert(out == Seq("alpha\nmiddle", "beta", "gamma", ""))
  }

  test("LanguageModel: bigram counts and hand-computed perplexity") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b"), (2L, "a b")).toDF("doc_id", "text")
    val (c12, c1) = LanguageModel.train(docs, "text")
    assert(c12.collect().map(r =>
      ((r.getString(0), r.getString(1)), r.getLong(2))).toMap ==
      Map(("<s>", "a") -> 2L, ("a", "b") -> 3L, ("b", "a") -> 1L))
    assert(c1.collect().map(r => (r.getString(0), r.getLong(1))).toMap ==
      Map("<s>" -> 2L, "a" -> 3L, "b" -> 1L))

    // self-score doc 2 "a b": V = |{a, b}| = 2, k = 0.5
    //   p(<s>,a) = (2+0.5)/(2+0.5*2) = 2.5/3
    //   p(a,b)   = (3+0.5)/(3+0.5*2) = 3.5/4
    val expected =
      -(math.log(2.5 / 3) / math.log(2) + math.log(3.5 / 4) / math.log(2)) / 2
    val row = LanguageModel.perplexity(docs, "doc_id", "text", docs, "text")
      .where($"doc_id" === 2).head()
    assert(math.abs(row.getAs[Double]("bits_per_token") - expected) < 1e-9)
    assert(row.getAs[Long]("n_bigrams") == 2L)
    assert(math.abs(row.getAs[Double]("perplexity") -
      math.pow(2, expected)) < 1e-9)

    // out-of-domain text: unseen bigrams hit the smoothing floor, score
    // is finite and worse (higher) than in-domain
    val weird = Seq((9L, "z q z")).toDF("doc_id", "text")
    val w = LanguageModel.perplexity(weird, "doc_id", "text", docs, "text")
      .head()
    assert(!w.getAs[Double]("bits_per_token").isNaN)
    assert(w.getAs[Double]("bits_per_token") > expected)
  }

  test("overlapFraction: per-doc shingle share, short docs omitted") {
    val corpus = Seq(
      (10L, "a b c d e"),    // 3 trigrams, "a b c"+"b c d" in bench
      (11L, "x y z w"),      // 2 trigrams, none in bench
      (12L, "a b")           // < 3 tokens: no evidence, omitted
    ).toDF("doc_id", "text")
    val bench = Seq("a b c d q", "q b c d").toDF("text")
    val out = Decontaminate.overlapFraction(
      corpus, "doc_id", "text", bench, "text", n = 3)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (10L, 3L, 2L, BigDecimal(2.0 / 3).setScale(9,
        BigDecimal.RoundingMode.HALF_UP).toDouble),
      (11L, 2L, 0L, 0.0)))
  }

  test("minhashJaccardEstimate: exact dups estimate 1.0; candidates " +
      "are the LSH pair set") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "entirely different words in this sentence appear here now"),
      (4L, "the quick brown fox jumps over the lazy cat tonight")
    ).toDF("doc_id", "text")
    val est = Dedup.minhashJaccardEstimate(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSeq.sortBy(p => (p._1, p._2))
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSeq.sorted
    Dedup.releaseCaches()
    assert(est.map(p => (p._1, p._2)) == pairs)
    // identical docs agree on every coordinate
    assert(est.find(p => p._1 == 1L && p._2 == 2L).exists(_._3 == 1.0))
    // estimates are valid probabilities, and the near-dup (1,4) sits
    // strictly between 0 and 1... or collides fully only if every
    // permutation agrees — either way bounded
    assert(est.forall(p => p._3 >= 0.0 && p._3 <= 1.0))
  }

  test("RandomProjection: deterministic, seed-sensitive, and " +
      "JL-faithful on relative distances") {
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian()))).toDF("id", "v")
    val p1 = RandomProjection.project(vecs, "v", "p", 16, 64)
      .select("id", "p").as[(Long, Seq[Double])].collect().toMap
    val p2 = RandomProjection.project(vecs, "v", "p", 16, 64)
      .select("id", "p").as[(Long, Seq[Double])].collect().toMap
    assert(p1 == p2) // same seed -> identical projection
    val pSeed = RandomProjection.project(vecs, "v", "p", 16, 64, seed = 9)
      .select("id", "p").as[(Long, Seq[Double])].collect().toMap
    assert(p1(0L) != pSeed(0L)) // different seed -> different matrix
    assert(p1.values.forall(_.length == 16))
    // JL sanity: squared-norm preserved in expectation — the mean
    // ratio ||p(v)||^2/||v||^2 over 40 gaussian vectors sits near 1
    val orig = vecs.as[(Long, Seq[Double])].collect().toMap
    val ratios = p1.keys.toSeq.map { k =>
      val n0 = orig(k).map(x => x * x).sum
      val n1 = p1(k).map(x => x * x).sum
      n1 / n0
    }
    val mean = ratios.sum / ratios.size
    assert(mean > 0.7 && mean < 1.3, s"mean norm ratio $mean")
  }

  test("stripHtml: blocks, tags, entities, whitespace") {
    val in = Seq(
      "<html><head><style>p{x}</style><script a=\"b\">if(1&&2)x();" +
        "</script></head><body><h1>T</h1><!-- c --><p>hello" +
        "   world</p></body></html>",
      "two <script>a()</script> scripts <script>b()</script> here",
      "&amp;lt; stays literal &lt; decodes &#39;q&#39; &nbsp;ok",
      "no markup at all"
    ).toDF("html")
    val out = in.select(TextFunctions.stripHtml($"html")).as[String]
      .collect().toSeq
    assert(out(0) == "T hello world")
    // non-greedy: prose BETWEEN two script blocks survives
    assert(out(1) == "two scripts here")
    // &amp;lt; -> literal "&lt;" (amp decodes LAST); &lt; -> "<"
    assert(out(2) == "&lt; stays literal < decodes 'q' ok")
    assert(out(3) == "no markup at all")
  }

  test("bitextMine: mutual-NN both ways, hubs excluded, margin gates") {
    val a = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f)),
      (3L, Array(0f, 0f, 1f, 0f))
    ).toDF("vec_id", "embedding")
    val b = Seq(
      (11L, Array(0.9f, 0.1f, 0f, 0f)),  // a1's translation
      (12L, Array(0f, 0.9f, 0.1f, 0f)),  // a2's translation
      (13L, Array(0.5f, 0.5f, 0.5f, 0.5f)) // hub: cos 0.5 with EVERY a
    ).toDF("vec_id", "embedding")
    val out = Similarity.bitextMine(a, b, "vec_id", "embedding", k = 2)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    // a3's nearest is the hub, but the hub's nearest is a1 — not
    // mutual, so no pair for a3; the two real translations survive
    // with margins well above 1
    assert(out.map(p => (p._1, p._2)) == Seq((1L, 11L), (2L, 12L)))
    assert(out.forall(_._4 > 1.4))
    // a stricter margin floor empties the mined set
    assert(Similarity.bitextMine(a, b, "vec_id", "embedding",
      k = 2, minMargin = 2.0).count() == 0)
    // broadcast valve: an over-limit b side fails fast with the remedy
    spark.conf.set("spark.graft.bitext.broadcastLimit", "2")
    try {
      val ex = intercept[IllegalArgumentException] {
        Similarity.bitextMine(a, b, "vec_id", "embedding").count()
      }
      assert(ex.getMessage.contains("broadcastLimit") &&
        ex.getMessage.contains("LSH"))
    } finally spark.conf.unset("spark.graft.bitext.broadcastLimit")
    // the LSH-candidate scale path mines the same PAIRS here (the
    // true nearest neighbors collide in some table; margins are
    // computed within candidates, so only the pair set is pinned)
    val lsh = Similarity.bitextMineLsh(a, b, "vec_id", "embedding",
      k = 2, minMargin = 1.0, nPlanes = 4, tables = 8, dim = 4)
      .as[(Long, Long, Double, Double)].collect()
      .map(p => (p._1, p._2)).toSet
    assert(lsh == Set((1L, 11L), (2L, 12L)))
  }

  test("redactContaminated cuts covered windows, keeps husks, passes " +
      "clean docs through") {
    val corpus = Seq(
      (10L, "keep one two three four keep2"), // middle trigram leaks
      (11L, "totally clean text here"),
      (12L, "one two three"),                 // fully leaked -> husk
      (13L, "")                               // empty doc -> husk
    ).toDF("doc_id", "text")
    val bench = Seq("x one two three y").toDF("text")
    val out = Decontaminate.redactContaminated(
      corpus, "doc_id", "text", bench, "text", n = 3)
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    // doc 10: window "one two three" covers positions 1-3; "keep",
    // "four", "keep2" survive (only the exact window is cut, not the
    // whole doc)
    assert(out == Seq(
      (10L, "keep four keep2", 3L),
      (11L, "totally clean text here", 4L),
      (12L, "", 0L),
      (13L, "", 0L)))
  }

  test("dedupLinesInDoc keeps first occurrences and empty separators") {
    val out = Seq(
      "nav\nbody text\nnav\n\nbody text\n\nfooter",
      "a\na\na",
      "",
      "only one line"
    ).toDF("text")
      .select(TextFunctions.dedupLinesInDoc($"text")).as[String]
      .collect().toSeq
    // repeats drop, BOTH empty separators survive (formatting intact)
    assert(out(0) == "nav\nbody text\n\n\nfooter")
    assert(out(1) == "a")
    assert(out(2) == "")
    assert(out(3) == "only one line")
  }

  test("curate minLangMargin drops coin-flip labels the plain gate " +
      "keeps") {
    val df = Seq(
      (1L, "og huset af træ det skal til ikke hvad også være der " +
        "og det ikke og det"),                       // clearly da
      (2L, "og det ikke og det ikke og det ikke og det ikke og det")
      // da/no tie on every marker -> label "da", margin 0
    ).toDF("doc_id", "text")
    val loose = Curation.curate(df, "doc_id", "text", targetLang = "da")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(loose == Seq(1L, 2L))
    val strict = Curation.curate(df, "doc_id", "text",
      targetLang = "da", minLangMargin = 2)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(strict == Seq(1L))
  }

  test("paragraphDedup invariants on a generated corpus: every " +
      "surviving paragraph unique corpus-wide, all subsets of input") {
    // deterministic pseudo-random corpus with heavy sharing: 60 docs,
    // 3-6 paragraphs drawn from a 25-paragraph pool
    val pool = (0 until 25).map(i => s"paragraph body number $i")
    val docs = (0 until 60).map { d =>
      val n = 3 + (d * 7) % 4
      val paras = (0 until n).map(j => pool((d * 13 + j * 5) % 25))
      (d.toLong, paras.mkString("\n\n"))
    }.toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs, "doc_id", "text")
      .as[(Long, String, Long)].collect()
    val survivors = out.flatMap(_._2.split("\n\n"))
    // no paragraph survives twice anywhere in the corpus
    assert(survivors.length == survivors.distinct.length)
    // survivors are exactly the distinct paragraphs the corpus used
    val used = docs.as[(Long, String)].collect()
      .flatMap(_._2.split("\n\n")).distinct.toSet
    assert(survivors.toSet == used)
    // n_kept sums to the distinct-paragraph count
    assert(out.map(_._3).sum == used.size)
  }

  test("paragraphDedup: first corpus occurrence survives, docs " +
      "reassemble in order, pure-boilerplate docs drop") {
    val df = Seq(
      (1L, "unique one\n\nshared footer\n\nunique two"),
      (2L, "other prose\n\nshared footer"),
      (3L, "shared footer"), // every paragraph loses -> doc drops
      (4L, "shared footer\n\nlast doc prose")
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(df, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "unique one\n\nshared footer\n\nunique two", 3L),
      (2L, "other prose", 1L),
      (4L, "last doc prose", 1L)))
  }

  test("duplicateClusters converges on the adversarial id layouts " +
      "that broke each propagation variant") {
    // each shape defeated one design in r14: monotone chains shift
    // under naive contraction, alternating chains stall label-side
    // pointer jumping, deep chains exceed plain neighbor-min's
    // maxIter, stars + cliques are the common fast path — all must
    // land on exact min-id components within the DEFAULT maxIter.
    // driverEdgeLimit=0 pins the DISTRIBUTED contraction loop (these
    // fixtures are small enough that the r15 driver union-find fast
    // path would otherwise absorb them and stop guarding the loop);
    // the property spec below covers both regimes on random graphs
    def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      spark.conf.set("spark.graft.clusters.driverEdgeLimit", "0")
      try Dedup.duplicateClusters(edges.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      finally spark.conf.unset("spark.graft.clusters.driverEdgeLimit")
    }
    // monotone path 0-1-2-...-120
    val mono = (0L until 120L).map(i => (i, i + 1))
    assert(cc(mono) == (0L to 120L).map(_ -> 0L).toMap)
    // alternating-id path: 0-100-1-101-2-102-... (local minima every
    // other hop — the pointer-jump staller)
    val alt = (0L until 60L).flatMap(i =>
      Seq((i, i + 100L), (i + 100L, i + 1L))).dropRight(1)
    val altC = cc(alt)
    assert(altC.values.toSet == Set(0L) && altC.size == 120)
    // two chains bridged mid-way + a clique + singleton pair
    val mixed = (0L until 30L).map(i => (i * 2, i * 2 + 2)) ++
      (100L until 130L).map(i => (i, i + 1)) ++
      Seq((30L, 115L)) ++
      (for (a <- 200L until 205L; b <- a + 1 until 205L) yield (a, b)) ++
      Seq((300L, 301L))
    val m = cc(mixed)
    assert(m(130L) == 0L && m(115L) == 0L && m(60L) == 0L)
    assert((200L until 205L).forall(m(_) == 200L))
    assert(m(301L) == 300L)
  }

  test("mergeClusters equals the full recompute and chains across " +
      "batches") {
    // batch 1: {1,2,3} one cluster, {10,11} another
    val b1 = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val prior = Dedup.duplicateClusters(b1)
    // batch 2: bridges the two prior clusters (3-10), adds an
    // all-new cluster (20-21), an intra-component no-op (1-3), and a
    // new member onto a prior cluster (11-30)
    val b2 = Seq((3L, 10L), (20L, 21L), (1L, 3L), (11L, 30L))
      .toDF("id_a", "id_b")
    val merged = Dedup.mergeClusters(prior, b2)
      .as[(Long, Long)].collect().toMap
    val full = Dedup.duplicateClusters(b1.unionByName(b2))
      .as[(Long, Long)].collect().toMap
    assert(merged == full)
    assert(merged(30L) == 1L && merged(11L) == 1L && merged(21L) == 20L)
    // chains: a third batch folds into the MERGED labels (the output
    // preserves the min-id invariant the contraction rests on)
    val b3 = Seq((21L, 30L)).toDF("id_a", "id_b")
    val merged3 = Dedup.mergeClusters(
      Dedup.mergeClusters(prior, b2), b3)
      .as[(Long, Long)].collect().toMap
    val full3 = Dedup.duplicateClusters(
      b1.unionByName(b2).unionByName(b3))
      .as[(Long, Long)].collect().toMap
    assert(merged3 == full3)
    // empty prior: every pair node is new
    val fromEmpty = Dedup.mergeClusters(prior.limit(0), b1)
      .as[(Long, Long)].collect().toMap
    assert(fromEmpty == prior.as[(Long, Long)].collect().toMap)
  }

  test("embeddingNearDupBetweenPrecomputed matches the from-scratch " +
      "cross-frame run and the self-join restricted to the split") {
    val vecs = Seq(
      (1L, Array(1.0, 0.0, 0.0, 0.0)),
      (2L, Array(2.0, 0.0, 0.0, 0.0)),    // same direction as 1
      (3L, Array(0.0, 1.0, 0.0, 0.0)),
      (11L, Array(3.0, 0.0, 0.0, 0.0)),   // delta: dup of 1/2
      (12L, Array(0.0, 0.0, 1.0, 0.0))    // delta: novel
    ).toDF("vec_id", "embedding")
    val store = Files.createTempDirectory("vecstore-spec").toString
    Dedup.vectorBucketSignatures(vecs.where($"vec_id" < 10),
        "vec_id", "embedding", blockTables = 2, blockPlanes = 4,
        dim = 4)
      .write.mode("overwrite").partitionBy("t").parquet(store)
    val viaStore = Dedup.embeddingNearDupBetweenPrecomputed(
      vecs.where($"vec_id" >= 10), spark.read.parquet(store),
      vecs.where($"vec_id" < 10), "vec_id", "embedding",
      threshold = 0.9, blockTables = 2, blockPlanes = 4, dim = 4)
      .as[(Long, Long)].collect().toSet
    assert(viaStore == Set((11L, 1L), (11L, 2L)))
    val recompute = Dedup.embeddingNearDupBetween(
      vecs.where($"vec_id" >= 10), vecs.where($"vec_id" < 10),
      "vec_id", "embedding", threshold = 0.9, blockTables = 2,
      blockPlanes = 4, dim = 4)
      .as[(Long, Long)].collect().toSet
    Dedup.releaseCaches()
    assert(viaStore == recompute)
    // the store refuses an adaptive bucket space
    intercept[IllegalArgumentException] {
      Dedup.vectorBucketSignatures(vecs, "vec_id", "embedding",
        blockTables = 2, blockPlanes = 0, dim = 4)
    }
  }

  test("simhashNearDupBetweenPrecomputed matches brute directional " +
      "hamming and never touches ref text") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "an entirely different document about spark and scala"),
      (11L, "the quick brown fox jumps over the lazy dog tonight"),
      (12L, "another unrelated piece of text with its own words")
    ).toDF("doc_id", "text")
    val store = Files.createTempDirectory("simstore-spec").toString
    Dedup.simhashChunkSignatures(docs.where($"doc_id" < 10),
        "doc_id", "text").write.mode("overwrite")
      .partitionBy("chunk").parquet(store)
    val viaStore = Dedup.simhashNearDupBetweenPrecomputed(
      docs.where($"doc_id" >= 10), spark.read.parquet(store),
      "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(viaStore == Set((11L, 1L)))
    // brute directional ground truth over the fingerprints —
    // pigeonhole blocking is complete within the radius
    val fp = graft.ops.TextFunctions
      .simhash(docs, "doc_id", "text", 60)
      .as[(Long, Long)].collect().toMap
    val brute = (for {
      n <- fp.keys if n >= 10
      r <- fp.keys if r < 10
      if java.lang.Long.bitCount(fp(n) ^ fp(r)) <= 3
    } yield (n, r)).toSet
    assert(viaStore == brute)
    assert(viaStore == Dedup.simhashNearDupBetween(
      docs.where($"doc_id" >= 10), docs.where($"doc_id" < 10),
      "doc_id", "text").as[(Long, Long)].collect().toSet)
  }

  test("semanticPrecomputed is bit-identical to semantic's LSH path") {
    val corpus = Seq(
      (1L, Array(1.0, 0.0, 0.0, 0.0)),
      (2L, Array(0.0, 1.0, 0.0, 0.0)),
      (3L, Array(0.7, 0.7, 0.0, 0.0))
    ).toDF("doc_id", "embedding")
    val bench = Seq(
      (100L, Array(2.0, 0.0, 0.0, 0.0)),
      (101L, Array(0.0, 0.0, 0.0, 1.0))
    ).toDF("b_id", "b_vec")
    val store = Files.createTempDirectory("decon-store").toString
    Dedup.vectorBucketSignatures(bench, "b_id", "b_vec",
        blockTables = 4, blockPlanes = 4, dim = 4)
      .write.mode("overwrite").partitionBy("t").parquet(store)
    val viaStore = graft.ops.Decontaminate.semanticPrecomputed(
      corpus, "doc_id", "embedding", spark.read.parquet(store),
      bench, "b_id", "b_vec", threshold = 0.9, nPlanes = 4,
      tables = 4, dim = 4)
      .as[(Long, Long, Long)].collect().toSet
    // force semantic onto its LSH path to compare like with like
    spark.conf.set("spark.graft.semdecon.broadcastLimit", "1")
    val lsh = try graft.ops.Decontaminate.semantic(
      corpus, "doc_id", "embedding", bench, "b_id", "b_vec",
      threshold = 0.9, nPlanes = 4, tables = 4, dim = 4)
      .as[(Long, Long, Long)].collect().toSet
    finally spark.conf.unset("spark.graft.semdecon.broadcastLimit")
    assert(viaStore == lsh && viaStore == Set((1L, 1L, 100L)))
  }

  test("bitextMineLsh boundary regime: more tables hold recall on " +
      "0.8-cosine pairs where more planes collapse it") {
    // planted parallel pairs at the ~0.82-cosine boundary (amp 1.2
    // per-component jitter): the brute path is ground truth, both
    // paths share the margin math, so the gap is pure LSH candidate
    // loss. Deterministic (hash-seeded) — the SCALE.md curve's
    // regime, pinned.
    val a = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .orderBy("vec_id").limit(64)
      .select($"vec_id", $"embedding")
    val b = a.select($"vec_id",
      expr("transform(embedding, (x, i) -> x * (1.0 + " +
        "((hash(vec_id * 131 + i) % 101) / 101.0 * 1.2)))")
        .as("embedding"))
    def mined(np: Int, tb: Int): Set[(Long, Long)] =
      graft.ops.Similarity.bitextMineLsh(a, b, "vec_id", "embedding",
        k = 4, minMargin = 1.0, nPlanes = np, tables = tb, dim = 64)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val brute = graft.ops.Similarity.bitextMine(a, b, "vec_id",
        "embedding", k = 4, minMargin = 1.0)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty)
    def recall(s: Set[(Long, Long)]): Double =
      s.intersect(brute).size.toDouble / brute.size
    // coarse buckets, many tables: the bitext posture — recall holds
    assert(recall(mined(np = 4, tb = 16)) >= 0.95)
    // fine buckets, few tables: the NEAR-DUP posture — collapses on
    // moderate-cosine pairs (the sizing mistake the curve warns about)
    assert(recall(mined(np = 16, tb = 2)) <= 0.6)
  }

  test("empty-frame dim probes return empty results instead of " +
      "throwing (r13 advice)") {
    val empty = Seq.empty[(Long, Array[Double])]
      .toDF("vec_id", "embedding")
    assert(graft.ops.Similarity.bitextMineLsh(
      empty, empty, "vec_id", "embedding").count() == 0)
    assert(graft.ops.Similarity.lshTopK(
      empty, empty, "vec_id", "embedding", k = 3).count() == 0)
    assert(Dedup.embeddingNearDup(
      empty, "vec_id", "embedding", 0.9, blockPlanes = 4).count() == 0)
  }

  test("precomputed faces reject a store built under different " +
      "parameters (r14 advice: silent pair loss -> loud failure)") {
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"))
      .toDF("doc_id", "text")
    val vecs = Seq((1L, Array(1.0, 0.0)), (2L, Array(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    // simhash: store at maxHamming=3, call at 2 → different chunking
    val sim = Dedup.simhashChunkSignatures(docs, "doc_id", "text",
      bits = 60, maxHamming = 3)
    val e1 = intercept[IllegalArgumentException] {
      Dedup.simhashNearDupBetweenPrecomputed(docs, sim, "doc_id",
        "text", bits = 60, maxHamming = 2).collect()
    }
    assert(e1.getMessage.contains("p_maxh"))
    // vectors: store at 4 planes, call at 8 → different bucket space
    val vb = Dedup.vectorBucketSignatures(vecs, "vec_id", "embedding",
      blockTables = 2, blockPlanes = 4, dim = 2)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.embeddingNearDupBetweenPrecomputed(vecs, vb, vecs,
        "vec_id", "embedding", 0.9, blockTables = 2, blockPlanes = 8,
        dim = 2).collect()
    }
    assert(e2.getMessage.contains("p_planes"))
    // minhash: store at 12 perms, call at 8
    val mb = Dedup.minhashBandSignatures(docs, "doc_id", "text",
      k = 3, numPerms = 12, bands = 4)
    val e3 = intercept[IllegalArgumentException] {
      Dedup.minhashLshPairsBetweenPrecomputed(docs, mb, "doc_id",
        "text", k = 3, numPerms = 8, bands = 4).collect()
    }
    assert(e3.getMessage.contains("p_perms"))
    // a legacy store WITHOUT the stamp columns skips the check
    val legacy = sim.drop("p_bits", "p_maxh")
    assert(Dedup.simhashNearDupBetweenPrecomputed(docs, legacy,
      "doc_id", "text", bits = 60, maxHamming = 2).count() >= 0)
    Dedup.releaseCaches()
  }

  test("duplicateClusters labels self-pair-only nodes as singleton " +
      "components (r14 advice: output contract = every node in pairs)") {
    val pairs = Seq((7L, 7L), (1L, 2L), (9L, 9L), (2L, 3L))
      .toDF("id_a", "id_b")
    val labels = Dedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      7L -> 7L, 9L -> 9L))
  }

  test("resolveClustersIncremental equals the one-shot resolve across " +
      "merge / growth / new-singleton / untouched cases, and chains") {
    // prior corpus: clusters {1,2} and {5,6}, singletons 8, 9
    // delta: 10 merges {1,2} with {5,6} (cross pair), 11 joins
    // nothing (new singleton), 12+13 form a brand-new cluster;
    // cluster {3,4} is untouched throughout
    val docsAll = Seq(
      (1L, 50L), (2L, 70L), (5L, 60L), (6L, 40L), (8L, 10L), (9L, 20L),
      (3L, 5L), (4L, 9L),
      (10L, 90L), (11L, 30L), (12L, 80L), (13L, 85L))
      .toDF("doc_id", "quality")
    val priorDocs = docsAll.where($"doc_id" < 10)
    val newDocs = docsAll.where($"doc_id" >= 10)
    val priorPairs = Seq((1L, 2L), (5L, 6L), (3L, 4L))
      .toDF("id_a", "id_b")
    val deltaPairs = Seq((2L, 10L), (10L, 5L), (12L, 13L))
      .toDF("id_a", "id_b")
    val priorLabels = Dedup.duplicateClusters(priorPairs)
    val priorResolved = Dedup.resolveClusters(priorDocs, priorLabels,
      "doc_id", "quality")
    val newLabels = Dedup.mergeClusters(priorLabels, deltaPairs)
    val incr = Dedup.resolveClustersIncremental(docsAll, newDocs,
      priorResolved, priorLabels, newLabels, "doc_id", "quality")
      .select("doc_id", "quality", "component", "cluster_size")
    val oneShot = Dedup.resolveClusters(docsAll,
      Dedup.duplicateClusters(
        priorPairs.unionByName(deltaPairs)), "doc_id", "quality")
      .select("doc_id", "quality", "component", "cluster_size")
    val iSet = incr.as[(Long, Long, Long, Long)].collect().toSet
    val oSet = oneShot.as[(Long, Long, Long, Long)].collect().toSet
    assert(iSet == oSet)
    // spot-check the cases: merged 5-cluster elects 10 (quality 90),
    // untouched {3,4} keeps 4 (quality 9), 11 is a new singleton
    assert(iSet.contains((10L, 90L, 1L, 5L)))
    assert(iSet.contains((4L, 9L, 3L, 2L)))
    assert(iSet.contains((11L, 30L, 11L, 1L)))
    // CHAINS: a second delta over the incremental state still equals
    // the one-shot over everything
    val docs3 = docsAll.unionByName(Seq((30L, 99L)).toDF("doc_id",
      "quality"))
    val delta2 = Seq((30L, 8L)).toDF("id_a", "id_b")
    val labels3 = Dedup.mergeClusters(newLabels, delta2)
    val incr2 = Dedup.resolveClustersIncremental(docs3,
      docs3.where($"doc_id" >= 30), incr, newLabels, labels3,
      "doc_id", "quality")
      .select("doc_id", "quality", "component", "cluster_size")
      .as[(Long, Long, Long, Long)].collect().toSet
    val oneShot2 = Dedup.resolveClusters(docs3,
      Dedup.duplicateClusters(priorPairs.unionByName(deltaPairs)
        .unionByName(delta2)), "doc_id", "quality")
      .select("doc_id", "quality", "component", "cluster_size")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(incr2 == oneShot2)
    assert(incr2.contains((30L, 99L, 8L, 2L)))
    Dedup.releaseCaches()
  }

  test("property: duplicateClusters equals driver union-find on 120 " +
      "random graphs (chains, stars, trees, cliques, strided/" +
      "alternating/shuffled ids, self-pairs)") {
    // the r14 lesson industrialized: the adversarial-layout regression
    // spec pins the KNOWN killer graphs; this pins the unknown ones —
    // ScalaCheck-seeded random shapes × random id layouts, all graphs
    // namespaced into ONE contraction run (disjoint id ranges), ground
    // truth = driver-side union-find over the same edge list
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val seeds = (0 until 120).map(i =>
      Gen.long.apply(Gen.Parameters.default, Seed(777L + i)).get)
    def buildGraph(seed: Long, offset: Long): Seq[(Long, Long)] = {
      val rnd = new scala.util.Random(seed)
      val n = 2 + rnd.nextInt(59)
      val shape = rnd.nextInt(6)
      val edges: Seq[(Int, Int)] = shape match {
        case 0 => (0 until n - 1).map(i => (i, i + 1)) // chain
        case 1 => (1 until n).map(i => (0, i)) // star
        case 2 => (1 until n).map(i => (i / 2, i)) // binary tree
        case 3 => // random unions (possibly disconnected)
          (0 until n).map(_ => (rnd.nextInt(n), rnd.nextInt(n)))
        case 4 => // two cliques + one bridge
          val h = math.max(n / 4, 1)
          (for { i <- 0 until h; j <- i + 1 until h } yield (i, j)) ++
            (for { i <- h until 2 * h; j <- i + 1 until 2 * h }
              yield (i, j)) ++ Seq((0, 2 * h - 1))
        case _ => // chain + a degenerate self-pair
          (0 until n - 1).map(i => (i, i + 1)) :+ (0, 0)
      }
      val layout: Int => Long = rnd.nextInt(5) match {
        case 0 => i => i.toLong // monotone
        case 1 => i => (n - 1 - i).toLong // reversed
        case 2 => i => // alternating (the pointer-jump killer)
          if (i % 2 == 0) i.toLong else 2L * n - i
        case 3 => i => i.toLong * 7919 % (13L * n) // strided
        case 4 => // random permutation
          val p = rnd.shuffle((0 until n).toVector)
          i => p(i).toLong
      }
      edges.map { case (a, b) =>
        val (x, y) = (layout(a) + offset, layout(b) + offset)
        if (rnd.nextBoolean()) (x, y) else (y, x) // random direction
      }
    }
    val allEdges = seeds.zipWithIndex.flatMap { case (s, g) =>
      buildGraph(s, g.toLong * 1000000L)
    }
    // driver-side union-find ground truth (path-halving + union by id)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val nxt = parent(c); parent(c) = r; c = nxt
      }
      r
    }
    allEdges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val want = parent.keys.map(k => k -> find(k)).toMap
    // BOTH regimes against the same ground truth: the bounded
    // driver union-find fast path (default limit covers this frame)
    // and the distributed star-contraction loop (limit 0 forces it)
    def run(): Map[Long, Long] = Dedup.duplicateClusters(
      allEdges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    val viaDriver = run()
    spark.conf.set("spark.graft.clusters.driverEdgeLimit", "0")
    val viaLoop = try run()
      finally spark.conf.unset("spark.graft.clusters.driverEdgeLimit")
    for ((name, got) <- Seq("driver" -> viaDriver, "loop" -> viaLoop)) {
      assert(got.size == want.size, s"$name: node-count mismatch")
      val bad = want.collect {
        case (id, c) if got.get(id) != Some(c) => (id, c, got.get(id))
      }
      assert(bad.isEmpty,
        s"$name: ${bad.size} mislabeled nodes, e.g. ${bad.take(5)}")
    }
  }

  test("hammingNearDup at bits=64 maxHamming=0 buckets on the full " +
      "fingerprint, not one degenerate bucket (r14 advice mask wrap)") {
    // ids 1/2 share a 64-bit fingerprint with bit 63 set (negative as
    // a signed long — the wrap case); 3 differs in one bit
    val fp = Seq((1L, java.lang.Long.MIN_VALUE | 5L),
      (2L, java.lang.Long.MIN_VALUE | 5L),
      (3L, java.lang.Long.MIN_VALUE | 4L)).toDF("id", "h")
    val pairs = Dedup.hammingNearDup(fp, "id", "h", bits = 64,
      maxHamming = 0).select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
    // and the single chunk key must be the fingerprint itself (one
    // bucket per distinct value, not everything in bucket 0): a
    // one-bucket plan would still emit (1,2) only, so pin the key
    // width via the chunk frame's distinct key count
    val keys = Dedup.simhashChunkFrame(
      fp.select($"id", $"h".as("simhash")), bits = 64, maxHamming = 0)
      .select("key").distinct().count()
    assert(keys == 2)
  }
}
