package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different words entirely here now"),
    (4L, "the quick brown fox jumps over the lazy dog")) // exact dup of 1
    .toDF("doc_id", "text")

  test("exact dedup keeps min id with counts") {
    val out = Dedup.exact(docs, Seq("text"), "doc_id")
    assert(out.count() == 3)
    assert(out.where($"n_copies" === 2).select("doc_id").as[Long].head() == 1L)
  }

  test("exactRows keeps whole first row per key") {
    val out = Dedup.exactRows(docs, Seq("text"), "doc_id")
    assert(out.count() == 3)
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("ngram jaccard finds near-dup pairs only") {
    val out = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out.contains((1L, 2L)) && out.contains((1L, 4L)))
    assert(!out.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("jaccard of exact duplicates is 1.0") {
    val j = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .where($"id_a" === 1 && $"id_b" === 4)
      .select("jaccard").as[Double].head()
    assert(j == 1.0)
  }

  test("ngram jaccard on an empty corpus yields no pairs and no crash") {
    // regression: the AUTO-cap observation callback used to throw
    // ArrayIndexOutOfBoundsException on the zero-column observed row of an
    // empty plan (Dedup.scala row.isNullAt(0) before a length check)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.ngramJaccardPairs(empty, "doc_id", "text", 3, 0.5)
      .count() == 0)
  }

  test("spark.graft.embed.maxCandidatePairs fails fast pre-join") {
    import org.apache.spark.sql.functions._
    val vecs = spark.range(8).select(col("id"),
      array(col("id").cast("double"), lit(1.0)).as("v"))
    spark.conf.set("spark.graft.embed.maxCandidatePairs", "1")
    try {
      val e = intercept[IllegalStateException] {
        Dedup.embeddingNearDup(vecs, "id", "v", 0.5, dim = 2).count()
      }
      assert(e.getMessage.contains("candidate volume") &&
        e.getMessage.contains("blockPlanes"))
      spark.conf.set("spark.graft.embed.maxCandidatePairs", "1000000")
      assert(Dedup.embeddingNearDup(vecs, "id", "v", 0.5, dim = 2)
        .count() > 0)
    } finally spark.conf.unset("spark.graft.embed.maxCandidatePairs")
  }

  test("spark.graft.jaccard.maxCandidatePairs fails fast pre-join") {
    spark.conf.set("spark.graft.jaccard.maxCandidatePairs", "1")
    try {
      val e = intercept[IllegalStateException] {
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5).count()
      }
      assert(e.getMessage.contains("candidate volume") &&
        e.getMessage.contains("minhashLshPairs"))
      // generous valve: same query passes untouched
      spark.conf.set("spark.graft.jaccard.maxCandidatePairs", "1000000")
      assert(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
        .count() == 3) // (1,2) (1,4) (2,4)
      // 0 disables the (default-on, 2e9) valve explicitly
      spark.conf.set("spark.graft.jaccard.maxCandidatePairs", "0")
      assert(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
        .count() == 3)
      // the valve also guards the UNCAPPED branch (maxShingleFreq = 0
      // keeps every stop-shingle — strictly more candidates)
      spark.conf.set("spark.graft.jaccard.maxCandidatePairs", "1")
      val e0 = intercept[IllegalStateException] {
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5,
          maxShingleFreq = 0).count()
      }
      assert(e0.getMessage.contains("candidate volume"))
    } finally spark.conf.unset("spark.graft.jaccard.maxCandidatePairs")
  }

  test("maxShingleFreq drops stop-shingles") {
    // every doc shares shingles with doc 1 except doc 3; capping freq at 1
    // removes all shared shingles -> no pairs survive
    val out = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.1,
      maxShingleFreq = 1)
    assert(out.count() == 0)
  }

  test("AUTO cap derives from corpus size and reports the dropped count") {
    // 1200 docs sharing a hot prefix; AUTO cap = max(1000, 1200/1000) =
    // 1000, so the two prefix shingles with doc-frequency > 1000 are
    // dropped ("hot stop shingle" in all 1200 docs, "stop shingle tail" in
    // the 1198 non-twins) and the only surviving pair is the planted
    // twin-suffix one
    val corpus = spark.range(1200).selectExpr("id AS doc_id",
      "concat('hot stop shingle ', CASE WHEN id IN (7, 9) " +
        "THEN 'twin twin twin' ELSE concat('tail u', id, ' v', id) END)" +
        " AS text")
    val (pairs, obs) = Dedup.ngramJaccardPairsStats(
      corpus, "doc_id", "text", 3, 0.5)
    val got = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((7L, 9L)))
    val dropped = obs.get.get("dropped").asInstanceOf[Long]
    assert(dropped == 2L)
    Dedup.releaseCaches()
  }

  test("dense shingle space fires the scale warning") {
    // 3-word vocab: every 3-shingle is shared by ~1/27 of the corpus, so
    // per-shingle doc-frequency grows with n and candidate volume ~n² —
    // the regime where the observation-riding warning must fire
    val warns = scala.collection.mutable.ArrayBuffer.empty[String]
    val prior = Dedup.denseWarnSink
    Dedup.denseWarnSink = m => warns.synchronized { warns += m }
    try {
      val corpus = spark.range(1000).selectExpr("id AS doc_id",
        "array_join(transform(sequence(1, 12), j -> element_at(" +
          "array('alpha','beta','gamma'), " +
          "CAST(pmod(hash(id, j), 3) AS INT) + 1)), ' ') AS text")
      Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.9).count()
      val deadline = System.currentTimeMillis() + 10000
      while (warns.synchronized(warns.isEmpty) &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(warns.synchronized(
        warns.exists(_.contains("dense shingle space"))))
    } finally {
      Dedup.denseWarnSink = prior
      Dedup.releaseCaches()
    }
  }

  test("dedup caches auto-release once the result materializes") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
    pairs.count() // first materialization fires the release hook...
    val deadline = System.currentTimeMillis() + 10000
    while (spark.sparkContext.getPersistentRDDs.size > before &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
    // ...and the shingle caches are gone without releaseCaches()
    assert(spark.sparkContext.getPersistentRDDs.size == before)
    // duplicateClusters releases its edge cache AND every superseded
    // label generation deterministically at return; only the final
    // (returned) checkpoint generation may remain persisted
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    Dedup.duplicateClusters(edges).count()
    assert(spark.sparkContext.getPersistentRDDs.size <= before + 1)
  }

  test("minhash LSH surfaces near-dups and skips distinct docs") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      k = 3, numPerms = 12, bands = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // identical docs always collide
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("duplicateClusters: chains collapse to min-id components") {
    // two clusters: {1,2,3} via a chain (1-2, 2-3) and {10,11}; 1-3 never
    // appear as a direct pair, so convergence needs >1 propagation round
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val comp = Dedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("duplicateClusters: long path needs multiple iterations") {
    val chain = (1L to 9L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("id_a", "id_b")
    val comp = Dedup.duplicateClusters(chain).as[(Long, Long)].collect().toMap
    assert(comp.values.toSet == Set(1L))
    assert(comp.keySet == (1L to 9L).toSet)
  }

  test("duplicateClusters with a reliable checkpoint dir writes RDD checkpoints") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    // driverEdgeLimit=0 pins the DISTRIBUTED contraction loop — the
    // checkpoint contract under test; the micro-graph driver fast path
    // (the default for a 3-pair graph) has nothing to checkpoint.
    spark.conf.set("spark.graft.clusters.driverEdgeLimit", "0")
    val comp =
      try Dedup.duplicateClusters(pairs, checkpointDir = Some(ckpt))
        .as[(Long, Long)].collect().toMap
      finally spark.conf.unset("spark.graft.clusters.driverEdgeLimit")
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // reliable checkpoints land as rdd-* dirs under the given path
    def rddDirs(f: java.io.File): Int =
      if (f.isDirectory)
        (if (f.getName.startsWith("rdd-")) 1 else 0) +
          f.listFiles().map(rddDirs).sum
      else 0
    assert(rddDirs(new java.io.File(ckpt)) > 0,
      s"no rdd-* checkpoint dirs under $ckpt")
    // one setCheckpointDir for the whole run: a single UUID session dir,
    // not one per iteration (the dir-sprawl regression)
    val uuidDirs = new java.io.File(ckpt).listFiles().count(_.isDirectory)
    assert(uuidDirs == 1,
      s"expected 1 checkpoint session dir under $ckpt, got $uuidDirs")
  }

  test("duplicateClusters honors spark.graft.checkpointDir conf") {
    // kmeans now holds its k-row centroid table driver-side (nothing to
    // checkpoint); the conf-resolution path is exercised through label
    // propagation, whose per-generation frames DO need lineage cuts
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-ckpt-conf").toString
    spark.conf.set(Checkpoints.ConfKey, ckpt)
    spark.conf.set("spark.graft.clusters.driverEdgeLimit", "0")
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L))
        .toDF("id_a", "id_b")
      val comp = Dedup.duplicateClusters(pairs).collect()
      assert(comp.length == 5)
      assert(new java.io.File(ckpt).listFiles().nonEmpty,
        s"nothing checkpointed under $ckpt")
    } finally {
      spark.conf.unset(Checkpoints.ConfKey)
      spark.conf.unset("spark.graft.clusters.driverEdgeLimit")
    }
  }

  test("duplicateClusters leaves its caller's cached pair frame cached") {
    // the narrow (src, dst) frame it reads is a pure column rename of
    // `pairs`, which Spark's cache lookup serves from the caller's entry:
    // persisting it adds nothing, and releasing it must not drop that
    // entry. `evals` counts the evaluations of the pair plan.
    val evals = spark.sparkContext.longAccumulator("pair-evals")
    val seen = udf((a: Long) => { evals.add(1); a })
    for (edgeLimit <- Seq("200000", "0")) { // micro-graph, distributed
      spark.conf.set("spark.graft.clusters.driverEdgeLimit", edgeLimit)
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
        .select(seen(col("id_a")).as("id_a"), col("id_b")).persist()
      try {
        pairs.count()
        val comp = Dedup.duplicateClusters(pairs).as[(Long, Long)]
          .collect().toMap
        assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
          11L -> 10L))
        assert(pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
          s"driverEdgeLimit=$edgeLimit: the caller's cache was dropped")
        val before = evals.value
        pairs.collect()
        assert(evals.value == before,
          s"driverEdgeLimit=$edgeLimit: a later action recomputed the pairs")
      } finally {
        pairs.unpersist(true)
        spark.conf.unset("spark.graft.clusters.driverEdgeLimit")
      }
    }
  }

  test("kmeansGrouped matches independent per-group kmeans fits") {
    import org.apache.spark.sql.functions._
    val vecs = Seq(
      (1L, Array(0.0, 0.1), Array(5.0, 5.0)),
      (2L, Array(1.0, 1.0), Array(0.2, 0.1)),
      (3L, Array(0.1, 0.0), Array(4.5, 5.5)),
      (4L, Array(0.9, 1.1), Array(0.1, 0.3)))
      .toDF("id", "v0", "v1")
    val grouped = vecs.select(col("id"),
      posexplode(array(col("v0"), col("v1"))).as(Seq("g", "v")))
    val got = Clustering.kmeansGrouped(grouped, "id", "g", "v",
      k = 2, iters = 3).collect()
      .map(r => ((r.getInt(0), r.getLong(1)), r.getSeq[Double](2)))
      .toMap
    for (g <- 0 to 1) {
      val solo = Clustering.kmeans(
        vecs.select(col("id"), col(s"v$g").as("v")), "id", "v",
        k = 2, iters = 3).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
      for ((cid, cent) <- solo)
        assert(got((g, cid)) == cent,
          s"group $g centroid $cid: ${got((g, cid))} != $cent")
    }
  }

  test("kmeans with checkpointDir conf set still trains (driver-side " +
      "centroids need no checkpoint)") {
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-ckpt-km").toString
    spark.conf.set(Checkpoints.ConfKey, ckpt)
    try {
      val vecs = Seq((1L, Array(0.0, 0.0)), (2L, Array(1.0, 1.0)),
        (3L, Array(0.1, 0.1)), (4L, Array(0.9, 0.9)))
        .toDF("vec_id", "embedding")
      val cents = Clustering.kmeans(vecs, "vec_id", "embedding",
        k = 2, iters = 1).collect()
      assert(cents.length == 2)
    } finally spark.conf.unset(Checkpoints.ConfKey)
  }

  test("simhash near-dup: identical docs at hamming 0") {
    val out = Dedup.simhashNearDup(docs, "doc_id", "text", bits = 16,
      maxHamming = 3)
    val zero = out.where($"hamming" === 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(zero.contains((1L, 4L)))
  }

  test("embedding near-dup finds the planted duplicate") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.1f, 0.0f)), // near 1
      (3L, Array(0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDup(vecs, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L)))
  }

  test("adaptive blocking: autoBlockPlanes follows log2(corpus/target)" +
      " + 1 skew-headroom plane, autoCellCount follows corpus/targetCell") {
    // the 100x-derived sizing rules, pinned at two corpus sizes a
    // decade apart. The +1 headroom plane absorbs the measured x1.4-3.0
    // sign-bucket occupancy skew (round-10 rehearsal: at 200k rows the
    // headroom-less 11 planes produced 5.7e7 candidates — over the 5e7
    // shared-cluster valve the uniform estimate says they'd fit)
    assert(Dedup.autoBlockPlanes(60000L, 100L) == 11)
    assert(Dedup.autoBlockPlanes(200000L, 100L) == 12)
    assert(Dedup.autoBlockPlanes(6000000L, 100L) == 17)
    assert(Dedup.autoBlockPlanes(10L, 100L) == 4) // clamp floor
    assert(Dedup.autoBlockPlanes(Long.MaxValue, 1L) == 24) // clamp ceil
    assert(Dedup.autoCellCount(60000L, 1000L) == 60)
    assert(Dedup.autoCellCount(6000000L, 1000L) == 6000)
    assert(Dedup.autoCellCount(5L, 1000L) == 1) // at least one cell
    // the paper's LAION parameterization is the same rule
    assert(Dedup.autoCellCount(100000000L, 2000L) == 50000)
  }

  test("embeddingNearDup adaptive default equals the explicit " +
      "parameterization it derives") {
    val vecs = (0L until 64L).map { i =>
      (i, Array.tabulate(4)(j =>
        (math.sin(i * 7 + j) + (if (i % 8 == 0) 2.0 else 0.0)).toFloat))
    }.toDF("vec_id", "embedding")
    spark.conf.set("spark.graft.embed.targetBucket", "8")
    try {
      // 64 rows / target 8 = 8 cells -> ceil(log2) = 3, +1 headroom = 4
      val auto = Dedup.embeddingNearDup(vecs, "vec_id", "embedding", 0.9)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val pinned = Dedup.embeddingNearDup(vecs, "vec_id", "embedding",
        0.9, blockPlanes = 4)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(auto == pinned)
    } finally spark.conf.unset("spark.graft.embed.targetBucket")
  }

  test("semDeDupKMeans adaptive k equals the explicit k it derives") {
    val vecs = (0L until 40L).map { i =>
      val g = (i % 4).toInt
      (i, Array.tabulate(3)(j => (if (j == g % 3) 1.0f else 0.0f) +
        (i / 4).toFloat * 1e-4f))
    }.toDF("vec_id", "embedding")
    spark.conf.set("spark.graft.semdedup.targetCell", "10")
    try {
      // 40 rows / target 10 -> k = 4
      val auto = Dedup.semDeDupKMeans(vecs, "vec_id", "embedding",
        eps = 0.999, iters = 3)
        .select("vec_id").as[Long].collect().toSet
      val pinned = Dedup.semDeDupKMeans(vecs, "vec_id", "embedding",
        eps = 0.999, k = 4, iters = 3)
        .select("vec_id").as[Long].collect().toSet
      assert(auto == pinned)
    } finally spark.conf.unset("spark.graft.semdedup.targetCell")
  }

  test("duplicateSpans flags cross-doc n-gram windows and cleans them") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon one"),
      (2L, "x alpha beta gamma delta epsilon y"),
      (3L, "totally unrelated words here now"))
      .toDF("doc_id", "text")
    // n=5: "alpha beta gamma delta epsilon" appears in docs 1 and 2;
    // covered positions are the union of the two 5-windows it starts
    val out = Dedup.duplicateSpans(docs, "doc_id", "text", n = 5)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "dup_tokens", "clean")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out(0) == ((1L, 6L, 5L, "one")))
    assert(out(1) == ((2L, 7L, 5L, "x y")))
    assert(out(2) == ((3L, 5L, 0L, "totally unrelated words here now")))
  }

  test("duplicateSpans: short docs and within-doc repeats are not flagged") {
    val docs = Seq(
      (1L, "tiny doc"),                        // shorter than any 5-window
      (2L, "a b c d e a b c d e"),             // repeat WITHIN one doc only
      (3L, "p q r s t u v"))
      .toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(docs, "doc_id", "text", n = 5)
      .orderBy("doc_id")
      .select("doc_id", "dup_tokens", "clean")
      .as[(Long, Long, String)].collect().toSeq
    // minDocFreq counts DISTINCT docs, so doc 2's self-repeat passes
    assert(out == Seq(
      (1L, 0L, "tiny doc"),
      (2L, 0L, "a b c d e a b c d e"),
      (3L, 0L, "p q r s t u v")))
  }

  test("duplicateSpans keeps zero-token documents as empty rows") {
    val docs = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, ""), (3L, "   ")).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(docs, "doc_id", "text", n = 5)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "dup_tokens", "clean")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 5L, 0L, "alpha beta gamma delta epsilon"),
      (2L, 0L, 0L, ""),
      (3L, 0L, 0L, "")))
  }

  test("fused within-cell scan is bit-identical to the candidate-join " +
      "form: semDeDup (both keep rules) and embeddingNearDup (both " +
      "block modes), nulls included") {
    val rnd = new scala.util.Random(7)
    val pts = (0 until 120).map { i =>
      val base = Array.tabulate(8)(d => math.sin(i % 7 + d).toFloat)
      val v = base.map(x => x + rnd.nextFloat() * 0.4f)
      (i.toLong, v.toSeq, i % 5, rnd.nextDouble())
    }.toDF("vec_id", "embedding", "cell", "ord")
      // a null vector and a null cluster key ride along: neither may
      // drop a row or be dropped, on either path
      .unionByName(Seq(
        (Option(900L), Option.empty[Seq[Float]], Option(1), Option(0.5)),
        (Option(901L), Option(Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)),
          Option.empty[Int], Option(0.5)),
        // a null ID must neither crash the scan nor be dropped (the
        // join form's equi-keys discard it too)
        (Option.empty[Long], Option(Seq(0f, 1f, 0f, 0f, 0f, 0f, 0f, 0f)),
          Option(2), Option(0.5)))
        .toDF("vec_id", "embedding", "cell", "ord"))
      // adversarial parity rows (round-12 advisor findings), own cells:
      .unionByName(Seq(
        // DUPLICATED id, different vectors + orders: the join's strict
        // id_a < id_b never self-pairs them, but each still pairs
        // against the near-identical id 911
        (910L, Seq(1f, 1f, 0f, 0f, 0f, 0f, 0f, 0f), 6, 1.0),
        (910L, Seq(1f, 1f, 0.01f, 0f, 0f, 0f, 0f, 0f), 6, 2.0),
        (911L, Seq(1f, 1f, 0.005f, 0f, 0f, 0f, 0f, 0f), 6, 3.0),
        // equal (ord, id) twins: strict "earlier" holds for NEITHER
        // direction — no mutual drop
        (920L, Seq(0f, 0f, 1f, 1f, 0f, 0f, 0f, 0f), 7, 5.0),
        (920L, Seq(0f, 0f, 1f, 1f, 0f, 0f, 0f, 0f), 7, 5.0),
        // NaN orders: SQL's nan-safe compare ranks NaN above all and
        // NaN === NaN, so id 931 (ord 2.0) is earlier than both NaN
        // rows, and between the NaNs the id breaks the tie
        (930L, Seq(0f, 0f, 0f, 0f, 1f, 1f, 0f, 0f), 8, Double.NaN),
        (931L, Seq(0f, 0f, 0f, 0f, 1f, 1f, 0.01f, 0f), 8, 2.0),
        (932L, Seq(0f, 0f, 0f, 0f, 1f, 1f, 0.02f, 0f), 8, Double.NaN),
        // -0.0 vs 0.0 orders TIE in SQL (then id decides): 940 is
        // earlier despite java's Double.compare ranking -0.0 first
        (940L, Seq(0f, 0f, 0f, 0f, 0f, 0f, 1f, 1f), 9, 0.0),
        (941L, Seq(0f, 0f, 0f, 0f, 0f, 0f, 1f, 0.99f), 9, -0.0))
        .toDF("vec_id", "embedding", "cell", "ord")
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"),
          col("cell").cast("int").as("cell"), col("ord")))
    def ids(d: org.apache.spark.sql.DataFrame): Seq[Long] =
      d.select("vec_id").collect()
        .map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).sorted.toSeq
    // a STRING order column compares in its native type on the one
    // path, as it does in the join form (a cast to double would be
    // null and silently exempt every row)
    val stringOrdered =
      pts.withColumn("sord", concat(lit("k"), $"ord".cast("string")))
    // pair outputs compare as SETS: ids are a documented-unique
    // precondition, and under the fixture's deliberate duplicates the
    // join form re-attaches vectors BY ID — it emits a qualifying pair
    // once per row-combination (here (910,911) ×4) where the grouped
    // scan's distinct() emits it once
    def pairSet(d: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      d.as[(Long, Long)].collect().toSet.toSeq.sorted
    val fused = Seq(
      ids(Dedup.semDeDup(pts, "vec_id", "embedding", "cell", 0.95)),
      ids(Dedup.semDeDup(pts, "vec_id", "embedding", "cell", 0.95,
        orderCol = Some("ord"))),
      ids(Dedup.semDeDup(stringOrdered, "vec_id", "embedding", "cell",
        0.95, orderCol = Some("sord"))),
      pairSet(Dedup.embeddingNearDup(pts, "vec_id", "embedding", 0.95,
        blockCol = Some("cell"))),
      pairSet(Dedup.embeddingNearDup(pts, "vec_id", "embedding", 0.95,
        dim = 8)))
    val reference = Seq(
      ids(SemDeDupJoinForm(pts, "vec_id", "embedding", "cell", 0.95)),
      ids(SemDeDupJoinForm(pts, "vec_id", "embedding", "cell", 0.95,
        orderCol = Some("ord"))),
      ids(SemDeDupJoinForm(stringOrdered, "vec_id", "embedding", "cell",
        0.95, orderCol = Some("sord"))),
      pairSet(NearDupJoinForm.blocked(pts, "vec_id", "embedding", 0.95,
        "cell")),
      pairSet(NearDupJoinForm.lsh(pts, "vec_id", "embedding", 0.95,
        dim = 8)))
    fused.indices.foreach { i =>
      val (f, j) = (fused(i), reference(i))
      assert(f.size == j.size && f.toSet == j.toSet && f == j,
        s"entry $i: fusedOnly=${f.diff(j)} joinOnly=${j.diff(f)}")
    }
    // the results are non-trivial (some rows actually dropped / paired)
    assert(fused(0).size < 123 && fused(3).nonEmpty)
    // degenerate-cell guard fails fast on both callers, each message
    // naming its caller and that caller's remedy
    spark.conf.set("spark.graft.semdedup.maxCellRows", "10")
    try {
      Seq(
        (() => Dedup.semDeDup(pts, "vec_id", "embedding", "cell", 0.95),
          Seq("semDeDup: cell", "Re-cluster with a larger k / smaller " +
            "targetCell")),
        (() => Dedup.semDeDup(pts, "vec_id", "embedding", "cell", 0.95,
            orderCol = Some("ord")),
          Seq("semDeDup: cell", "Re-cluster with a larger k / smaller " +
            "targetCell")),
        (() => Dedup.embeddingNearDup(pts, "vec_id", "embedding", 0.95,
            blockCol = Some("cell")),
          Seq("embeddingNearDup: block", "Use blocks that scale with " +
            "the data"))).foreach { case (run, texts) =>
        val e = intercept[org.apache.spark.SparkException](run().count())
        val msg = e.getMessage +
          Option(e.getCause).map(_.getMessage).getOrElse("")
        assert(msg.contains("maxCellRows"), msg)
        texts.foreach(t => assert(msg.contains(t), msg))
      }
    } finally spark.conf.unset("spark.graft.semdedup.maxCellRows")
  }

  test("grouped pair scan: string ids compare in SQL order, and " +
      "array<double> vectors pair exactly as the join form does") {
    val rnd = new scala.util.Random(11)
    val raw = (0 until 90).map { i =>
      val v = Array.tabulate(6)(d => math.cos(i % 9 + d) +
        rnd.nextDouble() * 0.2)
      // "k10" < "k9" in SQL order, the opposite of the numbers
      (s"k$i", v.toSeq, i % 4)
    } ++ Seq(("z1", Seq(1.0, 0.0, Double.NaN, 0.0, 0.0, 0.0), 0),
      ("z0", Seq(1.0, 0.0, 0.0, 0.0, 0.0, 0.0), 0))
    val pts = raw.toDF("sid", "vd", "cell")
    def pairSet(d: org.apache.spark.sql.DataFrame): Set[(String, String)] =
      d.as[(String, String)].collect().toSet
    val blocked = Dedup.embeddingNearDup(pts, "sid", "vd", 0.97,
      blockCol = Some("cell"))
    val cases = Seq(
      (blocked, NearDupJoinForm.blocked(pts, "sid", "vd", 0.97, "cell")),
      (Dedup.embeddingNearDup(pts, "sid", "vd", 0.97, blockTables = 3),
        NearDupJoinForm.lsh(pts, "sid", "vd", 0.97, blockTables = 3)))
    cases.foreach { case (scan, join) =>
      assert(scan.schema("id_a").dataType ==
        org.apache.spark.sql.types.StringType)
      val (got, want) = (pairSet(scan), pairSet(join))
      assert(got == want, s"scanOnly=${got -- want} joinOnly=${want -- got}")
      assert(got.nonEmpty && got.forall { case (a, b) => a < b })
    }
    // same block: the NaN cosine qualifies, oriented by SQL order
    assert(pairSet(blocked).contains(("z0", "z1")))
  }

  test("fused scan: float group keys (-0.0/0.0 merge, NaN cell) and NaN " +
      "cosines match the join form, and the expected survivors") {
    // SQL equi-keys merge -0.0/0.0 and group NaN with NaN; SQL's
    // nan-safe `>=` means a NaN cosine (NaN in a vector) QUALIFIES —
    // empirically probed on Spark 4: double('NaN') >= 0.95 is TRUE
    val rows = Seq(
      (80L, Seq(1f, 0f, 0f, 0f), -0.0),
      (81L, Seq(1f, 0.01f, 0f, 0f), 0.0),  // same merged cell → dropped
      (82L, Seq(0f, 1f, 0f, 0f), Double.NaN),
      (83L, Seq(0f, 1f, 0.01f, 0f), Double.NaN), // NaN cell groups → drop
      (84L, Seq(0f, 0f, 1f, 0f), 7.0),
      (85L, Seq(0f, 0f, Float.NaN, 0f), 7.0)) // NaN cosine → qualifies
      .toDF("vec_id", "embedding", "cell")
    def pairs(d: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      d.as[(Long, Long)].collect().sorted.toSeq
    def survivors(d: org.apache.spark.sql.DataFrame): Seq[Long] =
      d.select("vec_id").as[Long].collect().sorted.toSeq
    val fused = (
      survivors(Dedup.semDeDup(rows, "vec_id", "embedding", "cell", 0.95)),
      pairs(Dedup.embeddingNearDup(rows, "vec_id", "embedding", 0.95,
        blockCol = Some("cell"))))
    val joined = (
      survivors(SemDeDupJoinForm(rows, "vec_id", "embedding", "cell", 0.95)),
      pairs(NearDupJoinForm.blocked(rows, "vec_id", "embedding", 0.95,
        "cell")))
    assert(fused == joined)
    assert(fused._1 == Seq(80L, 82L, 84L))
    assert(fused._2 == Seq((80L, 81L), (82L, 83L), (84L, 85L)))
  }

  test("semDeDup on the grouped pair scan: string ids, string orders " +
      "and long orders past 2^53 match the join form, with no job at " +
      "plan build") {
    val big = 1L << 53
    // (sid, vector, cell, sord, lord); near-identical vectors per cell
    val rows = Seq(
      // string ids, default order: "k10" < "k9" in SQL order, so k9 drops
      ("k9", Seq(1f, 0f, 0f, 0f), 0, "x", 1L),
      ("k10", Seq(1f, 0.01f, 0f, 0f), 0, "x", 1L),
      // string order: "a" < "b", so k21 is earlier than k20 there
      ("k21", Seq(0f, 1f, 0f, 0f), 1, "a", 1L),
      ("k20", Seq(0f, 1f, 0.01f, 0f), 1, "b", 1L),
      // long orders 2^53+1 and 2^53 are one double; natively k31 is
      // earlier and k30 drops (a double compare would tie and keep k30)
      ("k30", Seq(0f, 0f, 1f, 0f), 2, "x", big + 1),
      ("k31", Seq(0f, 0f, 1f, 0.01f), 2, "x", big),
      // a null order takes no part: k41 neither drops nor is dropped
      ("k40", Seq(0f, 0f, 0f, 1f), 3, null, big),
      ("k41", Seq(0f, 0f, 0.01f, 1f), 3, "x", big),
      ("k42", Seq(0f, 0f, 0.02f, 1f), 3, "y", big + 2))
      .toDF("sid", "embedding", "cell", "sord", "lord")
      .withColumn("lord", when($"sid" === "k40", lit(null))
        .otherwise($"lord"))
    def ids(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.select("sid").as[String].collect().sorted.toSeq
    val orders = Seq(None, Some("sord"), Some("lord"))
    val got = orders.map(o => ids(Dedup.semDeDup(rows, "sid", "embedding",
      "cell", 0.95, orderCol = o)))
    orders.zip(got).foreach { case (o, g) =>
      val want = ids(SemDeDupJoinForm(rows, "sid", "embedding", "cell",
        0.95, orderCol = o))
      assert(g == want, s"order $o: scan $g, join $want")
    }
    assert(got == Seq(
      Seq("k10", "k20", "k30", "k40"),
      Seq("k10", "k21", "k30", "k40", "k41"),
      Seq("k10", "k20", "k31", "k40", "k41")))
    // a string id builds the plan without a job (no occupancy aggregate)
    assert(jobsIn(Dedup.semDeDup(rows, "sid", "embedding", "cell",
      0.95))._2 == 0)
  }

  test("embeddingNearDup candidate valve: no job when the row bound " +
      "proves it safe, the same remedy when the volume is over") {
    val vecs = (0 until 200).map { i =>
      (i.toLong, Seq.tabulate(8)(d => math.sin(i * 0.37 + d).toFloat))
    }.toDF("vec_id", "embedding").repartition(2)
    val key = "spark.graft.embed.maxCandidatePairs"
    def jobs(limit: String): Int = {
      spark.conf.set(key, limit)
      try jobsIn(Dedup.embeddingNearDup(vecs, "vec_id", "embedding", 0.95,
        dim = 8))._2
      finally spark.conf.unset(key)
    }
    // 4 tables · 200·199/2 = 79,600 pairs at most
    val off = jobs("0")
    assert(jobs("79600") == off && jobs("2000000000") == off)
    // under the bound the occupancy aggregate runs, and passes
    assert(jobs("79599") > off)
    spark.conf.set(key, "1")
    try {
      val e = intercept[IllegalStateException](
        Dedup.embeddingNearDup(vecs, "vec_id", "embedding", 0.95, dim = 8))
      assert(e.getMessage.contains(s"$key=1") &&
        e.getMessage.contains("Raise blockPlanes"), e.getMessage)
    } finally spark.conf.unset(key)
  }

  test("fused scan output valve: maxGroupPairs fails fast with a remedy") {
    // 40 identical vectors in one cell = 780 qualifying pairs; a valve
    // at 100 must trip on the blockCol pair path
    val rows = (0 until 40).map(i => (i.toLong, Seq(1f, 0f)))
      .toDF("vec_id", "embedding").withColumn("cell", lit(0))
    spark.conf.set("spark.graft.semdedup.maxGroupPairs", "100")
    try {
      val e = intercept[org.apache.spark.SparkException] {
        Dedup.embeddingNearDup(rows, "vec_id", "embedding", 0.9,
          blockCol = Some("cell")).count()
      }
      val msg = e.getMessage +
        Option(e.getCause).map(_.getMessage).getOrElse("")
      assert(msg.contains("maxGroupPairs"))
    } finally spark.conf.unset("spark.graft.semdedup.maxGroupPairs")
  }

  test("semDeDup drops later rows similar to an earlier same-cluster row") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.99f, 0.1f, 0.0f), 0), // near-dup of 1, same cluster
      (3L, Array(0.99f, 0.1f, 0.0f), 1), // same vector, other cluster: kept
      (4L, Array(0.0f, 1.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val kept = Dedup.semDeDup(vecs, "vec_id", "embedding", "label", 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L))
  }

  test("semDeDupKMeans clusters then dedups within cells") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.999f, 0.01f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.01f, 0.999f)))
      .toDF("vec_id", "embedding")
    val kept = Dedup.semDeDupKMeans(vecs, "vec_id", "embedding",
      eps = 0.99, k = 2, iters = 3)
    assert(kept.columns.toSeq == Seq("vec_id", "embedding"))
    assert(kept.select("vec_id").as[Long].collect().toSet == Set(1L, 3L))
  }

  test("semDeDupKMeans keep-rule: centroid-proximity vs lowest-id") {
    // one duplicate group at ~0°/3.4°/8° plus a lone orthogonal vector;
    // the cluster centroid lands near the middle member, so the paper's
    // keep-farthest rule picks the edge example (3) where lowest-id
    // picks 1 — same survivor count, different representatives
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.998f, 0.06f)),
      (3L, Array(0.99f, 0.14f)),
      (4L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val byId = Dedup.semDeDupKMeans(vecs, "vec_id", "embedding",
      eps = 0.98, k = 2, iters = 5)
      .select("vec_id").as[Long].collect().toSet
    val byCentroid = Dedup.semDeDupKMeans(vecs, "vec_id", "embedding",
      eps = 0.98, k = 2, iters = 5, keepFarthestFromCentroid = true)
      .select("vec_id").as[Long].collect().toSet
    assert(byId == Set(1L, 4L))
    assert(byCentroid == Set(3L, 4L))
    assert(byId.size == byCentroid.size)
  }
}

class PackingSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.Packing

  test("packSequences assigns docs to the window their first token starts in") {
    val docs = Seq(
      ("a", 1L, 400L), ("a", 2L, 400L), ("a", 3L, 400L), ("a", 4L, 100L),
      ("b", 1L, 1500L), ("b", 2L, 100L))
      .toDF("src", "doc_id", "tok")
    val packed = Packing.packSequences(docs, "doc_id", "tok", 1000L, "src")
    val got = packed.select("src", "doc_id", "start_tok", "seq_id")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(
      ("a", 1L, 0L, 0L), ("a", 2L, 400L, 0L), ("a", 3L, 800L, 0L),
      ("a", 4L, 1200L, 1L), // doc 3 crosses the boundary; 4 starts in seq 1
      ("b", 1L, 0L, 0L), ("b", 2L, 1500L, 1L)))
    val stats = Packing.packedStats(packed, "tok", 1000L, "src")
      .select("src", "seq_id", "n_docs", "n_tokens")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(stats == Set(("a", 0L, 3L, 1200L), ("a", 1L, 1L, 100L),
      ("b", 0L, 1L, 1500L), ("b", 1L, 1L, 100L)))
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (1L, Array(1.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f)),
    (3L, Array(0.0f, 1.0f)),
    (4L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")

  test("cosine column math") {
    val c = vecs.where($"vec_id" === 1)
      .crossJoin(vecs.where($"vec_id" === 4).select($"embedding".as("e2")))
      .select(Similarity.cosine($"embedding", $"e2")).as[Double].head()
    assert(math.abs(c + 1.0) < 1e-12)
  }

  test("brute-force top-k ranks by cosine with id tie-break") {
    val out = Similarity.bruteForceTopK(vecs,
      vecs.where($"vec_id" === 1), "vec_id", "embedding", 3)
      .orderBy("rank")
      .select("neighbor_id").as[Long].collect().toSeq
    assert(out == Seq(2L, 3L, 4L))
  }

  test("hardNegatives excludes near-duplicates above the ceiling") {
    // neighbor 2 is nearly identical to query 1 (cos ≈ 0.994) — a
    // near-dup, excluded; the hard negatives are the informative rest
    val out = Similarity.hardNegatives(vecs,
      vecs.where($"vec_id" === 1), "vec_id", "embedding", 3,
      dupCeiling = 0.9)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(out == Seq(3L, 4L))
    // ceiling above every cosine ≡ plain top-k
    val same = Similarity.hardNegatives(vecs,
      vecs.where($"vec_id" === 1), "vec_id", "embedding", 3,
      dupCeiling = 2.0)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(same == Seq(2L, 3L, 4L))
  }

  test("binary signature packs sign bits; hamming + rescoring top-k") {
    import graft.ops.Quantize
    // 34-dim vector exercises the 32-bit word boundary: bits 0 and 33
    // set -> words (1, 2)
    val v = Array.fill(34)(-1.0f)
    v(0) = 1.0f; v(33) = 0.5f
    val sig = Seq(Tuple1(v)).toDF("e")
      .select(Quantize.binarySignature($"e", 34)).as[Seq[Long]].head()
    assert(sig == Seq(1L, 2L))
    // hamming over packed words
    val hd = Seq((Seq(1L, 2L), Seq(3L, 2L))).toDF("a", "b")
      .select(Quantize.hammingDistance($"a", $"b")).as[Long].head()
    assert(hd == 1L)
    // end-to-end: with a full shortlist the rescoring reproduces the
    // exact brute-force ranking
    // empty query frame: empty result, not a crash on dim inference
    assert(Similarity.binaryAnnTopK(vecs, vecs.where($"vec_id" === 99),
      "vec_id", "embedding", k = 3).count() == 0L)
    val got = Similarity.binaryAnnTopK(vecs, vecs.where($"vec_id" === 1),
      "vec_id", "embedding", k = 3, shortlist = 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    val brute = Similarity.bruteForceTopK(vecs,
      vecs.where($"vec_id" === 1), "vec_id", "embedding", 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(got == brute)
  }

  test("binaryAnnTopK auto-blocks above the broadcast query limit: " +
      "no nested loop, and blocked equals brute inside the pigeonhole " +
      "radius") {
    val dim = 64
    def proto(seed: Int): Array[Float] =
      Array.tabulate(dim)(i =>
        if (((i * 2654435761L + seed * 97L) & 4L) == 0L) 1f else -1f)
    // 4 query prototypes; corpus = per-prototype variants flipping
    // j <= 4 signs (hamming <= 4 < 8 byte blocks, so the pigeonhole
    // join is guaranteed to surface every true near neighbor)
    val queries = (0 until 4).map(s => (100L + s, proto(s).toSeq))
      .toDF("id", "v")
    val corpus = (for { s <- 0 until 4; j <- 0 until 5 } yield {
      val v = proto(s).clone(); (0 until j).foreach(p => v(p) = -v(p))
      (s * 10L + j, v.toSeq)
    }).toDF("id", "v")
    def run(): Set[(Long, Long, Int)] =
      Similarity.binaryAnnTopK(corpus, queries, "id", "v",
        k = 3, shortlist = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
    val brute = run() // 4 queries <= default limit 1024: broadcast BNLJ
    spark.conf.set("spark.graft.binaryann.broadcastQueryLimit", "2")
    try {
      val blockedDf = Similarity.binaryAnnTopK(corpus, queries, "id", "v",
        k = 3, shortlist = 6)
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) {
        blockedDf.explain("formatted")
      }
      assert(!out.toString.contains("BroadcastNestedLoopJoin"))
      assert(blockedDf.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet == brute)
    } finally spark.conf.unset("spark.graft.binaryann.broadcastQueryLimit")
  }

  test("binaryAnnTopK ballRadius=1 doubles the blocked path's exact " +
      "radius: neighbors at hamming = nBlocks that every-block flips " +
      "hide from the plain pigeonhole join are found") {
    val dim = 64 // 8 byte blocks: plain exact radius < 8, ball-1 < 16
    def proto(seed: Int): Array[Float] =
      Array.tabulate(dim)(i =>
        if (((i * 2654435761L + seed * 97L) & 4L) == 0L) 1f else -1f)
    val queries = (0 until 3).map(s => (100L + s, proto(s).toSeq))
      .toDF("id", "v")
    // per prototype: the exact vector, plus a variant flipping ONE sign
    // in EVERY byte block (hamming 8: no block matches exactly, so the
    // plain blocked path generates ZERO candidates for it; each block
    // differs by exactly one bit, so the radius-1 ball must find it)
    val corpus = (for { s <- 0 until 3; j <- 0 until 2 } yield {
      val v = proto(s).clone()
      if (j == 1) (0 until 8).foreach(b => v(b * 8) = -v(b * 8))
      (s * 10L + j, v.toSeq)
    }).toDF("id", "v")
    def run(ball: Int): Set[(Long, Long, Int)] =
      Similarity.binaryAnnTopK(corpus, queries, "id", "v",
        k = 2, shortlist = 4, ballRadius = ball)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
    val brute = run(0) // 3 queries <= limit: brute, ballRadius ignored
    spark.conf.set("spark.graft.binaryann.broadcastQueryLimit", "1")
    try {
      // plain blocked path: the hamming-8 variants share no block with
      // their query — only the exact duplicates surface (rank 1), and
      // k=2 comes back short
      val plain = run(0)
      assert(plain.forall(_._3 == 1) && plain.size == 3)
      // ball-1 restores the brute result, still with no nested loop
      val ballDf = Similarity.binaryAnnTopK(corpus, queries, "id", "v",
        k = 2, shortlist = 4, ballRadius = 1)
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) {
        ballDf.explain("formatted")
      }
      assert(!out.toString.contains("BroadcastNestedLoopJoin"))
      assert(ballDf.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet == brute)
    } finally spark.conf.unset("spark.graft.binaryann.broadcastQueryLimit")
  }

  test("lsh top-k finds the strong neighbor") {
    val out = Similarity.lshTopK(vecs, vecs.where($"vec_id" === 1),
      "vec_id", "embedding", k = 2, nPlanes = 2, tables = 4)
      .where($"rank" === 1).select("neighbor_id").as[Long].collect()
    assert(out.headOption.contains(2L))
  }

  test("ivf assignment picks nearest centroid") {
    val centroids = Seq((100L, Array(1.0f, 0.0f)), (200L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.ivfAssign(vecs, "vec_id", "embedding", centroids)
    val m = out.select("vec_id", "centroid_id").as[(Long, Long)]
      .collect().toMap
    assert(m(1L) == 100L && m(2L) == 100L && m(3L) == 200L)
  }

  test("ivf top-k probes nprobe cells and re-ranks exactly") {
    val centroids = Seq((100L, Array(1.0f, 0.0f)), (200L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val q = vecs.where($"vec_id" === 1)
    // nprobe=1: only the query's own cell (centroid 100 holds ids 1, 2)
    val near = Similarity.ivfTopK(vecs, q, "vec_id", "embedding",
      centroids, k = 3, nprobe = 1)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(near == Seq(2L))
    // nprobe=2: both cells — full ranking 2 (cos~1), 3 (cos 0), 4 (cos -1)
    val all = Similarity.ivfTopK(vecs, q, "vec_id", "embedding",
      centroids, k = 3, nprobe = 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(all == Seq(2L, 3L, 4L))
  }
}

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def one(text: String) = Seq((1L, text)).toDF("doc_id", "text")

  test("tokens drop empties; counts match") {
    val out = one("a  b c ").select(
      TextFunctions.tokenCount($"text").as("n"),
      TextFunctions.bpeishTokenCount($"text").as("b")).head()
    assert(out.getInt(0) == 3)
    assert(out.getInt(1) == 3)
  }

  test("Porter stemmer: published vocabulary pairs") {
    import graft.functions.Porter.stem
    // step 1a/1b/1c
    assert(stem("caresses") == "caress" && stem("ponies") == "poni" &&
      stem("cats") == "cat" && stem("agreed") == "agre" &&
      stem("plastered") == "plaster" && stem("motoring") == "motor" &&
      stem("hopping") == "hop" && stem("falling") == "fall" &&
      stem("hissing") == "hiss" && stem("filing") == "file" &&
      stem("happy") == "happi" && stem("queries") == "queri" &&
      stem("query") == "queri" && stem("conflated") == "conflat")
    // step 2/3/4/5
    assert(stem("relational") == "relat" &&
      stem("conditional") == "condit" &&
      stem("vietnamization") == "vietnam" &&
      stem("predication") == "predic" &&
      stem("hopefulness") == "hope" && stem("goodness") == "good" &&
      stem("electrical") == "electr" && stem("adjustable") == "adjust" &&
      stem("adoption") == "adopt" && stem("adjustment") == "adjust" &&
      stem("activate") == "activ" && stem("effective") == "effect" &&
      stem("probate") == "probat" && stem("rate") == "rate" &&
      stem("rolling") == "roll")
    // the q187 pair + the judge's example
    assert(stem("filtering") == "filter" && stem("filter") == "filter")
    assert(stem("systems") == "system" && stem("system") == "system")
    // short words and non-ascii pass through untouched
    assert(stem("by") == "by" && stem("café") == "café")
  }

  test("fnv_hash60: code-point FNV-1a 64 masked to 60 bits, column " +
      "path == driver path") {
    import graft.functions.{Fnv, HashFunctions}
    // the published fold: offset 0xcbf29ce484222325, prime 2^40+0x1b3,
    // one xor+multiply per code point — spot-check the algebra by hand
    // for a 1-char input, then pin cross-path equality incl. non-ASCII
    val one = ((-3750763034362895579L ^ 'a'.toInt) * 1099511628211L) &
      ((1L << 60) - 1)
    assert(Fnv.hash60("a") == one)
    assert(Fnv.hash60("") == (-3750763034362895579L & ((1L << 60) - 1)))
    for (s <- Seq("stream", "stream filter", "café naïve", "日本語")) {
      val col0 = Seq(Tuple1(s)).toDF("s")
        .select(HashFunctions.fnv_hash60($"s")).as[Long].head()
      assert(col0 == Fnv.hash60(s) && col0 >= 0L && col0 < (1L << 60))
    }
  }

  test("French Snowball stemmer: published-algorithm pairs") {
    import graft.functions.FrenchSnowball.stem
    // step 1 standard suffixes (ement/eus interplay, euse(s), eux)
    assert(stem("majestueusement") == "majestu" &&
      stem("majestueuse") == "majestu" &&
      stem("majestueuses") == "majestu" &&
      stem("majestueux") == "majestu")
    // step 1 + undouble: ement drop then ell → el
    assert(stem("continuellement") == "continuel" &&
      stem("continuelle") == "continuel" &&
      stem("continuels") == "continuel" &&
      stem("continuel") == "continuel")
    // step 2b er-verb family
    assert(stem("chercher") == "cherch" && stem("cherchez") == "cherch" &&
      stem("cherché") == "cherch" && stem("cherchait") == "cherch")
    // step 2a ir-verb family (preceded-by-non-vowel gate)
    assert(stem("finir") == "fin" && stem("finissait") == "fin" &&
      stem("finissons") == "fin" && stem("finie") == "fin" &&
      stem("fini") == "fin")
    // ement in RV vs residual-e step 4
    assert(stem("traitement") == "trait" && stem("traiter") == "trait" &&
      stem("traite") == "trait" && stem("traites") == "trait")
    // ation guarded by R2: nation keeps its suffix, nationale drops e
    assert(stem("nationale") == "national" && stem("nation") == "nation")
    // ment after a vowel in RV
    assert(stem("vraiment") == "vrai")
    // prelude marks run left-to-right over the LIVE buffer: in
    // "essayions" the y becomes Y first, so the following i (now after
    // a non-vowel) stays a vowel-i and the ions/er endings strip to the
    // same stem
    assert(stem("essayions") == "essai" && stem("essayer") == "essai")
    // short words and non-french-alphabet tokens pass through
    assert(stem("le") == "le" && stem("a1b") == "a1b")
  }

  test("CJK bigram tokenizer: overlapping bigrams per CJK run, " +
      "unigram for an isolated character, lowercased stop-filtered " +
      "words for non-CJK runs; column path equals driver path") {
    import graft.functions.CjkTokenizer.terms
    // Han run of 4 → 3 overlapping bigrams
    assert(terms("数据处理") == Seq("数据", "据处", "处理"))
    // same characters reordered produce DIFFERENT bigrams
    assert(terms("处理数据") == Seq("处理", "理数", "数据"))
    // hiragana/katakana bigram through the same run logic
    assert(terms("これはテスト") ==
      Seq("これ", "れは", "はテ", "テス", "スト"))
    // mixed script: words flush around CJK runs, stops drop, case folds
    assert(terms("Spark处理数据engine the") ==
      Seq("spark", "处理", "理数", "数据", "engine"))
    // isolated single CJK char survives as a unigram; punctuation
    // splits a run (no bigram across the comma)
    assert(terms("猫 is here") == Seq("猫", "here"))
    assert(terms("数据，处理") == Seq("数据", "处理"))
    // an astral Ext-B ideograph (U+20000) bigrams as ONE character
    val extB = new String(Character.toChars(0x20000))
    assert(terms(s"${extB}数") == Seq(s"${extB}数"))
    // hangul syllables are in the bigram script set
    assert(terms("한국어") == Seq("한국", "국어"))
    // column path is the same static function
    val got = Seq(("Spark处理数据engine the", 1))
      .toDF("text", "one")
      .select(TextFunctions.cjkTokens($"text"))
      .as[Seq[String]].head()
    assert(got == terms("Spark处理数据engine the"))
  }

  test("German Snowball stemmer: published-algorithm pairs") {
    import graft.functions.GermanSnowball.stem
    // step 1 e/en/es/er/ern + umlaut postlude
    assert(stem("laufen") == "lauf" && stem("laufe") == "lauf")
    assert(stem("kinder") == "kind" && stem("kindes") == "kind" &&
      stem("kindern") == "kind" && stem("kind") == "kind")
    assert(stem("schönes") == "schon" && stem("schöne") == "schon" &&
      stem("schön") == "schon")
    // the niss rule
    assert(stem("bedürfnisse") == "bedurfnis" &&
      stem("bedürfnis") == "bedurfnis")
    // step 2 superlative st after valid st-ending
    assert(stem("kleinsten") == "klein")
    // step 3 d-suffixes: ung in R2; keit in R2 with lich kept outside R2
    assert(stem("wanderung") == "wander" && stem("wandern") == "wand")
    assert(stem("möglichkeiten") == "moglich" &&
      stem("mögliche") == "moglich" && stem("möglich") == "moglich")
    // er in R1 (the snowball demo pair)
    assert(stem("aufeinander") == "aufeinand")
    // ß folds to ss in the prelude
    assert(stem("heißen") == "heiss")
    // short words and non-german-alphabet tokens pass through
    assert(stem("im") == "im" && stem("x9y") == "x9y")
  }

  test("Spanish Snowball stemmer: published-algorithm pairs") {
    import graft.functions.SpanishSnowball.stem
    // step 1 adora/ador/adores family + verb endings meet on one stem
    assert(stem("trabajadores") == "trabaj" &&
      stem("trabajador") == "trabaj" && stem("trabajando") == "trabaj" &&
      stem("trabaja") == "trabaj" && stem("trabajadora") == "trabaj")
    // ación with the ic follow-up in R2
    assert(stem("comunicación") == "comun")
    // step-2b es (no trailing gu) and final-accent removal
    assert(stem("canciones") == "cancion" &&
      stem("atención") == "atencion" && stem("atenciones") == "atencion")
    // idad + step-3 os; oso in R2 — one inflection group
    assert(stem("generosidad") == "gener" && stem("generoso") == "gener" &&
      stem("generosamente") == "gener")
    // amente in R1 with the ic follow-up OUTSIDE R2 kept
    assert(stem("lógicamente") == "logic" && stem("lógica") == "logic")
    // step 0 attached pronoun, group (a): the acute accent of the
    // gerund is removed before the verb suffix strips (haciéndola →
    // haciendo → hac)
    assert(stem("haciéndola") == "hac" && stem("hablando") == "habl")
    // step-3 residual vowel; ñ survives
    assert(stem("niños") == "niñ" && stem("niño") == "niñ")
    // gu: step-2b en after gu drops the u (llegue → lleg family)
    assert(stem("lleguen") == "lleg")
    // short words and non-spanish-alphabet tokens pass through
    assert(stem("de") == "de" && stem("a1b") == "a1b")
  }

  test("Italian Snowball stemmer: published-algorithm pairs") {
    import graft.functions.ItalianSnowball.stem
    // step-3a final vowel (+preceding i) — the nazionale/nazione split
    // is the published behavior: ale strips to nazional, nazione only
    // loses its final e (azione is out of R2)
    assert(stem("nazionale") == "nazional" &&
      stem("nazionali") == "nazional" && stem("nazione") == "nazion" &&
      stem("nazioni") == "nazion")
    // ità in R2; ibile out of R2 keeps its suffix minus final e —
    // possibilità and possibile meet anyway
    assert(stem("possibilità") == "possibil" &&
      stem("possibile") == "possibil")
    // step-2 verb endings + 3a i-after-vowel deletion
    assert(stem("mangiare") == "mang" && stem("mangiando") == "mang" &&
      stem("mangia") == "mang")
    // step 0 attached pronoun after infinitive: pronoun → e, then the
    // verb machinery runs (mangiarlo → mangiare → mang)
    assert(stem("mangiarlo") == "mang")
    // step-2 ata; amente in R1
    assert(stem("abbandonata") == "abbandon" &&
      stem("abbandonate") == "abbandon" &&
      stem("fortunatamente") == "fortunat")
    // 3a then 3b: final i drops, ch → c in RV (crocchi/crocchio meet)
    assert(stem("crocchi") == "crocc" && stem("crocchio") == "crocc")
    // prelude: acute folds to grave, postlude unmarks
    assert(stem("perché") == stem("perchè"))
    // short words and non-italian-alphabet tokens pass through
    assert(stem("di") == "di" && stem("a1b") == "a1b")
  }

  test("Portuguese Snowball stemmer: published-algorithm pairs") {
    import graft.functions.PortugueseSnowball.stem
    // step 1 ador + step 2/4 verb/residual endings meet on one stem
    assert(stem("trabalhador") == "trabalh" &&
      stem("trabalhando") == "trabalh" && stem("trabalha") == "trabalh" &&
      stem("trabalhadores") == "trabalh")
    // step-2 verb family: ar / ou / ando / ei
    assert(stem("cantar") == "cant" && stem("cantou") == "cant" &&
      stem("cantando") == "cant" && stem("cantei") == "cant")
    // amente in R1 (Portuguese keeps accents — no final deaccent step)
    assert(stem("logicamente") == "logic")
    // idade in R2 (the abil follow-up stays outside R2 here — kept)
    assert(stem("amabilidade") == "amabil")
    // oso in R2; note idade does NOT take the residual-os pass
    // (steps 1/2 changed the word, so step 4 is skipped — published
    // control flow)
    assert(stem("generoso") == "gener" &&
      stem("generosidade") == "generos")
    // step 5: final e, gu absorbs its u
    assert(stem("chegue") == "cheg")
    // nasal prelude/postlude round-trip: ã survives marking
    assert(stem("irmão") == "irmã")
    // step-2 "áveis" (round-12 advisor: it sits between ísseis and the
    // -mos group in the published list): -ável plurals meet their
    // singular when step 1's R2 gate admits the singular's "ável"
    assert(stem("consideráveis") == "consider" &&
      stem("considerável") == "consider")
    // the imperfect 2pl verb form the suffix exists for
    assert(stem("faláveis") == "fal" && stem("falávamos") == "fal")
    // short words and non-portuguese-alphabet tokens pass through
    assert(stem("de") == "de" && stem("a1b") == "a1b")
  }

  test("Dutch Snowball stemmer: published-algorithm pairs") {
    import graft.functions.DutchSnowball.stem
    // en/heden/lijk chain + step-4 vowel undouble meet on one stem
    assert(stem("lichamelijk") == "licham" &&
      stem("lichamen") == "licham" &&
      stem("lichamelijkheden") == "licham" &&
      stem("lichaam") == "licham")
    // en removal + kk undouble
    assert(stem("boeken") == "boek" && stem("bakken") == "bak")
    // step-4: maan → man, boom → bom meets bomen → bom
    assert(stem("bomen") == "bom" && stem("boom") == "bom" &&
      stem("maan") == "man")
    // ig in R2 (not after e); final-e step feeds it
    assert(stem("gelukkig") == "gelukk" && stem("gelukkige") == "gelukk")
    // heid deletes in R2, lijk outside R2 is kept
    assert(stem("mogelijkheden") == "mogelijk" &&
      stem("mogelijk") == "mogelijk")
    // valid s-ending (non-vowel, non-j)
    assert(stem("jongens") == "jongen")
    // short words and non-dutch-alphabet tokens pass through
    assert(stem("de") == "de" && stem("a1b") == "a1b")
  }

  test("Swedish Snowball stemmer: published-algorithm pairs") {
    import graft.functions.SwedishSnowball.stem
    // the orna/or/a plural family meets on one stem
    assert(stem("flickorna") == "flick" && stem("flickor") == "flick" &&
      stem("flicka") == "flick")
    // het + lig chain: the whole möjlig family reaches möj
    assert(stem("möjligheterna") == "möj" && stem("möjligheter") == "möj"
      && stem("möjlighet") == "möj" && stem("möjliga") == "möj" &&
      stem("möjlig") == "möj")
    // arna/en meet bil
    assert(stem("bilarna") == "bil" && stem("bilen") == "bil")
    // step 2: consonant pair FULLY in R1 loses its last letter —
    // tryckt qualifies, jakt's kt straddles the R1 boundary (setlimit)
    assert(stem("tryckt") == "tryck" && stem("jakt") == "jakt")
    // step 3 replacements: löst → lös, fullt → full (in R1)
    assert(stem("upplöst") == "upplös" &&
      stem("händelsefullt") == "händelsefull")
    // valid s-ending (t); the s-ending letter must sit in R1 too
    assert(stem("husets") == "huset")
    // short words and non-swedish-alphabet tokens pass through
    assert(stem("de") == "de" && stem("a1b") == "a1b")
  }

  test("Danish Snowball stemmer: published-algorithm pairs") {
    import graft.functions.DanishSnowball.stem
    // ene/en/e/ens plurals meet hund
    assert(stem("hundene") == "hund" && stem("hunden") == "hund" &&
      stem("hunde") == "hund" && stem("hundens") == "hund")
    // the published showcase: e then els, undersøgelse → undersøg
    assert(stem("undersøgelse") == "undersøg" &&
      stem("undersøgelsen") == "undersøg" &&
      stem("undersøgelser") == "undersøg")
    // igst → ig → lig chain: venligst/venlige/venlig meet ven
    assert(stem("venligst") == "ven" && stem("venlige") == "ven" &&
      stem("venlig") == "ven")
    assert(stem("billigst") == "bil" && stem("billige") == "bil")
    // step 4 undouble needs BOTH letters in R1: parallelle qualifies,
    // bakker's kk straddles the boundary (setlimit) and stays
    assert(stem("parallelle") == "parallel" && stem("bakker") == "bakk")
    // short words and non-danish-alphabet tokens pass through
    assert(stem("og") == "og" && stem("a1b") == "a1b")
  }

  test("Norwegian Snowball stemmer: published-algorithm pairs") {
    import graft.functions.NorwegianSnowball.stem
    // et/ene/ets meet hus
    assert(stem("huset") == "hus" && stem("husene") == "hus" &&
      stem("husets") == "hus")
    // e then lig: the naturlig family meets natur
    assert(stem("naturlige") == "natur" && stem("naturlig") == "natur")
    // erte/ert → er: vurderte meets vurdere at vurder
    assert(stem("vurderte") == "vurder" && stem("vurdere") == "vurder")
    // en/er/ens meet gutt (no undouble step in Norwegian)
    assert(stem("guttens") == "gutt" && stem("gutten") == "gutt" &&
      stem("gutter") == "gutt")
    // er/et/e verb forms meet kast
    assert(stem("kaster") == "kast" && stem("kastet") == "kast" &&
      stem("kaste") == "kast")
    // short words and non-norwegian-alphabet tokens pass through
    assert(stem("og") == "og" && stem("a1b") == "a1b")
  }

  test("Russian Snowball stemmer: published-algorithm pairs") {
    import graft.functions.RussianSnowball.stem
    // verb group 1 (preceding а is tested, not removed): the бега
    // family meets on one stem across tense/number/infinitive
    assert(stem("бегала") == "бега" && stem("бегали") == "бега" &&
      stem("бегал") == "бега" && stem("бегать") == "бега" &&
      stem("бегаю") == "бега")
    // noun declensions meet книг
    assert(stem("книга") == "книг" && stem("книги") == "книг" &&
      stem("книгами") == "книг" && stem("книгу") == "книг")
    // adjective endings meet красив
    assert(stem("красивый") == "красив" && stem("красивая") == "красив"
      && stem("красивое") == "красив" && stem("красивыми") == "красив")
    // reflexive ся/сь then verb ить/ил
    assert(stem("остановиться") == "останов" &&
      stem("остановился") == "останов")
    // perfective gerund group 1: в/вшись after а
    assert(stem("сделав") == "сдела" && stem("сделавшись") == "сдела")
    // derivational ость must lie entirely inside R2: возможность
    // qualifies, радость's ост straddles the boundary and stays
    assert(stem("возможность") == "возможн" &&
      stem("радость") == "радост" && stem("щедрость") == "щедрост")
    // ь and ью noun endings
    assert(stem("жизнь") == "жизн" && stem("жизнью") == "жизн" &&
      stem("жизни") == "жизн")
    // superlative ейш after the adjective ending strips in step 4
    assert(stem("добрейший") == "добр")
    // нн undouble; the participle-нн а-test char sits OUTSIDE RV
    // (setlimit), so step 1 leaves it for step 4
    assert(stem("странный") == "стран")
    // prelude: ё folds to е before the region marks
    assert(stem("ёлками") == "елк")
    // verb group 1 ете after а
    assert(stem("делаете") == "дела")
    // ия/ии noun endings
    assert(stem("авиация") == "авиац" && stem("знания") == "знан")
    // single letters and non-Cyrillic tokens pass through
    assert(stem("и") == "и" && stem("a1b") == "a1b" &&
      stem("тест1") == "тест1")
  }

  test("Turkish Snowball stemmer: published-algorithm pairs") {
    import graft.functions.TurkishSnowball.stem
    // noun case/possessive/plural chains meet kitap (final-b devoices)
    assert(stem("kitaplar") == "kitap" && stem("kitabı") == "kitap" &&
      stem("kitaplarım") == "kitap" &&
      stem("kitaplarımdan") == "kitap" && stem("kitap") == "kitap")
    // the -ki chain: evdeki → ev+de+ki; evdekiler strips plural first
    assert(stem("evler") == "ev" && stem("evde") == "ev" &&
      stem("evdeki") == "ev" && stem("evdekiler") == "ev" &&
      stem("evinde") == "ev" && stem("evleri") == "ev" &&
      stem("evim") == "ev")
    // vowel-final stems: surface-ambiguous with the buffer-less
    // dative (arab+a vs araba+ya), so the whole family normalizes one
    // strip further and meets at the devoiced arap — the documented
    // final-strip divergence that keeps possessive- and
    // plural-stripped forms CONSISTENT (the published pass order
    // splits them: arabalar→arap but arabam→araba)
    assert(stem("arabam") == "arap" && stem("arabaya") == "arap" &&
      stem("arabalar") == "arap" && stem("arabayla") == "arap" &&
      stem("arabanın") == "arap" && stem("araba") == "arap" &&
      stem("arabaydı") == "arap")
    // nominal verb suffixes; -lAr+past marks a verb and stops noun
    // stemming; -nUz requires the past/conditional that precedes it
    assert(stem("geldi") == "gel" && stem("geldiler") == "gel" &&
      stem("gelmiş") == "gel" && stem("geldiniz") == "gel")
    // front-vowel harmony picks front suffix variants
    assert(stem("gözlerimde") == "göz" && stem("gözler") == "göz")
    // final ğ devoices to k
    assert(stem("çocuğu") == "çocuk" && stem("çocuklar") == "çocuk")
    // genitive under -ki: onunki → o
    assert(stem("onunki") == "o")
    // the REQUIRED continuation after -ndA/-nA keeps the bare
    // locative from mis-routing: masada goes through -DA, masanda
    // through -DA + possessive -n; the family meets at the
    // final-stripped mas
    assert(stem("masada") == "mas" && stem("masanda") == "mas" &&
      stem("masa") == "mas")
    // bare vowel-final nouns strip in the published single pass (the
    // -(y)A mark accepts a consonant-preceded final vowel) — the
    // araba/arap conflation is published behavior, and the distinct
    // word arap itself is a fixed point, so the conflation is
    // one-directional and family-consistent
    assert(stem("arap") == "arap")
    // copula -DIr strips (ığdır → ığ → postlude ık)
    assert(stem("ığdır") == "ık")
    // one-syllable words and non-Turkish tokens pass through
    assert(stem("ev") == "ev" && stem("ve") == "ve" &&
      stem("a1b") == "a1b")
  }

  test("turkishTokens/turkishTerms: dotless-i fold, stops, stems " +
      "meet their driver twins") {
    // Turkish-cased input: İ folds to i and I to ı BEFORE lowercase
    val trToks = one("Ve KİTAPLARIMDAN evdekiler")
      .select(TextFunctions.turkishTokens($"text"))
      .as[Seq[String]].head()
    assert(trToks == Seq("kitap", "ev"))
    assert(TextFunctions.turkishTerms("ve kitaplar evdeki") ==
      Seq("kitap", "ev"))
  }

  test("Czech light stemmer (Dolamic & Savoy): published pairs") {
    import graft.functions.CzechStem.stem
    // case endings meet měst across -a/-o/-ech
    assert(stem("města") == "měst" && stem("město") == "měst" &&
      stem("městech") == "měst" && stem("městě") == "měst")
    // palatalization normalizes: praze → praz → prah meets praha
    assert(stem("praha") == "prah" && stem("prahy") == "prah" &&
      stem("praze") == "prah")
    // c → k: pracovníci meets pracovník
    assert(stem("pracovníci") == "pracovník" &&
      stem("pracovník") == "pracovník")
    // the mobile -e- drop: matek → matk meets matka/matky
    assert(stem("matka") == "matk" && stem("matky") == "matk" &&
      stem("matek") == "matk")
    // possessive -ův / -ov(a)
    assert(stem("bratrův") == "bratr" && stem("bratrova") == "bratr")
    // normalize runs unconditionally after the removal steps, as
    // published (den contracts its mobile e even with no ending)
    assert(stem("den") == "dn")
    // ≤2-char words and non-Czech tokens pass through
    assert(stem("na") == "na" && stem("a1b") == "a1b")
  }

  test("czechTokens/czechTerms: stops and stems meet their twins") {
    val csToks = one("a města na praze")
      .select(TextFunctions.czechTokens($"text"))
      .as[Seq[String]].head()
    assert(csToks == Seq("měst", "prah"))
    assert(TextFunctions.czechTerms("je město praha") ==
      Seq("měst", "prah"))
  }

  test("russianTokens/russianTerms: stops and stems meet their " +
      "driver twins") {
    val ruToks = one("и в красивые книги бегала")
      .select(TextFunctions.russianTokens($"text"))
      .as[Seq[String]].head()
    assert(ruToks == Seq("красив", "книг", "бега"))
    assert(TextFunctions.russianTerms("красивая книга бегать") ==
      Seq("красив", "книг", "бега"))
  }

  test("spanishTokens/italianTokens: stops and stems meet their " +
      "driver twins") {
    val esToks = one("el trabajador de la generosidad")
      .select(TextFunctions.spanishTokens($"text"))
      .as[Seq[String]].head()
    assert(esToks == Seq("trabaj", "gener"))
    assert(TextFunctions.spanishTerms("los trabajadores generosamente")
      == Seq("trabaj", "gener"))
    val itToks = one("la nazionale della possibilità")
      .select(TextFunctions.italianTokens($"text"))
      .as[Seq[String]].head()
    assert(itToks == Seq("nazional", "possibil"))
    assert(TextFunctions.italianTerms("le nazionali possibile") ==
      Seq("nazional", "possibil"))
  }

  test("frenchTokens/frenchTerms: stops (incl. elision leftovers), " +
      "stems — 'la continuelle' meets 'continuellement'") {
    val docToks = one("la continuellement et l'avion des majestueuses")
      .select(TextFunctions.frenchTokens($"text"))
      .as[Seq[String]].head()
    assert(docToks == Seq("continuel", "avion", "majestu"))
    assert(TextFunctions.frenchTerms("la continuelle majestueusement") ==
      Seq("continuel", "majestu"))
  }

  test("germanTokens/germanTerms: stops, umlaut-folding stems — " +
      "'mögliche kinder' meets 'möglichkeiten kindern'") {
    val docToks = one("die möglichkeiten der kindern und wanderung")
      .select(TextFunctions.germanTokens($"text"))
      .as[Seq[String]].head()
    assert(docToks == Seq("moglich", "kind", "wander"))
    assert(TextFunctions.germanTerms("mögliche kinder") ==
      Seq("moglich", "kind"))
  }

  test("englishTokens/englishTerms: stop words, possessives, stems — " +
      "'filtering systems' meets 'filter system'") {
    val docToks = one("The customer's filtering systems are fast")
      .select(TextFunctions.englishTokens($"text"))
      .as[Seq[String]].head()
    assert(docToks == Seq("custom", "filter", "system", "fast"))
    // driver-side twin produces identical analysis of the query string
    assert(TextFunctions.englishTerms("filter system") ==
      Seq("filter", "system"))
    assert(TextFunctions.englishTerms("The customer's filtering systems" +
      " are fast") == Seq("custom", "filter", "system", "fast"))
  }

  test("tokenEntropy: nats over the within-doc token distribution") {
    def ent(s: String): Double =
      one(s).select(TextFunctions.tokenEntropy($"text"))
        .as[Double].head()
    // uniform over 4 distinct tokens: ln 4
    assert(math.abs(ent("a b c d") - math.log(4)) < 1e-5)
    // all-same tokens: zero entropy (the spam screen's target)
    assert(ent("a a a a a") == 0.0)
    // 2/3–1/3 split
    val p = 2.0 / 3
    assert(math.abs(ent("a a b") -
      (-(p * math.log(p) + (1 - p) * math.log(1 - p)))) < 1e-5)
    // empty text scores 0
    assert(ent("") == 0.0)
  }

  test("bpe-ish splits punctuation and digits") {
    assert(one("it's 42km!").select(TextFunctions.bpeishTokenCount($"text"))
      .as[Int].head() == 6) // it ' s 42 km !
  }

  test("shingles window and boundary") {
    assert(one("a b c d").select(TextFunctions.shingles($"text", 3))
      .as[Seq[String]].head() == Seq("a b c", "b c d"))
    assert(one("a b").select(TextFunctions.shingles($"text", 3))
      .as[Seq[String]].head().isEmpty)
  }

  test("langId picks the marker language; und when nothing matches") {
    assert(one("the cat and the dog of it")
      .select(TextFunctions.langId($"text")).as[String].head() == "en")
    assert(one("el perro que ladra y la casa")
      .select(TextFunctions.langId($"text")).as[String].head() == "es")
    assert(one("zzz qqq xxx")
      .select(TextFunctions.langId($"text")).as[String].head() == "und")
  }

  test("langId covers every analyzer/collation locale; ties break to " +
      "the earlier LangMarkers entry") {
    def id(t: String): String =
      one(t).select(TextFunctions.langId($"text")).as[String].head()
    // one distinctive phrase per added locale (the full-surface
    // extension: Curation.curate(targetLang = "ru") must not classify
    // Russian text "und" and drop the corpus)
    assert(id("il libro che non leggo per una sera sono anche") == "it")
    assert(id("não vejo uma casa mais bonita como também são") == "pt")
    assert(id("het huis een boom van hout dat niet zijn maar") == "nl")
    assert(id("och huset som är för stort med inte på") == "sv")
    assert(id("og huset af træ til ikke hvad også være") == "da")
    assert(id("og huset av tre på ikke hva fra eller") == "no")
    assert(id("и я не знаю на что это как его для") == "ru")
    assert(id("bir ev ve bu bahçe için ile olarak daha çok") == "tr")
    assert(id("je se na to že ale jsem tady jako pro") == "cs")
    assert(id("nie wiem się to jest że do jak ale przez") == "pl")
    // da vs no: shared Scandinavian function words (og, det, ikke)
    // tie 3-3 on a neutral phrase → the EARLIER entry (da) wins; the
    // af/av + hvad/hva discriminators break real text apart
    assert(id("og det ikke") == "da")
    assert(id("og det ikke av hva") == "no")
    // cs vs pl: "ale" is shared, but ž (U+017E) vs ż (U+017C) are
    // distinct codepoints — "že" scores cs only, "że" pl only
    assert(id("ale že") == "cs")
    assert(id("ale że") == "pl")
  }

  test("langIdMargin: 0 on ties and no-evidence, positive when one " +
      "language dominates") {
    def m(t: String): Int =
      one(t).select(TextFunctions.langIdMargin($"text")).as[Int].head()
    assert(m("og det ikke") == 0)   // da/no exact tie — coin-flip label
    assert(m("zzz qqq") == 0)       // no evidence at all
    assert(m("the cat and the dog of it is in") > 0)
    // margin = best - SECOND best, not best - 0: "the le" scores en 1
    // and fr 1 -> tie, margin 0
    assert(m("the le") == 0)
  }

  test("quality score is bounded and favors stopword-rich text") {
    val hi = one("the cat is on the mat and it is good")
      .select(TextFunctions.qualityScore($"text")).as[Double].head()
    val lo = one("zxcv 123 @@@@")
      .select(TextFunctions.qualityScore($"text")).as[Double].head()
    assert(hi > lo && hi <= 1.0 && lo >= 0.0)
  }

  test("fingerprint is order-sensitive and deterministic") {
    val df = Seq((1L, "a b c"), (2L, "c b a"), (3L, "a b c"))
      .toDF("doc_id", "text")
    val fps = TextFunctions.fingerprint(df, "doc_id", "text")
      .orderBy("doc_id").select("fingerprint").as[Long].collect().toSeq
    assert(fps(0) == fps(2) && fps(0) != fps(1))
  }

  test("simhash: identical text -> identical prints; width respected") {
    val df = Seq((1L, "the quick fox"), (2L, "the quick fox"))
      .toDF("doc_id", "text")
    val hs = TextFunctions.simhash(df, "doc_id", "text", 16)
      .select("simhash").as[Long].collect().toSeq
    assert(hs.head == hs(1) && hs.head >= 0 && hs.head < (1L << 16))
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def media = Multimodal.asMedia(
    Seq((1L, "payload-one"), (2L, "payload-two")).toDF("doc_id", "text"),
    "doc_id", "text")

  test("media schema has binary payload + typed metadata") {
    assert(media.schema("content").dataType.typeName == "binary")
    assert(media.select("meta.format").as[String].head() == "fake/raw")
  }

  test("feature extraction is deterministic and batched") {
    val f1 = Multimodal.extractFeatures(media, dim = 4)
      .orderBy("media_id").select("features").as[Seq[Double]].collect()
    val f2 = Multimodal.extractFeatures(media, dim = 4)
      .orderBy("media_id").select("features").as[Seq[Double]].collect()
    assert(f1.toSeq == f2.toSeq)
    assert(f1.forall(v => v.size == 4 && v.forall(x => x >= 0.0 && x <= 1.0)))
    assert(f1(0) != f1(1)) // different payloads -> different features
  }

  test("frame sampling picks evenly spaced indices") {
    val out = Multimodal.sampleFrameIndices(media, 4)
    val idx = out.where($"n_frames" >= 4).select("frame_idx")
      .as[Seq[Int]].collect()
    assert(idx.forall(s => s.size == 4 && s == s.sorted))
  }

  // a real 6x4 PNG: left half black, right half white
  private def pngBytes(): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      6, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 6)
      img.setRGB(x, y, if (x < 3) 0x000000 else 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("imageio path decodes a real PNG: sniffed meta + luminance features") {
    assert(Multimodal.ImageIoDecoder.meta(pngBytes())
      .contains(("png", 6, 4)))
    // band features: left cell pure black (0.0), right cell pure white (1.0)
    val f = Multimodal.decodeFeatures(pngBytes(), dim = 2)
    assert(f(0) == 0.0 && f(1) == 1.0)
    // in-plan: binary payload through extractFeatures hits the real decoder
    val mediaDf = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, pngBytes(), null)),
      Multimodal.MediaSchema)
    val viaPlan = Multimodal.extractFeatures(mediaDf, dim = 2)
      .select("features").as[Seq[Double]].head()
    assert(viaPlan == Seq(0.0, 1.0))
  }

  test("sniffMeta upgrades image payloads and keeps non-images unchanged") {
    val mixed = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, pngBytes(),
          org.apache.spark.sql.Row("fake/raw", 0, 0, 1)),
        org.apache.spark.sql.Row(2L, "not an image".getBytes,
          org.apache.spark.sql.Row("fake/raw", 9, 9, 2))),
      Multimodal.MediaSchema)
    val out = Multimodal.sniffMeta(mixed).orderBy("media_id")
      .select("meta.format", "meta.width", "meta.height", "meta.n_frames")
      .as[(String, Int, Int, Int)].collect().toSeq
    assert(out == Seq(("png", 6, 4, 1), ("fake/raw", 9, 9, 2)))
  }

  test("non-image payloads keep the deterministic stub feature path") {
    val bytes = "plain text payload".getBytes
    assert(Multimodal.decodeFeatures(bytes, 4).toSeq ==
      Multimodal.DecodeStub.features(bytes, 4).toSeq)
  }

  test("dHash: brightness-shift invariant, local-edit tolerant, " +
      "structurally-different images far apart") {
    def img(v: (Int, Int) => Int) = Multimodal.ImageIoDecoder
      .decode(Multimodal.grayBmp(9, 7, v)).get
    // bounded base (max 146) so the +40 shift below cannot wrap a byte
    val base = (x: Int, y: Int) => x * 13 + y * 7
    val h0 = Multimodal.dHashOf(img(base))
    // global brightness shift: identical hash (gradient SIGNS only)
    val h1 = Multimodal.dHashOf(img((x, y) => base(x, y) + 40))
    // one-pixel edit: at most 2 gradient bits
    val h2 = Multimodal.dHashOf(img((x, y) =>
      if (x == 4 && y == 3) base(x, y) + 30 else base(x, y)))
    // reversed gradient: structurally different
    val h3 = Multimodal.dHashOf(img((x, y) => 250 - base(x, y)))
    assert(h0 == h1)
    assert(java.lang.Long.bitCount(h0 ^ h2) <= 2)
    assert(java.lang.Long.bitCount(h0 ^ h3) > 10)
    // larger images area-average down to the same grid: a 2x upscale
    // (pixel replication) preserves the hash
    val big = Multimodal.ImageIoDecoder
      .decode(Multimodal.grayBmp(18, 14, (x, y) => base(x / 2, y / 2)))
      .get
    assert(Multimodal.dHashOf(big) == h0)
  }

  test("mediaNearDup finds planted perceptual siblings via the " +
      "banded hamming join; non-images take the md5 stub hash") {
    import spark.implicits._
    val media = (0L until 40L).toDF("media_id")
      .as[Long].map(id => (id, Multimodal.fixtureBmp(id)))
      .toDF("media_id", "content")
    val pairs = Multimodal.mediaNearDup(media, maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // ids 0..19 are 20 distinct bases (no siblings yet): the planted
    // pairs need ids >= 100 — none here, so only stride collisions
    val media2 = ((0L until 20L) ++ (100L until 120L)).toDF("media_id")
      .as[Long].map(id => (id, Multimodal.fixtureBmp(id)))
      .toDF("media_id", "content")
    val pairs2 = Multimodal.mediaNearDup(media2, maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    (0L until 20L).foreach { d =>
      assert(pairs2.contains((d, d + 100L)),
        s"planted sibling ($d, ${d + 100}) missing")
    }
    assert(pairs.forall { case (a, b) => a < b })
    // stub path: deterministic md5-56 for non-image payloads
    val txt = "not an image".getBytes
    assert(Multimodal.stubHash(txt) == Multimodal.stubHash(txt))
    assert(Multimodal.stubHash(txt) >= 0L)
    val stubMedia = Seq((1L, txt), (2L, txt),
      (3L, "different".getBytes)).toDF("media_id", "content")
    val stubPairs = Multimodal.mediaNearDup(stubMedia, maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(stubPairs == Set((1L, 2L))) // identical bytes only
  }
}

/** The candidate-join forms the grouped pair scan replaced in
  * [[Dedup.embeddingNearDup]], kept only as the reference its pair set
  * must equal: a narrow (id, key) self-join on the block or (table,
  * bucket) key with `id_a < id_b`, then the vectors re-attached by two
  * id equi-joins and the cosine filtered in SQL. The LSH form hashes
  * with the Column bucket form, so it checks the native kernel too. */
object NearDupJoinForm {
  import org.apache.spark.sql.{Column, DataFrame}
  import graft.functions.VectorColumnForms
  import graft.functions.VectorFunctions.vec_dot

  private[ops] def verified(cand: DataFrame, base: DataFrame,
      threshold: Double): DataFrame = {
    val va = base.select(col("id").as("id_a"), col("v").as("va"))
      .withColumn("na", sqrt(vec_dot(col("va"), col("va"))))
    val vb = base.select(col("id").as("id_b"), col("v").as("vb"))
      .withColumn("nb", sqrt(vec_dot(col("vb"), col("vb"))))
    val denom: Column = col("na") * col("nb")
    cand.join(va, "id_a").join(vb, "id_b")
      .withColumn("cos", when(denom === 0.0, lit(0.0))
        .otherwise(vec_dot(col("va"), col("vb")) / denom))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  def blocked(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, blockCol: String): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      col(blockCol).as("blk"))
    val ids = base.select(col("id"), col("blk"))
    val cand = ids.toDF("id_a", "blk").join(ids.toDF("id_b", "blk"),
        Seq("blk"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    verified(cand, base, threshold)
  }

  def lsh(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, blockTables: Int = 4, blockPlanes: Int = 0,
      dim: Int = 0): DataFrame = {
    val d = if (dim > 0) dim
      else Similarity.probeDim(df, vecCol).getOrElse(1)
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val planes = if (blockPlanes > 0) blockPlanes
      else Dedup.autoBlockPlanes(base.count())
    val bkts = VectorColumnForms.withAllTableBuckets(base, "v",
      blockTables, planes, d).select("id", "t", "bkt")
    val cand = bkts.as("a").join(bkts.as("b"),
        col("a.t") === col("b.t") && col("a.bkt") === col("b.bkt") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    verified(cand, base, threshold)
  }
}

/** The order-aware candidate join the grouped pair scan replaced in
  * [[Dedup.semDeDup]], kept only as the reference its survivors must
  * equal: a narrow (id, cell, order) self-join on the cell key with
  * "earlier" = (order, id) compared in SQL, the cosines verified as in
  * [[NearDupJoinForm]], and the later ids anti-joined away. Without an
  * order column every row's order is the same constant, so earlier is
  * smaller id. */
object SemDeDupJoinForm {
  import org.apache.spark.sql.DataFrame

  def apply(df: DataFrame, idCol: String, vecCol: String,
      clusterCol: String, eps: Double,
      orderCol: Option[String] = None): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      col(clusterCol).as("blk"), orderCol.fold(lit(0))(col).as("ord"))
    val ids = base.select(col("id"), col("blk"), col("ord"))
    val earlier = (col("ord_a") < col("ord_b")) ||
      (col("ord_a") === col("ord_b") && col("id_a") < col("id_b"))
    val cand = ids.toDF("id_a", "blk", "ord_a")
      .join(ids.toDF("id_b", "blk", "ord_b"), Seq("blk"))
      .where(earlier)
      .select("id_a", "id_b")
    val dropped = NearDupJoinForm.verified(cand, base, eps)
      .select(col("id_b").as(idCol))
    df.join(dropped, Seq(idCol), "left_anti")
  }
}
