package graft.streaming

import graft.SparkSpec
import graft.model._
import java.nio.file.Files
import org.apache.spark.sql.functions.col

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("continuous migration transforms arriving files exactly once") {
    val dir = Files.createTempDirectory("graft-stream").toString
    val src = s"$dir/src"; val sink = s"$dir/sink"; val ck = s"$dir/ck"
    val batch1 = Seq((1L, "x", 1.0), (2L, "y", 2.0)).toDF("_id", "cat", "v")
    batch1.write.parquet(src)

    val spec = SimpleMigration(
      GeneratorOptions("stream-mig", Nil, Namespace("db", "items"),
        query = Map("cat" -> "x")),
      update = Map("$set" -> Map("cat" -> "done")))

    val q = StreamingMigrations.continuousMigration(spark, spec, src,
      batch1.schema, sink, ck)
    q.awaitTermination(60000)

    val out = spark.read.parquet(sink)
    assert(out.count() == 2)
    assert(out.where($"cat" === "done").select("_id").as[Long].head() == 1L)

    // second drop: only the new file is processed (checkpoint dedups)
    Seq((3L, "x", 3.0)).toDF("_id", "cat", "v")
      .write.mode("append").parquet(src)
    val q2 = StreamingMigrations.continuousMigration(spark, spec, src,
      batch1.schema, sink, ck)
    q2.awaitTermination(60000)
    val out2 = spark.read.parquet(sink)
    assert(out2.count() == 3)
    assert(out2.where($"cat" === "done").count() == 2)
  }

  test("continuous migration survives a mid-stream kill exactly-once") {
    // failure injection: 6 single-file drops, 1 file per micro-batch; the
    // query is stopped as soon as the first batch commits, then restarted
    // from the same checkpoint. The parquet-sink transaction log + file-
    // source offset log must yield each input row exactly once overall —
    // no replays of the committed prefix, no losses from the killed tail.
    val dir = Files.createTempDirectory("graft-kill").toString
    val src = s"$dir/src"; val sink = s"$dir/sink"; val ck = s"$dir/ck"
    val schema = Seq((0L, "x", 0.0)).toDF("_id", "cat", "v").schema
    (1L to 6L).foreach { i =>
      Seq((i, "x", i.toDouble)).toDF("_id", "cat", "v")
        .write.mode("append").parquet(src)
    }
    val spec = SimpleMigration(
      GeneratorOptions("stream-kill", Nil, Namespace("db", "items"),
        query = Map("cat" -> "x")),
      update = Map("$set" -> Map("cat" -> "done")))

    val q = StreamingMigrations.continuousMigration(spark, spec, src,
      schema, sink, ck, maxFilesPerTrigger = Some(1))
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (q.recentProgress.forall(_.numInputRows == 0) &&
        q.isActive && System.nanoTime() < deadline)
      Thread.sleep(10)
    q.stop() // kill mid-stream: at least one batch committed, likely not all
    q.awaitTermination(60000)

    val q2 = StreamingMigrations.continuousMigration(spark, spec, src,
      schema, sink, ck, maxFilesPerTrigger = Some(1))
    q2.awaitTermination(60000)

    val out = spark.read.parquet(sink)
    assert(out.count() == 6) // exactly once: no dupes, no losses
    assert(out.select("_id").as[Long].collect().sorted.toSeq ==
      (1L to 6L).toSeq)
    assert(out.where($"cat" === "done").count() == 6)
  }

  test("incrementalNearDupStream: each batch pairs against the store " +
      "then absorbs its bands") {
    val tmp = Files.createTempDirectory("incr-stream").toString
    val t = "the quick brown fox jumps over the lazy dog tonight"
    val schema = Seq((1L, "x")).toDF("doc_id", "text").schema
    // two single-file drops -> two micro-batches at 1 file/trigger
    Seq((1L, t), (2L, t)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$tmp/src")
    Seq((3L, t),
      (4L, "entirely different words appear in this other sentence now"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$tmp/src")
    StreamingMigrations.incrementalNearDupStream(
      StreamingMigrations.readStream(spark, s"$tmp/src", schema,
        maxFilesPerTrigger = Some(1)),
      "doc_id", "text", s"$tmp/store", s"$tmp/pairs", s"$tmp/ck")
      .awaitTermination(120000)
    val pairs = spark.read.parquet(s"$tmp/pairs")
      .select("new_id", "ref_id", "within_batch")
      .as[(Long, Long, Boolean)].collect().toSet
    // batch 0: 1-2 pair within the batch (store empty before it);
    // batch 1: 3 hits both absorbed docs ACROSS the store, 4 is novel
    assert(pairs == Set((1L, 2L, true), (3L, 1L, false), (3L, 2L, false)))
    // the store holds every absorbed doc's bands, band-partitioned
    val store = spark.read.parquet(s"$tmp/store")
    assert(store.select("id").distinct().as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L, 4L))
    assert(store.columns.contains("band") && store.columns.contains("sig"))
  }

  test("incrementalNearDupStream: a checkpoint reset over a retained " +
      "store cannot dedup against stale higher-numbered batches") {
    val tmp = Files.createTempDirectory("incr-reset").toString
    val t = "the quick brown fox jumps over the lazy dog tonight"
    val schema = Seq((1L, "x")).toDF("doc_id", "text").schema
    Seq((1L, t)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$tmp/src")
    Seq((2L, t)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$tmp/src")
    def run(ck: String) = StreamingMigrations.incrementalNearDupStream(
      StreamingMigrations.readStream(spark, s"$tmp/src", schema,
        maxFilesPerTrigger = Some(1)),
      "doc_id", "text", s"$tmp/store", s"$tmp/pairs", ck)
      .awaitTermination(120000)
    run(s"$tmp/ck")
    val first = spark.read.parquet(s"$tmp/pairs")
      .select("new_id", "ref_id", "within_batch")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(first == Set((2L, 1L, false)))
    // checkpoint deleted, store retained: replayed batch ids restart
    // at 0 while batch=0/batch=1 store dirs exist — priors are ids
    // STRICTLY BELOW the replayed id, so batch 0 must NOT pair doc 1
    // against the stale batch-1 bands (the silent double-count)
    run(s"$tmp/ck2")
    val replayed = spark.read.parquet(s"$tmp/pairs")
      .select("new_id", "ref_id", "within_batch")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(replayed == first)
  }

  test("incrementalEmbeddingDedupStream: batches pair against the " +
      "bucket store then absorb buckets + vectors") {
    val tmp = Files.createTempDirectory("incr-embed").toString
    val schema = Seq((1L, Array(1.0)))
      .toDF("vec_id", "embedding").schema
    // scale-invariant sign buckets: 2 = 2*1 collides with 1 exactly;
    // 4 is orthogonal to everything absorbed
    Seq((1L, Array(1.0, 0.0, 0.0, 0.0)),
        (2L, Array(2.0, 0.0, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$tmp/src")
    Seq((3L, Array(3.0, 0.0, 0.0, 0.0)),
        (4L, Array(0.0, 1.0, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(s"$tmp/src")
    StreamingMigrations.incrementalEmbeddingDedupStream(
      StreamingMigrations.readStream(spark, s"$tmp/src", schema,
        maxFilesPerTrigger = Some(1)),
      "vec_id", "embedding", s"$tmp/store", s"$tmp/pairs", s"$tmp/ck",
      threshold = 0.9, blockTables = 2, blockPlanes = 4, dim = 4)
      .awaitTermination(120000)
    val pairs = spark.read.parquet(s"$tmp/pairs")
      .select("new_id", "ref_id", "within_batch")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(pairs == Set((1L, 2L, true), (3L, 1L, false),
      (3L, 2L, false)))
    // store: every absorbed row's buckets (t-partitioned) + vectors
    val bkts = spark.read.parquet(s"$tmp/store/buckets")
    assert(bkts.select("id").distinct().as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L, 4L))
    assert(bkts.columns.contains("t") && bkts.columns.contains("bkt"))
    val vecs = spark.read.parquet(s"$tmp/store/vectors")
    assert(vecs.select("vec_id").distinct().as[Long].collect()
      .sorted.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("clusterMaintenanceStream folds each pair batch into the " +
      "persisted labeling — final generation equals the full " +
      "recompute over all pairs") {
    val tmp = Files.createTempDirectory("cluster-stream").toString
    val schema = Seq((1L, 2L)).toDF("id_a", "id_b").schema
    // batch 0: two separate clusters; batch 1: a bridge + a new node
    val b1 = Seq((1L, 2L), (10L, 11L))
    val b2 = Seq((2L, 10L), (11L, 30L))
    b1.toDF("id_a", "id_b").coalesce(1).write.parquet(s"$tmp/src")
    b2.toDF("id_a", "id_b").coalesce(1).write.mode("append")
      .parquet(s"$tmp/src")
    StreamingMigrations.clusterMaintenanceStream(
      StreamingMigrations.readStream(spark, s"$tmp/src", schema,
        maxFilesPerTrigger = Some(1)),
      "id_a", "id_b", s"$tmp/labels", s"$tmp/ck")
      .awaitTermination(120000)
    val fs = new org.apache.hadoop.fs.Path(s"$tmp/labels")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens = fs.listStatus(new org.apache.hadoop.fs.Path(
        s"$tmp/labels")).map(_.getPath.getName)
      .filter(_.startsWith("batch=")).sorted
    assert(gens.toSeq == Seq("batch=0", "batch=1"))
    val gen0 = spark.read.parquet(s"$tmp/labels/batch=0")
      .as[(Long, Long)].collect().toMap
    assert(gen0 == Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L))
    val gen1 = spark.read.parquet(s"$tmp/labels/batch=1")
      .as[(Long, Long)].collect().toMap
    val full = graft.ops.Dedup.duplicateClusters(
      (b1 ++ b2).toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(gen1 == full)
    assert(gen1(30L) == 1L && gen1(10L) == 1L) // bridged to min id 1
  }

  test("embedCurateStream: two batches through the incremental " +
      "preset equal the one-shot embedCurate on the union") {
    val tmp = Files.createTempDirectory("embed-curate-stream").toString
    val schema = Seq((1L, Array(1.0), 1L))
      .toDF("vec_id", "embedding", "quality").schema
    val b0 = Seq(
      (1L, Array(1.0, 0.0, 0.0, 0.0), 50L),
      (2L, Array(2.0, 0.0, 0.0, 0.0), 70L),
      (5L, Array(0.0, 1.0, 0.0, 0.0), 40L))
    val b1 = Seq(
      (11L, Array(3.0, 0.0, 0.0, 0.0), 90L), // joins {1,2}
      (12L, Array(0.0, 0.0, 1.0, 0.0), 30L), // new cluster with 13
      (13L, Array(0.0, 0.0, 2.0, 0.0), 20L))
    b0.toDF("vec_id", "embedding", "quality")
      .coalesce(1).write.parquet(s"$tmp/src")
    b1.toDF("vec_id", "embedding", "quality")
      .coalesce(1).write.mode("append").parquet(s"$tmp/src")
    val bench = Some((
      Seq((100L, Array(0.0, 2.0, 0.0, 0.0)))
        .toDF("vec_id", "embedding"), "vec_id", "embedding"))
    StreamingMigrations.embedCurateStream(
      StreamingMigrations.readStream(spark, s"$tmp/src", schema,
        maxFilesPerTrigger = Some(1)),
      "vec_id", "embedding", "quality", dupThreshold = 0.9,
      s"$tmp/store", s"$tmp/out", s"$tmp/ck", bench = bench,
      deconThreshold = 0.9, blockTables = 2, blockPlanes = 4, dim = 4)
      .awaitTermination(120000)
    // the latest curated generation equals the one-shot preset
    val streamed = spark.read.parquet(s"$tmp/out/batch=1")
      .select("vec_id", "component", "cluster_size")
      .as[(Long, Long, Long)].collect().toSet
    val oneShot = graft.ops.Curation.embedCurate(
      (b0 ++ b1).toDF("vec_id", "embedding", "quality"),
      "vec_id", "embedding", "quality", dupThreshold = 0.9,
      bench = bench, deconThreshold = 0.9, blockTables = 2,
      blockPlanes = 4, dim = 4)
      .select("vec_id", "component", "cluster_size")
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == oneShot)
    assert(streamed == Set((11L, 1L, 3L), (12L, 12L, 2L)))
    // store layout: buckets + docs absorbed per batch, label and
    // resolved generations per batch
    for (sub <- Seq("buckets", "docs", "labels", "resolved")) {
      val fs = new org.apache.hadoop.fs.Path(s"$tmp/store/$sub")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val gens = fs.listStatus(new org.apache.hadoop.fs.Path(
          s"$tmp/store/$sub")).map(_.getPath.getName)
        .filter(_.startsWith("batch=")).sorted.toSeq
      assert(gens == Seq("batch=0", "batch=1"), s"$sub: $gens")
    }
    graft.ops.Dedup.releaseCaches()
  }

  test("webCurateStream: two crawl batches equal the one-shot preset " +
      "on the union; key stores grow per batch") {
    val tmp = Files.createTempDirectory("web-curate-stream").toString
    val en = "the quick brown fox and the lazy dog walked over the " +
      "hill while the cat sat on the mat and the dog barked at night"
    val b0 = Seq(
      (1L, "https://Example.com/a?utm_source=x", s"<p>$en one</p>"),
      (3L, "https://example.com/b", s"<p>$en two</p>"))
    val b1 = Seq(
      (11L, "https://example.com/a", s"<p>$en eleven</p>"), // re-fetch
      (13L, "https://example.com/c", s"<p>$en two</p>"),    // content dup
      (14L, "https://example.com/d", s"<p>$en fourteen</p>"))
    val schema = b0.toDF("doc_id", "url", "html").schema
    b0.toDF("doc_id", "url", "html")
      .coalesce(1).write.parquet(s"$tmp/src")
    b1.toDF("doc_id", "url", "html")
      .coalesce(1).write.mode("append").parquet(s"$tmp/src")
    StreamingMigrations.webCurateStream(
      StreamingMigrations.readStream(spark, s"$tmp/src", schema,
        maxFilesPerTrigger = Some(1)),
      "doc_id", "url", "html", s"$tmp/store", s"$tmp/out", s"$tmp/ck",
      targetLang = "en", minQuality = 0.2)
      .awaitTermination(120000)
    val streamed = spark.read.parquet(s"$tmp/out")
      .select("doc_id").as[Long].collect().toSet
    val oneShot = graft.ops.Curation.webCurate(
      (b0 ++ b1).toDF("doc_id", "url", "html"), "doc_id", "url",
      "html", targetLang = "en", minQuality = 0.2)
      .select("doc_id").as[Long].collect().toSet
    assert(streamed == oneShot)
    assert(streamed == Set(1L, 3L, 14L))
    val urlKeys = spark.read.parquet(s"$tmp/store/urlkeys")
      .select("url_canonical").as[String].collect().toSet
    assert(urlKeys == Set("https://example.com/a",
      "https://example.com/b", "https://example.com/c",
      "https://example.com/d"))
  }

  test("domainGateStream: each batch gates under the corpus-so-far " +
      "percentile from accumulated histogram generations") {
    val tmp = Files.createTempDirectory("domain-gate-stream").toString
    val b0 = Seq((1L, "a", 10), (2L, "a", 20), (3L, "a", 30),
      (4L, "b", 5), (5L, "b", 15))
    val b1 = Seq((11L, "a", 25), (12L, "a", 5), (13L, "b", 40),
      (14L, "c", 7))
    val schema = b0.toDF("doc_id", "source", "score").schema
    b0.toDF("doc_id", "source", "score")
      .coalesce(1).write.parquet(s"$tmp/src")
    b1.toDF("doc_id", "source", "score")
      .coalesce(1).write.mode("append").parquet(s"$tmp/src")
    StreamingMigrations.domainGateStream(
      StreamingMigrations.readStream(spark, s"$tmp/src", schema,
        maxFilesPerTrigger = Some(1)),
      "source", "score", s"$tmp/store", s"$tmp/out", s"$tmp/ck",
      quantile = 0.5)
      .awaitTermination(120000)
    // batch 0 gates under its own p50; batch 1 under the UNION's p50
    // — each equals the one-shot exact gate over rows-so-far
    // restricted to the batch
    for ((ids, union, lo) <- Seq(
        (b0, b0, 0L), (b1, b0 ++ b1, 10L))) {
      val batchIds = ids.map(_._1).toSet
      val got = spark.read.parquet(s"$tmp/out")
        .where($"doc_id".isin(batchIds.toSeq: _*))
        .select("doc_id").as[Long].collect().toSet
      val want = graft.ops.Curation.domainPercentileFilter(
        union.toDF("doc_id", "source", "score"), "source", "score",
        0.5, exact = true)
        .where($"doc_id".isin(batchIds.toSeq: _*))
        .select("doc_id").as[Long].collect().toSet
      assert(got == want, s"batch starting at $lo")
    }
    // the store carries one bounded generation per batch
    val gens = spark.read.parquet(s"$tmp/store")
      .select(org.apache.spark.sql.functions.input_file_name())
      .distinct().collect()
      .map(_.getString(0)).map(p => p.substring(p.indexOf("batch=")))
      .map(_.takeWhile(_ != '/')).toSet
    assert(gens == Set("batch=0", "batch=1"))
  }

  test("mediaDedupStream: each batch decodes once, pairs against the " +
      "chunk store, absorbs its fingerprint chunks") {
    val tmp = Files.createTempDirectory("media-stream").toString
    // fixtureBmp: ids >= 100 are one-pixel perturbations of id-100 —
    // batch 0 holds bases {1, 2}, batch 1 their siblings {101} and a
    // distinct base {50}
    def media(ids: Seq[Long]) = ids
      .map(id => (id, graft.ops.Multimodal.fixtureBmp(id)))
      .toDF("media_id", "content")
    val schema = media(Seq(1L)).schema
    media(Seq(1L, 2L)).coalesce(1).write.parquet(s"$tmp/src")
    media(Seq(101L, 50L)).coalesce(1).write.mode("append")
      .parquet(s"$tmp/src")
    StreamingMigrations.mediaDedupStream(
      StreamingMigrations.readStream(spark, s"$tmp/src", schema,
        maxFilesPerTrigger = Some(1)),
      s"$tmp/store", s"$tmp/pairs", s"$tmp/ck", maxHamming = 3)
      .awaitTermination(120000)
    val pairs = spark.read.parquet(s"$tmp/pairs")
      .select("new_id", "ref_id", "within_batch")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(pairs == Set((101L, 1L, false)))
    // store: every absorbed fingerprint's chunks, parameter-stamped
    val store = spark.read.parquet(s"$tmp/store")
    assert(store.select("id").distinct().as[Long].collect().sorted
      .toSeq == Seq(1L, 2L, 50L, 101L))
    assert(store.columns.contains("p_bits") &&
      store.columns.contains("p_maxh"))
  }

  test("streaming crawl dedup: normalizeUrl canonical key composes " +
      "with streamingDedup — re-fetches and URL variants drop") {
    val tmp = Files.createTempDirectory("crawl-dedup").toString
    val rows = Seq(
      (1L, "https://Example.com/a?utm_source=x", "2024-01-01 00:00:01"),
      (2L, "https://www.example.com/a", "2024-01-01 00:00:02"), // variant
      (3L, "https://example.com/b", "2024-01-01 00:00:03"))
      .toDF("fetch_id", "url", "ts")
      .withColumn("ts", $"ts".cast("timestamp"))
    rows.write.parquet(s"$tmp/src")
    rows.write.mode("append").parquet(s"$tmp/src") // full re-crawl
    val withKey = StreamingMigrations.readStream(
        spark, s"$tmp/src", rows.schema)
      .withColumn("url_canonical",
        graft.ops.TextFunctions.normalizeUrl($"url"))
    StreamingMigrations.streamingDedup(withKey, "ts",
        Seq("url_canonical"))
      .writeStream.format("parquet")
      .option("path", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val out = spark.read.parquet(s"$tmp/out")
    // 6 arrivals, 2 distinct resources: the tracking-param and www
    // spellings of /a collide on the canonical key
    assert(out.count() == 2)
    assert(out.select("url_canonical").as[String].collect().sorted.toSeq
      == Seq("https://example.com/a", "https://example.com/b"))
  }

  test("streamingDedup keeps one row per key across duplicate arrivals") {
    val tmp = java.nio.file.Files.createTempDirectory("sdedup").toString
    val rows = Seq(
      (1L, "a", "2024-01-01 00:00:01"),
      (2L, "b", "2024-01-01 00:00:02"))
      .toDF("_id", "cat", "ts").withColumn("ts", $"ts".cast("timestamp"))
    rows.write.parquet(s"$tmp/src")
    rows.write.mode("append").parquet(s"$tmp/src") // same keys again
    StreamingMigrations.streamingDedup(
      StreamingMigrations.readStream(spark, s"$tmp/src", rows.schema),
      "ts", Seq("_id"))
      .writeStream.format("parquet")
      .option("path", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.count() == 2)
    assert(out.select("_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("streamingDedup accepts a TimestampNTZ event-time column") {
    // µs parquet without UTC adjustment reads as timestamp_ntz, which
    // withWatermark rejects (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) unless
    // the engine first casts it to an instant in the session zone
    val tmp = java.nio.file.Files.createTempDirectory("sdedup-ntz").toString
    val rows = Seq(
      (1L, "a", "2024-01-01 00:00:01"),
      (2L, "b", "2024-01-01 00:00:02"))
      .toDF("_id", "cat", "ts")
      .withColumn("ts", $"ts".cast("timestamp_ntz"))
    rows.write.parquet(s"$tmp/src")
    rows.write.mode("append").parquet(s"$tmp/src")
    StreamingMigrations.streamingDedup(
      StreamingMigrations.readStream(spark, s"$tmp/src", rows.schema),
      "ts", Seq("_id"))
      .writeStream.format("parquet")
      .option("path", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.count() == 2)
  }

  test("windowed rollup accepts a TimestampNTZ event-time column") {
    val events = Seq(
      ("2024-01-01 00:00:10", "find", true, 100L),
      ("2024-01-01 00:01:10", "find", true, 10L))
      .toDF("ts", "cmd", "ok", "dur")
      .withColumn("ts", $"ts".cast("timestamp_ntz"))
    val out = StreamingMigrations.windowedRollup(events, "ts", Seq("cmd"),
      "ok", "dur")
    assert(out.schema("window").dataType.asInstanceOf[
      org.apache.spark.sql.types.StructType]("start").dataType.typeName
      == "timestamp")
    val rows = out.orderBy("window.start")
      .select("succeeded", "failed", "duration_ns")
      .as[(Long, Long, Long)].collect().toSeq
    assert(rows == Seq((1L, 0L, 100L), (1L, 0L, 10L)))
  }

  test("windowed rollup groups by event-time window") {
    val events = Seq(
      ("2024-01-01 00:00:10", "find", true, 100L),
      ("2024-01-01 00:00:50", "find", false, 50L),
      ("2024-01-01 00:01:10", "find", true, 10L))
      .toDF("ts", "cmd", "ok", "dur")
      .withColumn("ts", $"ts".cast("timestamp"))
    val out = StreamingMigrations.windowedRollup(events, "ts", Seq("cmd"),
      "ok", "dur")
    val rows = out.orderBy("window.start")
      .select("succeeded", "failed", "duration_ns")
      .as[(Long, Long, Long)].collect().toSeq
    assert(rows == Seq((1L, 1L, 150L), (1L, 0L, 10L)))
  }

  test("ivfIndexMaintenance builds a cell-partitioned store with pruning") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sivf").toString
    val vecs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    vecs.write.parquet(s"$tmp/src")
    val centroids = Seq((100L, Array(1.0f, 0.0f)),
      (200L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    graft.streaming.StreamingMigrations.ivfIndexMaintenance(
      StreamingMigrations.readStream(spark, s"$tmp/src", vecs.schema),
      "vec_id", "embedding", centroids,
      s"$tmp/out", s"$tmp/ckpt").awaitTermination()
    val store = spark.read.parquet(s"$tmp/out")
    assert(store.count() == 4)
    val cell = store.where(col("centroid_id") === 100L)
    assert(cell.select("vec_id").as[Long].collect().toSet == Set(1L, 2L))
    // probe-cell filter prunes at the partition listing
    val plan = cell.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("centroid_id"), plan.take(600))
  }

  test("qualityFilterStream keeps only docs clearing the per-token bar") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sq").toString
    val train = Seq(
      (1L, "good clean prose", true), (2L, "good solid prose", true),
      (3L, "spam junk noise", false), (4L, "junk noise spam", false)
    ).toDF("doc_id", "text", "label")
    val model = graft.ops.Classifier.trainLogOdds(train, "text",
      col("label"))
    val prior = graft.ops.Classifier.priorFrame(train, col("label"))
    val arriving = Seq((10L, "good prose here"), (11L, "junk spam noise"))
      .toDF("doc_id", "text")
    arriving.write.parquet(s"$tmp/src")
    graft.streaming.StreamingMigrations.qualityFilterStream(
      StreamingMigrations.readStream(spark, s"$tmp/src", arriving.schema),
      "doc_id", "text", model, prior,
      s"$tmp/out", s"$tmp/ckpt").awaitTermination()
    val kept = spark.read.parquet(s"$tmp/out")
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(10L)) // the junk doc scores negative and is dropped
  }

  test("clusterMaintenanceStream: a checkpoint reset over retained " +
      "label generations replays the same generations") {
    val tmp = Files.createTempDirectory("cluster-reset").toString
    val schema = Seq((1L, 2L)).toDF("id_a", "id_b").schema
    Seq((1L, 2L), (10L, 11L)).toDF("id_a", "id_b")
      .coalesce(1).write.parquet(s"$tmp/src")
    Seq((2L, 10L), (11L, 30L)).toDF("id_a", "id_b")
      .coalesce(1).write.mode("append").parquet(s"$tmp/src")
    def run(ck: String) = StreamingMigrations.clusterMaintenanceStream(
      StreamingMigrations.readStream(spark, s"$tmp/src", schema,
        maxFilesPerTrigger = Some(1)),
      "id_a", "id_b", s"$tmp/labels", ck)
      .awaitTermination(120000)
    def gens() = Seq(0, 1).map(n =>
      spark.read.parquet(s"$tmp/labels/batch=$n")
        .as[(Long, Long)].collect().toMap)
    run(s"$tmp/ck")
    val first = gens()
    assert(first.head == Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L))
    // replayed batch 0 must seed from its own pairs, not merge into
    // the stale generation batch=1 the labels dir still holds
    run(s"$tmp/ck2")
    assert(gens() == first)
  }

  test("mediaDedupStream: a checkpoint reset over a retained chunk " +
      "store replays the same pairs") {
    val tmp = Files.createTempDirectory("media-reset").toString
    def media(ids: Seq[Long]) = ids
      .map(id => (id, graft.ops.Multimodal.fixtureBmp(id)))
      .toDF("media_id", "content")
    val schema = media(Seq(1L)).schema
    media(Seq(1L, 2L)).coalesce(1).write.parquet(s"$tmp/src")
    media(Seq(101L, 50L)).coalesce(1).write.mode("append")
      .parquet(s"$tmp/src")
    def run(ck: String) = StreamingMigrations.mediaDedupStream(
      StreamingMigrations.readStream(spark, s"$tmp/src", schema,
        maxFilesPerTrigger = Some(1)),
      s"$tmp/store", s"$tmp/pairs", ck, maxHamming = 3)
      .awaitTermination(120000)
    def pairs() = spark.read.parquet(s"$tmp/pairs")
      .select("new_id", "ref_id", "within_batch")
      .as[(Long, Long, Boolean)].collect().toSet
    run(s"$tmp/ck")
    val first = pairs()
    assert(first == Set((101L, 1L, false)))
    // replayed batch 0 must not pair 1 against the stale batch=1
    // chunks of its sibling 101
    run(s"$tmp/ck2")
    assert(pairs() == first)
  }

  test("mediaDedupStream: a failed batch leaves no fingerprint cache " +
      "behind") {
    val tmp = Files.createTempDirectory("media-fail").toString
    Seq(1L, 2L).map(id => (id, graft.ops.Multimodal.fixtureBmp(id)))
      .toDF("media_id", "content").coalesce(1).write.parquet(s"$tmp/src")
    // a regular file where the pair output dir belongs: the batch's
    // pair write fails after its fingerprints were persisted
    val pairsPath = Files.createFile(
      java.nio.file.Paths.get(s"$tmp/pairs")).toString
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // the failure is intentional; keep the stream's ERROR log out of
    // otherwise-green test output
    spark.sparkContext.setLogLevel("OFF")
    try intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamingMigrations.mediaDedupStream(
        StreamingMigrations.readStream(spark, s"$tmp/src",
          spark.read.parquet(s"$tmp/src").schema),
        s"$tmp/store", pairsPath, s"$tmp/ck")
        .awaitTermination(120000)
    } finally spark.sparkContext.setLogLevel("ERROR")
    // no releaseCaches() here: the stream's own per-batch `finally`
    // must already have dropped the fingerprints
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("statePartitionsFor: one partition for a tiny source, the " +
      "session parallelism past the cap or for an unlistable source") {
    val tmp = Files.createTempDirectory("state-parts").toString
    Seq((1L, "x")).toDF("id", "v").coalesce(1).write.parquet(s"$tmp/src")
    val cap = spark.sessionState.conf.numShufflePartitions
    assert(StreamingMigrations.statePartitionsFor(spark, s"$tmp/src") == 1)
    // a few hundred bytes at one byte per partition: far past the cap
    assert(StreamingMigrations.statePartitionsFor(spark, s"$tmp/src",
      targetBytes = 1L) == cap)
    assert(StreamingMigrations.statePartitionsFor(spark,
      s"$tmp/missing") == cap)
  }
}
