package graft.db

import graft.SparkSpec
import java.nio.file.Files

class GraftSessionSpec extends SparkSpec {
  import spark.implicits._

  private lazy val root: String = {
    val dir = Files.createTempDirectory("graft-db").toString
    Seq((1L, "a", 30.0), (2L, "b", 10.0), (3L, "c", 20.0), (4L, "a", 40.0))
      .toDF("_id", "cat", "v")
      .write.mode("overwrite").parquet(s"$dir/things.parquet")
    dir
  }
  private lazy val coll =
    new GraftSession(spark, root).db("testdb").c("things")

  test("find + select + sort + skip + limit compose lazily") {
    val rows = coll.find(Map("v" -> Map("$gte" -> 15.0)))
      .sort("-v").skip(1).limit(2).select("_id").all()
    assert(rows.map(_.getLong(0)) == Seq(1L, 3L))
  }

  test("findId point lookup") {
    assert(coll.findId(2L).one().getString(1) == "b")
  }

  test("counts") {
    assert(coll.count() == 4)
    assert(coll.find(Map("cat" -> "a")).count() == 2)
  }

  test("one throws NotFound on empty result") {
    intercept[NoSuchElementException] {
      coll.find(Map("cat" -> "zzz")).one()
    }
  }

  test("iter streams rows") {
    assert(coll.find().sort("_id").iter().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 3L, 4L))
  }

  test("sort string parser handles +/- prefixes") {
    val asc = coll.find().sort("+v").select("_id").all().map(_.getLong(0))
    assert(asc == Seq(2L, 3L, 1L, 4L))
  }

  test("invalid namespace rejected") {
    intercept[IllegalArgumentException] {
      new GraftSession(spark, root).db("").c("things").count()
    }
  }

  test("pipe resolves sibling tables for lookup") {
    val out = coll.pipe(Seq(
      Map("$match" -> Map("cat" -> "a")),
      Map("$group" -> Map("_id" -> "$cat", "s" -> Map("$sum" -> "$v")))))
    assert(out.head().getDouble(1) == 70.0)
  }

  test("pipe with trailing $merge upserts into the sibling collection") {
    val dir = Files.createTempDirectory("graft-merge").toString
    Seq((1L, "a", 30.0), (2L, "b", 10.0)).toDF("_id", "cat", "v")
      .write.parquet(s"$dir/src.parquet")
    Seq((1L, "old", 0.0), (9L, "keep", 9.0)).toDF("_id", "cat", "v")
      .write.parquet(s"$dir/tgt.parquet")
    val src = new GraftSession(spark, dir).db("d").c("src")
    val out = src.pipe(Seq(
      Map("$match" -> Map("v" -> Map("$gte" -> 5.0))),
      Map("$merge" -> Map("into" -> "tgt", "on" -> "_id"))))
    // replace+insert (defaults): _id=1 replaced, _id=2 inserted, _id=9 kept
    val got = out.orderBy("_id").as[(Long, String, Double)].collect().toSeq
    assert(got == Seq((1L, "a", 30.0), (2L, "b", 10.0), (9L, "keep", 9.0)))
    assert(spark.read.parquet(s"$dir/tgt.parquet").count() == 3)
    // keepExisting + discard leaves the target untouched
    val before = got
    src.pipe(Seq(Map("$merge" -> Map("into" -> "tgt", "on" -> "_id",
      "whenMatched" -> "keepExisting", "whenNotMatched" -> "discard"))))
    assert(spark.read.parquet(s"$dir/tgt.parquet").orderBy("_id")
      .as[(Long, String, Double)].collect().toSeq == before)
  }

  test("$merge let: variables from the incoming doc replace $$new") {
    val dir = Files.createTempDirectory("graft-merge-let").toString
    Seq((1L, 100.0), (2L, 200.0)).toDF("_id", "v")
      .write.parquet(s"$dir/src.parquet")
    Seq((1L, 5.0), (9L, 9.0)).toDF("_id", "v")
      .write.parquet(s"$dir/tgt.parquet")
    val out = new GraftSession(spark, dir).db("d").c("src").pipe(Seq(
      Map("$merge" -> Map("into" -> "tgt", "on" -> "_id",
        "let" -> Map("inc" -> Map("$multiply" -> Seq("$v", 2))),
        "whenMatched" -> Seq(
          Map("$set" -> Map("v" -> Map("$add" -> Seq("$v", "$$inc"))))),
        "whenNotMatched" -> "insert"))))
      .orderBy("_id")
    // _id=1 matched: v = 5 + 2·100; _id=2 inserted; _id=9 untouched
    assert(out.select("_id", "v").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 205.0), (2L, 200.0), (9L, 9.0)))
    // explicit let replaces the default {new: $$ROOT} binding
    val e = intercept[Exception] {
      new GraftSession(spark, dir).db("d").c("src").pipe(Seq(
        Map("$merge" -> Map("into" -> "tgt", "on" -> "_id",
          "let" -> Map("inc" -> 1),
          "whenMatched" -> Seq(
            Map("$set" -> Map("v" -> "$$new.v"))),
          "whenNotMatched" -> "discard"))))
    }
    assert(e.getMessage.contains("new"))
  }

  test("$merge whenMatched:merge does field-wise merge, keeps target-only columns") {
    val dir = Files.createTempDirectory("graft-merge-fw").toString
    Seq((1L, 100.0), (2L, 200.0)).toDF("_id", "v")
      .write.parquet(s"$dir/src.parquet")
    Seq((1L, 0.0, "seed"), (9L, 9.0, "seed")).toDF("_id", "v", "note")
      .write.parquet(s"$dir/tgt.parquet")
    val out = new GraftSession(spark, dir).db("d").c("src").pipe(Seq(
      Map("$merge" -> Map("into" -> "tgt", "on" -> "_id",
        "whenMatched" -> "merge", "whenNotMatched" -> "insert"))))
      .orderBy("_id")
    // _id=1: v overwritten, note kept; _id=2 inserted (note null); 9 kept
    val got = out.select("_id", "v", "note")
      .as[(Long, Double, Option[String])].collect().toSeq
    assert(got == Seq((1L, 100.0, Some("seed")), (2L, 200.0, None),
      (9L, 9.0, Some("seed"))))
  }

  test("$merge whenMatched update pipeline binds existing doc + $$new") {
    val dir = Files.createTempDirectory("graft-merge-pipe").toString
    Seq((1L, 100.0), (2L, 200.0)).toDF("_id", "v")
      .write.parquet(s"$dir/src.parquet")
    Seq((1L, 5.0, 3L), (9L, 9.0, 1L)).toDF("_id", "v", "hits")
      .write.parquet(s"$dir/tgt.parquet")
    val out = new GraftSession(spark, dir).db("d").c("src").pipe(Seq(
      Map("$merge" -> Map("into" -> "tgt", "on" -> "_id",
        // input doc = EXISTING target doc; $$new = incoming doc
        "whenMatched" -> Seq(
          Map("$set" -> Map(
            "v" -> Map("$add" -> Seq("$v", "$$new.v")),
            "hits" -> Map("$add" -> Seq("$hits", 1))))),
        "whenNotMatched" -> "insert"))))
      .orderBy("_id")
    // _id=1 matched: v = 5+100, hits = 3+1; _id=2 inserted (hits null);
    // _id=9 untouched
    assert(out.select("_id", "v", "hits")
      .as[(Long, Double, Option[Long])].collect().toSeq ==
      Seq((1L, 105.0, Some(4L)), (2L, 200.0, None), (9L, 9.0, Some(1L))))
    // unsupported stage inside the update pipeline rejects at plan time
    intercept[IllegalArgumentException] {
      new GraftSession(spark, dir).db("d").c("src").pipe(Seq(
        Map("$merge" -> Map("into" -> "tgt", "on" -> "_id",
          "whenMatched" -> Seq(Map("$group" -> Map("_id" -> "$v")))))))
    }
  }

  test("$merge update pipeline $unset drops fields on matched rows only") {
    val dir = Files.createTempDirectory("graft-merge-unset").toString
    Seq((1L, 100.0)).toDF("_id", "v").write.parquet(s"$dir/src.parquet")
    Seq((1L, 5.0, "seed"), (9L, 9.0, "seed")).toDF("_id", "v", "note")
      .write.parquet(s"$dir/tgt.parquet")
    val out = new GraftSession(spark, dir).db("d").c("src").pipe(Seq(
      Map("$merge" -> Map("into" -> "tgt", "on" -> "_id",
        "whenMatched" -> Seq(
          Map("$set" -> Map("v" -> Map("$add" -> Seq("$v", "$$new.v")))),
          Map("$unset" -> "note")),
        "whenNotMatched" -> "insert"))))
      .orderBy("_id")
    // matched row loses note (null via unionByName); unmatched keeps it
    assert(out.select("_id", "v", "note")
      .as[(Long, Double, Option[String])].collect().toSeq ==
      Seq((1L, 105.0, None), (9L, 9.0, Some("seed"))))
  }

  test("$merge update pipeline $replaceWith rebuilds the matched doc") {
    val dir = Files.createTempDirectory("graft-merge-repl").toString
    Seq((1L, 100.0)).toDF("_id", "v").write.parquet(s"$dir/src.parquet")
    Seq((1L, 5.0, "seed"), (9L, 9.0, "seed")).toDF("_id", "v", "note")
      .write.parquet(s"$dir/tgt.parquet")
    val out = new GraftSession(spark, dir).db("d").c("src").pipe(Seq(
      Map("$merge" -> Map("into" -> "tgt", "on" -> "_id",
        "whenMatched" -> Seq(Map("$replaceWith" -> Map(
          "_id" -> "$_id",
          "v" -> Map("$add" -> Seq("$v", "$$new.v")),
          "note" -> Map("$concat" -> Seq("$note", "+"))))),
        "whenNotMatched" -> "discard"))))
      .orderBy("_id")
    assert(out.select("_id", "v", "note")
      .as[(Long, Double, String)].collect().toSeq ==
      Seq((1L, 105.0, "seed+"), (9L, 9.0, "seed")))
  }

  test("$merge update pipeline raises on duplicate on-keys in the result") {
    val dir = Files.createTempDirectory("graft-merge-dup").toString
    // two incoming docs share _id=1: Mongo raises a duplicate-key error
    Seq((1L, 100.0), (1L, 50.0), (2L, 200.0)).toDF("_id", "v")
      .write.parquet(s"$dir/src.parquet")
    Seq((1L, 5.0), (9L, 9.0)).toDF("_id", "v")
      .write.parquet(s"$dir/tgt.parquet")
    val e = intercept[Exception] {
      new GraftSession(spark, dir).db("d").c("src").pipe(Seq(
        Map("$merge" -> Map("into" -> "tgt", "on" -> "_id",
          "whenMatched" -> Seq(Map("$set" ->
            Map("v" -> Map("$add" -> Seq("$v", "$$new.v")))))))))
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(_.contains("duplicate on-key")), e.getMessage)
    // the target was not corrupted by the failed merge
    assert(spark.read.parquet(s"$dir/tgt.parquet").count() == 2)
  }

  test("$merge composite on: [k1, k2] keys the merge on both columns") {
    val dir = Files.createTempDirectory("graft-merge-comp").toString
    Seq((1L, "x", 10.0), (1L, "y", 20.0)).toDF("k1", "k2", "v")
      .write.parquet(s"$dir/src.parquet")
    Seq((1L, "x", 0.0), (2L, "x", 5.0)).toDF("k1", "k2", "v")
      .write.parquet(s"$dir/tgt.parquet")
    val out = new GraftSession(spark, dir).db("d").c("src").pipe(Seq(
      Map("$merge" -> Map("into" -> "tgt", "on" -> Seq("k1", "k2")))))
      .orderBy("k1", "k2")
    // (1,x) replaced, (1,y) inserted, (2,x) kept
    assert(out.as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "x", 10.0), (1L, "y", 20.0), (2L, "x", 5.0)))
  }

  test("$merge fail modes raise on matched / unmatched keys") {
    val dir = Files.createTempDirectory("graft-merge-fail").toString
    Seq((1L, "a"), (2L, "b")).toDF("_id", "cat")
      .write.parquet(s"$dir/src.parquet")
    Seq((1L, "x")).toDF("_id", "cat").write.parquet(s"$dir/tgt.parquet")
    val src = new GraftSession(spark, dir).db("d").c("src")
    // _id=1 already exists in tgt
    intercept[IllegalStateException] {
      src.pipe(Seq(Map("$merge" -> Map("into" -> "tgt", "on" -> "_id",
        "whenMatched" -> "fail"))))
    }
    // _id=2 does not exist in tgt
    intercept[IllegalStateException] {
      src.pipe(Seq(Map("$merge" -> Map("into" -> "tgt", "on" -> "_id",
        "whenNotMatched" -> "fail"))))
    }
    // failed merges must leave the target untouched
    assert(spark.read.parquet(s"$dir/tgt.parquet").count() == 1)
    // and the passing side of each mode still works: matched-only input
    src.pipe(Seq(Map("$match" -> Map("_id" -> 1L)),
      Map("$merge" -> Map("into" -> "tgt", "on" -> "_id",
        "whenNotMatched" -> "fail"))))
    assert(spark.read.parquet(s"$dir/tgt.parquet")
      .where($"_id" === 1L).select("cat").as[String].head() == "a")
  }

  test("pipe accepts and ignores an aggregation hint") {
    val out = coll.pipe(Seq(
      Map("$match" -> Map("cat" -> "a"))), "some_index_hint")
    assert(out.count() == coll.pipe(Seq(
      Map("$match" -> Map("cat" -> "a")))).count())
  }

  test("closers drain in registration order, all run, errors aggregate") {
    val sess = new GraftSession(spark,
      Files.createTempDirectory("graft-close").toString)
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    sess.registerCloser("first") { order += "first" }
    sess.registerCloser("boom") {
      order += "boom"; throw new IllegalStateException("nope")
    }
    sess.registerCloser("boom2") {
      order += "boom2"; throw new IllegalStateException("nope2")
    }
    sess.registerCloser("last") { order += "last" }
    val e = intercept[RuntimeException] { sess.close() }
    // FIFO (reference environment.go Close iterates registration order)
    // and every closer ran despite the failures
    assert(order.toSeq == Seq("first", "boom", "boom2", "last"))
    // ALL failures aggregate into one error (grip-catcher parity):
    // first as cause, the rest suppressed
    assert(e.getMessage.contains("boom") && e.getMessage.contains("boom2"))
    assert(e.getCause.getMessage == "nope")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("nope2"))
    // drained: a second close is a no-op
    sess.close()
    assert(order.size == 4)
  }

  test("LoggingMonitor registers itself as a session closer") {
    val sess = new GraftSession(spark,
      Files.createTempDirectory("graft-close-lm").toString)
    val basic = new graft.apm.BasicMonitor()
    val lm = new graft.apm.LoggingMonitor(basic, 60000L)(_ => ())
    sess.registerCloser("loggingMonitor")(lm.close())
    sess.close() // shuts the ticker down; idempotent close is fine
    lm.close()
  }

  test("MockCollection: injectable errors, recorded calls, in-memory insert") {
    val mock = new graft.db.MockCollection(
      Seq((1L, "a"), (2L, "b")).toDF("_id", "cat"))
    assert(mock.count() == 2)
    mock.insert(Seq((3L, "c")).toDF("_id", "cat"))
    assert(mock.find(Map("cat" -> "c")).count() == 1)
    mock.failOn = Map("insert" -> new RuntimeException("disk full"))
    val e = intercept[RuntimeException] {
      mock.insert(Seq((4L, "d")).toDF("_id", "cat"))
    }
    assert(e.getMessage == "disk full")
    // the failed insert mutated nothing
    assert(mock.count() == 3)
    assert(mock.calls.take(4) == Seq("count", "insert", "find", "insert"))
  }

  test("pipe with trailing $out REPLACES the sibling collection") {
    val dir = Files.createTempDirectory("graft-out").toString
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("_id", "cat")
      .write.parquet(s"$dir/src.parquet")
    Seq((99L, "stale")).toDF("_id", "cat").write.parquet(s"$dir/tgt.parquet")
    val out = new GraftSession(spark, dir).db("d").c("src").pipe(Seq(
      Map("$match" -> Map("cat" -> "a")),
      Map("$out" -> "tgt")))
    // the stale target content is gone, fully replaced by the result
    assert(out.orderBy("_id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (3L, "a")))
    assert(spark.read.parquet(s"$dir/tgt.parquet").count() == 2)
  }

  test("$out doc form {db, coll} targets a sibling-database namespace") {
    val dir = Files.createTempDirectory("graft-out-db").toString
    Seq((1L, "a"), (2L, "b")).toDF("_id", "cat")
      .write.parquet(s"$dir/src.parquet")
    // in the flat driver layout the db is a logical name (one root per
    // session), so the write lands under the shared root — the point is
    // the doc form resolves and the db key routes the Namespace
    val out = new GraftSession(spark, dir).db("d").c("src").pipe(Seq(
      Map("$match" -> Map("cat" -> "a")),
      Map("$out" -> Map("db" -> "archive", "coll" -> "tgt2"))))
    assert(out.as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    assert(spark.read.parquet(s"$dir/tgt2.parquet").count() == 1)
  }

  test("$out and $merge keep the target when the swap's rename in fails") {
    val dir = Files.createTempDirectory("graft-swap").toString
    Seq((1L, "a"), (2L, "b")).toDF("_id", "cat")
      .write.parquet(s"$dir/src.parquet")
    Seq((99L, "old")).toDF("_id", "cat").write.parquet(s"$dir/tgt.parquet")
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.renamefail.impl", classOf[RenameFailFileSystem].getName)
    try {
      val src = new GraftSession(spark, s"renamefail://$dir").db("d").c("src")
      for (sink <- Seq[Map[String, Any]](Map("$out" -> "tgt"),
          Map("$merge" -> Map("into" -> "tgt", "on" -> "_id")))) {
        intercept[java.io.IOException](src.pipe(Seq(sink)))
        assert(spark.read.parquet(s"$dir/tgt.parquet").as[(Long, String)]
          .collect().toSeq == Seq((99L, "old")), s"target lost by $sink")
      }
    } finally hc.unset("fs.renamefail.impl")
  }
}

/** The local filesystem under the `renamefail` scheme, whose rename of a
  * `*.tmp` path fails — the step of a table swap that renames the new
  * table in. */
class RenameFailFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("renamefail:///")
  override def getScheme: String = "renamefail"
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean =
    if (src.getName.endsWith(".tmp"))
      throw new java.io.IOException(s"rename of $src fails")
    else super.rename(src, dst)
}

class BackupSpec extends SparkSpec {
  import spark.implicits._
  import graft.backup._

  test("backup writes parquet + metadata sidecar") {
    val df = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("_id", "s")
    val target = Files.createTempDirectory("graft-bak").toString + "/out"
    val n = Backup.collection(spark, df, target,
      BackupOptions(query = Map("_id" -> Map("$gte" -> 2L))))
    assert(n == 2)
    assert(spark.read.parquet(target).count() == 2)
    val meta = new String(Files.readAllBytes(
      java.nio.file.Paths.get(target + ".meta.json")))
    assert(meta.contains("\"rows\": 2") && meta.contains("\"_id\""))
  }

  test("metadataOnly counts without writing data") {
    val df = Seq((1L, "x")).toDF("_id", "s")
    val target = Files.createTempDirectory("graft-bak2").toString + "/out"
    val n = Backup.collection(spark, df, target,
      BackupOptions(metadataOnly = true))
    assert(n == 1)
    assert(!new java.io.File(target).exists())
    assert(new java.io.File(target + ".meta.json").exists())
  }

  test("jsonl export: one document per line, sidecar, gzip option") {
    val df = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("_id", "s")
    val target = Files.createTempDirectory("graft-bakj").toString + "/out"
    val n = Backup.collectionJsonl(spark, df, target,
      BackupOptions(query = Map("_id" -> Map("$gte" -> 2L))))
    assert(n == 2)
    val lines = spark.read.textFile(target).collect().sorted
    assert(lines.length == 2)
    assert(lines.head == """{"_id":2,"s":"y"}""")
    val meta = new String(Files.readAllBytes(
      java.nio.file.Paths.get(target + ".meta.json")))
    assert(meta.contains("\"format\": \"jsonl\"") &&
      meta.contains("\"rows\": 2"))
    // gzip round-trips through the schema-aware reader
    val gz = Files.createTempDirectory("graft-bakgz").toString + "/out"
    Backup.collectionJsonl(spark, df, gz, BackupOptions(),
      compression = Some("gzip"))
    assert(new java.io.File(gz).listFiles()
      .exists(_.getName.endsWith(".json.gz")))
    assert(spark.read.schema(df.schema).json(gz).count() == 3)
  }

  test("sidecar carries index docs + per-column stats (backup.go:152-200)") {
    val df = Seq((1L, "x", Some(10)), (2L, "y", None), (3L, "z", Some(30)))
      .toDF("_id", "s", "v")
    val target = Files.createTempDirectory("graft-bak3").toString + "/out"
    Backup.collection(spark, df, target,
      BackupOptions(sortKeys = Seq("-_id", "s")))
    val meta = new String(Files.readAllBytes(
      java.nio.file.Paths.get(target + ".meta.json")))
    // reference metadata document shape: options / indexes / uuid
    assert(meta.contains("\"options\": {}") && meta.contains("\"uuid\": \"\""))
    // sort keys as mongo-style index docs with direction
    assert(meta.contains("""{"name": "_id_-1", "key": {"_id": -1}}"""))
    assert(meta.contains("""{"name": "s_1", "key": {"s": 1}}"""))
    // one-pass per-column min/max/null_count
    assert(meta.contains(
      """{"name": "_id", "null_count": 0, "min": "1", "max": "3"}"""))
    assert(meta.contains(
      """{"name": "v", "null_count": 1, "min": "10", "max": "30"}"""))
  }

  test("backup writes, counts and gathers stats in one Spark job") {
    val dir = Files.createTempDirectory("graft-bak-jobs").toString
    Seq((1L, "x", Some(10)), (2L, "y", None), (3L, "z", Some(30)))
      .toDF("_id", "s", "v").write.parquet(s"$dir/src.parquet")
    val df = graft.sources.Tables.load(spark, s"$dir/src.parquet")
    val (n, jobs) = jobsIn(Backup.collection(spark, df, s"$dir/out"))
    assert(n == 3 && jobs == 1)
    val (nj, jobsJ) = jobsIn(Backup.collectionJsonl(spark, df, s"$dir/outj"))
    assert(nj == 3 && jobsJ == 1)
    val (nm, jobsM) = jobsIn(Backup.collection(spark, df, s"$dir/outm",
      BackupOptions(metadataOnly = true)))
    assert(nm == 3 && jobsM == 1)
    for (t <- Seq("out", "outj", "outm")) {
      val meta = new String(Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/$t.meta.json")))
      assert(meta.contains("\"rows\": 3"), t)
      assert(meta.contains(
        """{"name": "v", "null_count": 1, "min": "10", "max": "30"}"""), t)
    }
  }

  test("an export that matches nothing records zero rows") {
    val df = Seq((1L, "x"), (2L, "y")).toDF("_id", "s")
    val target = Files.createTempDirectory("graft-bak-empty").toString + "/out"
    val n = Backup.collection(spark, df, target,
      BackupOptions(query = Map("_id" -> Map("$gt" -> 5L))))
    assert(n == 0 && spark.read.parquet(target).count() == 0)
    val meta = new String(Files.readAllBytes(
      java.nio.file.Paths.get(target + ".meta.json")))
    assert(meta.contains("\"rows\": 0"))
  }
}

class ApmSpec extends SparkSpec {
  import graft.apm._

  test("monitor accumulates and rotates windows") {
    val m = new BasicMonitor()
    val k = EventKey("db", "coll", "find")
    m.record(k, ok = true, 100); m.record(k, ok = false, 50)
    val w = m.rotate()
    assert(w(k) == EventRecord(1, 1, 150))
    assert(m.rotate().getOrElse(k, EventRecord(0, 0, 0)).succeeded == 0)
  }

  test("config filters commands/dbs/namespaces; prepopulates cross-product") {
    val cfg = MonitorConfig(commands = Set("find"),
      namespaces = Set(("db", "coll")))
    val m = new BasicMonitor(cfg)
    m.record(EventKey("db", "coll", "insert"), ok = true, 1) // filtered
    m.record(EventKey("other", "coll", "find"), ok = true, 1) // filtered
    m.record(EventKey("db", "coll", "find"), ok = true, 1)
    val w = m.rotate()
    assert(w.size == 1 && w.head._2.succeeded == 1)
  }

  test("spark listener records query executions") {
    val monitor = Apm.install(spark)
    import spark.implicits._
    Seq(1, 2, 3).toDF("n").count()
    // listener callbacks are async; poll briefly
    var w = Map.empty[EventKey, EventRecord]
    val deadline = System.currentTimeMillis() + 5000
    while (w.isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(100); w = monitor.rotate().filter(_._2.succeeded > 0)
    }
    assert(w.nonEmpty)
  }

  test("spark listener records failed executions instead of re-throwing") {
    // runtime failure (healthy plan, raise_error at eval) through the real
    // bus: our listener must record it. Analysis failures are checked
    // below WITHOUT the bus — a failed-analysis execution event makes
    // Spark's own ObservationManager listener re-raise and spam ERROR.
    val monitor = Apm.install(spark)
    // the task failure is intentional; keep its executor-side ERROR spam
    // out of otherwise-green test logs
    spark.sparkContext.setLogLevel("OFF")
    try intercept[Exception] {
      spark.range(1)
        .select(org.apache.spark.sql.functions
          .raise_error(org.apache.spark.sql.functions.lit("boom")))
        .collect()
    } finally spark.sparkContext.setLogLevel("ERROR")
    var failed = Map.empty[EventKey, EventRecord]
    val deadline = System.currentTimeMillis() + 5000
    while (failed.isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(100); failed = monitor.rotate().filter(_._2.failed > 0)
    }
    assert(failed.nonEmpty, "failure event was not recorded")
  }

  test("listener onFailure on a failed-ANALYSIS plan records, never throws") {
    // deriving the event key from a failed execution can re-raise the
    // original analysis error; the listener must fall back to a plan-free
    // key. Called directly (not via the bus) so only OUR listener's
    // behavior is under test.
    val monitor = new BasicMonitor(MonitorConfig())
    val listener = new SparkApmListener(monitor)
    import spark.implicits._
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAlias
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val df = Seq((1, 2)).toDF("a", "b")
    // build the analysis-broken QueryExecution by hand: Dataset.select /
    // .queryExecution force analysis and would throw HERE, not in the
    // listener under test
    val bad = Project(Seq(UnresolvedAlias(graft.functions.FloatVecDot(
      ColumnBridge.expression(df.col("a")),
      ColumnBridge.expression(df.col("b"))))),
      df.queryExecution.logical)
    val qe = new org.apache.spark.sql.execution.QueryExecution(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], bad)
    listener.onFailure("collect", qe, new Exception("analysis failed"))
    val failed = monitor.rotate().filter(_._2.failed > 0)
    assert(failed.nonEmpty, "failure event was not recorded")
  }

  test("spark listener separates namespaces: two tables -> two event keys") {
    val monitor = Apm.install(spark)
    graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "nation").count()
    graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "region").count()
    var colls = Set.empty[String]
    val deadline = System.currentTimeMillis() + 5000
    while (!(colls.contains("nation") && colls.contains("region")) &&
        System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      colls ++= monitor.rotate().keys.map(_.collection)
    }
    // the scan relation's root path names the table — not the node class
    // name, which would collapse every parquet read into one key
    assert(colls.contains("nation") && colls.contains("region"))
  }

  test("allTags counts every operation tag per window") {
    val m = new BasicMonitor(MonitorConfig(allTags = true))
    val k = EventKey("db", "coll", "find")
    m.record(k, ok = true, 10, tags = Seq("alpha", "beta"))
    m.record(k, ok = true, 10, tags = Seq("alpha"))
    val w = m.rotate()
    assert(w(k).tags == Map("alpha" -> 2L, "beta" -> 1L))
    // rotation resets the counters with the window
    m.record(k, ok = true, 10, tags = Seq("alpha"))
    assert(m.rotate()(k).tags == Map("alpha" -> 1L))
  }

  test("tag whitelist counts only configured tags; default counts none") {
    val cfg = MonitorConfig(tags = Set("tracked"))
    val m = new BasicMonitor(cfg)
    val k = EventKey("db", "coll", "find")
    m.record(k, ok = true, 10, tags = Seq("tracked", "ignored"))
    assert(m.rotate()(k).tags == Map("tracked" -> 1L))
    val none = new BasicMonitor()
    none.record(k, ok = true, 10, tags = Seq("anything"))
    assert(none.rotate()(k).tags.isEmpty)
  }

  test("TagContext scopes ambient tags around synchronous record paths") {
    val m = new BasicMonitor(MonitorConfig(allTags = true))
    val k = EventKey("db", "coll", "find")
    TagContext.withTags("job42") { m.record(k, ok = true, 10) }
    m.record(k, ok = true, 10) // outside the scope: no tags
    val w = m.rotate()
    assert(w(k).succeeded == 2 && w(k).tags == Map("job42" -> 1L))
  }
}

class TablesSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.StructType
  import TablesSpec.writeNanos

  private val sf = "/root/testdata/sf0.001"
  private val baseNanos = 1705276800000000000L // 2024-01-15T00:00:00Z

  test("nanos timestamps normalize to microsecond TimestampType") {
    // The driver has shipped events.ts as both INT64 TIMESTAMP(NANOS) and
    // plain µs parquet across rounds; synthesize a nanos file so this path
    // stays covered regardless of the current testdata encoding.
    val dir = java.nio.file.Files.createTempDirectory("graft-nanos")
    val file = s"$dir/nanos.parquet"
    // a sub-µs remainder that the normalization must floor away
    writeNanos(file, (0 until 3).map(i => (i.toLong, baseNanos + i * 1000000000L + 123L)))
    val df = graft.sources.Tables.load(spark, file)
    assert(df.schema("ts").dataType.typeName == "timestamp")
    val first = df.orderBy("event_id").select("ts").head().getTimestamp(0)
    assert(first.toInstant == java.time.Instant.parse("2024-01-15T00:00:00Z"))
  }

  test("events table loads with a timestamp-typed ts either encoding") {
    val df = graft.sources.Tables.table(spark, sf, "events")
    // µs parquet without UTC adjustment reads as timestamp_ntz; nanos reads
    // normalize to timestamp — both are event-time-usable downstream
    assert(df.schema("ts").dataType.typeName.startsWith("timestamp"))
    assert(df.count() > 0)
  }

  test("tables without nanos columns load unchanged") {
    val df = graft.sources.Tables.table(spark, sf, "orders")
    // ms-precision parquet without UTC adjustment reads as timestamp_ntz
    assert(df.schema("o_orderdate").dataType.typeName.startsWith("timestamp"))
    assert(df.count() == 1500)
  }

  /** The loader's schema before it read schemas from footers: Spark's
    * inference (`spark.read.parquet`), then the nanos conversion of the
    * top-level TIMESTAMP(NANOS) columns of the first `.parquet` file. */
  private def inferredSchema(path: String): StructType = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val file =
      if (fs.getFileStatus(p).isDirectory) fs.listStatus(p).map(_.getPath)
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      else Some(p)
    val nanos = file.toSeq.flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try r.getFooter.getFileMetaData.getSchema.getFields.asScala.collect {
        case t if t.isPrimitive && (t.getLogicalTypeAnnotation match {
          case a: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            a.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
          case _ => false
        }) => t.getName
      } finally r.close()
    }
    nanos.foldLeft(spark.read.parquet(path)) { (d, c) =>
      d.withColumn(c, timestamp_micros(expr(s"`$c` div 1000L")))
    }.schema
  }

  test("footer-derived schemas equal Spark's inferred ones") {
    val tables = new java.io.File(sf).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted.toSeq
    assert(tables.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("graft-schemas").toString
    // Spark-written: nested, decimal, several files, a partitioned layout
    spark.range(0, 40, 1, 4).select(
      col("id").as("_id"),
      struct(col("id").as("a"), (col("id") * 0.5).as("b"),
        struct(col("id").cast("string").as("c")).as("inner")).as("st"),
      array(col("id"), col("id") + 1).as("arr"),
      array(struct(col("id").as("k"))).as("arr_st"),
      map(col("id").cast("string"), col("id") * 2.0).as("m"),
      (col("id") / 3).cast("decimal(20,4)").as("dec"),
      (col("id") % 2 === 0).as("flag"),
      when(col("id") % 5 === 0, lit(null)).otherwise(col("id").cast("string"))
        .as("maybe"),
      current_date().as("d"), timestamp_micros(col("id")).as("ts"),
      col("id").cast("string").cast("binary").as("bin"))
      .write.parquet(s"$dir/spark.parquet")
    spark.range(0, 20).select(col("id"), (col("id") % 3).as("part"))
      .write.partitionBy("part").parquet(s"$dir/partitioned.parquet")
    writeNanos(s"$dir/nanos.parquet", Seq((1L, baseNanos)))
    // a Spark-written directory holding a nanos file
    new java.io.File(s"$dir/nanos_dir.parquet").mkdir()
    writeNanos(s"$dir/nanos_dir.parquet/part-0.parquet", Seq((1L, baseNanos)))
    val written = Seq("spark", "partitioned", "nanos", "nanos_dir")
      .map(n => s"$dir/$n.parquet")
    for (path <- tables ++ written) {
      val got = graft.sources.Tables.load(spark, path).schema
      assert(got == inferredSchema(path), path)
    }
    assert(graft.sources.Tables.load(spark, s"$dir/nanos_dir.parquet")
      .schema("ts").dataType.typeName == "timestamp")
  }

  test("an empty directory keeps Spark's inference error") {
    val dir = java.nio.file.Files.createTempDirectory("graft-empty").toString
    val e = intercept[org.apache.spark.sql.AnalysisException](
      graft.sources.Tables.load(spark, dir))
    assert(e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") ||
      e.getMessage.contains("Unable to infer schema"))
  }

  test("mergeSchema still merges every file's schema") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-merge-schema").toString
    // one flat directory, two files with different columns
    Seq((1L, "a")).toDF("_id", "s").coalesce(1).write.parquet(s"$dir/a")
    Seq((2L, 2.0)).toDF("_id", "v").coalesce(1).write.parquet(s"$dir/b")
    Files.createDirectory(Paths.get(s"$dir/t.parquet"))
    for (part <- Seq("a", "b")) {
      val f = new java.io.File(s"$dir/$part").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(f.toPath, Paths.get(s"$dir/t.parquet/$part.parquet"))
    }
    assert(graft.sources.Tables.load(spark, s"$dir/t.parquet").columns
      .toSeq == Seq("_id", "s"))
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      val df = graft.sources.Tables.load(spark, s"$dir/t.parquet")
      assert(df.columns.toSet == Set("_id", "s", "v"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("Tables.load launches no Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("graft-load-jobs").toString
    spark.range(0, 10, 1, 2).write.parquet(s"$dir/t.parquet")
    writeNanos(s"$dir/nanos.parquet", Seq((1L, baseNanos)))
    for (path <- Seq(s"$sf/orders.parquet",
        s"$dir/t.parquet", s"$dir/nanos.parquet")) {
      val (df, jobs) = jobsIn(graft.sources.Tables.load(spark, path))
      assert(jobs == 0, path)
      assert(df.count() > 0)
    }
  }

  test("$lookup of a nanos collection yields TimestampType") {
    val root = java.nio.file.Files.createTempDirectory("graft-lookup-nanos").toString
    Seq((1L, "a"), (2L, "b")).toDF("event_id", "cat")
      .write.parquet(s"$root/src.parquet")
    writeNanos(s"$root/events.parquet",
      Seq((1L, baseNanos + 123L), (2L, baseNanos + 1000000000L)))
    val out = new GraftSession(spark, root).db("d").c("src").pipe(Seq(
      Map("$lookup" -> Map("from" -> "events", "localField" -> "event_id",
        "foreignField" -> "event_id", "as" -> "ev"))))
    val ev = out.schema("ev").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[StructType]
    assert(ev("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val ts = out.where($"event_id" === 1L).select(col("ev")(0)("ts"))
      .head().getTimestamp(0)
    assert(ts.toInstant == java.time.Instant.parse("2024-01-15T00:00:00Z"))
  }
}

object TablesSpec {
  /** Writes `(event_id, ts)` rows to a parquet file whose `ts` is INT64
    * TIMESTAMP(NANOS), an encoding Spark itself cannot write. */
  def writeNanos(file: String, rows: Seq[(Long, Long)]): Unit = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.hadoop.conf.Configuration
    val schema = Types.buildMessage()
      .addField(Types.required(PrimitiveTypeName.INT64).named("event_id"))
      .addField(Types.required(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(true, TimeUnit.NANOS))
        .named("ts"))
      .named("events")
    val conf = new Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), conf))
      .withConf(conf).build()
    val gf = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, ts) =>
      val g = gf.newGroup()
      g.add("event_id", id)
      g.add("ts", ts)
      w.write(g)
    } finally w.close()
  }
}

class DdlSpec extends graft.SparkSpec {
  import org.apache.spark.sql.types._
  import java.nio.file.Files

  test("create / list / drop collection round-trip") {
    val root = Files.createTempDirectory("graft-ddl").toString
    val db = new GraftSession(spark, root).db("d")
    val schema = StructType(Seq(StructField("_id", LongType),
      StructField("s", StringType)))
    val coll = db.createCollection("fresh", schema)
    assert(coll.count() == 0)
    assert(coll.df.schema.fieldNames.toSeq == Seq("_id", "s"))
    assert(db.listCollections() == Seq("fresh"))
    intercept[Exception] { db.createCollection("fresh", schema) } // exists
    db.dropCollection("fresh")
    assert(db.listCollections().isEmpty)
  }

  test("listDatabaseNames: flat root + multi-db subdirectories") {
    val root = Files.createTempDirectory("graft-lsdb").toString
    val ses = new GraftSession(spark, root)
    assert(ses.listDatabaseNames().isEmpty) // nothing yet
    val schema = StructType(Seq(StructField("_id", LongType)))
    new GraftSession(spark, root).db("d").createCollection("t", schema)
    new GraftSession(spark, s"$root/sub").db("d").createCollection("u", schema)
    assert(ses.listDatabaseNames() ==
      Seq(new java.io.File(root).getName, "sub"))
  }

  test("dropDatabase drops every collection (db/wrapper.go:61)") {
    val root = Files.createTempDirectory("graft-dropdb").toString
    val db = new GraftSession(spark, root).db("d")
    val schema = StructType(Seq(StructField("_id", LongType)))
    db.createCollection("one", schema)
    db.createCollection("two", schema)
    assert(db.listCollections() == Seq("one", "two"))
    db.dropDatabase()
    assert(db.listCollections().isEmpty)
  }

  test("runCommand executes raw SQL") {
    val ses = new GraftSession(spark, "/tmp")
    assert(ses.runCommand("SELECT 1 + 1 AS two").head().getInt(0) == 2)
  }
}

class LoggingMonitorSpec extends graft.SparkSpec {
  import graft.apm._

  test("logging monitor rotates on a ticker") {
    val m = new BasicMonitor()
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    val lm = new LoggingMonitor(m, 100)(w => {
      if (w.nonEmpty) seen.addAndGet(w.values.map(_.succeeded).sum.toInt)
    })
    m.record(EventKey("d", "c", "find"), ok = true, 5)
    val deadline = System.currentTimeMillis() + 5000
    while (seen.get() == 0 && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    lm.close()
    assert(seen.get() == 1)
  }
}
