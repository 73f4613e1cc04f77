package graft.orchestrate

import graft.SparkSpec
import graft.model._
import org.apache.spark.sql.Row
import java.nio.file.Files
import scala.jdk.CollectionConverters._

class DependencyNetworkSpec extends SparkSpec {

  test("validate catches undefined dependencies") {
    val n = new DependencyNetwork
    n.add("a", Seq("ghost"))
    val Left(errs) = n.validate(): @unchecked
    assert(errs.exists(_.contains("ghost")))
  }

  test("validate catches cycles (tarjan) and self-loops") {
    val n = new DependencyNetwork
    n.add("a", Seq("b")); n.add("b", Seq("c")); n.add("c", Seq("a"))
    val Left(errs) = n.validate(): @unchecked
    assert(errs.exists(_.contains("cycle")))
    val self = new DependencyNetwork
    self.add("x", Seq("x"))
    assert(self.validate().isLeft)
  }

  test("topoLayers orders dependencies first") {
    val n = new DependencyNetwork
    n.add("c", Seq("a", "b")); n.add("a", Nil); n.add("b", Seq("a"))
    assert(n.topoLayers() == Seq(Seq("a"), Seq("b"), Seq("c")))
  }

  test("groups round-trip") {
    val n = new DependencyNetwork
    n.addGroup("g", Seq("j1", "j2")); n.addGroup("g", Seq("j3"))
    assert(n.getGroup("g") == Seq("j1", "j2", "j3"))
    assert(n.getGroup("missing").isEmpty)
  }

  test("deep chains don't overflow the stack") {
    val n = new DependencyNetwork
    (1 to 20000).foreach(i => n.add(s"j$i", if (i == 1) Nil else Seq(s"j${i - 1}")))
    assert(n.validate().isRight)
  }
}

class MigrationAppSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String = {
    val root = Files.createTempDirectory("graft-app").toString
    Seq((1L, "x", 1.0), (2L, "y", 2.0), (3L, "x", 3.0))
      .toDF("_id", "cat", "v")
      .write.mode("overwrite").parquet(s"$root/items.parquet")
    root
  }

  private def simple(id: String, deps: Seq[String] = Nil,
      query: Map[String, Any] = Map.empty,
      update: Map[String, Any] = Map("$set" -> Map("cat" -> "done"))) =
    SimpleMigration(GeneratorOptions(id, deps, Namespace("db", "items"), query),
      update)

  test("simple migration end-to-end with ledger") {
    val root = freshRoot()
    val app = new MigrationApp(spark, root)
    app.setup(Seq(simple("m1", query = Map("cat" -> "x"))))
    val res = app.run()
    assert(res == Seq(MigrationResult("m1", 2, hasErrors = false)))
    val out = spark.read.parquet(s"$root/items.parquet")
    assert(out.where($"cat" === "done").count() == 2)
    assert(app.ledger.satisfied("m1"))
  }

  test("dry run plans and counts but writes nothing") {
    val root = freshRoot()
    val app = new MigrationApp(spark, root, ApplicationOptions(dryRun = true))
    app.setup(Seq(simple("m1", query = Map("cat" -> "x"))))
    val res = app.run()
    assert(res.head.matched == 2)
    assert(spark.read.parquet(s"$root/items.parquet")
      .where($"cat" === "done").count() == 0)
    assert(!app.ledger.satisfied("m1"))
  }

  test("dependent migrations run in order; ledger gates") {
    val root = freshRoot()
    val app = new MigrationApp(spark, root)
    app.setup(Seq(
      simple("second", deps = Seq("first"),
        query = Map("cat" -> "warm"),
        update = Map("$set" -> Map("cat" -> "hot"))),
      simple("first", update = Map("$set" -> Map("cat" -> "warm")))))
    val res = app.run()
    assert(res.map(_.id) == Seq("first", "second"))
    assert(res.forall(!_.hasErrors))
    val out = spark.read.parquet(s"$root/items.parquet")
    assert(out.where($"cat" === "hot").count() == 3)
  }

  test("failed dependency blocks the dependent") {
    val root = freshRoot()
    val app = new MigrationApp(spark, root)
    app.setup(Seq(
      simple("bad", update = Map("$bogus" -> Map("x" -> 1))),
      simple("child", deps = Seq("bad"))))
    val res = app.run()
    assert(res.find(_.id == "bad").get.hasErrors)
    val child = res.find(_.id == "child").get
    assert(child.hasErrors && child.error.get.contains("blocked"))
  }

  test("cycle rejected at setup") {
    val app = new MigrationApp(spark, freshRoot())
    intercept[IllegalArgumentException] {
      app.setup(Seq(simple("a", deps = Seq("b")), simple("b", deps = Seq("a"))))
    }
  }

  test("duplicate ids rejected at setup") {
    val app = new MigrationApp(spark, freshRoot())
    intercept[IllegalArgumentException] {
      app.setup(Seq(simple("a"), simple("a")))
    }
  }

  test("unregistered manual operation fails that migration only") {
    val root = freshRoot()
    val app = new MigrationApp(spark, root)
    app.setup(Seq(ManualMigration(
      GeneratorOptions("manual", Nil, Namespace("db", "items")), "ghost-op")))
    val res = app.run()
    assert(res.head.hasErrors && res.head.error.get.contains("not registered"))
  }

  test("manual migration maps rows through the registered op") {
    val root = freshRoot()
    val regs = new Registries
    regs.registerOperation("upcase",
      r => Row(r.getLong(0), r.getString(1).toUpperCase, r.getDouble(2)))
    val app = new MigrationApp(spark, root, registries = regs)
    app.setup(Seq(ManualMigration(
      GeneratorOptions("manual", Nil, Namespace("db", "items"),
        Map("cat" -> "x")), "upcase")))
    assert(app.run().forall(!_.hasErrors))
    val out = spark.read.parquet(s"$root/items.parquet")
    assert(out.where($"cat" === "X").count() == 2)
    assert(out.where($"cat" === "y").count() == 1)
  }

  test("stream migration processes the matching stream") {
    val root = freshRoot()
    val regs = new Registries
    regs.registerProcessor("drop-evens",
      it => it.filter(r => r.getLong(0) % 2 == 1))
    val app = new MigrationApp(spark, root, registries = regs)
    app.setup(Seq(StreamMigration(
      GeneratorOptions("stream", Nil, Namespace("db", "items")), "drop-evens")))
    assert(app.run().forall(!_.hasErrors))
    assert(spark.read.parquet(s"$root/items.parquet").count() == 2)
  }

  test("limit caps migrated rows deterministically") {
    val root = freshRoot()
    val app = new MigrationApp(spark, root)
    app.setup(Seq(SimpleMigration(
      GeneratorOptions("lim", Nil, Namespace("db", "items"),
        query = Map.empty, limit = 2),
      Map("$set" -> Map("cat" -> "done")))))
    assert(app.run().forall(!_.hasErrors))
    val out = spark.read.parquet(s"$root/items.parquet")
    assert(out.where($"cat" === "done").count() == 2)
    // deterministic selection: lowest keys first
    assert(out.where($"cat" === "done").select("_id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("limit with a non-unique key never duplicates rows and is flagged") {
    val root = Files.createTempDirectory("graft-app").toString
    // key column 'k' is NOT unique: two rows share k=1
    Seq((1L, "x", 1.0), (1L, "y", 2.0), (2L, "x", 3.0), (3L, "x", 4.0))
      .toDF("k", "cat", "v")
      .write.mode("overwrite").parquet(s"$root/items.parquet")
    val app = new MigrationApp(spark, root)
    app.setup(Seq(SimpleMigration(
      GeneratorOptions("lim", Nil, Namespace("db", "items"),
        query = Map.empty, limit = 2),
      Map("$set" -> Map("cat" -> "done")))))
    val res = app.run()
    // the deduped work-list join cannot multiply rows...
    val out = spark.read.parquet(s"$root/items.parquet")
    assert(out.count() == 4, "left_outer mark join must not duplicate rows")
    // ...the over-applied limit (3 rows matched 2 keys) is an error...
    assert(res.head.hasErrors)
    assert(res.head.error.exists(_.contains("not unique")))
    // ...and the post-write validation failure restored the ORIGINAL table
    // from the kept .bak (no over-migrated rows survive the error)
    assert(out.where($"cat" === "done").count() == 0,
      "validation failure must roll the write back")
    assert(!new java.io.File(s"$root/items.parquet.bak").exists())
  }

  test("ledger record is lock-file-guarded against concurrent writers") {
    val root = freshRoot()
    val ledger = new MetadataLedger(spark, s"$root/ledger")
    // a held lock blocks + a released lock unblocks (serialized writers)
    val lock = java.nio.file.Paths.get(s"$root/ledger.lock")
    java.nio.file.Files.createFile(lock)
    val t = new Thread(() => { Thread.sleep(300)
      java.nio.file.Files.deleteIfExists(lock) })
    t.start()
    ledger.record(MigrationMetadata("m1", "m1", has_errors = false,
      completed = true)) // must wait for the release, then proceed
    t.join()
    assert(ledger.satisfied("m1"))
    assert(!java.nio.file.Files.exists(lock), "lock released after write")
  }

  test("exclusive create: of racing creators exactly one wins") {
    // the race itself cannot be forced; this pins the contract the lease
    // and the ledger lock share: the loser gets an IOException, the
    // winner's content is the file's
    val root = freshRoot()
    val p = new org.apache.hadoop.fs.Path(s"$root/x.lock")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val start = new java.util.concurrent.CountDownLatch(1)
    val wins = new java.util.concurrent.atomic.AtomicInteger
    val threads = (0 until 4).map { i =>
      val t = new Thread(() => {
        start.await()
        try {
          ExclusiveFile.create(fs, p, s"owner-$i".getBytes("UTF-8"))
          wins.incrementAndGet()
        } catch { case _: java.io.IOException => () }
      })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join())
    assert(wins.get == 1)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/x.lock")), "UTF-8").startsWith("owner-"))
    intercept[java.io.IOException](ExclusiveFile.create(fs, p))
  }

  test("ledger is a JSON-lines file; record and satisfied launch no job") {
    val root = freshRoot()
    val ledger = new MetadataLedger(spark, s"$root/ledger")
    val (_, jobs) = jobsIn {
      ledger.record(MigrationMetadata("m1", "m1", has_errors = false,
        completed = true))
      ledger.record(MigrationMetadata("m2", "m2", has_errors = true,
        completed = true))
      // upsert by id: m2 is replaced, not duplicated
      ledger.record(MigrationMetadata("m2", "m2", has_errors = false,
        completed = true))
      assert(ledger.satisfied("m1") && ledger.satisfied("m2"))
      assert(!ledger.satisfied("m3"))
    }
    assert(jobs == 0)
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$root/ledger"))
    assert(lines.size == 2)
    assert(lines.get(0) ==
      """{"_id":"m1","migration":"m1","has_errors":false,"completed":true}""")
    assert(ledger.rows().map(_._id) == Seq("m1", "m2"))
  }

  test("ledger: a crashed writer's leftovers never hide the recorded rows") {
    val root = freshRoot()
    val dir = java.nio.file.Paths.get(root)
    val ledger = new MetadataLedger(spark, s"$root/ledger")
    ledger.record(MigrationMetadata("m1", "m1", has_errors = false,
      completed = true))
    // a writer that died while writing its replacement: a torn .tmp
    java.nio.file.Files.writeString(dir.resolve("ledger.tmp"),
      """{"_id":"m2","migr""")
    assert(ledger.rows().map(_._id) == Seq("m1"))
    assert(ledger.satisfied("m1") && !ledger.satisfied("m2"))
    // the next record ignores the leftover and overwrites it
    ledger.record(MigrationMetadata("m2", "m2", has_errors = false,
      completed = true))
    assert(ledger.rows().map(_._id) == Seq("m1", "m2"))
    assert(!java.nio.file.Files.exists(dir.resolve("ledger.tmp")))
    // a writer that died between moving the old file aside (filesystems
    // whose rename refuses an existing destination) and renaming the new
    // one in: the previous rows stay readable from .bak
    java.nio.file.Files.move(dir.resolve("ledger"), dir.resolve("ledger.bak"))
    java.nio.file.Files.writeString(dir.resolve("ledger.tmp"), "")
    assert(ledger.rows().map(_._id) == Seq("m1", "m2"))
    ledger.record(MigrationMetadata("m3", "m3", has_errors = false,
      completed = true))
    assert(ledger.rows().map(_._id) == Seq("m1", "m2", "m3"))
    assert(!java.nio.file.Files.exists(dir.resolve("ledger.bak")))
  }

  test("a ledger left as a directory fails loudly") {
    val root = freshRoot()
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$root/ledger"))
    val e = intercept[IllegalStateException](
      new MetadataLedger(spark, s"$root/ledger").satisfied("m1"))
    assert(e.getMessage.contains("is a directory"))
  }

  test("a two-migration run on one collection launches one write job") {
    val root = freshRoot()
    val app = new MigrationApp(spark, root)
    app.setup(Seq(
      simple("second", deps = Seq("first"), query = Map("cat" -> "warm"),
        update = Map("$set" -> Map("cat" -> "hot"))),
      simple("first", update = Map("$set" -> Map("cat" -> "warm")))))
    val (res, jobs) = jobsIn(app.run())
    assert(res.forall(!_.hasErrors) && res.map(_.matched) == Seq(3L, 3L))
    assert(jobs == 1)
  }

  test("four fusable migrations: one job, one .tmp swap, one ledger write") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.counting.impl", classOf[CountingFileSystem].getName)
    val root = s"counting://${freshRoot()}"
    val app = new MigrationApp(spark, root)
    app.setup(Seq(
      simple("a", query = Map("cat" -> "x")),
      simple("b", update = Map("$inc" -> Map("v" -> 1.0))),
      simple("c", deps = Seq("a"), query = Map("cat" -> "done"),
        update = Map("$mul" -> Map("v" -> 2.0))),
      simple("d", update = Map("$set" -> Map("flag" -> true)))))
    CountingFileSystem.renames.clear()
    val (res, jobs) = jobsIn(app.run())
    assert(res.map(r => (r.id, r.matched, r.hasErrors)) == Seq(
      ("a", 2L, false), ("b", 3L, false), ("d", 3L, false), ("c", 2L, false)),
      res)
    assert(jobs == 1)
    val renamed = CountingFileSystem.renames.asScala.toSeq
    assert(renamed.count(_._1.endsWith("/items.parquet.tmp")) == 1, renamed)
    assert(renamed.count(_._1.endsWith("/anser_migrations_metadata.tmp")) == 1,
      renamed)
    val out = spark.read.parquet(s"$root/items.parquet")
    assert(out.columns.toSeq == Seq("_id", "cat", "v", "flag"))
    assert(out.orderBy("_id").collect().toSeq.map(_.toString) == Seq(
      "[1,done,4.0,true]", "[2,y,3.0,true]", "[3,done,8.0,true]"))
    assert(app.ledger.rows().map(_._id) == Seq("a", "b", "d", "c"))
  }

  test("matched counts are observed in the write job, not a second scan") {
    val root = freshRoot()
    val app = new MigrationApp(spark, root)
    app.setup(Seq(simple("m1", query = Map("cat" -> "x"))))
    val res = app.run()
    // the non-dry-run path harvests the count from the CollectMetrics
    // observation riding the write job; it must match the real selectivity
    assert(res == Seq(MigrationResult("m1", 2, hasErrors = false)))
  }

  test("idColumn overrides the work-list join key") {
    val root = Files.createTempDirectory("graft-app").toString
    Seq(("a", 10L, "x"), ("b", 20L, "x"), ("c", 30L, "x"))
      .toDF("name", "uid", "cat")
      .write.mode("overwrite").parquet(s"$root/items.parquet")
    val app = new MigrationApp(spark, root)
    app.setup(Seq(SimpleMigration(
      GeneratorOptions("lim", Nil, Namespace("db", "items"),
        query = Map.empty, limit = 1, sortBy = Seq("-uid"),
        idColumn = Some("uid")),
      Map("$set" -> Map("cat" -> "done")))))
    assert(app.run().forall(!_.hasErrors))
    val out = spark.read.parquet(s"$root/items.parquet")
    assert(out.where($"cat" === "done").select("uid").as[Long]
      .collect().toSeq == Seq(30L))
  }

  test("namespace lease: concurrent app on the same namespace fails fast") {
    val root = freshRoot()
    val ns = Namespace("db", "items")
    // app1 holds the namespace lease (as if mid-swap)
    val app1 = new MigrationApp(spark, root)
    app1.lease.acquire(ns)
    try {
      // app2 refuses to touch the leased namespace: errored result with
      // the lease message, table untouched
      val app2 = new MigrationApp(spark, root,
        ApplicationOptions(leaseWaitMs = 0L))
      app2.setup(Seq(simple("m1", query = Map("cat" -> "x"))))
      val res = app2.run()
      assert(res.head.hasErrors &&
        res.head.error.exists(_.contains("leased")))
      val out = spark.read.parquet(s"$root/items.parquet")
      assert(out.where($"cat" === "done").count() == 0) // not torn, not run
    } finally app1.lease.release(ns)
    // once released, the same app succeeds (serialization, not deadlock)
    val app3 = new MigrationApp(spark, root,
      ApplicationOptions(leaseWaitMs = 0L))
    app3.setup(Seq(simple("m1", query = Map("cat" -> "x"))))
    assert(app3.run().forall(!_.hasErrors))
  }

  test("namespace lease: waiting app serializes behind the holder") {
    val root = freshRoot()
    val ns = Namespace("db", "items")
    val holder = new MigrationApp(spark, root)
    holder.lease.acquire(ns)
    // release the lease from another thread after a short hold
    val releaser = new Thread(() => {
      Thread.sleep(300); holder.lease.release(ns)
    })
    releaser.start()
    val waiter = new MigrationApp(spark, root,
      ApplicationOptions(leaseWaitMs = 10000L))
    waiter.setup(Seq(simple("m1", query = Map("cat" -> "x"))))
    val res = waiter.run() // blocks ~300ms, then proceeds
    releaser.join()
    assert(res == Seq(MigrationResult("m1", 2, hasErrors = false)))
    val out = spark.read.parquet(s"$root/items.parquet")
    assert(out.where($"cat" === "done").count() == 2)
  }

  test("torn swap from a crashed app is recovered on stale takeover") {
    val root = freshRoot()
    // simulate an app that died between writeBack's two renames: the
    // table was renamed away to .bak, the replacement .tmp never renamed
    // in — plus the crashed app's now-stale lease
    val dir = java.nio.file.Paths.get(root)
    java.nio.file.Files.move(dir.resolve("items.parquet"),
      dir.resolve("items.parquet.bak"))
    java.nio.file.Files.createDirectories(dir.resolve("items.parquet.tmp"))
    val leaseFile = dir.resolve(
      "anser_migrations_metadata.leases/db.items.lease")
    java.nio.file.Files.createDirectories(leaseFile.getParent)
    java.nio.file.Files.write(leaseFile, "dead-app".getBytes)
    leaseFile.toFile.setLastModified(
      System.currentTimeMillis() - 60L * 60 * 1000)
    // the taking-over app must see the OLD table (roll back — the torn
    // migration is still pending in the ledger), never a missing/torn
    // directory, and its own migration then applies cleanly
    val app = new MigrationApp(spark, root,
      ApplicationOptions(leaseWaitMs = 0L))
    app.setup(Seq(simple("m1", query = Map("cat" -> "x"))))
    assert(app.run() == Seq(MigrationResult("m1", 2, hasErrors = false)))
    val out = spark.read.parquet(s"$root/items.parquet")
    assert(out.count() == 3 && out.where($"cat" === "done").count() == 2)
    assert(!java.nio.file.Files.exists(dir.resolve("items.parquet.bak")))
    assert(!java.nio.file.Files.exists(dir.resolve("items.parquet.tmp")))
  }

  test("lease heartbeat keeps a long-running migration's lease fresh") {
    val root = freshRoot()
    val ns = Namespace("db", "items")
    // staleMs shorter than the hold below: without the heartbeat the
    // waiter would (wrongly) break the live holder's lease
    val holder = new NamespaceLease(spark, root, "holder-app",
      waitMs = 0L, staleMs = 600L)
    holder.acquire(ns)
    try {
      Thread.sleep(1500) // > staleMs: only heartbeats keep it fresh
      val contender = new NamespaceLease(spark, root, "contender-app",
        waitMs = 0L, staleMs = 600L)
      val ex = intercept[IllegalStateException](contender.acquire(ns))
      assert(ex.getMessage.contains("leased"))
    } finally holder.release(ns)
  }

  test("release deletes only the owner's lease, not a usurper's") {
    val root = freshRoot()
    val ns = Namespace("db", "items")
    val a = new NamespaceLease(spark, root, "app-a", waitMs = 0L)
    a.acquire(ns)
    // a usurper replaces the lease underneath (simulating a false stale
    // break); a's release must NOT free the usurper's lease
    val leaseFile = java.nio.file.Paths.get(
      s"$root/anser_migrations_metadata.leases/db.items.lease")
    java.nio.file.Files.write(leaseFile, "app-b".getBytes)
    a.release(ns)
    assert(java.nio.file.Files.exists(leaseFile) &&
      new String(java.nio.file.Files.readAllBytes(leaseFile)) == "app-b")
    java.nio.file.Files.delete(leaseFile)
  }

  test("data-path fencing: a usurped holder's commit aborts instead of " +
      "publishing over the usurper") {
    val root = freshRoot()
    val leaseFile = java.nio.file.Paths.get(
      s"$root/anser_migrations_metadata.leases/db.items.lease")
    // the 'pause': a manual operation that usurps the lease while the
    // holder's write job is running (exactly where a >staleMs GC pause
    // or VM freeze would let a contender break and re-take the lease)
    val leasePathStr = leaseFile.toString // serializable closure capture
    val regs = new Registries
    regs.registerOperation("usurp-mid-write", r => {
      java.nio.file.Files.write(java.nio.file.Paths.get(leasePathStr),
        "usurper-app".getBytes("UTF-8"))
      r
    })
    val app = new MigrationApp(spark, root, registries = regs)
    app.setup(Seq(ManualMigration(
      GeneratorOptions("m1", Nil, Namespace("db", "items"),
        Map("cat" -> "x")), "usurp-mid-write")))
    val res = app.run()
    // the fence (writeBack checks the token immediately before the
    // commit rename) sees the usurper's token: errored result, ...
    assert(res.head.hasErrors &&
      res.head.error.get.contains("usurped"))
    // ... the table is untouched (the usurper's view is never
    // clobbered), and the usurper's lease survives this app's release
    val out = spark.read.parquet(s"$root/items.parquet")
    assert(out.count() == 3 && out.where($"cat" === "x").count() == 2)
    assert(new String(java.nio.file.Files.readAllBytes(leaseFile),
      "UTF-8") == "usurper-app")
    java.nio.file.Files.delete(leaseFile)
  }

  test("namespace lease: stale lease from a crashed app is broken") {
    val root = freshRoot()
    val ns = Namespace("db", "items")
    // simulate a crashed app: a lease file with an ancient mtime
    val leaseFile = java.nio.file.Paths.get(
      s"$root/anser_migrations_metadata.leases/db.items.lease")
    java.nio.file.Files.createDirectories(leaseFile.getParent)
    java.nio.file.Files.write(leaseFile, "dead-app".getBytes)
    leaseFile.toFile.setLastModified(
      System.currentTimeMillis() - 60L * 60 * 1000)
    val app = new MigrationApp(spark, root,
      ApplicationOptions(leaseWaitMs = 0L))
    app.setup(Seq(simple("m1", query = Map("cat" -> "x"))))
    assert(app.run().forall(!_.hasErrors)) // broke the stale lease and ran
  }

  test("object-store rename semantics (rename = copy + fresh mtime): " +
      "stale leases still break, and the data-path fence stops a " +
      "usurped holder end-to-end on that filesystem family") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.objstore.impl", classOf[ObjStoreFileSystem].getName)
    val localRoot = freshRoot()
    val root = s"objstore://$localRoot"

    // sanity: the simulated rename really is a copy stamping a FRESH
    // mtime (the S3A/GCS behavior the breaker protocol reasons about)
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(hc)
    assert(fs.isInstanceOf[ObjStoreFileSystem])
    val probe = new org.apache.hadoop.fs.Path(s"$root/probe.txt")
    val po = fs.create(probe, false); po.write(1); po.close()
    fs.setTimes(probe, 1000L, -1)
    val moved = new org.apache.hadoop.fs.Path(s"$root/probe2.txt")
    assert(fs.rename(probe, moved))
    assert(fs.getFileStatus(moved).getModificationTime > 1000L)

    // (1) LIVENESS under copy-rename: a genuinely stale lease breaks —
    // a post-rename-mtime check would see the copy's fresh stamp,
    // conclude "the holder just refreshed", restore it, and stale
    // leases could NEVER break on this family (the pre-rename-mtime
    // classification is what this pins)
    val leaseLocal = java.nio.file.Paths.get(
      s"$localRoot/anser_migrations_metadata.leases/db.items.lease")
    java.nio.file.Files.createDirectories(leaseLocal.getParent)
    java.nio.file.Files.write(leaseLocal, "dead-app".getBytes("UTF-8"))
    assert(leaseLocal.toFile.setLastModified(
      System.currentTimeMillis() - 60L * 60 * 1000))
    val app = new MigrationApp(spark, root,
      ApplicationOptions(leaseWaitMs = 0L))
    app.setup(Seq(simple("m1", query = Map("cat" -> "x"))))
    assert(app.run().forall(!_.hasErrors))
    assert(spark.read.parquet(s"$root/items.parquet")
      .where($"cat" === "done").count() == 2)

    // (2) FENCING under copy-rename: a holder usurped mid-write aborts
    // at the (copy-)commit rename instead of publishing over the
    // usurper — same scenario as the HDFS-semantics fencing spec, on
    // THIS filesystem family end to end (acquire, heartbeat, usurp,
    // fenced writeBack all through ObjStoreFileSystem)
    val regs = new Registries
    val leaseStr = leaseLocal.toString
    regs.registerOperation("usurp-mid-write", r => {
      java.nio.file.Files.write(java.nio.file.Paths.get(leaseStr),
        "usurper-app".getBytes("UTF-8"))
      r
    })
    val app2 = new MigrationApp(spark, root, registries = regs)
    app2.setup(Seq(ManualMigration(
      GeneratorOptions("m2", Nil, Namespace("db", "items"),
        Map("cat" -> "done")), "usurp-mid-write")))
    val res = app2.run()
    assert(res.head.hasErrors && res.head.error.get.contains("usurped"))
    // table unchanged (still the post-m1 state); usurper lease intact
    assert(spark.read.parquet(s"$root/items.parquet")
      .where($"cat" === "done").count() == 2)
    assert(new String(java.nio.file.Files.readAllBytes(leaseLocal),
      "UTF-8") == "usurper-app")
    java.nio.file.Files.delete(leaseLocal)
  }

  // ---- same-namespace groups vs one migration at a time ----

  private def table(root: String, coll: String, rows: Int = 8): Unit =
    (1 to rows).map(i => (i.toLong, Seq("x", "y", "z")(i % 3), i * 1.5,
        i * 10L, if (i % 4 == 0) null else s"L$i"))
      .toDF("_id", "cat", "v", "n", "legacy")
      .write.mode("overwrite").parquet(s"$root/$coll.parquet")

  private def mig(id: String, coll: String, deps: Seq[String] = Nil,
      query: Map[String, Any] = Map.empty, limit: Int = 0) =
    GeneratorOptions(id, deps, Namespace("db", coll), query, limit,
      sortBy = if (limit > 0) Seq("-v") else Nil)

  private def parityRegistries: Registries = {
    val r = new Registries
    r.registerOperation("double-n", row => {
      val i = row.fieldIndex("n")
      Row.fromSeq(row.toSeq.updated(i, row.getLong(i) * 2L))
    })
    r.registerOperation("boom-on-3", row => {
      if (row.getLong(row.fieldIndex("_id")) == 3L)
        throw new IllegalStateException("boom on row 3")
      row
    })
    r.registerProcessor("drop-evens",
      it => it.filter(r => r.getLong(r.fieldIndex("_id")) % 2 == 1))
    r
  }

  private def withoutDeps(m: MigrationSpec): MigrationSpec = {
    val o = m.options.copy(dependsOn = Nil)
    m match {
      case x: SimpleMigration => x.copy(options = o)
      case x: ManualMigration => x.copy(options = o)
      case x: StreamMigration => x.copy(options = o)
    }
  }

  /** The migrations in `run()`'s order, each in an app of its own (a
    * group of one): the ledger gate checked here, since a one-migration
    * app cannot declare dependencies on migrations it does not hold. */
  private def oneByOne(root: String, ms: Seq[MigrationSpec],
      opts: ApplicationOptions = ApplicationOptions()): Seq[MigrationResult] = {
    val net = new DependencyNetwork
    ms.foreach(m => net.add(m.id, m.options.dependsOn))
    val byId = ms.map(m => m.id -> m).toMap
    net.topoLayers().flatten.map(byId).map { m =>
      val app = new MigrationApp(spark, root, opts, parityRegistries)
      val blocked = m.options.dependsOn.filterNot(app.ledger.satisfied)
      if (blocked.nonEmpty) {
        val r = MigrationResult(m.id, 0, hasErrors = true, Some(
          s"blocked on unsatisfied dependencies: ${blocked.mkString(",")}"))
        if (!opts.dryRun)
          app.ledger.record(MigrationMetadata(m.id, m.id, true, true))
        r
      } else app.setup(Seq(withoutDeps(m))).run().head
    }
  }

  private def tableState(root: String, coll: String): (String, Seq[String]) = {
    val df = spark.read.parquet(s"$root/$coll.parquet")
    (df.schema.treeString, df.collect().map(_.toString).sorted.toSeq)
  }

  /** Results compared on each error's first line, numbers masked: a
    * failed job's message goes on with the task's stack trace, and it
    * and the stage and task numbers vary from run to run. */
  private def comparable(rs: Seq[MigrationResult]) = rs.map(r => r.copy(
    error = r.error.map(_.linesIterator.next().replaceAll("[0-9]+", "#"))))

  /** `run()` of one app over `ms` and the one-by-one run on a copy of the
    * same tables end equal: tables, results and ledger rows. */
  private def assertParity(ms: Seq[MigrationSpec], colls: Seq[String],
      opts: ApplicationOptions = ApplicationOptions())
      : Seq[MigrationResult] = {
    val (fusedRoot, singleRoot) = (freshRoot(), freshRoot())
    for (r <- Seq(fusedRoot, singleRoot); c <- colls) table(r, c)
    val fused = new MigrationApp(spark, fusedRoot, opts, parityRegistries)
      .setup(ms).run()
    val single = oneByOne(singleRoot, ms, opts)
    assert(comparable(fused) == comparable(single))
    for (c <- colls)
      assert(tableState(fusedRoot, c) == tableState(singleRoot, c), c)
    def ledger(r: String) =
      new MetadataLedger(spark, s"$r/anser_migrations_metadata").rows()
    assert(ledger(fusedRoot) == ledger(singleRoot))
    fused
  }

  test("fused groups equal one migration at a time: two interleaved " +
      "namespaces, Manual, Stream and limit members") {
    // order: b1 b2 a1 a2 | a3 a4 d1 s1 l1 | a5 a6; groups [b1 b2],
    // [a1 a2 a3 a4] (a3 needs a2 and a4 needs a1, inside the group; the
    // Manual a4 ends it), [d1] (needs a1, across namespaces), [s1] and
    // [l1] alone, [a5 a6]
    val ms = Seq(
      SimpleMigration(mig("b1", "other", query = Map("cat" -> "y")),
        Map("$set" -> Map("cat" -> "o"))),
      SimpleMigration(mig("b2", "other"), Map("$mul" -> Map("v" -> 2.0))),
      SimpleMigration(mig("a1", "items", query = Map("cat" -> "x")),
        Map("$set" -> Map("cat" -> "done"))),
      SimpleMigration(mig("a2", "items"), Map("$inc" -> Map("n" -> 5L))),
      SimpleMigration(mig("a3", "items", Seq("a2"),
        Map("cat" -> "done")), scala.collection.immutable.ListMap(
        "$rename" -> Map("legacy" -> "note"), "$unset" -> Map("cat" -> ""))),
      ManualMigration(mig("a4", "items", Seq("a1"),
        Map("v" -> Map("$gte" -> 6.0))), "double-n"),
      SimpleMigration(mig("d1", "other", Seq("a1"), Map("cat" -> "o")),
        Map("$inc" -> Map("n" -> 1L))),
      StreamMigration(mig("s1", "other", Seq("b1")), "drop-evens"),
      SimpleMigration(mig("l1", "other", Seq("b2"), limit = 2),
        Map("$set" -> Map("cat" -> "top"))),
      SimpleMigration(mig("a5", "items", Seq("a4")),
        Map("$set" -> Map("flag" -> true))),
      SimpleMigration(mig("a6", "items", Seq("a3"),
        Map("n" -> Map("$gt" -> 40L))), Map("$mul" -> Map("v" -> 3.0))))
    val res = assertParity(ms, Seq("items", "other"))
    assert(res.map(_.id) ==
      Seq("b1", "b2", "a1", "a2", "a3", "a4", "d1", "s1", "l1", "a5", "a6"))
    assert(res.forall(!_.hasErrors), res)
    assert(res.map(_.matched) == Seq(3L, 8L, 2L, 8L, 2L, 5L, 3L, 8L, 2L, 8L, 5L))
  }

  test("fused groups equal one migration at a time: a compile error and " +
      "a Manual op that throws mid-group") {
    // [f1 f2 f3 f7 f4]: f2 fails to compile and blocks f3; the Manual f4
    // throws on one row, so the group's write fails and it re-runs one
    // migration at a time — f1 and f7 commit, f4 errors; then [f5 f6]:
    // f5 needs f4 and is blocked, the independent f6 runs
    val ms = Seq(
      SimpleMigration(mig("f1", "items", query = Map("cat" -> "x")),
        Map("$set" -> Map("cat" -> "p"))),
      SimpleMigration(mig("f2", "items"), Map("$bogus" -> Map("n" -> 1))),
      SimpleMigration(mig("f3", "items", Seq("f2")),
        Map("$inc" -> Map("n" -> 1L))),
      SimpleMigration(mig("f7", "items", Seq("f1")),
        Map("$mul" -> Map("v" -> 2.0))),
      ManualMigration(mig("f4", "items", Seq("f1")), "boom-on-3"),
      SimpleMigration(mig("f5", "items", Seq("f4")),
        Map("$set" -> Map("cat" -> "q"))),
      SimpleMigration(mig("f6", "items", Seq("f7")),
        Map("$inc" -> Map("n" -> 100L))))
    val res = assertParity(ms, Seq("items"))
    assert(res.map(r => (r.id, r.hasErrors)) == Seq(("f1", false),
      ("f2", true), ("f3", true), ("f7", false), ("f4", true),
      ("f5", true), ("f6", false)))
    assert(res.find(_.id == "f3").get.error.get.contains("blocked"))
    assert(res.find(_.id == "f4").get.error.get.contains("boom on row 3"))
    assert(res.find(_.id == "f5").get.error.get.contains("blocked"))
  }

  test("a chain of 64 $inc migrations on one field equals one at a time") {
    val ms = (1 to 64).map(i => SimpleMigration(
      mig(s"i$i", "items", if (i == 1) Nil else Seq(s"i${i - 1}")),
      Map("$inc" -> Map("n" -> 1L))))
    val t0 = System.nanoTime()
    val res = assertParity(ms, Seq("items"))
    info(f"fused and one-by-one runs took ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(res.forall(r => !r.hasErrors && r.matched == 8L))
    // the fused app's groups, timed alone: MaxGroup members per write
    val root = freshRoot()
    table(root, "items")
    val app = new MigrationApp(spark, root).setup(ms)
    val t1 = System.nanoTime()
    val (_, jobs) = jobsIn(app.run())
    info(f"64-member chain: ${(System.nanoTime() - t1) / 1e6}%.0f ms, " +
      s"$jobs jobs")
    assert(jobs == 64 / MigrationApp.MaxGroup)
  }

  test("dry run counts a group's matches in one scan, as one at a time") {
    val ms = Seq(
      SimpleMigration(mig("m1", "items", query = Map("cat" -> "x")),
        Map("$set" -> Map("cat" -> "done"))),
      SimpleMigration(mig("m2", "items", query = Map("v" -> Map("$gt" -> 4.0))),
        Map("$inc" -> Map("n" -> 1L))),
      SimpleMigration(mig("m3", "items", query = Map("v" -> Map("$near" -> 1))),
        Map("$inc" -> Map("n" -> 1L))),
      ManualMigration(mig("m4", "items", query = Map("cat" -> "y")),
        "double-n"),
      SimpleMigration(mig("m5", "items", Seq("m1")),
        Map("$inc" -> Map("n" -> 1L))),
      SimpleMigration(mig("m6", "items", query = Map("cat" -> "z"),
        limit = 2), Map("$set" -> Map("cat" -> "top"))),
      SimpleMigration(mig("m7", "items", query = Map("legacy" -> null)),
        Map("$set" -> Map("cat" -> "none"))))
    val dry = ApplicationOptions(dryRun = true)
    val res = assertParity(ms, Seq("items"), dry)
    assert(res.map(r => (r.id, r.matched, r.hasErrors)) == Seq(
      ("m1", 2L, false), ("m2", 6L, false), ("m3", 0L, true),
      ("m4", 3L, false), ("m6", 2L, false), ("m7", 2L, false),
      ("m5", 0L, true)), res)
    // the group [m1 m2 m3 m4] is one aggregate, not a count job each
    val root = freshRoot()
    table(root, "items")
    val few = ms.take(4)
    val (_, fused) = jobsIn(new MigrationApp(spark, root, dry,
      parityRegistries).setup(few).run())
    val (_, single) = jobsIn(oneByOne(root, few, dry))
    info(s"dry run of four members: $fused jobs fused, $single one at a time")
    assert(fused < single, s"$fused vs $single jobs")
  }
}

/** Test filesystem with OBJECT-STORE rename semantics: "rename" is a
  * copy — stamping a FRESH modification time on the destination, like
  * an S3A/GCS server-side copy — followed by a delete of the source.
  * Everything else is the local filesystem (the backing storage is the
  * local directory the path names), so lease + ledger + parquet swap
  * machinery runs end-to-end on copy-rename semantics in specs. */
class ObjStoreFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("objstore:///")
  override def getScheme: String = "objstore"
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    if (!exists(src) || exists(dst)) false
    else org.apache.hadoop.fs.FileUtil.copy(this, src, this, dst,
      /* deleteSource = */ true, getConf)
  }
}

/** Local filesystem under the `counting` scheme that records every
  * rename (source, destination), so a spec can count table swaps and
  * ledger writes. */
class CountingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("counting:///")
  override def getScheme: String = "counting"
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    CountingFileSystem.renames.add((src.toString, dst.toString))
    super.rename(src, dst)
  }
}

object CountingFileSystem {
  val renames = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
}
