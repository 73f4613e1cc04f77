package graft.orchestrate

import graft.SparkSpec
import graft.model._
import org.apache.spark.sql.Row
import java.nio.file.Files

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

  test("a two-migration run launches only its two write jobs") {
    val root = freshRoot()
    val app = new MigrationApp(spark, root)
    app.setup(Seq(
      simple("second", deps = Seq("first"), query = Map("cat" -> "warm"),
        update = Map("$set" -> Map("cat" -> "hot"))),
      simple("first", update = Map("$set" -> Map("cat" -> "warm")))))
    val (res, jobs) = jobsIn(app.run())
    assert(res.forall(!_.hasErrors) && res.map(_.matched) == Seq(3L, 3L))
    assert(jobs == 2)
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
