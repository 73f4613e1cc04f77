package graft.orchestrate

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.model._
import graft.query.QueryCompiler
import graft.update.UpdateCompiler

/** Executor-side registries for imperative migrations — reference
  * Environment op/processor registries (/root/reference/environment.go:
  * 167-252). Pure transforms should compile to Column expressions; these
  * registries exist only for manual/stream parity. Ops must be idempotent:
  * Spark task retries give at-least-once-per-partition execution, same
  * contract as the reference (README.rst:68-70).
  */
final class Registries extends Serializable {
  /** MigrationOperation analog (client/processor.go:15-21): row → row. */
  @transient private var ops = Map.empty[String, Row => Row]
  /** Processor analog (client/processor.go:9-13): whole-stream transform. */
  @transient private var processors = Map.empty[String, Iterator[Row] => Iterator[Row]]

  def registerOperation(name: String, op: Row => Row): Unit =
    synchronized { ops += name -> op }
  def registerProcessor(name: String, p: Iterator[Row] => Iterator[Row]): Unit =
    synchronized { processors += name -> p }
  def operation(name: String): Option[Row => Row] = ops.get(name)
  def processor(name: String): Option[Iterator[Row] => Iterator[Row]] =
    processors.get(name)
}

/** Result of one migration action. */
final case class MigrationResult(id: String, matched: Long, hasErrors: Boolean,
    error: Option[String] = None)

/** The migration application — reference Application
  * (/root/reference/anser.go:63-129). The reference's two-phase
  * generate-then-execute per-document job fan-out collapses into one
  * DataFrame transform per migration (SURVEY.md §2.9); what remains is:
  *   - dependency DAG validation + topo-layer scheduling,
  *   - DryRun (plan + match counts only, no writes — anser.go:107-110),
  *   - Limit (cap rows touched per migration — generator_simple.go:77-79),
  *   - the metadata ledger gate (dependency_manager.go:60-93): a migration
  *     runs only when every dependency's ledger row is satisfied.
  *
  * Tables live as parquet under `root`; results are written back via
  * atomic-rename directory swap (write to `<table>.parquet.tmp`, then swap)
  * so a failed write never corrupts the source.
  *
  * The unit of execution is a same-namespace GROUP: a maximal run of
  * consecutive migrations (in topo order) on one namespace, at most
  * [[MigrationApp.MaxGroup]] long. Its members' transforms chain onto one
  * read of the table, and the group publishes once: one lease, one
  * table swap, one ledger write for all its rows. So N migrations on one
  * collection are one rewrite, not N. A crash is all-or-nothing per
  * group: the table and the ledger stay as they were before it, and every
  * member re-runs. A limit migration and a Stream migration run alone
  * (the limit keeps its work-list job, post-write uniqueness check and
  * backup), and a Manual member ends its group: its union reads the
  * upstream twice, so no upstream is evaluated more than twice in one
  * write. A member that fails to compile fails alone, before the write,
  * and blocks its dependents; if the group's write throws, the group
  * re-runs member by member, one swap each, with the outcomes of running
  * the migrations one at a time.
  */
final class MigrationApp(
    spark: SparkSession,
    root: String,
    options: ApplicationOptions = ApplicationOptions(),
    registries: Registries = new Registries) {

  private val network = new DependencyNetwork
  private var specs = Map.empty[String, MigrationSpec]
  val ledger = new MetadataLedger(spark, s"$root/anser_migrations_metadata")
  private val appId = java.util.UUID.randomUUID().toString
  /** Serializes concurrent apps touching the same namespace — see
    * [[NamespaceLease]]. */
  val lease = new NamespaceLease(spark, root, appId, options.leaseWaitMs)

  /** reference Application.Setup (anser.go:63-84). */
  def setup(migrations: Seq[MigrationSpec]): this.type = {
    for (m <- migrations) {
      require(m.options.isValid, s"invalid migration options: ${m.options}")
      require(!specs.contains(m.id), s"duplicate migration id ${m.id}")
      specs += m.id -> m
      network.add(m.id, m.options.dependsOn)
    }
    network.validate().left.foreach(errs =>
      throw new IllegalArgumentException(errs.mkString("; ")))
    this
  }

  /** reference Application.Run (anser.go:86-129): the topo layers in
    * order, cut into same-namespace groups; per migration — dependency
    * ledger gate, dry-run/limit handling, execute, record metadata. */
  def run(): Seq[MigrationResult] = {
    val results = collection.mutable.ListBuffer.empty[MigrationResult]
    var rest = network.topoLayers().flatten.map(specs)
    while (rest.nonEmpty) {
      val group = nextGroup(rest)
      results ++= (if (group.size == 1) runAlone(group) else runGroup(group))
      rest = rest.drop(group.size)
    }
    results.toSeq
  }

  /** The group that starts `order`: its head, then the following
    * migrations on the same namespace up to a limit or Stream migration
    * (which run alone) or the first Manual one (which ends it). */
  private def nextGroup(order: Seq[MigrationSpec]): Seq[MigrationSpec] = {
    def alone(s: MigrationSpec) =
      s.options.limit > 0 || s.isInstanceOf[StreamMigration]
    def ends(s: MigrationSpec) = s.isInstanceOf[ManualMigration]
    val head = order.head
    if (alone(head) || ends(head)) Seq(head)
    else {
      val more = order.tail.take(MigrationApp.MaxGroup - 1)
        .takeWhile(s => s.options.ns == head.options.ns && !alone(s))
      val cut = more.indexWhere(ends)
      head +: (if (cut < 0) more else more.take(cut + 1))
    }
  }

  /** One migration at a time: the ledger gate, one read, transform and
    * swap each, one ledger write each. */
  private def runAlone(group: Seq[MigrationSpec]): Seq[MigrationResult] =
    group.map { spec =>
      val blocked = spec.options.dependsOn.filterNot(ledger.satisfied)
      val res =
        if (blocked.nonEmpty) blockedOn(spec, blocked)
        else runOne(spec)
      if (!options.dryRun) ledger.record(metadata(res))
      res
    }

  private def blockedOn(spec: MigrationSpec, deps: Seq[String]) =
    MigrationResult(spec.id, 0, hasErrors = true,
      Some(s"blocked on unsatisfied dependencies: ${deps.mkString(",")}"))

  private def metadata(r: MigrationResult) =
    MigrationMetadata(r.id, r.id, r.hasErrors, completed = true)

  private def failed(spec: MigrationSpec, e: Exception) =
    MigrationResult(spec.id, 0, hasErrors = true, Some(e.getMessage))

  /** A group of two or more, chained onto one read. Falls back to
    * [[runAlone]] when the group's data path throws before it publishes
    * anything. */
  private def runGroup(group: Seq[MigrationSpec]): Seq[MigrationResult] = {
    val done = ledger.rows().filter(_.satisfied).map(_._id).toSet
    val outcome =
      if (options.dryRun) countGroup(group, done) else writeGroup(group, done)
    outcome match {
      case Some(results) =>
        if (!options.dryRun) ledger.record(results.map(metadata): _*)
        results
      case None => runAlone(group)
    }
  }

  /** Dry run of a group: one scan of the unmodified table counts every
    * member's matches, one `sum(when(pred))` column each. */
  private def countGroup(group: Seq[MigrationSpec],
      done: Set[String]): Option[Seq[MigrationResult]] =
    try {
      val raw = graft.sources.Tables.load(spark, group.head.options.ns.path(root))
      val preds = group.map { spec =>
        val blocked = spec.options.dependsOn.filterNot(done)
        if (blocked.nonEmpty) Left(blockedOn(spec, blocked))
        else try {
          val pred = QueryCompiler.compile(spec.options.query)
          raw.where(pred) // analysis only: a bad query fails alone
          Right(pred)
        } catch { case e: Exception => Left(failed(spec, e)) }
      }
      val sums = preds.collect {
        case Right(p) => coalesce(sum(when(p, 1L)), lit(0L))
      }
      val counts =
        if (sums.isEmpty) Iterator.empty
        else raw.agg(sums.head, sums.tail: _*).head().toSeq.iterator
      Some(group.zip(preds).map {
        case (_, Left(r)) => r
        case (spec, Right(_)) => MigrationResult(spec.id,
          counts.next().asInstanceOf[Long], hasErrors = false)
      })
    } catch { case _: Exception => None }

  /** A group's write: under one lease, one torn-swap recovery, one read,
    * each member's transform chained onto the previous member's frame,
    * and one fenced swap. None when anything throws before the swap
    * commits. */
  private def writeGroup(group: Seq[MigrationSpec],
      done: Set[String]): Option[Seq[MigrationResult]] = {
    val ns = group.head.options.ns
    val path = ns.path(root)
    val ids = group.map(_.id).toSet
    var published = false
    try lease.withLease(ns) {
      recoverTornSwap(path)
      var frame = graft.sources.Tables.load(spark, path)
      val chained = collection.mutable.Map
        .empty[String, org.apache.spark.sql.Observation]
      // a member's result when it is blocked or fails to compile
      val early = group.map { spec =>
        // a dependency inside the group counts only if that member is
        // chained into this write; any other is read off the ledger
        val blocked = spec.options.dependsOn.filterNot(d =>
          if (ids(d)) chained.contains(d) else done(d))
        if (blocked.nonEmpty) Some(blockedOn(spec, blocked))
        else try {
          val obs = org.apache.spark.sql.Observation()
          frame = transform(spec, frame,
            QueryCompiler.compile(spec.options.query), obs)
          chained(spec.id) = obs
          None
        } catch { case e: Exception => Some(failed(spec, e)) }
      }
      if (chained.nonEmpty) graft.sources.Tables.replace(frame, path,
        fence = () => lease.verifyHeld(ns))
      published = true
      Some(group.zip(early).map {
        case (_, Some(r)) => r
        case (spec, None) =>
          try MigrationResult(spec.id, observed(chained(spec.id)),
            hasErrors = false)
          catch { case e: Exception => failed(spec, e) }
      })
    } catch { case _: Exception if !published => None }
  }

  /** Count of documents still matching a migration's query — reference
    * PendingMigrationOperations (migration_helper_legacy.go:101-120). */
  def pendingMigrationOperations(spec: MigrationSpec): Long = {
    val df = graft.sources.Tables.load(spark, spec.options.ns.path(root))
    df.where(QueryCompiler.compile(spec.options.query)).count()
  }

  /** Dry runs only read — no lease. Real runs hold the namespace lease
    * across the whole read→transform→swap window, so two apps migrating
    * the same namespace serialize (or fail fast after leaseWaitMs) —
    * never interleave the directory swap. */
  private def runOne(spec: MigrationSpec): MigrationResult =
    if (options.dryRun) runOneInner(spec)
    else try lease.withLease(spec.options.ns)(runOneInner(spec))
    catch {
      case e: IllegalStateException => // lease acquisition failed fast
        MigrationResult(spec.id, 0, hasErrors = true, Some(e.getMessage))
    }

  private def runOneInner(spec: MigrationSpec): MigrationResult = {
    val opts = spec.options
    val path = opts.ns.path(root)
    var workListFrame: Option[DataFrame] = None
    try {
      if (!options.dryRun) recoverTornSwap(path)
      val raw = graft.sources.Tables.load(spark, path)
      // Limit semantics (generator_simple.go:77-79,127-129): cap the rows
      // migrated, selected deterministically (sorted work-list), marked via
      // a key join rather than a driver-side collect so it scales. The join
      // key must identify rows: workList keys are deduped so the left_outer
      // join can never multiply source rows (the corruption hazard); raw
      // keys that turn out non-unique only over-apply the limit, which the
      // matched-vs-worklist check below surfaces as an error result.
      val keyCol = opts.idColumn.getOrElse(raw.columns.head)
      var workListKeys = -1L
      val (df, pred) =
        if (opts.limit > 0) {
          val sortCols = graft.db.GraftQuery.parseSort(opts.sortBy) :+ col(keyCol)
          val workList = raw.where(QueryCompiler.compile(opts.query))
            .orderBy(sortCols: _*).limit(opts.limit)
            .select(col(keyCol)).dropDuplicates(keyCol)
            .withColumn("__hit", lit(true)).persist()
          workListFrame = Some(workList)
          workListKeys = workList.count()
          val marked = raw.join(broadcast(workList), Seq(keyCol), "left_outer")
          (marked, coalesce(col("__hit"), lit(false)))
        } else (raw, QueryCompiler.compile(opts.query))
      if (options.dryRun) {
        // dry-run's whole purpose is the match count — one counting scan
        val matched = df.where(pred).count()
        return MigrationResult(spec.id, matched, hasErrors = false)
      }

      // Non-dry-run: the match count is OBSERVED inside the write job
      // (CollectMetrics) rather than counted in a separate scan — one pass
      // over the table per migration (db/wrapper.go's ChangeInfo comes back
      // with the write for the same reason).
      val obs = org.apache.spark.sql.Observation()
      val out = transform(spec, df, pred, obs)
      // the limit path validates AFTER the write (the matched count only
      // exists once the write job ran), so its pre-swap backup must outlive
      // the swap: on validation failure the original table is restored —
      // a non-unique idColumn errors AND leaves the data un-migrated.
      // `fence` is the data-path fencing check
      // ([[NamespaceLease.verifyHeld]]), run after the (long) tmp write
      // and immediately before the first commit rename: if the lease
      // changed hands while this app was paused or slow, the swap aborts
      // with NOTHING mutated (only the orphaned `.tmp` remains, and the
      // next swap's mode("overwrite") replaces it).
      val keepBackup = workListKeys >= 0
      graft.sources.Tables.replace(out.drop("__hit"), path, keepBackup,
        fence = () => lease.verifyHeld(spec.options.ns))
      val matched = observed(obs)
      if (workListKeys >= 0 && matched > workListKeys) {
        restoreBackup(path)
        throw new IllegalStateException(
          s"limit work-list key '$keyCol' is not unique in ${opts.ns}: " +
            s"$matched rows matched ${workListKeys} work-list keys; " +
            "the original table was restored from backup; configure " +
            "GeneratorOptions.idColumn with a unique column")
      }
      if (keepBackup) deleteBackup(path)
      MigrationResult(spec.id, matched, hasErrors = false)
    } catch {
      case e: Exception =>
        MigrationResult(spec.id, 0, hasErrors = true, Some(e.getMessage))
    } finally workListFrame.foreach(_.unpersist(false))
  }

  /** One migration's transform of `df`, its match count observed into
    * `obs`. Throws when the update or the registered op does not compile. */
  private def transform(spec: MigrationSpec, df: DataFrame,
      pred: org.apache.spark.sql.Column,
      obs: org.apache.spark.sql.Observation): DataFrame = spec match {
    case SimpleMigration(_, update) =>
      val observed = df.observe(obs,
        sum(when(pred, 1L).otherwise(0L)).as("matched"))
      UpdateCompiler.applyUpdate(observed, pred, update)
    case ManualMigration(_, opName) =>
      val op = registries.operation(opName).getOrElse(throw new
        IllegalArgumentException(s"operation $opName is not registered"))
      mapRows(df, pred, obs, it => it.map(op))
    case StreamMigration(_, procName) =>
      val proc = registries.processor(procName).getOrElse(throw new
        IllegalArgumentException(s"processor $procName is not registered"))
      mapRows(df, pred, obs, proc)
  }

  /** The match count a write observed. Blocking get: the write executed
    * the CollectMetrics node, the listener delivers the row
    * asynchronously moments later. */
  private def observed(obs: org.apache.spark.sql.Observation): Long =
    obs.get.get("matched") match {
      case Some(n: Number) => n.longValue()
      case _ => 0L
    }

  /** Imperative path (manual/stream): matching rows pass through the user
    * function per partition; non-matching rows are preserved. Requires the
    * function to keep the schema. The matched count is observed on the
    * matching branch (before the user function, which may drop rows), so
    * the union's other branch never double-counts. */
  private def mapRows(df: DataFrame, pred: org.apache.spark.sql.Column,
      obs: org.apache.spark.sql.Observation,
      f: Iterator[Row] => Iterator[Row]): DataFrame = {
    val schema = df.schema
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val transformed = df.where(pred)
      .observe(obs, count(lit(1)).as("matched"))
      .mapPartitions(f)(enc)
    df.where(!coalesce(pred, lit(false))).unionByName(transformed)
  }

  // resolved from the ROOT path, not fs.defaultFS: the tmp/bak/commit
  // renames must run on the filesystem that actually holds the tables
  // (an s3a:// root under an hdfs:// default would otherwise swap the
  // wrong paths) — and the lease resolves the same way, keeping fence
  // and data path on one filesystem
  private def fs = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Crash recovery for the table swap ([[graft.sources.Tables.replace]]),
    * run under the namespace lease before touching the table. The only
    * torn state a crash can leave (every step is an atomic rename) is
    * "table renamed away to `.bak`, replacement not yet renamed in": roll
    * BACK to the old table.
    * Roll-back, not roll-forward, because the metadata ledger records a
    * migration AFTER its swap — rolling the orphaned `.tmp` forward
    * would apply a migration the ledger still thinks is pending, and the
    * re-run would double-apply it. A stale-lease takeover therefore sees
    * either the old table or the new, never a torn directory. */
  private def recoverTornSwap(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val bak = new org.apache.hadoop.fs.Path(path + ".bak")
    if (!fs.exists(p) && fs.exists(bak)) {
      org.apache.log4j.Logger.getLogger(getClass).warn(
        s"recovering torn swap at $path: restoring $bak (a previous app " +
          "crashed between the swap renames); the interrupted migration " +
          "remains pending and will re-run")
      fs.rename(bak, p)
      fs.delete(new org.apache.hadoop.fs.Path(path + ".tmp"), true)
    }
  }

  private def restoreBackup(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val bak = new org.apache.hadoop.fs.Path(path + ".bak")
    if (fs.exists(bak)) { fs.delete(p, true); fs.rename(bak, p) }
  }

  private def deleteBackup(path: String): Unit =
    fs.delete(new org.apache.hadoop.fs.Path(path + ".bak"), true)
}

/** Per-namespace write lease making the atomic-swap write path safe under
  * CONCURRENT migration applications: two apps migrating the same
  * namespace would otherwise race the tmp/bak/rename directory swap
  * ([[graft.sources.Tables.replace]]) and could tear the table. The
  * lease is an atomically-created file next to the metadata ledger (the
  * reference leans on per-document atomicity in its metadata collection
  * instead; migration_helper_iterator.go:80-107), made by the same
  * exclusive create as the ledger lock ([[ExclusiveFile.create]]).
  *
  * Semantics: acquire blocks up to `waitMs` (concurrent runs SERIALIZE),
  * then throws (fail fast — surfaced as an errored MigrationResult, never
  * a torn table). A lease older than `staleMs` is presumed abandoned by a
  * crashed app and is broken with a warning. Hardening against the
  * file-lock races:
  *
  *   - the HOLDER heartbeats (mtime refresh every staleMs/3, daemon
  *     thread) — a migration legitimately running longer than staleMs is
  *     never mistaken for a crash;
  *   - stale leases break via ATOMIC RENAME to a breaker-unique name
  *     (only one breaker's rename succeeds; a plain delete would let two
  *     waiters both "break" and both acquire). After the rename wins, the
  *     breaker re-checks the renamed file's age: if the holder refreshed
  *     between observation and rename (it was never stale), the file is
  *     renamed back and the breaker resumes waiting;
  *   - after create the acquirer reads the lease back and verifies its
  *     own token before proceeding — create-if-absent already guarantees
  *     exclusivity, the read-back catches a lease replaced underneath in
  *     the (now rename-narrowed) breaker window;
  *   - release deletes only a lease that still carries the owner token,
  *     so a usurped holder cannot free the usurper's lease.
  *
  * The advisory lock is backed by a data-path fencing check: the
  * migration's table swap calls [[verifyHeld]] after the
  * replacement data is written and immediately before the first commit
  * rename, on the SAME filesystem that holds the lease. A holder paused
  * past staleMs is usurped while asleep; on wake-up its commit is
  * preceded by the check, which observes the usurper's token and aborts
  * the publish (the migration surfaces as an errored result and re-runs
  * later — the usurper's writes are never clobbered). What remains is
  * the check→rename instruction window: only a pause landing exactly
  * inside those few milliseconds escapes, because true CAS publication
  * needs a primitive the Hadoop FileSystem API doesn't offer. */
final class NamespaceLease(spark: SparkSession, root: String,
    owner: String, waitMs: Long = 10000L,
    staleMs: Long = 30L * 60 * 1000) {
  import org.apache.hadoop.fs.Path

  // same root-path resolution as MigrationApp.fs: the lease must live
  // on the filesystem whose rename semantics the break/fence protocol
  // reasons about (copy-rename object stores included)
  private def fs = new Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def leasePath(ns: graft.model.Namespace): Path =
    new Path(s"$root/anser_migrations_metadata.leases/" +
      s"${ns.db}.${ns.collection}.lease")
  private val log = org.apache.log4j.Logger.getLogger(getClass)

  // one daemon heartbeat thread per held namespace
  private val heartbeats = new java.util.concurrent.ConcurrentHashMap[
    String, Thread]()

  def withLease[T](ns: graft.model.Namespace)(body: => T): T = {
    acquire(ns)
    try body finally release(ns)
  }

  private def readToken(p: Path): Option[String] =
    try {
      val in = fs.open(p)
      try Some(new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8"))
      finally in.close()
    } catch { case _: java.io.IOException => None }

  /** [[readToken]] with bounded retries: a lease-protocol decision
    * (back off, stop heartbeating, skip release) must not ride on ONE
    * transient object-store read hiccup — None here means the file was
    * consistently unreadable/absent across the whole window. */
  private def readTokenRetry(p: Path, attempts: Int = 5,
      delayMs: Long = 200L): Option[String] = {
    var i = 0
    while (i < attempts) {
      readToken(p) match {
        case some @ Some(_) => return some
        case None => i += 1; if (i < attempts) Thread.sleep(delayMs)
      }
    }
    None
  }

  def acquire(ns: graft.model.Namespace): Unit = {
    val p = leasePath(ns)
    fs.mkdirs(p.getParent)
    val deadline = System.currentTimeMillis() + waitMs
    var acquired = false
    while (!acquired) {
      try {
        ExclusiveFile.create(fs, p, owner.getBytes("UTF-8"))
        // read-back: if a breaker replaced the file in the window, the
        // token differs and this acquirer backs off instead of running.
        // Retried reads: abandoning a SUCCEEDED create on one transient
        // read error would orphan this app's own lease (nothing else can
        // create over it, breakStale only fires after staleMs).
        if (readTokenRetry(p).contains(owner)) acquired = true
        else Thread.sleep(50)
      } catch {
        case _: java.io.IOException =>
          val age = try System.currentTimeMillis() -
            fs.getFileStatus(p).getModificationTime
          catch { case _: java.io.FileNotFoundException => 0L }
          if (age > staleMs) breakStale(p, age)
          else if (System.currentTimeMillis() > deadline)
            throw new IllegalStateException(
              s"namespace ${ns} is leased by another migration app " +
                s"(lease $p); waited ${waitMs}ms — serialize the apps or " +
                "raise ApplicationOptions.leaseWaitMs")
          else Thread.sleep(50)
      }
    }
    startHeartbeat(ns, p)
  }

  /** Break a presumed-stale lease. Atomic rename to a breaker-unique
    * name: of N waiters only ONE rename succeeds (the source vanishes
    * for the rest), and the age re-check catches the holder having
    * heartbeat-refreshed between this breaker's observation and its
    * rename.
    *
    * The re-check must NOT trust the post-rename mtime alone: on
    * object-store connectors (S3A/GCS) "rename" is a copy that stamps a
    * fresh mtime, which would make every re-check conclude the holder
    * is alive and restore the lease — genuinely stale leases could then
    * never be broken there. Instead the mtime observed immediately
    * BEFORE the rename decides staleness, and the post-rename value is
    * only consulted to detect a refresh that landed inside the
    * observation→rename window: `preMtime < postMtime < renameStart`
    * can only be a heartbeat (restore); `postMtime >= renameStart` is
    * indistinguishable from the rename itself stamping the copy, so the
    * pre-rename decision stands. That classification deliberately ERRS
    * TOWARD BREAKING: a heartbeat landing in the microseconds between
    * `renameStart` and the rename completing (or shifted across it by
    * filesystem-vs-local clock skew) is treated as the rename's own
    * stamp and the lease breaks anyway. The asymmetry is intentional —
    * a wrongly-restored lease on an object store is a LIVENESS failure
    * (stale leases never break, the advisor finding this replaced),
    * while a wrongly-broken live lease is now SAFE: the holder's
    * heartbeat detects the token change and logs, and the data path is
    * fenced ([[verifyHeld]] before the swap's commit rename), so the
    * usurped holder cannot publish. */
  private def breakStale(p: Path, observedAge: Long): Unit = {
    // re-observe right before acting: the heartbeat refreshes every
    // staleMs/3, so "refreshed since the caller's observation" is the
    // common false-stale case — catch it without renaming at all
    val preMtime = try fs.getFileStatus(p).getModificationTime
      catch {
        case _: java.io.FileNotFoundException => return
        case _: java.io.IOException => return
      }
    if (System.currentTimeMillis() - preMtime <= staleMs) return
    val renameStart = System.currentTimeMillis()
    val moved = new Path(p.toString + ".breaking." +
      java.util.UUID.randomUUID().toString)
    val won = try fs.rename(p, moved)
      catch { case _: java.io.IOException => false }
    if (!won) return // another breaker (or the holder's release) got it
    val postMtime = try fs.getFileStatus(moved).getModificationTime
    catch { case _: java.io.FileNotFoundException => return }
    val refreshedInWindow =
      postMtime > preMtime && postMtime < renameStart
    if (!refreshedInWindow) {
      val age = System.currentTimeMillis() - preMtime
      log.warn(s"broke stale namespace lease $p (age ${age}ms > " +
        s"staleMs $staleMs — presumed abandoned by a crashed app)")
      fs.delete(moved, false)
    } else {
      // the holder was alive after all — put the lease back; if the
      // brief gap let someone create a fresh lease, leave both (the
      // restored copy under the unique name) and log loudly
      if (!fs.rename(moved, p)) {
        log.error(s"lease $p was re-created during a false stale-break; " +
          s"original preserved at $moved — two apps may be racing, " +
          "check staleMs vs real migration duration")
        fs.delete(moved, false)
      }
    }
  }

  private def startHeartbeat(ns: graft.model.Namespace, p: Path): Unit = {
    val interval = math.max(staleMs / 3, 100L)
    val t = new Thread(() => {
      try while (!Thread.interrupted()) {
        Thread.sleep(interval)
        // retried read + swallowed refresh errors: the heartbeat is the
        // only thing standing between a long migration and a stale-break
        // — it must survive transient store hiccups (a single failed
        // read or setTimes exiting this thread would silently re-open
        // the double-writer race it exists to close). It stops only on
        // CONSISTENT evidence the token changed hands.
        try {
          if (readTokenRetry(p).contains(owner))
            fs.setTimes(p, System.currentTimeMillis(), -1)
          else {
            log.error(s"namespace lease $p no longer carries this " +
              "app's token — lease was broken underneath a live " +
              "migration (staleMs too low for this workload?)")
            return
          }
        } catch {
          case _: InterruptedException => throw new InterruptedException
          case e: java.io.IOException =>
            log.warn(s"lease heartbeat refresh failed transiently on " +
              s"$p: $e — retrying next interval")
        }
      } catch { case _: InterruptedException => }
    }, s"graft-lease-heartbeat-${ns.db}.${ns.collection}")
    t.setDaemon(true)
    t.start()
    heartbeats.put(p.toString, t)
  }

  /** Data-path fencing check — throws unless the lease still carries
    * this app's token. The migration's table swap calls it immediately
    * before the commit rename: a holder paused past staleMs was usurped
    * while asleep, and this same-filesystem check makes its wake-up
    * commit abort instead of publishing over the usurper. Retried reads
    * (the protocol rule everywhere here): aborting a finished write on
    * one transient read hiccup would waste the whole migration. */
  def verifyHeld(ns: graft.model.Namespace): Unit =
    if (!readTokenRetry(leasePath(ns)).contains(owner))
      throw new IllegalStateException(
        s"namespace lease for ${ns.db}.${ns.collection} no longer " +
          "carries this app's token — it was usurped while this app " +
          "was paused or slow (staleMs too low for this workload?). " +
          "Aborting the table swap so the new holder's writes are not " +
          "overwritten; this migration stays pending and will re-run.")

  def release(ns: graft.model.Namespace): Unit = {
    val p = leasePath(ns)
    Option(heartbeats.remove(p.toString)).foreach { t =>
      t.interrupt(); t.join(2000)
    }
    // delete only our own lease — a usurped holder must not free the
    // usurper's (retried read: a transient miss here would orphan our
    // own lease until staleMs)
    if (readTokenRetry(p).contains(owner)) fs.delete(p, false)
  }
}

/** Exclusive create-if-absent of a small file: the one primitive under
  * the namespace lease and the ledger lock. Hadoop's RawLocalFileSystem
  * implements `create(overwrite = false)` as exists-then-create — NOT
  * O_EXCL — so on file:// paths two local processes could both "win";
  * there the file is created through java.nio `CREATE_NEW`, which IS an
  * atomic exclusive create. Elsewhere `create(overwrite = false)`:
  * atomic on HDFS (namenode CAS), best-effort on object stores, where
  * the lease's read-back and data-path fence are the real guard. Throws
  * an IOException when the file already exists. */
private[orchestrate] object ExclusiveFile {
  def create(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path,
      content: Array[Byte] = Array.emptyByteArray): Unit =
    if ("file".equalsIgnoreCase(Option(fs.getUri.getScheme).getOrElse("")))
      java.nio.file.Files.write(java.nio.file.Paths.get(p.toUri.getPath),
        content, java.nio.file.StandardOpenOption.CREATE_NEW)
    else {
      val out = fs.create(p, false)
      try out.write(content) finally out.close()
    }
}

/** Migration metadata ledger — reference MigrationHelper.SaveMigrationEvent
  * + anser.migrations.metadata (migration_helper_iterator.go:56-107,
  * environment.go:26-29). Small state table, upserted by id.
  *
  * The rows are bounded by the number of migrations, not the data, so the
  * ledger is one JSON-lines file (one [[MigrationMetadata]] object per
  * line) that the driver reads and rewrites through the Hadoop
  * `FileSystem` of its path: recording or checking a migration launches
  * no Spark job. */
final class MetadataLedger(spark: SparkSession, path: String) {
  import org.apache.hadoop.fs.Path

  // resolved from the ledger path (not fs.defaultFS, not java.io) so
  // the ledger works on whatever filesystem the root names
  private def fs = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val file = new Path(path)
  private val tmp = new Path(path + ".tmp")
  private val bak = new Path(path + ".bak")

  /** Every recorded row. A `.tmp` left by a crashed writer is never read;
    * `.bak` is read only while a writer that had to move the old file
    * aside (see [[record]]) has not put the new one in place. */
  def rows(): Seq[MigrationMetadata] =
    read(file).orElse(read(bak)).getOrElse(Nil)

  private def read(p: Path): Option[Seq[MigrationMetadata]] = {
    val in = try fs.open(p)
      catch {
        case e: java.io.FileNotFoundException =>
          if (fs.exists(p)) throw new IllegalStateException(s"ledger $p " +
            "is a directory (the parquet ledger of earlier versions); " +
            "rewrite its rows as JSON lines or remove it", e)
          return None
      }
    val text = try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
    Some(text.split('\n').toSeq.filter(_.nonEmpty).map { line =>
      val n = MetadataLedger.json.readTree(line)
      MigrationMetadata(n.get("_id").asText, n.get("migration").asText,
        n.get("has_errors").asBoolean, n.get("completed").asBoolean)
    })
  }

  /** Upsert by id: the whole file is rewritten to `<path>.tmp` and renamed
    * over the old one, so a reader sees the old rows or the new, never a
    * partial file. Rows recorded in one call land under one lock and one
    * rename, in order, as if recorded one by one. */
  def record(ms: MigrationMetadata*): Unit = withLock {
    val ids = ms.map(_._id).toSet
    val next = rows().filterNot(r => ids(r._id)) ++ ms
    val out = fs.create(tmp, true)
    try next.foreach { r =>
      val n = MetadataLedger.json.createObjectNode()
        .put("_id", r._id).put("migration", r.migration)
        .put("has_errors", r.has_errors).put("completed", r.completed)
      out.write((MetadataLedger.json.writeValueAsString(n) + "\n")
        .getBytes("UTF-8"))
    } finally out.close()
    // a POSIX rename replaces the destination atomically; HDFS and object
    // stores refuse an existing one, so there the old file steps aside
    // to .bak (still readable) until the new file is in place
    if (!fs.rename(tmp, file)) {
      fs.delete(bak, false)
      fs.rename(file, bak)
      if (!fs.rename(tmp, file))
        throw new java.io.IOException(s"could not rename $tmp to $file")
    }
    fs.delete(bak, false)
  }

  // the read-modify-write in record is not atomic; a second app sharing
  // the ledger would lose updates. Guard with an exclusively-created lock
  // file, ExclusiveFile (reference relies on mongo's per-document
  // atomicity instead).
  private def withLock[T](body: => T): T = {
    val lock = new org.apache.hadoop.fs.Path(path + ".lock")
    fs.mkdirs(lock.getParent)
    val deadline = System.currentTimeMillis() + 30000
    var acquired = false
    while (!acquired) {
      // Only CONTENTION (the lock file actually existing) waits; a
      // connectivity/permission IOException surfaces immediately
      // instead of masquerading as a 30s-stale lock
      try { ExclusiveFile.create(fs, lock); acquired = true }
      catch {
        case e: java.io.IOException =>
          val contended = e.isInstanceOf[
              java.nio.file.FileAlreadyExistsException] ||
            (try fs.exists(lock) catch { case _: java.io.IOException => false })
          if (!contended) throw e
          if (System.currentTimeMillis() > deadline)
            throw new IllegalStateException(
              s"ledger lock $lock held for >30s; remove it if stale")
          Thread.sleep(50)
      }
    }
    try body finally {
      try fs.delete(lock, false)
      catch { case _: java.io.IOException => () }
    }
  }

  /** dependency gate — reference Satisfied() model/metadata.go:12 +
    * processEdges dependency_manager.go:60-93. */
  def satisfied(id: String): Boolean = rows().exists(r => r._id == id && r.satisfied)
}

object MigrationApp {
  /** The most migrations one group chains into a single write. A fixed
    * size, not an option: building and running the chained plan grows
    * faster than the chain past about 64 members (a 128-member `$inc`
    * chain over a two-row table took 2.7x the build time and 2.1x the
    * write time of a 64-member one, local[4]), and a 256-member chain
    * overflowed the driver stack while preparing the physical plan. 32
    * keeps the per-member cost flat and leaves room for members whose
    * updates add several plan nodes each. */
  val MaxGroup = 32
}

object MetadataLedger {
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
}
