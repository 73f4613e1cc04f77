package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.db.GraftSession

/** Fixture helpers shared across the query families: table and
  * collection handles, scratch dirs, store writes and overlapped writes. */
private[graft] object Fixtures {

  def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Tables.table(s, dir, name)

  /** Scratch dirs for queries that exercise write-then-read machinery
    * (stores, checkpoints, DDL targets). Fresh per invocation — a
    * REUSED checkpoint dir would make AvailableNow skip data and a
    * reused store would mix runs — but registered with ONE shutdown
    * hook that removes them all at JVM exit, so bench's interleaved
    * rounds stop leaking parquet stores into /tmp (r13 advice
    * finding). */
  private val scratchDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val scratchHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      scratchDirs.forEach { root =>
        try {
          java.nio.file.Files.walk(root)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
        } catch { case _: Throwable => () }
      }
    }))
  def scratchDir(prefix: String): java.nio.file.Path = {
    scratchHook
    val p = java.nio.file.Files.createTempDirectory(prefix)
    scratchDirs.add(p)
    p
  }

  /** Partitioned store write, clustered by the partition column first
    * (r15, guide §6): a `partitionBy(c)` write from N shuffle tasks
    * opens up to N parquet writers PER partition value — 32 tasks ×
    * 256 bm25 buckets is ~8k tiny files per store write, and the
    * read-back pays the footer/open cost again. One hash exchange on
    * the partition column makes each value land in exactly one task:
    * one file per partition value, the layout a 100 TB store wants
    * (bigger files, fewer of them; key-prunable reads unchanged). */
  def storeWrite(df: DataFrame,
      partCol: String, path: String,
      mode: String = "overwrite",
      preClustered: Boolean = false): Unit = {
    // EXPLICIT partition count: a bare repartition(col) lets AQE
    // coalesce the (small) exchange to one task, which then writes
    // every partition dir serially — measured 2.5x slower than the
    // un-clustered write it was meant to fix. An explicit count is
    // respected by AQE: values spread over the session's shuffle
    // parallelism, each value still landing in exactly one task.
    // preClustered (r16): frames whose producer already hash-clustered
    // by the partition column (bm25Index postings) skip the redundant
    // second exchange.
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val out = if (preClustered) df else df.repartition(n, col(partCol))
    out.write.mode(mode).partitionBy(partCol).parquet(path)
  }

  /** Runs INDEPENDENT write actions concurrently (guide §2.6 "overlap
    * independent jobs"): Spark's FIFO scheduler back-fills the earlier
    * action's straggler tail with the later actions' tasks, and the
    * driver-side planning gaps overlap instead of serializing — at any
    * scale the fixture pays max(writes), not sum(writes). Only for
    * actions with no ordering dependency: distinct output paths and no
    * read-after-write between them (an append after an overwrite of the
    * SAME path stays sequential — see the bm25 store). Every action
    * completes before return, so read-backs after the call see fully
    * committed stores; when some fail, the first failure is rethrown
    * only after ALL have finished, so no write is still in flight
    * behind a failed fixture. Shared persisted
    * upstream frames are safe (the block manager computes each cached
    * partition once and blocks the other readers). Results unchanged —
    * this reorders nothing observable. */
  def concurrently(actions: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = actions.map(a => Future(a()))
    fs.map(Await.ready(_, Duration.Inf).value.get)
      .collectFirst { case scala.util.Failure(e) => throw e }
  }

  def coll(s: SparkSession, dir: String, name: String) =
    new GraftSession(s, dir).db("testdata").c(name)

  // exact decimal-cast sum of a double column, deterministic in both engines
  def dsum(c: String): Column =
    sum(col(c).cast(DecimalType(18, 2))).cast("double")

  /** Copy one table's parquet into a fresh temp root so write-back queries
    * never touch the shared (read-only) testdata. */
  def tmpCopy(dir: String, table: String, prefix: String): String = {
    val tmp = scratchDir(prefix)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/$table.parquet"),
      tmp.resolve(s"$table.parquet"))
    tmp.toString
  }
}
