package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** Parquet source loader with nanosecond-timestamp normalization.
  *
  * Spark 4 rejects INT64 TIMESTAMP(NANOS) parquet columns outright
  * (PARQUET_TYPE_ILLEGAL) unless `spark.sql.legacy.parquet.nanosAsLong` is
  * set, and then exposes them as raw nanosecond longs. This loader inspects
  * the parquet footer, finds nanos-timestamp columns, and converts them to
  * proper `TimestampType` at microsecond precision (floor division — the
  * same truncation DuckDB applies when it reads ns parquet), so the rest of
  * the engine sees ordinary timestamps.
  *
  * The same footer also gives the table's schema: Spark's own converter
  * turns it into the `StructType` that `spark.read.parquet` would infer,
  * and the read passes it as the user schema. That skips the one-task
  * schema-inference job Spark runs on every plain `spark.read.parquet`,
  * so loading a table launches no Spark job.
  *
  * At 100 TB scale this is a metadata-only operation: one directory
  * listing and one footer read on the driver, plus a codegen'd
  * `timestamp_micros(c div 1000)` projection that fuses into the scan stage
  * (no extra shuffle or pass).
  *
  * The write side is [[storeWrite]], the one partitioned-store writer.
  */
object Tables {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    load(spark, s"$dir/$name.parquet")

  def load(spark: SparkSession, path: String): DataFrame = {
    // runtime-settable legacy conf; required before the scan is planned
    // and before the footer schema is converted
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val footer = firstFooter(spark, path)
    // Spark's inference answers differently when it merges every file's
    // schema, and when there is no single data file to read (its error
    // for an empty directory is kept)
    val merge = spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean
    val df = footer match {
      case Some(f) if !merge => spark.read.schema(f.schema).parquet(path)
      case _ => spark.read.parquet(path)
    }
    footer.toSeq.flatMap(_.nanosColumns).foldLeft(df) { (d, c) =>
      // integer `div`, not `/`: a double roundtrip would lose precision on
      // ~1.7e18 nanosecond values (53-bit mantissa)
      d.withColumn(c, timestamp_micros(expr(s"`$c` div 1000L")))
    }
  }

  /** Cheap approximate row count from parquet footer metadata (no data
    * scan) — the EstimatedDocumentCount analog
    * (/root/reference/backup/backup.go:91): exact for static files, costs
    * one footer read per file. */
  def estimatedRowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, conf)
    val files: Seq[Path] =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).map(_.getPath).toSeq
          .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      else Seq(p)
    // footer reads parallelize on the driver's fork-join pool: one table at
    // 100 TB is ~10⁵ files, and each read is an independent small IO —
    // sequential would serialize ~10⁵ round-trips
    val par = new scala.collection.parallel.immutable.ParVector(files.toVector)
    par.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      finally r.close()
    }.sum
  }

  /** Partitioned store write, clustered by the partition column first
    * — the one writer of every `partitionBy` store: the signature,
    * posting and cell stores of the query families and the store
    * appends of the streaming store loops. A `partitionBy(c)` write
    * from N shuffle tasks opens up to N parquet writers PER partition
    * value — 32 tasks × 256 bm25 buckets is ~8k tiny files per store
    * write, and the read-back pays the footer/open cost again. One
    * hash exchange on the partition column makes each value land in
    * exactly one task: one file per partition value, the layout a
    * 100 TB store wants (bigger files, fewer of them; key-prunable
    * reads unchanged). */
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
    // preClustered: frames whose producer already hash-clustered by
    // the partition column (bm25Index postings) skip the redundant
    // second exchange.
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val out = if (preClustered) df else df.repartition(n, col(partCol))
    out.write.mode(mode).partitionBy(partCol).parquet(path)
  }

  /** Replaces the table at `path` with `df` without ever losing it —
    * the one table swap (`$out`, `$merge`, migration write-back). `df` is
    * written to `<path>.tmp`; `fence` runs (a migration's lease check);
    * the old table steps aside to `<path>.bak`; the tmp is renamed in;
    * `.bak` is deleted unless `keepBackup`. Every step is a rename, so
    * the old table survives a failure anywhere: a failed rename in moves
    * it back here, and a crash between the renames leaves it at `.bak`
    * (MigrationApp rolls that back before its next write). */
  def replace(df: DataFrame, path: String, keepBackup: Boolean = false,
      fence: () => Unit = () => ()): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + ".tmp")
    val bak = new Path(path + ".bak")
    def rename(from: Path, to: Path): Unit =
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"could not rename $from to $to")
    df.write.mode("overwrite").parquet(tmp.toString)
    fence()
    if (fs.exists(bak)) fs.delete(bak, true)
    val moved = fs.exists(p)
    if (moved) rename(p, bak)
    try rename(tmp, p)
    catch { case e: Throwable => if (moved) fs.rename(bak, p); throw e }
    // best effort: the swap has committed, so a failure here must not
    // report the write as failed; a `.bak` left behind is cleared by the
    // next swap
    if (!keepBackup)
      try fs.delete(bak, true) catch { case _: java.io.IOException => () }
  }

  /** What the footer Spark's inference reads says about a table: the schema
    * `spark.read.parquet` infers (mergeSchema off, nanos read as longs)
    * and the top-level INT64 TIMESTAMP(NANOS) columns. */
  private final case class TableFooter(schema: StructType, nanosColumns: Seq[String])

  /** Reads the footer of the file Spark's inference reads (with
    * mergeSchema off, `ParquetUtils.inferSchema`): the path itself, or in
    * a flat directory `_common_metadata`, else `_metadata`, else the first
    * visible file by path. None for a directory with subdirectories
    * (partitioned layout, left to Spark) or with no file at all. */
  private def firstFooter(spark: SparkSession, path: String): Option[TableFooter] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, conf)
    val file: Path =
      if (fs.getFileStatus(p).isDirectory) {
        val children = fs.listStatus(p).filterNot(c => hidden(c.getPath.getName))
        if (children.exists(_.isDirectory)) return None
        val files = children.map(_.getPath).sortBy(_.toString)
        files.find(_.getName == "_common_metadata")
          .orElse(files.find(_.getName == "_metadata"))
          .orElse(files.find(f => !summary(f.getName)))
          .getOrElse(return None)
      } else p
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    val footer = try reader.getFooter finally reader.close()
    val nanos = footer.getFileMetaData.getSchema.getFields.asScala.collect {
      case f if f.isPrimitive &&
          (f.getLogicalTypeAnnotation match {
            case t: TimestampLogicalTypeAnnotation =>
              t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
            case _ => false
          }) => f.getName
    }.toSeq
    Some(TableFooter(FooterSchema.of(spark, file, footer), nanos))
  }

  // Spark's file-listing rules (InMemoryFileIndex.shouldFilterOutPathName,
  // ParquetUtils.splitFiles)
  private def summary(name: String): Boolean =
    name == "_metadata" || name == "_common_metadata"
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) && !summary(name)
}
