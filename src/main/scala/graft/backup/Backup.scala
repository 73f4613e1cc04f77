package graft.backup

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.db.GraftQuery
import graft.query.QueryCompiler

/** Collection export — reference /root/reference/backup/backup.go:39-200:
  * stream every matching document to an archive plus an index/metadata
  * sidecar. Spark-first shape: `read → where → sort → limit →
  * write.parquet` (distributed, no driver streaming loop) plus a JSON
  * sidecar carrying schema + row count (the index-metadata analog,
  * backup.go:176-200).
  */
final case class BackupOptions(
    query: Map[String, Any] = Map.empty,
    sortKeys: Seq[String] = Nil,
    limit: Int = 0,
    metadataOnly: Boolean = false) // IndexesOnly analog (backup.go:47)

object Backup {

  /** Build the export frame (also usable standalone for verification). */
  def exportFrame(df: DataFrame, opts: BackupOptions): DataFrame = {
    var d = df.where(QueryCompiler.compile(opts.query))
    if (opts.sortKeys.nonEmpty) d = d.orderBy(GraftQuery.parseSort(opts.sortKeys): _*)
    if (opts.limit > 0) d = d.limit(opts.limit)
    d
  }

  /** Export to `target` (parquet dir) + `<target>.meta.json` sidecar.
    *
    * Sidecar shape mirrors the reference's index-metadata document
    * (backup.go:176-200 writes `{options, indexes, uuid}` per collection):
    * `indexes` carries the export's sort keys as mongo-style index docs
    * (the reference's `getIndexData`, backup.go:152-174), and the Spark
    * analog of index statistics — per-column min/max/null_count (the same
    * stats parquet keeps per row-group; an engine restoring this backup
    * can use them for pruning without reading footers). The row count and
    * the stats are observed in the write job itself: one Spark job, no
    * read-back and no separate stats pass (see [[export]]). */
  def collection(spark: SparkSession, df: DataFrame, target: String,
      opts: BackupOptions = BackupOptions()): Long =
    export(exportFrame(df, opts), target, opts, "{}")(
      _.write.mode("overwrite").parquet(target))

  /** Export to JSON-Lines (+ the same metadata sidecar) — the interchange
    * format of training-data pipelines (one JSON document per line,
    * splittable, tool-agnostic). Same distributed write path as the
    * parquet export — each partition streams its lines, no driver
    * collection; `compression` (e.g. "gzip") trades CPU for bytes on the
    * wire. The sidecar keeps schema + count + per-column stats, so a
    * consumer can validate a transfer without parsing every line. */
  def collectionJsonl(spark: SparkSession, df: DataFrame, target: String,
      opts: BackupOptions = BackupOptions(),
      compression: Option[String] = None): Long =
    export(exportFrame(df, opts), target, opts, """{"format": "jsonl"}""") { f =>
      val w = f.write.mode("overwrite")
      compression.foreach(c => w.option("compression", c))
      w.json(target)
    }

  /** Writes `frame` with `write`, then the `<target>.meta.json` sidecar;
    * returns the row count. The count and the per-column stats ride the
    * write job as one `Observation` (CollectMetrics, the single-pass
    * mergeable summary `MigrationApp` uses for matched counts). A
    * metadata-only export runs the same observed plan into Spark's `noop`
    * sink: one job that writes nothing (a global aggregate would take two
    * under AQE, a shuffle-map job and a result job). */
  private def export(frame: DataFrame, target: String, opts: BackupOptions,
      options: String)(write: DataFrame => Unit): Long = {
    val stats = new ColumnStats(frame.schema)
    val obs = Observation()
    val observed = frame.observe(obs, stats.aggs.head, stats.aggs.tail: _*)
    if (opts.metadataOnly) observed.write.format("noop").mode("overwrite").save()
    else write(observed)
    // blocking get: the write ran the CollectMetrics node; the listener
    // delivers the row asynchronously moments later
    val values = obs.get
    val n = values("rows").asInstanceOf[Number].longValue()
    val meta = s"""{"rows": $n, "schema": ${frame.schema.json},
      | "options": $options, "uuid": "",
      | "indexes": ${indexJson(opts)},
      | "columns": ${stats.json(values)}}""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(target + ".meta.json"), meta)
    n
  }

  /** Mongo-style index documents for the export's sort keys: `_id_`-style
    * default plus one entry per sort key with its direction. */
  private[backup] def indexJson(opts: BackupOptions): String = {
    val docs = opts.sortKeys.map { k =>
      val (name, dir) =
        if (k.startsWith("-")) (k.drop(1), -1) else (k.stripPrefix("+"), 1)
      s"""{"name": "${name}_$dir", "key": {"$name": $dir}}"""
    }
    docs.mkString("[", ", ", "]")
  }

  /** Row count plus per-column min/max/null_count, as aggregate columns
    * that one pass evaluates (no per-column jobs), and the sidecar's
    * `columns` array rendered from their values. Complex-typed columns
    * report null_count only. Aggregates are named by column position, so
    * no column name can collide with them. */
  private final class ColumnStats(schema: StructType) {
    private val fields = schema.fields.toSeq
    private def atomic(f: StructField): Boolean = f.dataType match {
      case _: NumericType | StringType | DateType | TimestampType |
           BooleanType => true
      case _ => false
    }

    val aggs: Seq[Column] = count(lit(1)).as("rows") +:
      fields.zipWithIndex.flatMap { case (f, i) =>
        val c = col("`" + f.name.replace("`", "``") + "`")
        val nulls = sum(when(c.isNull, 1L).otherwise(0L)).as(s"c${i}_nulls")
        if (atomic(f))
          Seq(nulls, min(c).cast("string").as(s"c${i}_min"),
            max(c).cast("string").as(s"c${i}_max"))
        else Seq(nulls)
      }

    def json(values: Map[String, Any]): String = {
      def js(v: Any): String = v match {
        case null => "null"
        case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
          .replace("\n", "\\n") + "\""
        case other => other.toString
      }
      fields.zipWithIndex.map { case (f, i) =>
        val base = s""""null_count": ${values(s"c${i}_nulls")}"""
        val stats = if (atomic(f))
          base + s""", "min": ${js(values(s"c${i}_min"))},""" +
            s""" "max": ${js(values(s"c${i}_max"))}"""
        else base
        s"""{"name": "${f.name}", $stats}"""
      }.mkString("[", ", ", "]")
    }
  }
}
