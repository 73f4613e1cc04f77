package graft
import java.nio.file.{Files, Paths}
import graft.queries.Registry

/** Driver-run correctness dump: each registered query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  val Usage = "usage: graft.Verify <sfDir> <outDir> [query,query,...]"

  /** (sfDir, outDir, optional query-name filter), or the message to exit
    * with: the usage line when a directory is missing, or the filter's
    * names that are not registered (a typo would otherwise run nothing). */
  def parseArgs(args: Array[String])
      : Either[String, (String, String, Option[Set[String]])] = args match {
    case Array(sfDir, outDir, rest @ _*) =>
      val only = rest.headOption.map(_.split(',').toSet)
      val unknown = only.getOrElse(Set.empty) -- Registry.byName.keySet
      if (unknown.nonEmpty)
        Left(s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
      else Right((sfDir, outDir, only))
    case _ => Left(Usage)
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = parseArgs(args) match {
      case Right(parsed) => parsed
      case Left(msg) =>
        System.err.println(s"[verify] $msg")
        sys.exit(2)
    }
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    Registry.all
      .filter(q => only.forall(_.contains(q.name)))
      .foreach { q =>
      try q.runWith(spark, sfDir)(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/${q.name}"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
