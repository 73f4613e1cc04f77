package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import java.time.Instant

import graft.model._
import graft.orchestrate.MigrationApp
import graft.queries.{Fixtures, Registry}

/** Driver contract: the flagship `entry`, plus one `queries` entry and its
  * matching DuckDB `oracleSql` per implemented operator from SURVEY.md §2
  * (plus the LLM-pipeline extension operators). Both maps are read off
  * [[graft.queries.Registry]], where each query sits next to its oracle.
  */
object SparkEntry {

  /** Flagship: the reference's own example migration (example_test.go:49-58)
    * — `{time: {$gt: cutoff}}` + `{$rename: {time: timeSince}}` — run
    * end-to-end through the orchestrator (deps, ledger, write-back) on a
    * temp copy of sf0.001 events. */
  def entry(spark: SparkSession): DataFrame = {
    val tmp = Fixtures.scratchDir("graft-entry")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      tmp.resolve("events.parquet"))
    val app = new MigrationApp(spark, tmp.toString)
    app.setup(Seq(SimpleMigration(
      GeneratorOptions(
        jobId = "rename-ts",
        ns = Namespace("mci", "events"),
        query = Map("ts" -> Map("$gt" -> Instant.parse("2024-01-02T00:00:00Z")))),
      update = Map("$rename" -> Map("ts" -> "timeSince")))))
    val results = app.run()
    require(results.forall(!_.hasErrors), s"migration failed: $results")
    spark.read.parquet(s"$tmp/events.parquet")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> q.run).toMap

  def oracleSql: Map[String, String] =
    Registry.all.map(q => q.name -> q.oracle).toMap
}
