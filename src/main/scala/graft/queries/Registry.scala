package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its Spark body over an sf directory, the DuckDB
  * SQL that must produce the same rows, and its declared-workload
  * revision. `rev` is bumped whenever the query's DECLARED computation
  * changes (a different workload under the same name, not a perf tweak);
  * [[graft.Bench]] stamps it into the bench artifact so
  * `tools/benchgate.py` tells "re-declared" apart from "regressed" by
  * identity instead of by runtime. */
final case class Q(name: String, rev: Int = 1,
    run: (SparkSession, String) => DataFrame, oracle: String) {

  /** Runs the query, hands its frame to `use`, then drops every frame the
    * run persisted, also when it fails, so the next query starts from an
    * empty cache. */
  def runWith[T](spark: SparkSession, dir: String)(use: DataFrame => T): T =
    try use(run(spark, dir))
    finally {
      graft.ops.Dedup.releaseCaches()
      spark.catalog.clearCache()
    }
}

/** Every query with its oracle, one family file each. Routes through the
  * library (compilers / TableOps / pipeline / ops), never ad-hoc
  * DataFrame code; outputs are deterministically ordered and float-exact
  * (decimal-cast sums) so they hash-match DuckDB. */
object Registry {
  val all: Seq[Q] = checked(ScanQueries.all ++ UpdateQueries.all ++
    PipelineQueries.all ++ DedupQueries.all ++ SearchQueries.all ++
    StreamingQueries.all ++ CurationQueries.all)

  val byName: Map[String, Q] = all.map(q => q.name -> q).toMap

  /** The bench artifact's key for a query ("q93", not "q93_cluster_split"):
    * the bench line is parsed from a short stdout tail, so it stays small. */
  def shortKey(name: String): String = name.takeWhile(_ != '_')

  /** `qs` unchanged, after requiring unique names and unique short keys: a
    * repeated name would shadow a query, and a repeated short key would
    * merge two queries in `bench.json`. */
  private[queries] def checked(qs: Seq[Q]): Seq[Q] = {
    def dups(keys: Seq[String]) =
      keys.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
    val names = dups(qs.map(_.name))
    require(names.isEmpty, s"duplicate query names: ${names.mkString(", ")}")
    val keys = dups(qs.map(q => shortKey(q.name)))
    require(keys.isEmpty, s"duplicate bench keys: ${keys.mkString(", ")}")
    qs
  }
}
