package graft
import graft.queries.Registry

/** Ad-hoc plan inspector: prints the formatted physical plan of the named
  * queries (args) at sf0.001 — fast feedback on shuffle count / pushdown /
  * codegen spans while iterating on an operator. */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty && args.head.startsWith("/")) args.head
                else "/root/testdata/sf0.001"
    val names = args.filterNot(_.startsWith("/"))
    val spark = Sessions.local(4, logLevel = "ERROR")
    for (q <- names) {
      println(s"========== $q ==========")
      println(Registry.byName(q).run(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
