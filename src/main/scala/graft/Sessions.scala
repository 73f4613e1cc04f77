package graft

import org.apache.spark.sql.SparkSession

/** The one local session factory: every main and the test suite run on
  * the same settings. */
object Sessions {

  /** A `local[cores]` session with one shuffle partition per core, UTC
    * session time, nanosecond parquet timestamps read as longs (the raw
    * form `graft.sources.Tables.load` normalizes) and the UI off. `conf`
    * adds or overrides session settings. */
  def local(cores: Int, logLevel: String = "WARN",
      conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
