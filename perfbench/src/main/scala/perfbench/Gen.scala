package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input helpers. Columns generated on the executors derive from
  * `xxhash64(seed, salt, id)`, so a seed fixes every value no matter how
  * the rows are partitioned. */
object Gen {

  /** A uniform long in [0, n) for row `id`, independent per `salt`. */
  def uniform(seed: Long, salt: Int, n: Long, id: Column = col("id")): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(n))

  /** Picks one of `values` for row `id`. */
  def pick(seed: Long, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*),
      (uniform(seed, salt, values.size.toLong) + 1).cast("int"))

  /** An order-independent checksum of a frame: row count and the sum of
    * a 32-bit hash of every row, over the columns in name order. */
  def checksum(df: DataFrame): String = {
    val cols = df.columns.sorted.map(col)
    val r = df.agg(count(lit(1)), coalesce(sum(hash(cols.toIndexedSeq: _*).cast("long")),
      lit(0L))).head()
    s"${r.getLong(0)}:${r.getLong(1)}"
  }

  /** Schema as sorted `name:type` pairs, for comparing outputs whose
    * column order may differ. */
  def schemaKey(df: DataFrame): String =
    df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .sorted.mkString(",")

  def write(df: DataFrame, path: java.nio.file.Path): Unit =
    df.write.mode("overwrite").parquet(path.toString)

  def read(spark: SparkSession, path: java.nio.file.Path): DataFrame =
    spark.read.parquet(path.toString)
}
