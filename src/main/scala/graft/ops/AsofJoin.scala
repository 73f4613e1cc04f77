package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Point-in-time (as-of) join: for every left row, attach the latest right
  * row with the same key whose timestamp is <= the left timestamp
  * (backward as-of, inclusive — the semantics of DuckDB's `ASOF LEFT JOIN
  * ... ON l.k = r.k AND l.ts >= r.ts`, which oracle-checks this operator).
  *
  * The operator Spark lacks natively; the naive formulations are a range
  * join (quadratic per key) or a per-key collect. This implementation is
  * the **union + ordered window** plan:
  *
  *   1. tag left rows 1, right rows 0; union by (key, ts, tag);
  *   2. one shuffle on key + one sort by (ts, tag) per partition;
  *   3. `last(__snap, ignoreNulls)` over rows unbounded-preceding..current
  *      carries ONE struct of all right values forward — so the attached
  *      columns always come from a single right row, and a genuinely-null
  *      right value is preserved (per-column `last(ignoreNulls)` would both
  *      mix right rows and resurrect older non-null values);
  *   4. keep the left-tagged rows.
  *
  * Cost at 100 TB: exactly one shuffle of |left| + |right| rows and one
  * sort — the same complexity class as a sort-merge join, with no range
  * explosion and no skew beyond the key distribution (salt hot keys with
  * [[Skew]] if needed). Ties (equal ts) resolve right-before-left so a
  * same-instant snapshot is visible, matching the inclusive bound.
  */
object AsofJoin {

  /** @param left        fact side (kept in full)
    * @param right       snapshot side (its `valueCols` are attached)
    * @param keyCol      equality key present on both sides
    * @param leftTsCol   event-time column on the left
    * @param rightTsCol  event-time column on the right
    * @param valueCols   right columns to carry (must not clash with left)
    */
  def backward(left: DataFrame, right: DataFrame, keyCol: String,
      leftTsCol: String, rightTsCol: String, valueCols: Seq[String])
      : DataFrame = {
    require(valueCols.nonEmpty, "asof join needs at least one value column")
    val clash = valueCols.toSet.intersect(left.columns.toSet)
    require(clash.isEmpty, s"value columns clash with left side: $clash")

    val leftCols = left.columns.toSeq
    val snapSchema = org.apache.spark.sql.types.StructType(
      valueCols.map(c => right.schema(c)))
    val l = left
      .withColumn("__ts", col(leftTsCol))
      .withColumn("__tag", lit(1))
      .withColumn("__snap", lit(null).cast(snapSchema))
    val r = right.select(col(keyCol), col(rightTsCol).as("__ts"),
      lit(0).as("__tag"), struct(valueCols.map(col): _*).as("__snap"))
    val rPadded = leftCols.filterNot(_ == keyCol).foldLeft(r)((d, c) =>
      d.withColumn(c, lit(null).cast(left.schema(c).dataType)))

    val unioned = l.unionByName(rPadded)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("__ts").asc, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned
      .withColumn("__snap", last(col("__snap"), ignoreNulls = true).over(w))
    carried.where(col("__tag") === 1)
      .select(leftCols.map(col) ++
        valueCols.map(c => col(s"__snap.`$c`").as(c)): _*)
  }
}
