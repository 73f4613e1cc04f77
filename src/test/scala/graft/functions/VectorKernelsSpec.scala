package graft.functions

import graft.SparkSpec
import graft.ops.Similarity
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import VectorFunctions.vec_dot

/** The Column forms the hyperplane bucket kernel replaced, kept only as
  * the reference it must match bit for bit: `nPlanes` `vec_dot`s against
  * literal plane arrays and a `when` per bit, summed, and a struct
  * explode over the tables. */
object VectorColumnForms {
  def planeVector(j: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { i =>
      (TextKernels.md5Prefix60(s"plane$j-$i") % 2001L - 1000L).toDouble
    }

  def hyperplaneBucket(vec: Column, nPlanes: Int, dim: Int, table: Int = 0)
      : Column =
    (0 until nPlanes).map { j =>
      val plane = typedlit(planeVector(table * 1000 + j, dim))
      when(vec_dot(vec, plane) >= 0.0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  def withAllTableBuckets(df: DataFrame, vecCol: String, tables: Int,
      nPlanes: Int, dim: Int): DataFrame =
    df.select(col("*"), explode(array((0 until tables).map { t =>
      struct(lit(t).as("t"),
        hyperplaneBucket(col(vecCol), nPlanes, dim, t).as("bkt"))
    }: _*)).as("tb"))
      .select((df.columns.map(col) :+ col("tb.t").as("t") :+
        col("tb.bkt").as("bkt")): _*)
}

class VectorKernelsSpec extends SparkSpec {

  /** Vectors nobody embeds but a corpus can hold: null, empty, shorter
    * and longer than the planes, null elements, NaN, ±0.0 and infinities
    * (whose dot is NaN). */
  private val edges: Seq[Seq[java.lang.Double]] = {
    def v(xs: Double*): Seq[java.lang.Double] = xs.map(Double.box)
    val seed = (0 until 64).map(i => math.sin(i + 1.0))
    Seq(null, v(), v(1.0, -2.0, 3.0), v(seed ++ seed.take(9): _*),
      seed.map(Double.box).updated(5, null).updated(40, null),
      v(seed.updated(3, Double.NaN): _*), v(Seq.fill(64)(0.0): _*),
      v(Seq.fill(64)(-0.0): _*), v(seed.map(-_): _*),
      v(Seq.tabulate(64)(i => if (i % 2 == 0) Double.PositiveInfinity
        else Double.NegativeInfinity): _*))
  }

  /** 500 seeded Gaussian 64-d vectors, the shape of the embeddings
    * fixture, plus the edge vectors, as array<`elem`> with a unique row
    * key; repartitioned so no projection folds into a local relation. */
  private def vectors(s: SparkSession, elem: String): DataFrame = {
    val rnd = new scala.util.Random(64)
    val rows = (0 until 500).map(i => Row(i.toLong,
        Seq.fill(64)(Double.box(rnd.nextGaussian().toFloat.toDouble)))) ++
      edges.zipWithIndex.map { case (e, i) => Row(-1L - i, e) }
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", ArrayType(DoubleType, containsNull = true))))
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .select(col("k"), col("v").cast(s"array<$elem>").as("v"))
      .repartition(3)
  }

  /** (planes, dim, tables): the vectors are 64-d, so dim 8 makes every
    * one longer than its planes and dim 70 shorter. */
  private val shapes = Seq((6, 64, 4), (1, 64, 2), (12, 8, 3), (24, 70, 2))

  /** Rows where kernel and Column form disagree, over every shape. */
  private def diffs(s: SparkSession): Seq[String] =
    for {
      elem <- Seq("float", "double")
      (planes, dim, tables) <- shapes
      df = vectors(s, elem)
      bad <- {
        def all(f: DataFrame): Map[(Long, Int), Long] = f.collect()
          .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
        val nat = all(Similarity.withAllTableBuckets(df, "v", tables,
          planes, dim).select("k", "t", "bkt"))
        val ref = all(VectorColumnForms.withAllTableBuckets(df, "v", tables,
          planes, dim).select("k", "t", "bkt"))
        assert(ref.size == (500 + edges.size) * tables)
        val one = df.select(col("k"),
            Similarity.hyperplaneBucket(col("v"), planes, dim, tables - 1),
            VectorColumnForms.hyperplaneBucket(col("v"), planes, dim,
              tables - 1))
          .collect().filter(r => r.getLong(1) != r.getLong(2))
          .map(r => s"one table k=${r.getLong(0)}: ${r.get(1)} vs ${r.get(2)}")
        (ref.keySet ++ nat.keySet).toSeq.filter(k => nat.get(k) != ref.get(k))
          .map(k => s"k=$k: ${nat.get(k)} vs ${ref.get(k)}") ++ one
      }
    } yield s"$elem $planes/$dim/$tables $bad"

  test("hyperplane bucket kernel matches the Column form bit for bit on " +
      "64-d and edge vectors, float and double (generated code)") {
    val d = diffs(spark)
    assert(d.isEmpty, d.take(5))
  }

  test("hyperplane bucket kernel matches the Column form when " +
      "interpreted") {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val d = diffs(s)
    assert(d.isEmpty, d.take(5))
  }

  test("hyperplane bucket edges: null is bucket 0, a NaN dot sets its " +
      "bit, and the planes are the Column form's") {
    val all = (1L << 6) - 1
    val row = spark.createDataFrame(java.util.Arrays.asList(
        Row(1L, null), Row(2L, Seq(Double.NaN, 1.0)),
        Row(3L, Seq.fill(4)(0.0))),
      StructType(Seq(StructField("k", LongType),
        StructField("v", ArrayType(DoubleType)))))
      .repartition(2)
      .select(col("k"), VectorFunctions.hyperplane_buckets(col("v"), 6, 4, 0,
        2).as("b"))
      .orderBy("k").collect().map(r => r.getSeq[Long](1)).toSeq
    assert(row == Seq(Seq(0L, 0L), Seq(all, all), Seq(all, all)))
    for (j <- Seq(0, 7, 3002)) assert(VectorKernels.planeVector(j, 16)
      .sameElements(VectorColumnForms.planeVector(j, 16)))
    intercept[IllegalArgumentException](
      VectorFunctions.hyperplane_buckets(col("v"), 65, 4, 0, 1))
  }

  test("cosine pairs first-hit: each id_b once, paired with its " +
      "earliest qualifying id_a, the same id_b set as all pairs") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rnd = new scala.util.Random(3)
    // three loose direction clusters plus 40 exact copies of the first
    // cluster's direction, in a shuffled order: the kernel sorts by id
    val vecs = (0L until 60L).map { i =>
      i -> Array.tabulate(3)(d =>
        math.cos(i % 3 + d) + rnd.nextDouble() * 0.3)
    } ++ (100L until 140L).map(i => i -> Array(math.cos(0), math.cos(1),
      math.cos(2)))
    val rows = new GenericArrayData(rnd.shuffle(vecs).map { case (i, v) =>
      InternalRow(i, UnsafeArrayData.fromPrimitiveArray(v)) }.toArray[Any])
    def run(firstHit: Boolean): Seq[(Long, Long)] =
      VectorKernels.cosinePairs(rows, LongType,
        Ordering.Long.asInstanceOf[Ordering[Any]], isFloat = false, 0.97,
        firstHit, maxCellRows = 1000, maxGroupPairs = 1, "g")
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val first = run(firstHit = true)
    // maxGroupPairs = 1 bounds the all-pairs mode only
    val e = intercept[IllegalStateException](run(firstHit = false))
    assert(e.getMessage.contains("embeddingNearDup: block 'g'") &&
      e.getMessage.contains("maxGroupPairs=1"), e.getMessage)
    val all = VectorKernels.cosinePairs(rows, LongType,
        Ordering.Long.asInstanceOf[Ordering[Any]], isFloat = false, 0.97,
        firstHit = false, 1000, Long.MaxValue, "g")
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = all.groupBy(_._2).toSeq
      .map { case (b, ps) => (ps.map(_._1).min, b) }
    assert(first.map(_._2).distinct.size == first.size)
    assert(first.toSet == want.toSet && first.size > 40)
  }
}
