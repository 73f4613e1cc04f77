package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("vec_dot registers as a SQL function") {
    GraftFunctions.register(spark)
    val d = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .as[Double].head()
    assert(d == 11.0)
  }

  test("vec_dot Column API matches lambda math on float arrays") {
    val df = Seq((Array(1.0f, 0.5f), Array(2.0f, 4.0f))).toDF("a", "b")
    val native = df.select(VectorFunctions.vec_dot($"a", $"b")).as[Double].head()
    val lambda = df.select(aggregate(zip_with($"a", $"b",
      (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)).as[Double].head()
    assert(native == lambda && native == 4.0)
  }

  test("vec_sqdist matches the lambda form bit-for-bit, incl. null cases") {
    val rnd = new scala.util.Random(41)
    def v(n: Int) = Array.fill(n)(rnd.nextDouble() * 10 - 5)
    val rows: Seq[(Array[java.lang.Double], Array[java.lang.Double])] = Seq(
      (v(16).map(Double.box), v(16).map(Double.box)),
      (v(16).map(Double.box), v(12).map(Double.box)),      // ragged
      (v(8).map(Double.box),
        (v(7).map(Double.box) :+ (null: java.lang.Double))), // null elem
      (null, v(16).map(Double.box))                          // null array
    )
    val df = rows.toDF("a", "b")
    val lambda = df.select(aggregate(
      zip_with($"a", $"b", (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, e) => acc + e)).collect().map(r =>
        if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    val native = df.select(VectorFunctions.vec_sqdist($"a", $"b"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(native.toSeq == lambda.toSeq)
    assert(native(0).isDefined && native.drop(1).forall(_.isEmpty))
  }

  test("vec_mat_project matches the per-coordinate lambda form bit-for-bit") {
    val rnd = new scala.util.Random(43)
    val d = 24; val k = 6
    val mu = Array.fill(d)(rnd.nextDouble() - 0.5)
    val mat = Array.fill(k)(Array.fill(d)(rnd.nextDouble() * 2 - 1))
    val scale = 1.0 / math.sqrt(k.toDouble)
    def v(n: Int) = Array.fill(n)(rnd.nextDouble() * 10 - 5)
    val rows: Seq[Tuple1[Array[java.lang.Double]]] = Seq(
      Tuple1(v(d).map(Double.box)),
      Tuple1(v(d).map(Double.box)),
      Tuple1(v(d - 3).map(Double.box)),                      // ragged
      Tuple1(v(d - 1).map(Double.box) :+ (null: java.lang.Double)),
      Tuple1(null)                                           // null array
    )
    val df = rows.toDF("x")
    def collectArr(c: org.apache.spark.sql.Column): Seq[Seq[Option[Double]]] =
      df.select(c.as("p")).collect().map { r =>
        r.getSeq[Any](0).map {
          case null => None
          case x: Double => Some(x)
        }.toSeq
      }.toSeq
    // centered, unscaled (the Pca.project shape)
    val muLit = typedlit(mu.toSeq)
    val centered = zip_with($"x", muLit, (a, b) => a - b)
    val lambdaCentered = collectArr(array(mat.map { comp =>
      aggregate(zip_with(centered, typedlit(comp.toSeq), (a, b) => a * b),
        lit(0.0), (acc, e) => acc + e)
    }.toIndexedSeq: _*))
    val nativeCentered = collectArr(VectorFunctions.vec_mat_project(
      $"x", Some(mu.toSeq), mat.map(_.toSeq).toSeq))
    assert(nativeCentered == lambdaCentered)
    // uncentered + post-scale (the RandomProjection.project shape)
    val lambdaScaled = collectArr(array(mat.map { comp =>
      aggregate(zip_with($"x", typedlit(comp.toSeq), (a, b) => a * b),
        lit(0.0), (acc, e) => acc + e) * lit(scale)
    }.toIndexedSeq: _*))
    val nativeScaled = collectArr(VectorFunctions.vec_mat_project(
      $"x", None, mat.map(_.toSeq).toSeq, Some(Seq.fill(k)(scale))))
    assert(nativeScaled == lambdaScaled)
    // sanity: the two clean rows project to k finite coords
    assert(nativeCentered.take(2).forall(r =>
      r.size == k && r.forall(_.isDefined)))
  }

  test("vec_mat_project on float arrays equals the cast-to-double lambda") {
    val rnd = new scala.util.Random(47)
    val d = 8; val k = 3
    val mat = Array.fill(k)(Array.fill(d)(rnd.nextDouble() * 2 - 1))
    val df = Seq(Tuple1(Array.fill(d)(rnd.nextFloat()))).toDF("x")
    val xd = $"x".cast("array<double>")
    val lambda = df.select(array(mat.map { comp =>
      aggregate(zip_with(xd, typedlit(comp.toSeq), (a, b) => a * b),
        lit(0.0), (acc, e) => acc + e)
    }.toIndexedSeq: _*)).collect().head.getSeq[Double](0)
    val native = df.select(VectorFunctions.vec_mat_project(
      xd, None, mat.map(_.toSeq).toSeq)).collect().head.getSeq[Double](0)
    assert(native == lambda)
  }

  test("vec_sqdist and vec_mat_project on raw float arrays equal the " +
    "float lambda forms") {
    val rnd = new scala.util.Random(53)
    val d = 12; val k = 4
    def v(n: Int) = Array.fill(n)(Float.box(rnd.nextFloat() * 4 - 2))
    val rows: Seq[(Array[java.lang.Float], Array[java.lang.Float])] = Seq(
      (v(d), v(d)), (v(d), v(d)),
      (v(d), v(d - 2)),                                   // ragged
      (v(d - 1) :+ (null: java.lang.Float), v(d)),        // null elem
      (null, v(d)))                                       // null array
    // repartitioned: evaluated by generated code, not folded locally
    val df = rows.zipWithIndex.map { case ((a, b), i) => (i, a, b) }
      .toDF("id", "a", "b").repartition(2).orderBy("id").select("a", "b")
    def opt(r: org.apache.spark.sql.Row): Option[Double] =
      if (r.isNullAt(0)) None else Some(r.getDouble(0))
    // the lambda widens each float to double exactly as the kernel does
    val lambda = df.select(aggregate(zip_with($"a", $"b", (x, y) =>
      (x.cast("double") - y.cast("double")) *
        (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, e) => acc + e)).collect().map(opt).toSeq
    val native = df.select(VectorFunctions.vec_sqdist($"a", $"b"))
      .collect().map(opt).toSeq
    assert(df.schema("a").dataType.toString.contains("Float"))
    assert(native == lambda && native.count(_.isDefined) == 2)
    val mu = Array.fill(d)(rnd.nextDouble() - 0.5)
    val mat = Array.fill(k)(Array.fill(d)(rnd.nextDouble() * 2 - 1))
    val centered = zip_with($"a", typedlit(mu.toSeq),
      (x, m) => x.cast("double") - m)
    def coords(c: org.apache.spark.sql.Column): Seq[Seq[Option[Double]]] =
      df.select(c).collect().map(_.getSeq[Any](0).map {
        case null => None
        case x: Double => Some(x)
      }.toSeq).toSeq
    val lambdaProj = coords(array(mat.map { comp =>
      aggregate(zip_with(centered, typedlit(comp.toSeq), (x, w) => x * w),
        lit(0.0), (acc, e) => acc + e)
    }.toIndexedSeq: _*))
    val nativeProj = coords(VectorFunctions.vec_mat_project($"a",
      Some(mu.toSeq), mat.map(_.toSeq).toSeq))
    assert(nativeProj == lambdaProj)
    assert(nativeProj.count(_.forall(_.isDefined)) == 3)
  }

  test("vec_dot rejects non-array inputs") {
    // a fresh session: Spark 4 posts even failed ANALYSIS to the session
    // listener bus, and the shared session's ObservationManager listener
    // re-raises on such events, spamming ERROR into otherwise-green logs
    val s2 = spark.newSession()
    import s2.implicits._
    val df = Seq((1, 2)).toDF("a", "b")
    intercept[Exception] {
      df.select(VectorFunctions.vec_dot($"a", $"b")).schema
    }
  }

  test("Granularity.roundUp rounds to the series, fixed points stay") {
    val vals = Seq(0.0, 0.7, 1.0, 1.01, 1.6, 15.0, 29.0, 99.0, 100.0,
      716.0).toDF("v")
    def up(g: String): Seq[Double] = vals
      .select(Granularity.roundUp($"v", g)).as[Double].collect().toSeq
    assert(up("R5") ==
      Seq(0.0, 1.0, 1.0, 1.6, 1.6, 16.0, 40.0, 100.0, 100.0, 1000.0))
    assert(up("E6") ==
      Seq(0.0, 1.0, 1.0, 1.5, 2.2, 15.0, 33.0, 100.0, 100.0, 1000.0))
    assert(up("POWERSOF2") ==
      Seq(0.0, 1.0, 1.0, 2.0, 2.0, 16.0, 32.0, 128.0, 128.0, 1024.0))
  }

  test("Granularity negative input yields NaN, unknown series rejected") {
    val got = Seq(-3.0).toDF("v")
      .select(Granularity.roundUp($"v", "R10")).as[Double].head()
    assert(got.isNaN)
    intercept[IllegalArgumentException] {
      Granularity.roundUp(lit(1.0), "E192")
    }
  }

  test("quantizeInto rejects reserved __g_* columns instead of clobbering") {
    val ok = Granularity.quantizeInto(
      Seq(1.3).toDF("v"), $"v", "R10", "q")
    assert(ok.select("q").as[Double].head() == 1.6)
    intercept[IllegalArgumentException] {
      Granularity.quantizeInto(
        Seq((1.3, 7.0)).toDF("v", "__g_v"), $"v", "R10", "q")
    }
  }
}

class SkewSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.Skew

  test("saltedJoin matches a plain join") {
    val left = (1 to 500).map(i => (if (i % 10 == 0) "hot" else s"k$i", i))
      .toDF("key", "n")
    val right = Seq(("hot", "H"), ("k1", "A"), ("k2", "B")).toDF("key", "tag")
    val plain = left.join(right, Seq("key")).select("key", "n", "tag")
      .collect().map(_.toSeq).toSet
    val salted = Skew.saltedJoin(left, right, "key", 8)
      .select("key", "n", "tag").collect().map(_.toSeq).toSet
    assert(salted == plain)
  }

  test("saltedSumCount matches plain aggregation") {
    val df = (1 to 1000).map(i => (s"g${i % 3}", i.toDouble)).toDF("g", "v")
    val plain = df.groupBy("g").agg(sum("v").as("sum"), count(lit(1)).as("count"))
      .collect().map(_.toSeq).toSet
    val salted = Skew.saltedSumCount(df, "g", "v", 8)
      .collect().map(_.toSeq).toSet
    assert(salted == plain)
  }
}
