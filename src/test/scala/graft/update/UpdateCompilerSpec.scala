package graft.update

import graft.SparkSpec
import org.apache.spark.sql.functions._

class UpdateCompilerSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    (1L, "a", 10.0, Seq(1, 2)),
    (2L, "b", 20.0, Seq(2))).toDF("_id", "cat", "v", "arr")

  private def run(u: Map[String, Any]) = UpdateCompiler.compile(u)(df)

  test("$set literal + new column creation") {
    val out = run(Map("$set" -> Map("cat" -> "z", "fresh" -> 7)))
    assert(out.select("cat").as[String].collect().toSet == Set("z"))
    assert(out.select("fresh").as[Int].collect().toSeq == Seq(7, 7))
  }

  test("$inc / $mul") {
    val out = run(Map("$inc" -> Map("v" -> 5), "$mul" -> Map("_id" -> 10)))
    assert(out.select("v").as[Double].collect().sorted.toSeq == Seq(15.0, 25.0))
    assert(out.select("_id").as[Long].collect().sorted.toSeq == Seq(10L, 20L))
  }

  test("$min / $max") {
    val out = run(Map("$min" -> Map("v" -> 15.0)))
    assert(out.select("v").as[Double].collect().sorted.toSeq == Seq(10.0, 15.0))
    val out2 = run(Map("$max" -> Map("v" -> 15.0)))
    assert(out2.select("v").as[Double].collect().sorted.toSeq == Seq(15.0, 20.0))
  }

  test("$rename whole-table is a metadata rename") {
    val out = run(Map("$rename" -> Map("v" -> "value")))
    assert(out.columns.toSeq == Seq("_id", "cat", "value", "arr"))
  }

  test("$unset whole-table drops the column") {
    assert(!run(Map("$unset" -> Map("arr" -> 1))).columns.contains("arr"))
  }

  test("$push / $addToSet / $pull / $pop") {
    val out = run(Map("$push" -> Map("arr" -> 9)))
    assert(out.where($"_id" === 1).select("arr").as[Seq[Int]].head()
      == Seq(1, 2, 9))
    val dedup = run(Map("$addToSet" -> Map("arr" -> 2)))
    assert(dedup.where($"_id" === 1).select("arr").as[Seq[Int]].head()
      == Seq(1, 2))
    val pulled = run(Map("$pull" -> Map("arr" -> 2)))
    assert(pulled.where($"_id" === 1).select("arr").as[Seq[Int]].head()
      == Seq(1))
    val popped = run(Map("$pop" -> Map("arr" -> 1)))
    assert(popped.where($"_id" === 1).select("arr").as[Seq[Int]].head()
      == Seq(1))
    val shifted = run(Map("$pop" -> Map("arr" -> -1)))
    assert(shifted.where($"_id" === 1).select("arr").as[Seq[Int]].head()
      == Seq(2))
  }

  test("$push $each with $position, $sort, $slice; $addToSet $each") {
    // base arr for _id 1 is [1, 2]
    def arr1(upd: Map[String, Any]): Seq[Int] =
      run(upd).where($"_id" === 1).select("arr").as[Seq[Int]].head()
    assert(arr1(Map("$push" -> Map("arr" ->
      Map("$each" -> Seq(8, 9))))) == Seq(1, 2, 8, 9))
    assert(arr1(Map("$push" -> Map("arr" ->
      Map("$each" -> Seq(9), "$position" -> 0)))) == Seq(9, 1, 2))
    assert(arr1(Map("$push" -> Map("arr" ->
      Map("$each" -> Seq(9), "$position" -> -1)))) == Seq(1, 9, 2))
    assert(arr1(Map("$push" -> Map("arr" ->
      Map("$each" -> Seq(9, 0), "$sort" -> 1)))) == Seq(0, 1, 2, 9))
    assert(arr1(Map("$push" -> Map("arr" ->
      Map("$each" -> Seq(9, 0), "$sort" -> -1, "$slice" -> 2))))
      == Seq(9, 2))
    // negative slice keeps the LAST |n| after append
    assert(arr1(Map("$push" -> Map("arr" ->
      Map("$each" -> Seq(9), "$slice" -> -2)))) == Seq(2, 9))
    assert(arr1(Map("$addToSet" -> Map("arr" ->
      Map("$each" -> Seq(2, 5))))) == Seq(1, 2, 5))
  }

  test("$[] all-positional updates every array element") {
    // terminal: inc every element; struct-sub: set a field of each element
    val d2 = Seq((1L, Seq(1, 2, 3))).toDF("_id", "scores")
    val inc = UpdateCompiler.applyUpdate(d2, lit(true),
      Map("$inc" -> Map("scores.$[]" -> 10)))
    assert(inc.select("scores").as[Seq[Int]].head() == Seq(11, 12, 13))
    val d3 = spark.sql(
      "SELECT 1L AS _id, array(named_struct('q', 1, 'b', 'x'), " +
        "named_struct('q', 2, 'b', 'y')) AS items")
    val sub = UpdateCompiler.applyUpdate(d3, lit(true),
      Map("$set" -> Map("items.$[].b" -> "z")))
    assert(sub.selectExpr("transform(items, x -> x.b) AS bs")
      .as[Seq[String]].head() == Seq("z", "z"))
    assert(sub.selectExpr("transform(items, x -> x.q) AS qs")
      .as[Seq[Int]].head() == Seq(1, 2))
  }

  test("first-match positional $ updates only the first matching element") {
    val d2 = Seq((1L, Seq(80, 90, 85, 90))).toDF("_id", "grades")
    // literal equality condition from the query doc
    val out = UpdateCompiler.applyUpdate(d2, lit(true),
      Map("$set" -> Map("grades.$" -> 0)),
      queryDoc = Map("grades" -> 90))
    assert(out.select("grades").as[Seq[Int]].head() == Seq(80, 0, 85, 90))
    // operator-doc condition
    val inc = UpdateCompiler.applyUpdate(d2, lit(true),
      Map("$inc" -> Map("grades.$" -> 1)),
      queryDoc = Map("grades" -> Map("$gte" -> 85)))
    assert(inc.select("grades").as[Seq[Int]].head() == Seq(80, 91, 85, 90))
    // no matching element: row passes through unchanged
    val none = UpdateCompiler.applyUpdate(d2, lit(true),
      Map("$set" -> Map("grades.$" -> 0)),
      queryDoc = Map("grades" -> 999))
    assert(none.select("grades").as[Seq[Int]].head() == Seq(80, 90, 85, 90))
    // $elemMatch over struct elements, updating a sub-field
    val d3 = spark.sql(
      "SELECT 1L AS _id, array(named_struct('q', 1, 's', 50), " +
        "named_struct('q', 2, 's', 60), named_struct('q', 2, 's', 70)) " +
        "AS items")
    val sub = UpdateCompiler.applyUpdate(d3, lit(true),
      Map("$set" -> Map("items.$.s" -> 0)),
      queryDoc = Map("items" -> Map("$elemMatch" -> Map("q" -> 2))))
    assert(sub.selectExpr("transform(items, x -> x.s) AS ss")
      .as[Seq[Int]].head() == Seq(50, 0, 70))
    // query must constrain the array path
    intercept[IllegalArgumentException] {
      UpdateCompiler.applyUpdate(d2, lit(true),
        Map("$set" -> Map("grades.$" -> 0)))
    }
  }

  test("$[ident] with arrayFilters updates only matching elements") {
    val d2 = Seq((1L, Seq(80, 90, 85, 70))).toDF("_id", "grades")
    val out = UpdateCompiler.applyUpdate(d2, lit(true),
      Map("$set" -> Map("grades.$[g]" -> 100)),
      arrayFilters = Seq(Map("g" -> Map("$gte" -> 85))))
    assert(out.select("grades").as[Seq[Int]].head() == Seq(80, 100, 100, 70))
    // struct elements addressed via ident.sub
    val d3 = spark.sql(
      "SELECT 1L AS _id, array(named_struct('q', 1, 's', 50), " +
        "named_struct('q', 2, 's', 90)) AS items")
    val sub = UpdateCompiler.applyUpdate(d3, lit(true),
      Map("$inc" -> Map("items.$[it].s" -> 5)),
      arrayFilters = Seq(Map("it.q" -> 2)))
    assert(sub.selectExpr("transform(items, x -> x.s) AS ss")
      .as[Seq[Int]].head() == Seq(50, 95))
    // unknown identifier is an error
    intercept[IllegalArgumentException] {
      UpdateCompiler.applyUpdate(d2, lit(true),
        Map("$set" -> Map("grades.$[nope]" -> 1)))
    }
  }

  test("nested positional arr.$[].inner.$[j] / arr.$[g].inner.$[j]") {
    val d = spark.sql(
      "SELECT 1L AS _id, array(" +
        "named_struct('tag', 'a', 'inner', array(1, 20))," +
        "named_struct('tag', 'b', 'inner', array(3, 40))) AS groups")
    def inners(out: org.apache.spark.sql.DataFrame): Seq[Seq[Int]] =
      out.selectExpr("transform(groups, g -> g.inner) AS gs")
        .as[Seq[Seq[Int]]].head()
    // all-positional at both levels, filtered at the innermost
    val all = UpdateCompiler.applyUpdate(d, lit(true),
      Map("$inc" -> Map("groups.$[].inner.$[j]" -> 100)),
      arrayFilters = Seq(Map("j" -> Map("$lt" -> 10))))
    assert(inners(all) == Seq(Seq(101, 20), Seq(103, 40)))
    // filtered at both levels: only tag=b, only elements < 10
    val both = UpdateCompiler.applyUpdate(d, lit(true),
      Map("$inc" -> Map("groups.$[g].inner.$[j]" -> 100)),
      arrayFilters = Seq(Map("g.tag" -> "b"), Map("j" -> Map("$lt" -> 10))))
    assert(inners(both) == Seq(Seq(1, 20), Seq(103, 40)))
    // a field update below the nested positional
    val field = UpdateCompiler.applyUpdate(
      spark.sql("SELECT 1L AS _id, array(named_struct('xs', " +
        "array(named_struct('s', 1), named_struct('s', 2)))) AS outer_a"),
      lit(true),
      Map("$set" -> Map("outer_a.$[].xs.$[k].s" -> 99)),
      arrayFilters = Seq(Map("k.s" -> 2)))
    assert(field.selectExpr("transform(outer_a[0].xs, x -> x.s) AS ss")
      .as[Seq[Int]].head() == Seq(1, 99))
    // positional $ below another positional segment stays rejected
    intercept[IllegalArgumentException] {
      UpdateCompiler.applyUpdate(d, lit(true),
        Map("$set" -> Map("groups.$[].inner.$" -> 0)))
    }
  }

  test("boolean column named 'true' does not trigger unconditional paths") {
    val d = Seq((1L, "x", true), (2L, "y", false))
      .toDF("_id", "name", "true")
    // predicated $unset must null per-row, not drop the column, even
    // though the predicate RENDERS as the string "true"
    val out = UpdateCompiler.applyUpdate(d, col("true"),
      Map("$unset" -> Map("name" -> 1)))
    assert(out.columns.contains("name"))
    assert(out.orderBy("_id").select("name").as[Option[String]]
      .collect().toSeq == Seq(None, Some("y")))
    // predicated $rename keeps per-row semantics too
    val ren = UpdateCompiler.applyUpdate(d, col("true"),
      Map("$rename" -> Map("name" -> "nm")))
    assert(ren.orderBy("_id").select("nm").as[Option[String]]
      .collect().toSeq == Seq(Some("x"), None))
    // while a genuine literal-true predicate still drops the column
    val dropped = UpdateCompiler.applyUpdate(d, lit(true),
      Map("$unset" -> Map("name" -> 1)))
    assert(!dropped.columns.contains("name"))
  }

  test("spark.graft.strictMongo raises on documented divergences") {
    // built over Range (not a LocalRelation): a raise_error over literal
    // local data would fire during ConvertToLocalRelation — i.e. at
    // optimize time — and Spark's own ObservationManager listener then
    // logs the failure a second time when it re-touches the lazy plan
    val d = spark.range(1, 3).select(col("id").as("_id"),
      when(col("id") === 1, typedLit(Seq(1, 2)))
        .otherwise(typedLit(Seq(50))).as("arr"),
      when(col("id") === 1, "x").otherwise("y").as("name"))
    spark.conf.set("spark.graft.strictMongo", "true")
    try {
      // predicated $unset nulls instead of removing -> plan-time raise
      intercept[IllegalStateException] {
        UpdateCompiler.applyUpdate(d, col("_id") === 1L,
          Map("$unset" -> Map("name" -> 1)))
      }
      // whole-table $unset is NOT a divergence (column genuinely drops)
      assert(!UpdateCompiler.applyUpdate(d, lit(true),
        Map("$unset" -> Map("name" -> 1))).columns.contains("name"))
      // positional $ with a row whose array has no match -> runtime raise
      val noMatch = UpdateCompiler.applyUpdate(d, lit(true),
        Map("$set" -> Map("arr.$" -> -1)),
        queryDoc = Map("arr" -> Map("$gte" -> 10)))
      val err = intercept[Exception] { noMatch.collect() }
      assert((err.getMessage + Option(err.getCause).map(_.getMessage)
        .getOrElse("")).contains("positional $ matched no element"))
    } finally spark.conf.unset("spark.graft.strictMongo")
    // default (off): row passes through unchanged, no raise
    val lax = UpdateCompiler.applyUpdate(d, lit(true),
      Map("$set" -> Map("arr.$" -> -1)),
      queryDoc = Map("arr" -> Map("$gte" -> 10)))
    assert(lax.orderBy("_id").select("arr").as[Seq[Int]]
      .collect().toSeq == Seq(Seq(1, 2), Seq(-1)))
  }

  test("$bit and/or/xor") {
    val d2 = Seq((1L, 12L)).toDF("_id", "flags") // 0b1100
    def f(upd: Map[String, Any]): Long =
      UpdateCompiler.applyUpdate(d2, lit(true), upd)
        .select("flags").as[Long].head()
    assert(f(Map("$bit" -> Map("flags" -> Map("and" -> 10)))) == 8L)
    assert(f(Map("$bit" -> Map("flags" -> Map("or" -> 3)))) == 15L)
    assert(f(Map("$bit" -> Map("flags" -> Map("xor" -> 6)))) == 10L)
  }

  test("predicated update preserves non-matching rows") {
    val out = UpdateCompiler.applyUpdate(df, $"cat" === "a",
      Map("$set" -> Map("v" -> 99.0)))
    assert(out.where($"_id" === 1).select("v").as[Double].head() == 99.0)
    assert(out.where($"_id" === 2).select("v").as[Double].head() == 20.0)
  }

  test("predicated $rename nulls source and fills target per-row") {
    val out = UpdateCompiler.applyUpdate(df, $"cat" === "a",
      Map("$rename" -> Map("v" -> "w")))
    val r1 = out.where($"_id" === 1).select("w", "v").head()
    assert(r1.getDouble(0) == 10.0 && r1.isNullAt(1))
    val r2 = out.where($"_id" === 2).select("w", "v").head()
    assert(r2.isNullAt(0) && r2.getDouble(1) == 20.0)
  }

  test("nested struct path via withField") {
    val nested = df.withColumn("sub", struct($"v".as("inner"), $"cat".as("tag")))
    val out = UpdateCompiler.compile(Map("$set" -> Map("sub.inner" -> 0.5)))(nested)
    assert(out.select("sub.inner").as[Double].collect().toSet == Set(0.5))
    assert(out.select("sub.tag").as[String].collect().toSet == Set("a", "b"))
    val dropped = UpdateCompiler.compile(Map("$unset" -> Map("sub.tag" -> 1)))(nested)
    assert(dropped.select("sub.*").columns.toSeq == Seq("inner"))
  }

  test("replacement document (hasDollarKey=false) keeps id, nulls the rest") {
    val out = UpdateCompiler.applyUpdate(df, $"_id" === 1,
      Map("cat" -> "only", "extra" -> 42))
    val r = out.where($"_id" === 1).select("cat", "v", "extra").head()
    assert(r.getString(0) == "only" && r.isNullAt(1) && r.getInt(2) == 42)
    val untouched = out.where($"_id" === 2).select("cat", "v", "extra").head()
    assert(untouched.getString(0) == "b" && untouched.getDouble(1) == 20.0 &&
      untouched.isNullAt(2))
  }

  test("$currentDate sets a timestamp") {
    val out = run(Map("$currentDate" -> Map("seen" -> true)))
    assert(out.schema("seen").dataType.typeName == "timestamp")
    assert(out.where($"seen".isNull).count() == 0)
  }

  test("unknown operator rejected") {
    intercept[IllegalArgumentException] { run(Map("$bogus" -> Map("a" -> 1))) }
  }

  test("$pull condition doc removes matching elements") {
    val out = run(Map("$pull" -> Map("arr" -> Map("$gte" -> 2))))
    assert(out.orderBy("_id").select("arr").as[Seq[Int]].collect().toSeq ==
      Seq(Seq(1), Seq()))
  }

  test("$pullAll removes all instances, keeps duplicate survivors") {
    val dups = Seq((1L, Seq(1, 2, 1, 3, 2, 1))).toDF("_id", "arr")
    val out = UpdateCompiler.compile(
      Map("$pullAll" -> Map("arr" -> Seq(2, 3))))(dups)
    assert(out.select("arr").as[Seq[Int]].head() == Seq(1, 1, 1))
    intercept[IllegalArgumentException] {
      UpdateCompiler.compile(Map("$pullAll" -> Map("arr" -> 2)))(dups)
    }
    // {$pullAll: {arr: []}} is valid Mongo and removes nothing
    val noop = UpdateCompiler.compile(
      Map("$pullAll" -> Map("arr" -> Seq.empty[Int])))(dups)
    assert(noop.select("arr").as[Seq[Int]].head() == Seq(1, 2, 1, 3, 2, 1))
  }

  test("pipeline update: $set expressions read the pre-stage document") {
    val d = Seq((1L, 2.0, 3.0), (2L, 5.0, 7.0)).toDF("_id", "a", "b")
    val out = UpdateCompiler.applyUpdatePipeline(d, col("_id") === 1L,
      Seq(Map("$set" -> Map(
        "total" -> Map("$multiply" -> Seq("$a", "$b")),
        "a" -> "$b", "b" -> "$a"))))     // swap: both read pre-stage values
    val r = out.orderBy("_id").collect()
    assert(r(0).getDouble(1) == 3.0 && r(0).getDouble(2) == 2.0)
    assert(r(0).getDouble(3) == 6.0)
    // unmatched row unchanged, new column null
    assert(r(1).getDouble(1) == 5.0 && r(1).getDouble(2) == 7.0)
    assert(r(1).isNullAt(3))
  }

  test("pipeline update: multi-stage, $unset, $replaceWith blending") {
    val d = Seq((1L, "x", 10.0), (2L, "y", 20.0)).toDF("_id", "cat", "v")
    val out = UpdateCompiler.applyUpdatePipeline(d, col("v") >= 20.0,
      Seq(
        Map("$set" -> Map("v2" -> Map("$multiply" -> Seq("$v", 2)))),
        Map("$unset" -> "cat"),
        Map("$replaceWith" -> Map("kept" -> "$v2",
          "tag" -> Map("$literal" -> "rw")))))
    val rows = out.orderBy("_id").collect()
    val schema = out.columns.toSeq
    // matched row: cat nulled by $unset then whole doc replaced (id kept)
    val m = rows(1)
    assert(m.getLong(schema.indexOf("_id")) == 2L)
    assert(m.isNullAt(schema.indexOf("cat")))
    assert(m.isNullAt(schema.indexOf("v")))
    assert(m.getDouble(schema.indexOf("kept")) == 40.0)
    assert(m.getString(schema.indexOf("tag")) == "rw")
    // unmatched row fully preserved; replacement fields null
    val u = rows(0)
    assert(u.getString(schema.indexOf("cat")) == "x")
    assert(u.getDouble(schema.indexOf("v")) == 10.0)
    assert(u.isNullAt(schema.indexOf("kept")))
    assert(u.isNullAt(schema.indexOf("tag")))
  }

  test("pipeline update: $project and unknown stages are rejected") {
    val d = Seq((1L, 1.0)).toDF("_id", "v")
    val e1 = intercept[IllegalArgumentException] {
      UpdateCompiler.applyUpdatePipeline(d, lit(true),
        Seq(Map("$project" -> Map("v" -> 1))))
    }
    assert(e1.getMessage.contains("$unset"))
    val e2 = intercept[IllegalArgumentException] {
      UpdateCompiler.applyUpdatePipeline(d, lit(true),
        Seq(Map("$group" -> Map("_id" -> null))))
    }
    assert(e2.getMessage.contains("unsupported stage"))
  }

  test("every write tests the match as it stood before the update") {
    val d = Seq((1L, "x", 1), (2L, "y", 1)).toDF("_id", "cat", "n")
    def upd(u: Map[String, Any]) =
      UpdateCompiler.applyUpdate(d, $"cat" === "x", u)
        .orderBy("_id").as[(Long, String, Int)].collect().toSeq
    // the $set unmatches row 1 for a lazily re-read predicate; Mongo
    // still applies the $inc to the document the query matched
    assert(upd(scala.collection.immutable.ListMap(
      "$set" -> Map("cat" -> "done"), "$inc" -> Map("n" -> 1))) ==
      Seq((1L, "done", 2), (2L, "y", 1)))
    // the same within one operator: both fields of the $set
    assert(upd(Map("$set" -> scala.collection.immutable.ListMap(
      "cat" -> "done", "n" -> 5))) ==
      Seq((1L, "done", 5), (2L, "y", 1)))
    // and across a replacement document's fields
    assert(upd(scala.collection.immutable.ListMap(
      "cat" -> "done", "n" -> 5)) ==
      Seq((1L, "done", 5), (2L, "y", 1)))
    // the snapshot column never leaks into the result
    assert(UpdateCompiler.applyUpdate(d, $"cat" === "x",
      Map("$set" -> Map("cat" -> "done", "n" -> 5))).columns.toSeq ==
      Seq("_id", "cat", "n"))
  }
}
