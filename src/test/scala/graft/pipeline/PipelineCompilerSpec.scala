package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PipelineCompilerSpec extends SparkSpec {
  import spark.implicits._

  private def sales = Seq(
    ("a", 1, 10.0, Seq("x", "y")),
    ("a", 2, 20.0, Seq("y")),
    ("b", 3, 30.0, Seq.empty[String]),
    ("b", 4, 40.0, Seq("z"))).toDF("cat", "n", "amt", "tags")

  private def run(stages: Map[String, Any]*) =
    PipelineCompiler.compile(stages)(sales)

  test("$match + $group accumulators") {
    val out = run(
      Map("$match" -> Map("amt" -> Map("$gte" -> 20.0))),
      Map("$group" -> Map("_id" -> "$cat",
        "total" -> Map("$sum" -> "$amt"),
        "cnt" -> Map("$sum" -> 1),
        "top" -> Map("$max" -> "$n"))),
      Map("$sort" -> Map("_id" -> 1)))
    assert(out.collect().map(r => (r.getString(0), r.getDouble(1),
      r.getLong(2), r.getInt(3))).toSeq ==
      Seq(("a", 20.0, 1L, 2), ("b", 70.0, 2L, 4)))
  }

  test("$group _id null = global aggregation") {
    val out = run(Map("$group" -> Map("_id" -> null,
      "s" -> Map("$sum" -> "$amt"))))
    assert(out.select("s").as[Double].head() == 100.0)
  }

  test("embedded-doc literal builds a struct; dotted paths resolve into it") {
    val out = run(
      Map("$addFields" -> Map("nested" -> Map("c" -> "$cat", "n2" ->
        Map("$multiply" -> Seq("$n", 2))))),
      Map("$match" -> Map("nested.c" -> "a",
        "nested.n2" -> Map("$gte" -> 4))),
      Map("$project" -> Map("n" -> 1)))
    assert(out.as[Int].collect().toSeq == Seq(2))
  }

  test("$top/$topN/$bottom/$bottomN/$minN/$maxN accumulators") {
    val out = run(Map("$group" -> Map("_id" -> "$cat",
      "best" -> Map("$top" -> Map("output" -> "$n",
        "sortBy" -> Map("amt" -> -1))),
      "worst" -> Map("$bottom" -> Map("output" -> "$n",
        "sortBy" -> Map("amt" -> -1))),
      "top2" -> Map("$topN" -> Map("output" -> "$n",
        "sortBy" -> Map("amt" -> -1), "n" -> 2)),
      "bot1" -> Map("$bottomN" -> Map("output" -> "$n",
        "sortBy" -> Map("amt" -> 1), "n" -> 1)),
      "small" -> Map("$minN" -> Map("input" -> "$amt", "n" -> 1)),
      "big" -> Map("$maxN" -> Map("input" -> "$amt", "n" -> 2)))),
      Map("$sort" -> Map("_id" -> 1)))
    val rows = out.collect()
    val a = rows(0)
    // cat a: rows (n=1, amt=10), (n=2, amt=20)
    assert(a.getInt(a.fieldIndex("best")) == 2)   // highest amt
    assert(a.getInt(a.fieldIndex("worst")) == 1)  // lowest amt (desc order last)
    assert(a.getSeq[Int](a.fieldIndex("top2")) == Seq(2, 1))
    assert(a.getSeq[Int](a.fieldIndex("bot1")) == Seq(2)) // asc order, last 1
    assert(a.getSeq[Double](a.fieldIndex("small")) == Seq(10.0))
    assert(a.getSeq[Double](a.fieldIndex("big")) == Seq(20.0, 10.0))
  }

  test("$firstN/$lastN group accumulators: encounter-order prefix/suffix") {
    val out = run(
      Map("$sort" -> Map("n" -> 1)),
      Map("$group" -> Map("_id" -> "$cat",
        "f2" -> Map("$firstN" -> Map("input" -> "$n", "n" -> 2)),
        "l1" -> Map("$lastN" -> Map("input" -> "$n", "n" -> 1)),
        "l9" -> Map("$lastN" -> Map("input" -> "$n", "n" -> 9)))),
      Map("$sort" -> Map("_id" -> 1)))
    val a = out.collect()(0)
    assert(a.getSeq[Int](a.fieldIndex("f2")) == Seq(1, 2))
    assert(a.getSeq[Int](a.fieldIndex("l1")) == Seq(2))
    assert(a.getSeq[Int](a.fieldIndex("l9")) == Seq(1, 2)) // n > size
  }

  test("$median / $percentile are exact; $sortArray orders both ways") {
    val out = run(Map("$group" -> Map("_id" -> null,
      "med" -> Map("$median" -> Map("input" -> "$amt")),
      "ps" -> Map("$percentile" -> Map("input" -> "$amt",
        "p" -> Seq(0.25, 0.75))))))
    val r = out.head()
    assert(r.getDouble(0) == 25.0) // 10,20,30,40 -> interpolated 25
    assert(r.getSeq[Double](1) == Seq(17.5, 32.5))
    val arr = Seq(Tuple1(Seq(3, 1, 2))).toDF("xs")
    val s2 = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "asc" -> Map("$sortArray" -> Map("input" -> "$xs", "sortBy" -> 1)),
      "desc" -> Map("$sortArray" -> Map("input" -> "$xs",
        "sortBy" -> -1))))))(arr)
    val r2 = s2.select("asc", "desc").head()
    assert(r2.getSeq[Int](0) == Seq(1, 2, 3) &&
      r2.getSeq[Int](1) == Seq(3, 2, 1))
  }

  test("covariance and bitwise accumulators") {
    val d2 = Seq((1, 2, 6), (1, 4, 3), (2, 8, 5)).toDF("g", "x", "y")
    val out = PipelineCompiler.compile(Seq(
      Map("$group" -> Map("_id" -> "$g",
        "cv" -> Map("$covariancePop" -> Seq("$x", "$y")),
        "cs" -> Map("$covarianceSamp" -> Seq("$x", "$y")),
        "ba" -> Map("$bitAnd" -> "$x"),
        "bo" -> Map("$bitOr" -> "$x"),
        "bx" -> Map("$bitXor" -> "$x"))),
      Map("$sort" -> Map("_id" -> 1))))(d2)
    val r = out.head() // group 1: x=(2,4), y=(6,3)
    assert(r.getDouble(r.fieldIndex("cv")) == -1.5)
    assert(r.getDouble(r.fieldIndex("cs")) == -3.0)
    assert(r.getInt(r.fieldIndex("ba")) == 0) // 2 & 4
    assert(r.getInt(r.fieldIndex("bo")) == 6) // 2 | 4
    assert(r.getInt(r.fieldIndex("bx")) == 6) // 2 ^ 4
  }

  test("$match with $expr evaluates aggregation predicates") {
    // cross-field comparison (amt = 10n for every row, so amt >= 10n holds
    // everywhere and amt > 10n nowhere)
    val all = run(Map("$match" -> Map("$expr" ->
      Map("$gte" -> Seq("$amt", Map("$multiply" -> Seq("$n", 10)))))))
    val none = run(Map("$match" -> Map("$expr" ->
      Map("$gt" -> Seq("$amt", Map("$multiply" -> Seq("$n", 10)))))))
    val evens = run(Map("$match" -> Map("$expr" ->
      Map("$eq" -> Seq(Map("$mod" -> Seq("$n", 2)), 0)))))
    assert(all.count() == 4 && none.count() == 0 && evens.count() == 2)
  }

  test("$group with only _id is the distinct idiom") {
    val out = run(Map("$group" -> Map("_id" -> "$cat")),
      Map("$sort" -> Map("_id" -> 1)))
    assert(out.columns.toSeq == Seq("_id"))
    assert(out.as[String].collect().toSeq == Seq("a", "b"))
    val compound = run(
      Map("$group" -> Map("_id" -> Map("c" -> "$cat"))))
    assert(compound.select("_id.c").distinct().count() == 2)
    assert(compound.count() == 2)
  }

  test("$group compound _id struct") {
    val out = run(Map("$group" -> Map(
      "_id" -> Map("c" -> "$cat", "parity" -> Map("$mod" -> Seq("$n", 2))),
      "cnt" -> Map("$count" -> Map.empty))))
    assert(out.count() == 4)
    assert(out.schema("_id").dataType.typeName == "struct")
  }

  test("$project include / exclude / computed") {
    assert(run(Map("$project" -> Map("cat" -> 1, "n" -> 1))).columns.toSeq
      == Seq("cat", "n"))
    assert(run(Map("$project" -> Map("tags" -> 0))).columns.toSeq
      == Seq("cat", "n", "amt"))
    val computed = run(Map("$project" -> Map(
      "cat" -> 1, "double_amt" -> Map("$multiply" -> Seq("$amt", 2)))))
    assert(computed.where($"cat" === "b").agg(sum("double_amt"))
      .as[Double].head() == 140.0)
  }

  test("$unwind explodes and drops empties") {
    val out = run(Map("$unwind" -> "$tags"))
    assert(out.count() == 4) // "b",3 row with [] disappears
    assert(out.where($"tags" === "y").count() == 2)
  }

  test("$sort / $limit / $skip") {
    val out = run(Map("$sort" -> Map("amt" -> -1)), Map("$skip" -> 1),
      Map("$limit" -> 2))
    assert(out.select("n").as[Int].collect().toSeq == Seq(3, 2))
  }

  test("$count") {
    assert(run(Map("$count" -> "total")).select("total").as[Long].head() == 4)
  }

  test("$sortByCount") {
    val out = run(Map("$unwind" -> "$tags"), Map("$sortByCount" -> "$tags"))
    assert(out.head().getString(0) == "y")
    assert(out.head().getLong(1) == 2)
  }

  test("$lookup + $unwind flattens a join") {
    val dims = Seq(("a", "Alpha"), ("b", "Beta")).toDF("key", "label")
    val out = PipelineCompiler.compile(Seq(
      Map("$lookup" -> Map("from" -> "dims", "localField" -> "cat",
        "foreignField" -> "key", "as" -> "d")),
      Map("$unwind" -> "$d"),
      Map("$project" -> Map("n" -> 1, "label" -> "$d.label"))),
      tables = { case "dims" => dims })(sales)
    assert(out.where($"label" === "Beta").select("n").as[Int]
      .collect().sorted.toSeq == Seq(3, 4))
  }

  test("$lookup keeps unmatched rows with empty arrays") {
    val dims = Seq(("a", "Alpha")).toDF("key", "label")
    val out = PipelineCompiler.compile(Seq(
      Map("$lookup" -> Map("from" -> "dims", "localField" -> "cat",
        "foreignField" -> "key", "as" -> "d"))),
      tables = { case "dims" => dims })(sales)
    assert(out.where($"cat" === "b").select(size($"d")).as[Int]
      .collect().toSeq == Seq(0, 0))
  }

  test("$lookup array localField: membership semantics, hash join only") {
    val dims = Seq(("x", "X1"), ("y", "Y1"), ("z", "Z1"))
      .toDF("key", "label")
    val out = PipelineCompiler.compile(Seq(
      Map("$lookup" -> Map("from" -> "dims", "localField" -> "tags",
        "foreignField" -> "key", "as" -> "d"))),
      tables = { case "dims" => dims })(sales)
    val byN = out.select($"n", size($"d")).as[(Int, Int)].collect().toMap
    // ["x","y"] matches 2 docs, ["y"] 1, [] 0, ["z"] 1
    assert(byN == Map(1 -> 2, 2 -> 1, 3 -> 0, 4 -> 1))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"))
  }

  test("fused $lookup+$unwind over an array localField") {
    val dims = Seq(("x", "X1"), ("y", "Y1")).toDF("key", "label")
    val out = PipelineCompiler.compile(Seq(
      Map("$lookup" -> Map("from" -> "dims", "localField" -> "tags",
        "foreignField" -> "key", "as" -> "d")),
      Map("$unwind" -> "$d"),
      Map("$project" -> Map("n" -> 1, "label" -> "$d.label"))),
      tables = { case "dims" => dims })(sales)
    assert(out.select($"n", $"label").as[(Int, String)]
      .collect().sorted.toSeq == Seq((1, "X1"), (1, "Y1"), (2, "Y1")))
  }

  test("preserving $unwind over array-localField $lookup: no null row " +
      "per unmatched element") {
    val dims = Seq(("x", "X1")).toDF("key", "label")
    val out = PipelineCompiler.compile(Seq(
      Map("$lookup" -> Map("from" -> "dims", "localField" -> "tags",
        "foreignField" -> "key", "as" -> "d")),
      Map("$unwind" -> Map("path" -> "$d",
        "preserveNullAndEmptyArrays" -> true))),
      tables = { case "dims" => dims })(sales)
    // n=1 has tags [x,y]: only x matches -> exactly ONE output row (a
    // naive exploded left join would add a null row for unmatched y);
    // unmatched rows keep one row with a null d
    assert(out.groupBy($"n").count().as[(Int, Long)].collect().toMap ==
      Map(1 -> 1L, 2 -> 1L, 3 -> 1L, 4 -> 1L))
    assert(out.where($"n" === 1).select($"d.label").as[String]
      .head() == "X1")
    assert(out.where($"n" === 2).select($"d").collect().head.isNullAt(0))
  }

  test("$lookup dotted localField through an array of structs") {
    // Mongo resolves "items.k" across the array elements; the extracted
    // value array then joins by membership
    val orders = Seq(
      (1, Seq(("x", 1), ("y", 2))),
      (2, Seq(("z", 3)))).toDF("oid", "items")
      .selectExpr("oid",
        "transform(items, e -> named_struct('k', e._1, 'qty', e._2)) " +
          "AS items")
    val dims = Seq(("x", "X1"), ("z", "Z1")).toDF("key", "label")
    val out = PipelineCompiler.compile(Seq(
      Map("$lookup" -> Map("from" -> "dims", "localField" -> "items.k",
        "foreignField" -> "key", "as" -> "d"))),
      tables = { case "dims" => dims })(orders)
    assert(out.select($"oid", size($"d")).as[(Int, Int)]
      .collect().toMap == Map(1 -> 1, 2 -> 1))
  }

  test("$lookup array foreignField: scalar local joins by membership") {
    val dims = Seq((Seq("a", "b"), "AB"), (Seq("b"), "B2"))
      .toDF("keys", "label")
    val out = PipelineCompiler.compile(Seq(
      Map("$lookup" -> Map("from" -> "dims", "localField" -> "cat",
        "foreignField" -> "keys", "as" -> "d"))),
      tables = { case "dims" => dims })(sales)
    val byCat = out.select($"cat", size($"d")).distinct()
      .as[(String, Int)].collect().toMap
    assert(byCat == Map("a" -> 1, "b" -> 2))
  }

  test("$lookup array-to-array: doc sharing two elements matches once") {
    val dims = Seq((Seq("x", "y"), "XY"), (Seq("z", "w"), "ZW"))
      .toDF("keys", "label")
    val out = PipelineCompiler.compile(Seq(
      Map("$lookup" -> Map("from" -> "dims", "localField" -> "tags",
        "foreignField" -> "keys", "as" -> "d"))),
      tables = { case "dims" => dims })(sales)
    val byN = out.select($"n", size($"d")).as[(Int, Int)].collect().toMap
    // tags ["x","y"] shares BOTH elements with XY -> still one match
    assert(byN == Map(1 -> 1, 2 -> 1, 3 -> 0, 4 -> 1))
  }

  test("$addFields + expression language") {
    val out = run(Map("$addFields" -> Map(
      "label" -> Map("$cond" -> Seq(Map("$gte" -> Seq("$amt", 25.0)),
        "big", "small")),
      "upper" -> Map("$toUpper" -> "$cat"))))
    assert(out.where($"label" === "big").count() == 2)
    assert(out.select("upper").as[String].collect().toSet == Set("A", "B"))
  }

  test("$replaceRoot") {
    val nested = sales.select(struct($"cat", $"n").as("sub"))
    val out = PipelineCompiler.compile(Seq(
      Map("$replaceRoot" -> Map("newRoot" -> "$sub"))))(nested)
    assert(out.columns.toSeq == Seq("cat", "n"))
  }

  test("$facet: every sub-pipeline over the same input, one output row") {
    val out = run(Map("$facet" -> Map(
      "byCat" -> Seq(
        Map("$group" -> Map("_id" -> "$cat",
          "total" -> Map("$sum" -> "$amt"))),
        Map("$sort" -> Map("_id" -> 1))),
      "big" -> Seq(
        Map("$match" -> Map("amt" -> Map("$gte" -> 30.0))),
        Map("$project" -> Map("n" -> 1))))))
    assert(out.count() == 1)
    val row = out.head()
    val byCat = row.getSeq[org.apache.spark.sql.Row](
      out.columns.indexOf("byCat"))
    // collect_list order after a global agg is not a contract — compare as
    // a sorted set of (key, total)
    assert(byCat.map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1) ==
      Seq(("a", 30.0), ("b", 70.0)))
    val big = row.getSeq[org.apache.spark.sql.Row](out.columns.indexOf("big"))
    assert(big.map(_.getInt(0)).sorted == Seq(3, 4))
  }

  test("$lookup pipeline form: correlated $eq + row-local stages, one join") {
    val from = Seq(("a", 1, "keep"), ("a", 2, "drop"), ("b", 3, "keep"))
      .toDF("cat", "v", "flag")
    val out = PipelineCompiler.compile(
      Seq(Map("$lookup" -> Map(
        "from" -> "other",
        "let" -> Map("c" -> "$cat"),
        "pipeline" -> Seq(
          Map("$match" -> Map("$expr" ->
            Map("$eq" -> Seq("$cat", "$$c")))),
          Map("$match" -> Map("flag" -> "keep")),
          Map("$project" -> Map("v" -> 1))),
        "as" -> "joined"))),
      tables = _ => from)(sales)
    val got = out.select($"cat", $"n",
      expr("transform(joined, x -> x.v)").as("vs"))
      .as[(String, Int, Seq[Int])].collect()
      .map { case (c, n, vs) => (c, n, vs.sorted) }.toSet
    assert(got == Set(("a", 1, Seq(1)), ("a", 2, Seq(1)),
      ("b", 3, Seq(3)), ("b", 4, Seq(3))))
  }

  test("$lookup pipeline form rejects correlated non-$eq / non-local stages") {
    intercept[IllegalArgumentException] {
      PipelineCompiler.compile(
        Seq(Map("$lookup" -> Map("from" -> "t", "let" -> Map("c" -> "$cat"),
          "pipeline" -> Seq(
            Map("$match" -> Map("$expr" ->
              Map("$lt" -> Seq("$v", "$$c"))))),
          "as" -> "j"))), tables = _ => sales)(sales).collect()
    }
    intercept[IllegalArgumentException] {
      PipelineCompiler.compile(
        Seq(Map("$lookup" -> Map("from" -> "t", "let" -> Map("c" -> "$cat"),
          "pipeline" -> Seq(
            Map("$match" -> Map("$expr" ->
              Map("$eq" -> Seq("$cat", "$$c")))),
            Map("$limit" -> 1)),
          "as" -> "j"))), tables = _ => sales)(sales).collect()
    }
  }

  test("$graphLookup walks ancestor chains as iterated equi-joins") {
    // parent chain: 0 <- 1 <- 2 <- 3 (parent = id - 1), 9 isolated
    val nodes = Seq((0, -1, "root"), (1, 0, "a"), (2, 1, "b"), (3, 2, "c"),
      (9, 7, "orphan")).toDF("id", "parent", "name")
    val out = PipelineCompiler.compile(
      Seq(Map("$graphLookup" -> Map(
        "from" -> "nodes",
        "startWith" -> "$parent",
        "connectFromField" -> "parent",
        "connectToField" -> "id",
        "as" -> "ancestors",
        "depthField" -> "d"))),
      tables = _ => nodes)(nodes)
    val got = out.select($"id",
      expr("sort_array(transform(ancestors, x -> x.id))").as("anc"),
      expr("sort_array(transform(ancestors, x -> struct(x.id, x.d)))")
        .as("depths"))
      .orderBy("id").collect()
    assert(got.map(r => (r.getInt(0), r.getSeq[Int](1))).toSeq ==
      Seq((0, Nil), (1, Seq(0)), (2, Seq(0, 1)), (3, Seq(0, 1, 2)),
        (9, Nil)))
    // depth counts hops from the start value: node 3's ancestors 2,1,0 at
    // depth 0,1,2
    val d3 = got(3).getSeq[org.apache.spark.sql.Row](2)
      .map(r => (r.getInt(0), r.getInt(1)))
    assert(d3.toSet == Set((2, 0), (1, 1), (0, 2)))
  }

  test("$graphLookup respects maxDepth and array startWith") {
    val nodes = Seq((0, -1), (1, 0), (2, 1), (3, 2)).toDF("id", "parent")
    val capped = PipelineCompiler.compile(
      Seq(Map("$graphLookup" -> Map(
        "from" -> "nodes", "startWith" -> "$parent",
        "connectFromField" -> "parent", "connectToField" -> "id",
        "as" -> "anc", "maxDepth" -> 1))),
      tables = _ => nodes)(nodes)
    val anc3 = capped.where($"id" === 3)
      .select(expr("sort_array(transform(anc, x -> x.id))"))
      .as[Seq[Int]].head()
    assert(anc3 == Seq(1, 2)) // depth 0 and 1 only, not the root
    val multi = Seq((100, Seq(0, 2))).toDF("id", "starts")
    val fan = PipelineCompiler.compile(
      Seq(Map("$graphLookup" -> Map(
        "from" -> "nodes", "startWith" -> "$starts",
        "connectFromField" -> "parent", "connectToField" -> "id",
        "as" -> "hit", "maxDepth" -> 0))),
      tables = _ => nodes)(multi)
    assert(fan.select(expr("sort_array(transform(hit, x -> x.id))"))
      .as[Seq[Int]].head() == Seq(0, 2))
  }

  test("$$NOW is run-constant; $$REMOVE nulls conditionally, drops directly") {
    val d = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val now = PipelineCompiler.compile(Seq(
      Map("$set" -> Map("t" -> "$$NOW"))))(d)
      .select("t").collect().map(_.getTimestamp(0))
    assert(now(0) == now(1)) // same instant for every document
    // conditional $$REMOVE → null (columnar absent-field stance)
    val cond = PipelineCompiler.compile(Seq(
      Map("$set" -> Map("v" -> Map("$cond" ->
        Seq(Map("$eq" -> Seq("$id", 1)), "$$REMOVE", "$v"))))))(d)
      .orderBy("id").select("v").collect()
    assert(cond(0).isNullAt(0) && cond(1).getString(0) == "b")
    // direct form drops the column
    val dropped = PipelineCompiler.compile(Seq(
      Map("$set" -> Map("v" -> "$$REMOVE"))))(d)
    assert(dropped.columns.toSeq == Seq("id"))
    // …also in the $$ROOT-snapshot branch (a sibling key references the
    // doc variable): the field is dropped, not kept as null
    val snapDropped = PipelineCompiler.compile(Seq(
      Map("$set" -> Map("copy" -> "$$ROOT.id", "v" -> "$$REMOVE"))))(d)
    assert(snapDropped.columns.toSeq == Seq("id", "copy"))
    val err = intercept[IllegalArgumentException] {
      PipelineCompiler.compile(Seq(
        Map("$set" -> Map("t" -> "$$CLUSTER_TIME"))))(d).collect()
    }
    assert(err.getMessage.contains("$$NOW"))
  }

  test("$setWindowFields/$fill dotted output fields write nested members") {
    val d = Seq((1L, ("a", 1.0)), (2L, ("a", 3.0)))
      .toDF("id", "info")
      .select($"id", $"info".cast("struct<grp:string,v:double>"))
    val w = PipelineCompiler.compile(Seq(
      Map("$setWindowFields" -> Map(
        "partitionBy" -> "$info.grp",
        "sortBy" -> Map("id" -> 1),
        "output" -> Map("info.rk" -> Map("$rank" -> Map()))))))(d)
    assert(w.schema.fieldNames.toSeq == Seq("id", "info"))
    assert(w.orderBy("id").select("info.rk").as[Int].collect().toSeq ==
      Seq(1, 2))
    val f = PipelineCompiler.compile(Seq(
      Map("$set" -> Map("info.w" -> Map("$cond" ->
        Seq(Map("$eq" -> Seq("$id", 1)), null, 7.0)))),
      Map("$fill" -> Map("output" ->
        Map("info.w" -> Map("value" -> 0.5))))))(d)
    assert(f.orderBy("id").select("info.w").as[Double].collect().toSeq ==
      Seq(0.5, 7.0))
  }

  test("$set with dotted targets writes nested members, not flat names") {
    val d = Seq((1L, ("x", 2.0))).toDF("id", "info")
      .select($"id", $"info".cast("struct<name:string,v:double>"))
    val out = PipelineCompiler.compile(Seq(
      Map("$set" -> Map(
        "info.v" -> Map("$multiply" -> Seq("$info.v", 10)),
        "meta.src.kind" -> Map("$literal" -> "doc")))))(d)
    assert(out.schema.fieldNames.toSeq == Seq("id", "info", "meta"))
    assert(out.select("info.v").as[Double].head() == 20.0)
    assert(out.select("info.name").as[String].head() == "x")
    assert(out.select("meta.src.kind").as[String].head() == "doc")
  }

  test("pipeline $project/$unset resolve dotted paths into structs") {
    val d = Seq((1L, ("x", 2.0))).toDF("id", "info")
      .select($"id", $"info".cast("struct<name:string,v:double>"))
    // dotted inclusion rebuilds the nested shape, not a flat "info.name"
    val p1 = PipelineCompiler.compile(Seq(
      Map("$project" -> Map("id" -> 1, "info.name" -> 1))))(d)
    assert(p1.schema.fieldNames.toSeq == Seq("id", "info"))
    assert(p1.select("info.name").as[String].head() == "x")
    assert(!p1.select("info.*").columns.contains("v"))
    // dotted exclusion drops the nested member only
    val p2 = PipelineCompiler.compile(Seq(
      Map("$project" -> Map("info.v" -> 0))))(d)
    assert(p2.select("info.*").columns.toSeq == Seq("name"))
    // dotted $unset = same removal
    val p3 = PipelineCompiler.compile(Seq(Map("$unset" -> "info.v")))(d)
    assert(p3.select("info.*").columns.toSeq == Seq("name"))
    // expression values on dotted targets are rejected with guidance
    val e = intercept[IllegalArgumentException] {
      PipelineCompiler.compile(Seq(
        Map("$project" -> Map("info.name" -> Map("$toUpper" -> "$id")))))(d)
    }
    assert(e.getMessage.contains("$set"))
  }

  test("$lookup concise correlated form: equality + row-local pipeline") {
    val orders = Seq((1L, "a"), (2L, "b")).toDF("oid", "tag")
    val items = Seq((1L, "x", 5), (1L, "y", 50), (2L, "z", 7))
      .toDF("oid", "sku", "qty")
    val out = PipelineCompiler.compile(
      Seq(Map("$lookup" -> Map(
        "from" -> "items", "localField" -> "oid",
        "foreignField" -> "oid", "as" -> "its",
        "pipeline" -> Seq(
          Map("$match" -> Map("qty" -> Map("$lt" -> 10))),
          Map("$project" -> Map("sku" -> 1, "oid" -> 1)))))),
      tables = _ => items)(orders)
    val got = out.orderBy("oid")
      .select(expr("transform(its, x -> x.sku)")).as[Seq[String]]
      .collect().toSeq
    assert(got == Seq(Seq("x"), Seq("z"))) // qty>=10 filtered pre-join
    // a $project that omits the join key still joins (Mongo joins before
    // the pipeline shapes docs — the key is kept internally)
    val noKey = PipelineCompiler.compile(
      Seq(Map("$lookup" -> Map(
        "from" -> "items", "localField" -> "oid",
        "foreignField" -> "oid", "as" -> "its",
        "pipeline" -> Seq(Map("$project" -> Map("sku" -> 1)))))),
      tables = _ => items)(orders)
    val gotNoKey = noKey.orderBy("oid")
      .select(expr("transform(its, x -> x.sku)")).as[Seq[String]]
      .collect().toSeq
    assert(gotNoKey == Seq(Seq("x", "y"), Seq("z")))
    assert(!noKey.columns.exists(_.startsWith("__graft")))
    assert(noKey.select(expr("its[0]")).schema.head.dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("sku"))
    val e = intercept[IllegalArgumentException] {
      PipelineCompiler.compile(
        Seq(Map("$lookup" -> Map(
          "from" -> "items", "localField" -> "oid",
          "foreignField" -> "oid", "as" -> "its",
          "pipeline" -> Seq(Map("$limit" -> 1))))),
        tables = _ => items)(orders)
    }
    assert(e.getMessage.contains("per-joined-group"))
  }

  test("$lookup concise form: let variables in a correlated $match") {
    val orders = Seq((1L, "a", 10), (2L, "b", 6)).toDF("oid", "tag", "cap")
    val items = Seq((1L, "x", 5), (1L, "y", 50), (2L, "z", 7))
      .toDF("oid", "sku", "qty")
    // keep only items whose qty is under the ORDER's cap (correlated on a
    // non-join field — exactly what let exists for)
    val out = PipelineCompiler.compile(
      Seq(Map("$lookup" -> Map(
        "from" -> "items", "localField" -> "oid",
        "foreignField" -> "oid", "as" -> "its",
        "let" -> Map("cap" -> "$cap"),
        "pipeline" -> Seq(
          Map("$match" -> Map("$expr" ->
            Map("$lt" -> Seq("$qty", "$$cap")))),
          Map("$project" -> Map("sku" -> 1)))))),
      tables = _ => items)(orders)
    val got = out.orderBy("oid")
      .select(expr("transform(its, x -> x.sku)")).as[Seq[String]]
      .collect().toSeq
    assert(got == Seq(Seq("x"), Nil)) // y:50>=10 out; z:7>=6 out
    assert(!out.columns.exists(_.startsWith("__graft")))
    // a correlated $match AFTER shaping is rejected with guidance
    val e2 = intercept[IllegalArgumentException] {
      PipelineCompiler.compile(
        Seq(Map("$lookup" -> Map(
          "from" -> "items", "localField" -> "oid",
          "foreignField" -> "oid", "as" -> "its",
          "let" -> Map("cap" -> "$cap"),
          "pipeline" -> Seq(
            Map("$project" -> Map("sku" -> 1)),
            Map("$match" -> Map("$expr" ->
              Map("$lt" -> Seq("$qty", "$$cap")))))))),
        tables = _ => items)(orders)
    }
    assert(e2.getMessage.contains("precede shaping"))
  }

  // $lookup parity table: every spelling × (grouped, + $unwind,
  // + preserving $unwind) × (no collation, strength-2 collation). The
  // reference for the unwound shapes is the grouped $lookup followed by
  // an $unwind with includeArrayIndex, which is never fused; the
  // expected matches pin the reference itself.
  private def lkOuter = Seq(
    (1L, "a", Seq("a", "B"), 40),
    (2L, "A", Seq("b"), 6),
    (3L, "c", Seq.empty[String], 100),
    (4L, "b", Seq("A", "a"), 100)).toDF("id", "k", "ks", "cap")
  private def lkForeign = Seq(
    (10L, "a", Seq("a", "b"), 5),
    (11L, "A", Seq("A"), 50),
    (12L, "b", Seq("c"), 7),
    (13L, "B", Seq("b", "B"), 30)).toDF("fid", "k", "ks", "qty")
  private val shaping = Seq(
    Map("$match" -> Map("qty" -> Map("$lt" -> 40))),
    Map("$project" -> Map("fid" -> 1)))
  // (form, $lookup spec, outer id -> matched fids: plain, collated)
  private val lookupForms: Seq[(String, Map[String, Any],
      Map[Long, Seq[Long]], Map[Long, Seq[Long]])] = Seq(
    ("equality",
      Map("localField" -> "k", "foreignField" -> "k"),
      Map(1L -> Seq(10L), 2L -> Seq(11L), 4L -> Seq(12L)),
      Map(1L -> Seq(10L, 11L), 2L -> Seq(10L, 11L), 4L -> Seq(12L, 13L))),
    ("array localField",
      Map("localField" -> "ks", "foreignField" -> "k"),
      Map(1L -> Seq(10L, 13L), 2L -> Seq(12L), 4L -> Seq(10L, 11L)),
      Map(1L -> Seq(10L, 11L, 12L, 13L), 2L -> Seq(12L, 13L),
        4L -> Seq(10L, 11L))),
    ("array foreignField",
      Map("localField" -> "k", "foreignField" -> "ks"),
      Map(1L -> Seq(10L), 2L -> Seq(11L), 3L -> Seq(12L),
        4L -> Seq(10L, 13L)),
      Map(1L -> Seq(10L, 11L), 2L -> Seq(10L, 11L), 3L -> Seq(12L),
        4L -> Seq(10L, 13L))),
    ("concise",
      Map("localField" -> "k", "foreignField" -> "k", "pipeline" -> shaping),
      Map(1L -> Seq(10L), 4L -> Seq(12L)),
      Map(1L -> Seq(10L), 2L -> Seq(10L), 4L -> Seq(12L, 13L))),
    ("concise + let",
      Map("localField" -> "k", "foreignField" -> "k",
        "let" -> Map("cap" -> "$cap"),
        "pipeline" -> Seq(
          Map("$match" -> Map("$expr" ->
            Map("$lt" -> Seq("$qty", "$$cap")))),
          Map("$project" -> Map("fid" -> 1)))),
      Map(1L -> Seq(10L), 4L -> Seq(12L)),
      Map(1L -> Seq(10L), 2L -> Seq(10L), 4L -> Seq(12L, 13L))),
    ("pipeline",
      Map("let" -> Map("lk" -> "$k"),
        "pipeline" -> (Map("$match" -> Map("$expr" ->
          Map("$eq" -> Seq("$k", "$$lk")))) +: shaping)),
      Map(1L -> Seq(10L), 4L -> Seq(12L)),
      Map(1L -> Seq(10L), 2L -> Seq(10L), 4L -> Seq(12L, 13L))),
    ("pipeline + let-correlated $match",
      Map("let" -> Map("lk" -> "$k", "cap" -> "$cap"),
        "pipeline" -> Seq(
          Map("$match" -> Map("$expr" -> Map("$eq" -> Seq("$k", "$$lk")))),
          Map("$match" -> Map("$expr" ->
            Map("$lt" -> Seq("$qty", "$$cap")))),
          Map("$project" -> Map("fid" -> 1)))),
      Map(1L -> Seq(10L), 4L -> Seq(12L)),
      Map(1L -> Seq(10L), 2L -> Seq(10L), 4L -> Seq(12L, 13L))))

  for ((form, spec, plainWant, collWant) <- lookupForms;
       collated <- Seq(false, true)) {
    test(s"$$lookup parity: $form, " +
        (if (collated) "strength-2 collation" else "no collation")) {
      val lk = Map("$lookup" ->
        (spec ++ Map("from" -> "f", "as" -> "m")))
      def run(stages: Map[String, Any]*) =
        graft.query.QueryCompiler.activeCollation.withValue(
          if (collated) Some(graft.query.Collation.parse(
            Map("locale" -> "en", "strength" -> 2))) else None) {
          PipelineCompiler.compile(stages, tables = _ => lkForeign)(lkOuter)
        }
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select($"id", $"m.fid").as[(Long, Option[Long])]
          .collect().toSeq.sorted
      def unwindRef(preserve: Boolean) = pairs(run(lk,
        Map("$unwind" -> Map("path" -> "$m", "includeArrayIndex" -> "i",
          "preserveNullAndEmptyArrays" -> preserve))).drop("i"))
      val want = if (collated) collWant else plainWant
      val wantPairs = want.toSeq
        .flatMap { case (id, fs) => fs.map(f => (id, Option(f))) }.sorted
      val grouped = run(lk)
        .select($"id", expr("sort_array(transform(m, x -> x.fid))"))
        .as[(Long, Seq[Long])].collect().toMap
      assert(grouped == (1L to 4L).map(i =>
        i -> want.getOrElse(i, Nil)).toMap)
      assert(unwindRef(false) == wantPairs)
      assert(pairs(run(lk, Map("$unwind" -> "$m"))) == wantPairs)
      val preserved = (wantPairs ++ (1L to 4L).filterNot(want.contains)
        .map(i => (i, Option.empty[Long]))).sorted
      assert(unwindRef(true) == preserved)
      assert(pairs(run(lk, Map("$unwind" -> Map("path" -> "$m",
        "preserveNullAndEmptyArrays" -> true)))) == preserved)
    }
  }

  test("$lookup whose `as` names an outer field replaces it in the " +
      "grouped and the fused $unwind shapes, also when it is the " +
      "localField") {
    val orders = Seq((1L, "a", Seq("a", "b"), 7), (2L, "b", Seq("b"), 8),
      (3L, "z", Seq.empty[String], 9)).toDF("oid", "cust", "tags", "other")
    val custs = Seq(("a", "Alpha"), ("b", "Beta")).toDF("key", "name")
    def run(stages: Map[String, Any]*) =
      PipelineCompiler.compile(stages, tables = _ => custs)(orders)
    def lk(local: String, as: String) = Map("$lookup" -> Map("from" -> "c",
      "localField" -> local, "foreignField" -> "key", "as" -> as))
    def names(df: org.apache.spark.sql.DataFrame, as: String) =
      df.select($"oid", expr(s"sort_array(transform($as, x -> x.name))"))
        .as[(Long, Seq[String])].collect().toSeq.sortBy(_._1)
    def unwound(df: org.apache.spark.sql.DataFrame, as: String) =
      df.select($"oid", col(s"$as.name")).as[(Long, Option[String])]
        .collect().toSeq.sorted
    val preserve = (as: String) => Map("$unwind" -> Map("path" -> s"$$$as",
      "preserveNullAndEmptyArrays" -> true))
    // scalar and array localField, each also the `as` field
    for ((local, want) <- Seq(
        "cust" -> Seq(1L -> Seq("Alpha"), 2L -> Seq("Beta"), 3L -> Nil),
        "tags" -> Seq(1L -> Seq("Alpha", "Beta"), 2L -> Seq("Beta"),
          3L -> Nil))) {
      val grouped = run(lk(local, local))
      assert(grouped.columns.count(_ == local) == 1 &&
        !grouped.columns.exists(_.startsWith("__lk")), local)
      assert(names(grouped, local) == want, local)
      val flat = want.flatMap { case (o, ns) => ns.map(n => (o, Option(n))) }
      assert(unwound(run(lk(local, local), Map("$unwind" -> s"$$$local")),
        local) == flat, local)
      val kept = run(lk(local, local), preserve(local))
      assert(kept.columns.count(_ == local) == 1, local)
      assert(unwound(kept, local) ==
        (flat :+ (3L -> Option.empty[String])).sorted, local)
    }
    // `as` names another outer field: the localField survives
    val other = run(lk("cust", "other"))
    assert(other.columns.count(_ == "other") == 1)
    assert(other.select("cust").as[String].collect().sorted.toSeq ==
      Seq("a", "b", "z"))
    assert(names(other, "other") ==
      Seq(1L -> Seq("Alpha"), 2L -> Seq("Beta"), 3L -> Nil))
    // pipeline form whose `let` reads the replaced field
    val piped = Map("$lookup" -> Map("from" -> "c",
      "let" -> Map("c" -> "$cust"), "as" -> "cust",
      "pipeline" -> Seq(Map("$match" -> Map("$expr" ->
        Map("$eq" -> Seq("$key", "$$c")))))))
    assert(names(run(piped), "cust") ==
      Seq(1L -> Seq("Alpha"), 2L -> Seq("Beta"), 3L -> Nil))
    assert(unwound(run(piped, Map("$unwind" -> "$cust")), "cust") ==
      Seq(1L -> Some("Alpha"), 2L -> Some("Beta")))
    // a fresh `as` adds one column and nothing else
    assert(run(lk("cust", "d")).columns.toSeq == orders.columns.toSeq :+ "d")
  }

  test("$__lookupUnwind is not a user stage") {
    val e = intercept[IllegalArgumentException] {
      PipelineCompiler.compile(Seq(Map("$__lookupUnwind" -> Map(
          "from" -> "f", "localField" -> "k", "foreignField" -> "k",
          "as" -> "m"))), tables = _ => lkForeign)(lkOuter)
    }
    assert(e.getMessage.contains("unsupported pipeline stage"))
  }

  test("spark.graft.skewSalt: salted plans return identical results") {
    val d = Seq((1L, "a", 5L), (2L, "a", 7L), (3L, "b", 1L), (4L, "a", 2L))
      .toDF("_id", "k", "v")
    val items = Seq(("a", 10L), ("a", 20L), ("b", 30L)).toDF("k", "q")
    val gp = Seq(Map("$group" -> (Map("_id" -> "$k",
      "s" -> Map("$sum" -> "$v"), "mn" -> Map("$min" -> "$v"),
      "mx" -> Map("$max" -> "$v"),
      "n" -> Map("$count" -> Map.empty[String, Any])): Map[String, Any])))
    val lk = Seq(
      Map("$lookup" -> (Map("from" -> "items", "localField" -> "k",
        "foreignField" -> "k", "as" -> "xs"): Map[String, Any])),
      Map("$project" -> Map("_id" -> 1,
        "n" -> Map("$size" -> "$xs"),
        "t" -> Map("$sum" -> "$xs.q"))))
    def runG() = PipelineCompiler.compile(gp)(d)
      .orderBy("_id").collect().toSeq
    def runL() = PipelineCompiler.compile(lk, _ => items)(d)
      .orderBy("_id").collect().toSeq
    val (plainG, plainL) = (runG(), runL())
    spark.conf.set("spark.graft.skewSalt", "4")
    try {
      assert(runG() == plainG)
      assert(runL() == plainL)
      // non-decomposable accumulators fall back to the plain plan and
      // still answer correctly
      val push = Seq(Map("$group" -> (Map("_id" -> "$k",
        "vs" -> Map("$push" -> "$v")): Map[String, Any])))
      val got = PipelineCompiler.compile(push)(d).orderBy("_id")
        .selectExpr("_id", "sort_array(vs) as vs").collect().toSeq
      assert(got.map(r => (r.getString(0), r.getSeq[Long](1))) ==
        Seq(("a", Seq(2L, 5L, 7L)), ("b", Seq(1L))))
    } finally spark.conf.unset("spark.graft.skewSalt")
  }

  test("$search phrase: analyzed-token adjacency, slop budget, ordering") {
    val d = Seq(
      (1L, "the stream filter runs"), // adjacent
      (2L, "stream the filter"),      // one-token gap
      (3L, "filter stream"),          // wrong order: never matches
      (4L, "streamfilter glued"),     // substring would match, tokens don't
      (5L, "stream x y filter"))      // three-token gap
      .toDF("doc_id", "text")
    def hits(slop: Int): Seq[Long] = PipelineCompiler.compile(Seq(
      Map("$search" -> Map("phrase" -> Map("query" -> "stream filter",
        "path" -> "text", "slop" -> slop))),
      Map("$project" -> Map("doc_id" -> 1))))(d)
      .orderBy("doc_id").select("doc_id").as[Long].collect().toSeq
    assert(hits(0) == Seq(1L))
    assert(hits(1) == Seq(1L, 2L))
    assert(hits(2) == Seq(1L, 2L, 5L))
    // occurrence count = number of valid start positions
    val occs = PipelineCompiler.compile(Seq(
      Map("$search" -> Map("phrase" ->
        Map("query" -> "a b", "path" -> "text"))),
      Map("$project" -> Map("doc_id" -> 1,
        "score" -> Map("$meta" -> "searchScore")))))(
      Seq((9L, "a b a b c")).toDF("doc_id", "text"))
      .select("score").as[Double].collect().toSeq
    assert(occs == Seq(2.0))
  }

  test("$search phrase under lucene.standard matches punctuated text") {
    val d = Seq((1L, "Stream, filter! done"), (2L, "stream nothing"))
      .toDF("doc_id", "text")
    val out = PipelineCompiler.compile(Seq(
      Map("$search" -> Map("analyzer" -> "lucene.standard",
        "phrase" -> Map("query" -> "stream filter", "path" -> "text"))),
      Map("$project" -> Map("doc_id" -> 1))))(d)
      .select("doc_id").as[Long].collect().toSeq
    assert(out == Seq(1L))
  }

  test("$search multi-field paths: phrase occurrences and near scores sum") {
    val d = Seq(
      (1L, "alpha beta", "beta gamma", 10L),
      (2L, "alpha beta alpha beta", "none here", 20L),
      (3L, "nothing", "alpha beta", 30L))
      .toDF("doc_id", "title", "body", "n")
    // phrase across [title, body]: per-field occurrences sum
    val ph = PipelineCompiler.compile(Seq(
      Map("$search" -> Map("phrase" -> Map(
        "query" -> "alpha beta", "path" -> Seq("title", "body")))),
      Map("$project" -> Map("doc_id" -> 1,
        "score" -> Map("$meta" -> "searchScore")))))(d)
      .orderBy("doc_id").select("doc_id", "score")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(ph == Seq((1L, 1.0), (2L, 2.0), (3L, 1.0)))
    // near across [n, doc_id]: per-field proximity scores sum
    val nr = PipelineCompiler.compile(Seq(
      Map("$search" -> Map("near" -> Map(
        "path" -> Seq("n", "doc_id"), "origin" -> 10, "pivot" -> 10))),
      Map("$project" -> Map("doc_id" -> 1,
        "score" -> Map("$meta" -> "searchScore")))))(d)
      .orderBy("doc_id").select("doc_id", "score")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(nr.head._1 == 1L &&
      math.abs(nr.head._2 - (10.0 / 10 + 10.0 / 19)) < 1e-12)
    assert(math.abs(nr(1)._2 - (10.0 / 20 + 10.0 / 18)) < 1e-12)
  }

  test("$search analyzer: keyword exact-field, multi path, rejects unknown") {
    val d = Seq((1L, "en"), (2L, "en GB")).toDF("doc_id", "lang")
    // keyword: the WHOLE field is one token — "en GB" does not match
    val kw = PipelineCompiler.compile(Seq(
      Map("$search" -> Map("analyzer" -> "lucene.keyword",
        "text" -> Map("query" -> "en", "path" -> "lang"))),
      Map("$project" -> Map("doc_id" -> 1))))(d)
      .select("doc_id").as[Long].collect().toSeq
    assert(kw == Seq(1L))
    // default whitespace analyzer token-matches "en" inside "en GB"
    val ws = PipelineCompiler.compile(Seq(
      Map("$search" -> Map("text" ->
        Map("query" -> "en", "path" -> "lang"))),
      Map("$project" -> Map("doc_id" -> 1))))(d)
      .orderBy("doc_id").select("doc_id").as[Long].collect().toSeq
    assert(ws == Seq(1L, 2L))
    // per-leg multi override beats the stage default
    val multi = PipelineCompiler.compile(Seq(
      Map("$search" -> Map("analyzer" -> "lucene.whitespace",
        "text" -> Map("query" -> "en",
          "path" -> Map("value" -> "lang", "multi" -> "lucene.keyword")))),
      Map("$project" -> Map("doc_id" -> 1))))(d)
      .select("doc_id").as[Long].collect().toSeq
    assert(multi == Seq(1L))
    val e = intercept[IllegalArgumentException] {
      PipelineCompiler.compile(Seq(
        Map("$search" -> Map("analyzer" -> "lucene.finnish",
          "text" -> Map("query" -> "en", "path" -> "lang")))))(d)
    }
    assert(e.getMessage.contains("unsupported"))
  }

  test("$graphLookup restrictSearchWithMatch filters traversable docs") {
    val nodes = Seq((0, -1, true), (1, 0, true), (2, 1, false),
      (3, 2, true)).toDF("id", "parent", "ok")
    // node 2 is not traversable: 3's walk stops there (2 excluded AND
    // nothing beyond it is reachable)
    val out = PipelineCompiler.compile(
      Seq(Map("$graphLookup" -> Map(
        "from" -> "nodes", "startWith" -> "$parent",
        "connectFromField" -> "parent", "connectToField" -> "id",
        "as" -> "anc",
        "restrictSearchWithMatch" -> Map("ok" -> true)))),
      tables = _ => nodes)(nodes)
    val got = out.select($"id",
      expr("sort_array(transform(anc, x -> x.id))").as("a"))
      .orderBy("id").collect()
      .map(r => (r.getInt(0), r.getSeq[Int](1))).toSeq
    assert(got == Seq((0, Nil), (1, Seq(0)), (2, Seq(0, 1)),
      (3, Nil)))
  }

  test("$setWindowFields compiles to Spark window functions") {
    val out = run(Map("$setWindowFields" -> Map(
      "partitionBy" -> "$cat",
      "sortBy" -> Map("n" -> 1),
      "output" -> Map(
        "rank" -> Map("$rank" -> Map.empty),
        "running" -> Map("$sum" -> "$amt",
          "window" -> Map("documents" -> Seq("unbounded", "current"))),
        "prev" -> Map("$shift" -> Map("output" -> "$n", "by" -> -1,
          "default" -> -1))))))
    val got = out.select($"cat", $"n", $"rank", $"running", $"prev")
      .orderBy("cat", "n")
      .as[(String, Int, Int, Double, Int)].collect().toSeq
    assert(got == Seq(
      ("a", 1, 1, 10.0, -1), ("a", 2, 2, 30.0, 1),
      ("b", 3, 1, 30.0, -1), ("b", 4, 2, 70.0, 3)))
  }

  test("$score sets the score meta; weight + normalization apply") {
    val out = run(
      Map("$score" -> Map(
        "score" -> "$amt", "normalization" -> "minMaxScaler",
        "weight" -> 0.5)),
      Map("$project" -> Map("n" -> 1, "sc" -> Map("$meta" -> "score"))))
      .orderBy("n").select($"n", $"sc")
      .as[(Int, Double)].collect().toSeq
    // amt 10..40 scales to 0..1, halved by the weight
    assert(out == Seq((1, 0.0), (2, 0.5 / 3), (3, 1.0 / 3), (4, 0.5)))
    val sig = run(
      Map("$score" -> Map("score" -> 0, "normalization" -> "sigmoid")),
      Map("$project" -> Map("sc" -> Map("$meta" -> "score"))))
      .select($"sc").as[Double].head()
    assert(sig == 0.5)
    intercept[IllegalArgumentException] {
      run(Map("$score" -> Map("score" -> "$amt", "weight" -> 1.5)))
    }
  }

  test("$score feeds $scoreFusion as a scoring sub-pipeline") {
    val out = run(Map("$scoreFusion" -> Map(
      "key" -> "n",
      "input" -> Map("pipelines" -> Map(
        "amt" -> Seq(Map("$score" -> Map("score" -> "$amt",
          "normalization" -> "minMaxScaler")), Map("$limit" -> 4)),
        "inv" -> Seq(Map("$score" -> Map("score" ->
          Map("$multiply" -> Seq("$n", -1.0)),
          "normalization" -> "minMaxScaler")), Map("$limit" -> 4)))),
      "combination" -> Map("method" -> "sum"))))
      .select($"n", $"__searchScore").as[(Int, Double)]
      .collect().toMap
    // n=1: amt-scaled 0 + inv-scaled 1; n=4: amt 1 + inv 0
    assert(out(1) == 1.0 && out(4) == 1.0)
    assert(out(2) == 1.0 / 3 + 2.0 / 3 && out(3) == 2.0 / 3 + 1.0 / 3)
  }

  test("$search regex/near/fuzzy legs") {
    val docs = Seq((1L, "alpha query beta", 100L),
      (2L, "quary gamma", 300L), (3L, "nothing here", 310L))
      .toDF("doc_id", "text", "n")
    def search(opDoc: Map[String, Any]) =
      PipelineCompiler.compile(Seq(Map("$search" -> opDoc),
        Map("$project" -> Map("doc_id" -> 1,
          "sc" -> Map("$meta" -> "searchScore")))))(docs)
    // regex matches analyzed terms, anchored
    val rx = search(Map("regex" -> Map("query" -> "qu.r[ya]",
      "path" -> "text"))).select("doc_id").as[Long].collect().sorted
    assert(rx.toSeq == Seq(1L, 2L)) // query, quary; not "nothing"
    // near: pivot/(pivot+|x-origin|), matches all non-null rows
    val nr = search(Map("near" -> Map("path" -> "n", "origin" -> 300,
      "pivot" -> 100))).select($"doc_id", $"sc".cast("double"))
      .as[(Long, Double)].collect().toMap
    assert(nr(2L) == 1.0 && nr(3L) == 100.0 / 110.0 &&
      nr(1L) == 100.0 / 300.0)
    // fuzzy: levenshtein(token, term) <= maxEdits counts as a hit
    val fz = search(Map("text" -> Map("query" -> "query", "path" -> "text",
      "fuzzy" -> Map("maxEdits" -> 1))))
      .select("doc_id").as[Long].collect().sorted
    assert(fz.toSeq == Seq(1L, 2L)) // quary is 1 edit from query
    val exact = search(Map("text" -> Map("query" -> "query",
      "path" -> "text"))).select("doc_id").as[Long].collect()
    assert(exact.toSeq == Seq(1L))
  }

  test("$search moreLikeThis and queryString legs") {
    val docs = Seq((1L, "alpha query beta", "en"),
      (2L, "alpha gamma", "de"), (3L, "unrelated words", "en"))
      .toDF("doc_id", "text", "lang")
    def search(opDoc: Map[String, Any]) =
      PipelineCompiler.compile(Seq(Map("$search" -> opDoc),
        Map("$project" -> Map("doc_id" -> 1))))(docs)
    // moreLikeThis: like-doc terms drive a BM25 text query
    val mlt = search(Map("moreLikeThis" -> Map(
      "like" -> Seq(Map("text" -> "alpha beta")), "path" -> "text")))
      .select("doc_id").as[Long].collect().sorted
    assert(mlt.toSeq == Seq(1L, 2L)) // both contain 'alpha'
    // queryString: boolean syntax with field override + wildcard
    val qs = search(Map("queryString" -> Map("defaultPath" -> "text",
      "query" -> "alpha AND NOT lang:de")))
      .select("doc_id").as[Long].collect()
    assert(qs.toSeq == Seq(1L))
    val wc = search(Map("queryString" -> Map("defaultPath" -> "text",
      "query" -> "quer? OR gamm*")))
      .select("doc_id").as[Long].collect().sorted
    assert(wc.toSeq == Seq(1L, 2L))
  }

  test("$convert format: hex/base64/utf8 string<->binData round-trips") {
    val out = run(Map("$project" -> Map("n" -> 1,
      "hx" -> Map("$convert" -> Map(
        "input" -> Map("$convert" -> Map("input" -> "$cat",
          "to" -> "binData", "format" -> "utf8")),
        "to" -> "string", "format" -> "hex")),
      "b64" -> Map("$convert" -> Map(
        "input" -> Map("$convert" -> Map("input" -> "$cat",
          "to" -> "binData", "format" -> "utf8")),
        "to" -> "string", "format" -> "base64")))))
      .where($"n" === 1).select($"hx", $"b64")
      .as[(String, String)].head()
    assert(out == (("61", "YQ=="))) // "a" -> hex 61, base64 YQ==
    intercept[IllegalArgumentException] {
      run(Map("$project" -> Map("x" -> Map("$convert" -> Map(
        "input" -> "$cat", "to" -> "int", "format" -> "hex")))))
    }
  }

  test("$rankFusion scoreDetails stashes per-pipeline breakdown") {
    val out = run(Map("$rankFusion" -> Map(
      "key" -> "n",
      "input" -> Map("pipelines" -> Map(
        "amt" -> Seq(Map("$sort" -> Map("amt" -> -1, "n" -> 1)),
          Map("$limit" -> 2)),
        "id" -> Seq(Map("$sort" -> Map("n" -> 1)),
          Map("$limit" -> 2)))),
      "scoreDetails" -> true)))
    assert(out.columns.contains("__scoreDetails"))
    val det = out.select($"n", $"__scoreDetails")
      .as[(Int, Seq[(String, Long, Double, Double)])].collect().toMap
    // n=4 is rank 1 in 'amt' only; n=1 is rank 1 in 'id' only
    assert(det(4) == Seq(("amt", 1L, 1.0, 1.0 / 61)))
    assert(det(1) == Seq(("id", 1L, 1.0, 1.0 / 61)))
    // without the flag the carrier is absent
    val plain = run(Map("$rankFusion" -> Map(
      "key" -> "n",
      "input" -> Map("pipelines" -> Map(
        "id" -> Seq(Map("$sort" -> Map("n" -> 1)), Map("$limit" -> 2)))))))
    assert(!plain.columns.contains("__scoreDetails"))
  }

  test("$scoreFusion scoreDetails carries rawScore and weighted value") {
    val out = run(Map("$scoreFusion" -> Map(
      "key" -> "n",
      "input" -> Map("pipelines" -> Map(
        "amt" -> Seq(Map("$score" -> Map("score" -> "$amt")),
          Map("$limit" -> 4)))),
      "combination" -> Map("weights" -> Map("amt" -> 2.0)),
      "scoreDetails" -> true)))
    val det = out.select($"n", $"__scoreDetails")
      .as[(Int, Seq[(String, Double, Double, Double)])].collect().toMap
    assert(det(1) == Seq(("amt", 10.0, 2.0, 20.0)))
    assert(det(4) == Seq(("amt", 40.0, 2.0, 80.0)))
  }

  test("$minMaxScaler scales into bounds; zero-span frame maps to min") {
    val out = run(Map("$setWindowFields" -> Map(
      "partitionBy" -> "$cat",
      "output" -> Map(
        "s01" -> Map("$minMaxScaler" -> Map("input" -> "$amt")),
        "s15" -> Map("$minMaxScaler" -> Map("input" -> "$amt",
          "min" -> 1, "max" -> 5)),
        // constant input inside each partition: zero span -> min bound
        "flat" -> Map("$minMaxScaler" -> Map("input" -> 7,
          "min" -> 2, "max" -> 9))))))
    val got = out.select($"cat", $"n", $"s01", $"s15", $"flat")
      .orderBy("cat", "n")
      .as[(String, Int, Double, Double, Double)].collect().toSeq
    assert(got == Seq(
      ("a", 1, 0.0, 1.0, 2.0), ("a", 2, 1.0, 5.0, 2.0),
      ("b", 3, 0.0, 1.0, 2.0), ("b", 4, 1.0, 5.0, 2.0)))
  }

  test("$sigmoid: 1/(1+e^-x), midpoint at 0") {
    val out = run(Map("$project" -> Map("n" -> 1,
      "sig" -> Map("$sigmoid" -> Map("$subtract" -> Seq("$n", 2))))))
      .orderBy("n").select($"n", $"sig")
      .as[(Int, Double)].collect().toSeq
    assert(out.find(_._1 == 2).get._2 == 0.5)
    assert(out.find(_._1 == 1).get._2 == 1.0 / (1.0 + math.exp(1.0)))
    assert(out.find(_._1 == 4).get._2 == 1.0 / (1.0 + math.exp(-2.0)))
  }

  test("$setWindowFields $firstN/$lastN pick from the ordered frame") {
    val out = run(Map("$setWindowFields" -> Map(
      "partitionBy" -> "$cat",
      "sortBy" -> Map("n" -> 1),
      "output" -> Map(
        "f" -> Map("$firstN" -> Map("input" -> "$n", "n" -> 2),
          "window" -> Map("documents" -> Seq("unbounded", "current"))),
        "l" -> Map("$lastN" -> Map("input" -> "$n", "n" -> 2),
          "window" -> Map("documents" -> Seq("unbounded", "current")))))))
    val got = out.select($"cat", $"n", $"f", $"l").orderBy("cat", "n")
      .as[(String, Int, Seq[Int], Seq[Int])].collect().toSeq
    assert(got == Seq(
      ("a", 1, Seq(1), Seq(1)), ("a", 2, Seq(1, 2), Seq(1, 2)),
      ("b", 3, Seq(3), Seq(3)), ("b", 4, Seq(3, 4), Seq(3, 4))))
  }

  test("$unionWith unions a (piped) sibling, null-filling missing columns") {
    val other = Seq(("z", 99)).toDF("cat", "extra")
    val out = PipelineCompiler.compile(
      Seq(Map("$unionWith" -> Map("coll" -> "other", "pipeline" -> Seq(
        Map("$match" -> Map("extra" -> Map("$gte" -> 0))))))),
      tables = _ => other)(sales)
    assert(out.count() == 5)
    val z = out.where($"cat" === "z").head()
    assert(z.getAs[Any]("n") == null && z.getAs[Int]("extra") == 99)
    assert(sales.columns.forall(out.columns.contains))
    // string shorthand unions the whole collection
    assert(PipelineCompiler.compile(Seq(Map("$unionWith" -> "other")),
      tables = _ => other)(sales).count() == 5)
  }

  test("$fill linear interpolates by sortBy distance, edges stay null") {
    val gaps = Seq(
      ("a", 0, None), ("a", 2, Some(10.0)), ("a", 4, None),
      ("a", 5, None), ("a", 8, Some(40.0)), ("a", 9, None))
      .toDF("g", "t", "v")
    val out = PipelineCompiler.compile(Seq(Map("$fill" -> Map(
      "partitionBy" -> "$g",
      "sortBy" -> Map("t" -> 1),
      "output" -> Map("v" -> Map("method" -> "linear"))))))(gaps)
    val got = out.orderBy("t").select("v").as[Option[Double]]
      .collect().toSeq
    // t=4: 10 + 30*(4-2)/(8-2) = 20; t=5: 10 + 30*3/6 = 25
    assert(got == Seq(None, Some(10.0), Some(20.0), Some(25.0),
      Some(40.0), None))
  }

  test("$$ROOT is frozen to the stage input even when a field overwrites") {
    val d = Seq((1L, 10.0)).toDF("_id", "v")
    // v is overwritten BEFORE doc in the same $set; $$ROOT must still
    // carry the original v (Mongo binds ROOT to the stage input)
    val out = PipelineCompiler.compile(Seq(Map("$set" ->
      scala.collection.immutable.ListMap(
        "v" -> Map("$multiply" -> Seq("$v", 2.0)),
        "doc" -> "$$ROOT"))))(d)
    val r = out.select("v", "doc.v").head()
    assert(r.getDouble(0) == 20.0 && r.getDouble(1) == 10.0)
  }

  test("window-frame misuse fails loudly, never silently wrong") {
    val d = Seq(("a", 1, 1.0)).toDF("g", "t", "v")
    def win(output: Map[String, Any]) =
      PipelineCompiler.compile(Seq(Map("$setWindowFields" -> Map(
        "partitionBy" -> "$g", "sortBy" -> Map("t" -> 1),
        "output" -> output))))(d).collect()
    // documents + range together
    intercept[IllegalArgumentException] { win(Map("s" -> Map(
      "$sum" -> "$v", "window" -> Map(
        "documents" -> Seq("unbounded", "current"),
        "range" -> Seq(-1, 0))))) }
    // fractional range bounds would truncate
    intercept[IllegalArgumentException] { win(Map("s" -> Map(
      "$sum" -> "$v", "window" -> Map("range" -> Seq(-0.5, 0.5))))) }
    // $integral over a bounded-lower RANGE frame (same flaw as documents)
    intercept[IllegalArgumentException] { win(Map("ig" -> Map(
      "$integral" -> Map("input" -> "$v"),
      "window" -> Map("range" -> Seq(-1, 0))))) }
    // $locf without sortBy is unordered
    intercept[IllegalArgumentException] {
      PipelineCompiler.compile(Seq(Map("$setWindowFields" -> Map(
        "partitionBy" -> "$g",
        "output" -> Map("x" -> Map("$locf" -> "$v"))))))(d).collect()
    }
  }

  test("$setWindowFields statistical + N-bounded window accumulators") {
    val d = Seq(("a", 1, 2.0, 1.0), ("a", 2, 4.0, 3.0), ("a", 3, 6.0, 2.0))
      .toDF("g", "t", "x", "y")
    val full = Map("documents" -> Seq("unbounded", "unbounded"))
    val out = PipelineCompiler.compile(Seq(Map("$setWindowFields" -> Map(
      "partitionBy" -> "$g", "sortBy" -> Map("t" -> 1),
      "output" -> Map(
        "sp" -> Map("$stdDevPop" -> "$x", "window" -> full),
        "ss" -> Map("$stdDevSamp" -> "$x", "window" -> full),
        "st" -> Map("$addToSet" -> "$g", "window" -> full),
        "cp" -> Map("$covariancePop" -> Seq("$x", "$y"), "window" -> full),
        "cs" -> Map("$covarianceSamp" -> Seq("$x", "$y"), "window" -> full),
        "md" -> Map("$median" -> "$x", "window" -> full),
        // Mongo's mandated call shape: {input, method} (method ignored)
        "md2" -> Map("$median" ->
          Map("input" -> "$x", "method" -> "approximate"),
          "window" -> full),
        "mn" -> Map("$minN" -> Map("input" -> "$x", "n" -> 2),
          "window" -> full),
        "mx" -> Map("$maxN" -> Map("input" -> "$x", "n" -> 2),
          "window" -> full))))))(d).orderBy("t")
    val r = out.select("sp", "ss", "cp", "cs", "md", "md2").head()
    assert(r.getDouble(5) == 4.0) // {input, method} form == bare form
    assert(math.abs(r.getDouble(0) - math.sqrt(8.0 / 3)) < 1e-9)
    assert(math.abs(r.getDouble(1) - 2.0) < 1e-9)
    assert(math.abs(r.getDouble(2) - 2.0 / 3) < 1e-9) // covar_pop
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-9)     // covar_samp
    assert(r.getDouble(4) == 4.0)
    assert(out.select("st").head().getSeq[String](0) == Seq("a"))
    assert(out.select("mn").head().getSeq[Double](0) == Seq(2.0, 4.0))
    assert(out.select("mx").head().getSeq[Double](0) == Seq(6.0, 4.0))
  }

  test("$setWindowFields range window frames by sortBy VALUE distance") {
    val d = Seq(("a", 1, 1.0), ("a", 2, 2.0), ("a", 10, 4.0))
      .toDF("g", "t", "v")
    val out = PipelineCompiler.compile(Seq(Map("$setWindowFields" -> Map(
      "partitionBy" -> "$g",
      "sortBy" -> Map("t" -> 1),
      "output" -> Map("s" -> Map(
        "$sum" -> "$v",
        "window" -> Map("range" -> Seq(-1, 0))))))))(d)
      .orderBy("t")
    // t=2 includes t=1 (within 1); t=10 stands alone
    assert(out.select("s").as[Double].collect().toSeq == Seq(1.0, 3.0, 4.0))
  }

  test("$group _id accepts an operator-doc expression, not just refs") {
    val d = Seq(("2024-03-15", 1.0), ("2024-03-20", 2.0), ("2024-07-01", 4.0))
      .toDF("ds", "v").withColumn("ts", $"ds".cast("timestamp"))
    val out = PipelineCompiler.compile(Seq(
      Map("$group" -> Map(
        "_id" -> Map("$month" -> "$ts"),
        "s" -> Map("$sum" -> "$v"))),
      Map("$sort" -> Map("_id" -> 1))))(d)
    assert(out.collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq ==
      Seq((3, 3.0), (7, 4.0)))
  }

  test("$$ROOT binds the whole input document in addFields/project/group") {
    val d = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 5.0))
      .toDF("_id", "cat", "v")
    // $addFields: whole-doc struct + dotted descent
    val withDoc = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "doc" -> "$$ROOT", "vv" -> "$$CURRENT.v"))))(d)
    assert(withDoc.select("doc._id").as[Long].collect().toSeq ==
      Seq(1L, 2L, 3L))
    assert(withDoc.select("vv").as[Double].collect().toSeq ==
      Seq(10.0, 20.0, 5.0))
    // $group {$push: "$$ROOT"} — the dominant group-docs idiom
    val grouped = PipelineCompiler.compile(Seq(
      Map("$group" -> Map("_id" -> "$cat",
        "docs" -> Map("$push" -> "$$ROOT"),
        "n" -> Map("$sum" -> 1))),
      Map("$sort" -> Map("_id" -> 1))))(d)
    val a = grouped.where($"_id" === "a").select("docs").head()
      .getSeq[org.apache.spark.sql.Row](0)
    assert(a.map(_.getLong(0)).sorted == Seq(1L, 2L))
    // $project computed from $$ROOT
    val proj = PipelineCompiler.compile(Seq(Map("$project" -> Map(
      "first_id" -> Map("$getField" ->
        Map("field" -> "_id", "input" -> "$$ROOT"))))))(d)
    assert(proj.select("first_id").as[Long].collect().toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("$setWindowFields: $locf/$linearFill/$derivative/$integral/$expMovingAvg") {
    val ts = Seq(("a", 0.0, Some(0.0)), ("a", 2.0, None), ("a", 4.0, Some(8.0)))
      .toDF("g", "t", "v")
    val out = PipelineCompiler.compile(Seq(Map("$setWindowFields" -> Map(
      "partitionBy" -> "$g",
      "sortBy" -> Map("t" -> 1),
      "output" -> Map(
        "lo" -> Map("$locf" -> "$v"),
        "lf" -> Map("$linearFill" -> "$v"),
        "dv" -> Map(
          "$derivative" -> Map("input" -> "$v"),
          "window" -> Map("documents" -> Seq("unbounded", "unbounded"))))))))(ts)
      .orderBy("t")
    assert(out.select("lo").as[Option[Double]].collect().toSeq ==
      Seq(Some(0.0), Some(0.0), Some(8.0)))
    assert(out.select("lf").as[Option[Double]].collect().toSeq ==
      Seq(Some(0.0), Some(4.0), Some(8.0)))
    // derivative over the whole partition: (8 - 0) / (4 - 0)
    assert(out.select("dv").as[Double].collect().toSeq.forall(_ == 2.0))

    val dense = Seq(("a", 0.0, 0.0), ("a", 2.0, 4.0), ("a", 4.0, 8.0))
      .toDF("g", "t", "v")
    val out2 = PipelineCompiler.compile(Seq(Map("$setWindowFields" -> Map(
      "partitionBy" -> "$g",
      "sortBy" -> Map("t" -> 1),
      "output" -> Map(
        "ig" -> Map(
          "$integral" -> Map("input" -> "$v"),
          "window" -> Map("documents" -> Seq("unbounded", "current"))),
        "ema" -> Map("$expMovingAvg" ->
          Map("input" -> "$v", "N" -> 3)))))))(dense)
      .orderBy("t")
    // trapezoids: 0, (0+4)/2*2=4, then +(4+8)/2*2=12 → 16
    assert(out2.select("ig").as[Double].collect().toSeq ==
      Seq(0.0, 4.0, 16.0))
    // alpha = 2/(3+1) = 0.5: 0, 0.5*4+0.5*0=2, 0.5*8+0.5*2=5
    assert(out2.select("ema").as[Double].collect().toSeq ==
      Seq(0.0, 2.0, 5.0))
    // bounded-lower $integral frames are rejected, not silently wrong
    intercept[IllegalArgumentException] {
      PipelineCompiler.compile(Seq(Map("$setWindowFields" -> Map(
        "sortBy" -> Map("t" -> 1),
        "output" -> Map("ig" -> Map(
          "$integral" -> Map("input" -> "$v"),
          "window" -> Map("documents" -> Seq(-1, "current"))))))))(dense)
        .collect()
    }
  }

  test("scale guard: unpartitioned windows warn; strictScale rejects") {
    val warns = scala.collection.mutable.ArrayBuffer[String]()
    val prior = PipelineCompiler.scaleWarnSink
    PipelineCompiler.scaleWarnSink = m => warns.synchronized { warns += m }
    try {
      def swf = Map("$setWindowFields" -> Map(
        "sortBy" -> Map("n" -> 1),
        "output" -> Map("r" -> Map("$rank" -> Map.empty))))
      def fill = Map("$fill" -> Map(
        "sortBy" -> Map("n" -> 1),
        "output" -> Map("amt" -> Map("method" -> "locf"))))
      def bkt = Map("$bucketAuto" ->
        Map("groupBy" -> "$amt", "buckets" -> 2))
      // default: compiles, still correct, one warning per serializing stage
      assert(run(swf).count() == 4 && warns.size == 1)
      assert(run(fill).count() == 4 && warns.size == 2)
      assert(run(bkt).count() == 2 && warns.size == 3)
      assert(warns.forall(_.contains("single-partition")) ||
        warns.exists(_.contains("DISTINCT")))
      // shapes that distribute fine must NOT warn: partitioned window,
      // value-only fill, granular / discrete-domain bucketAuto
      run(Map("$setWindowFields" -> Map("partitionBy" -> "$cat",
        "sortBy" -> Map("n" -> 1),
        "output" -> Map("r" -> Map("$rank" -> Map.empty))))).count()
      run(Map("$fill" ->
        Map("output" -> Map("amt" -> Map("value" -> 0.0))))).count()
      run(Map("$bucketAuto" -> Map("groupBy" -> "$amt", "buckets" -> 2,
        "granularity" -> "R5"))).count()
      run(Map("$bucketAuto" -> Map("groupBy" -> "$n", "buckets" -> 2)))
        .count()
      assert(warns.size == 3, s"false-positive warnings: $warns")
      // strict mode turns the warning into a plan-time reject
      spark.conf.set("spark.graft.strictScale", "true")
      intercept[IllegalStateException] { run(swf) }
      intercept[IllegalStateException] { run(fill) }
      intercept[IllegalStateException] { run(bkt) }
    } finally {
      spark.conf.unset("spark.graft.strictScale")
      PipelineCompiler.scaleWarnSink = prior
    }
  }

  test("$fill linear with repeated sortBy values degrades to locf, not null") {
    // nk == pk around the gap (Mongo errors on non-distinct linear sort
    // keys); the guarded plan fills with the previous known value instead
    // of silently nulling via division-by-zero
    val gaps = Seq(
      ("a", 1, Some(10.0)), ("a", 1, None), ("a", 1, Some(30.0)))
      .toDF("g", "t", "v")
    val out = PipelineCompiler.compile(Seq(Map("$fill" -> Map(
      "partitionBy" -> "$g",
      "sortBy" -> Map("t" -> 1),
      "output" -> Map("v" -> Map("method" -> "linear"))))))(gaps)
    val filled = out.where($"v".isNotNull).count()
    assert(filled == 3, s"gap row must fill, got $filled non-null of 3")
  }

  test("$fill: locf carries last non-null forward; value fills constants") {
    val gaps = Seq(("a", 1, Some(10.0)), ("a", 2, None), ("a", 3, None),
      ("b", 1, None), ("b", 2, Some(5.0))).toDF("g", "t", "v")
    val out = PipelineCompiler.compile(Seq(Map("$fill" -> Map(
      "partitionBy" -> "$g",
      "sortBy" -> Map("t" -> 1),
      "output" -> Map("v" -> Map("method" -> "locf"))))),
      tables = _ => gaps)(gaps)
    val got = out.orderBy("g", "t").select("v")
      .collect().map(r => Option(r.get(0))).toSeq
    assert(got == Seq(Some(10.0), Some(10.0), Some(10.0), None, Some(5.0)))
    val filled = PipelineCompiler.compile(Seq(Map("$fill" -> Map(
      "output" -> Map("v" -> Map("value" -> -1.0))))),
      tables = _ => gaps)(gaps)
    assert(filled.where($"v" === -1.0).count() == 3)
  }

  test("$bucketAuto distributes rows into ~equal buckets with min/max ids") {
    val df = spark.range(1, 101).toDF("x") // 1..100
    val out = PipelineCompiler.compile(Seq(Map("$bucketAuto" -> Map(
      "groupBy" -> "$x", "buckets" -> 4))), tables = _ => df)(df)
    val got = out.select($"_id.min", $"_id.max", $"count")
      .orderBy($"_id.min").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 25L, 25L), (26L, 50L, 25L),
      (51L, 75L, 25L), (76L, 100L, 25L)))
    // ties collapse into one bucket
    val ties = Seq(1, 1, 1, 1, 2, 3).toDF("x")
    val tied = PipelineCompiler.compile(Seq(Map("$bucketAuto" -> Map(
      "groupBy" -> "$x", "buckets" -> 3))), tables = _ => ties)(ties)
    val m = tied.select($"_id.min", $"count")
      .as[(Int, Long)].collect().toMap
    assert(m(1) == 4L)
  }

  test("$densify fills grid gaps with null-padded rows") {
    val sparse = Seq((1L, 10.0), (4L, 40.0), (6L, 60.0)).toDF("t", "v")
    val out = PipelineCompiler.compile(Seq(Map("$densify" -> Map(
      "field" -> "t", "range" -> Map("step" -> 1, "bounds" -> "full")))),
      tables = _ => sparse)(sparse)
    val got = out.orderBy("t").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSeq
    assert(got == Seq((1L, Some(10.0)), (2L, None), (3L, None),
      (4L, Some(40.0)), (5L, None), (6L, Some(60.0))))
    // explicit [lo, hi) bounds: the upper bound is excluded
    val bounded = PipelineCompiler.compile(Seq(Map("$densify" -> Map(
      "field" -> "t", "range" -> Map("step" -> 2,
        "bounds" -> Seq(0, 7))))), tables = _ => sparse)(sparse)
    assert(bounded.select("t").as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 2L, 4L, 6L))
    // Mongo "full" = the GLOBAL span for every partition
    val parted0 = Seq(("a", 1L), ("a", 3L), ("b", 2L), ("b", 4L))
      .toDF("g", "t")
    val densFull = PipelineCompiler.compile(Seq(Map("$densify" -> Map(
      "field" -> "t", "partitionByFields" -> Seq("g"),
      "range" -> Map("step" -> 1, "bounds" -> "full")))),
      tables = _ => parted0)(parted0)
    // both partitions get the 1..4 global grid
    assert(densFull.groupBy("g").count().select("count").as[Long]
      .collect().toSeq == Seq(4L, 4L))
    // per-partition grids (Mongo bounds: "partition")
    val parted = Seq(("a", 1L), ("a", 3L), ("b", 10L), ("b", 11L))
      .toDF("g", "t")
    val dens = PipelineCompiler.compile(Seq(Map("$densify" -> Map(
      "field" -> "t", "partitionByFields" -> Seq("g"),
      "range" -> Map("step" -> 1, "bounds" -> "partition")))),
      tables = _ => parted)(parted)
    assert(dens.orderBy("g", "t").select("g", "t").as[(String, Long)]
      .collect().toSeq ==
      Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 10L), ("b", 11L)))
  }

  test("$densify calendar units: month grid, date bounds, bad unit rejects") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")
    val sparse = Seq((ts("2024-01-01"), 1.0), (ts("2024-04-01"), 4.0))
      .toDF("m", "v")
    // "full" over a month grid: Feb + Mar synthesized, values null
    val out = PipelineCompiler.compile(Seq(Map("$densify" -> Map(
      "field" -> "m", "range" -> Map("step" -> 1, "unit" -> "month",
        "bounds" -> "full")))), tables = _ => sparse)(sparse)
    val got = out.orderBy("m").collect()
      .map(r => (r.getTimestamp(0), Option(r.get(1)))).toSeq
    assert(got == Seq((ts("2024-01-01"), Some(1.0)),
      (ts("2024-02-01"), None), (ts("2024-03-01"), None),
      (ts("2024-04-01"), Some(4.0))))
    // explicit ISO-string bounds, upper exclusive, quarter step
    val bounded = PipelineCompiler.compile(Seq(Map("$densify" -> Map(
      "field" -> "m", "range" -> Map("step" -> 1, "unit" -> "quarter",
        "bounds" -> Seq("2024-01-01", "2025-01-01"))))),
      tables = _ => sparse)(sparse)
    assert(bounded.select("m").as[Timestamp].collect().sorted.toSeq ==
      Seq(ts("2024-01-01"), ts("2024-04-01"), ts("2024-07-01"),
        ts("2024-10-01")))
    intercept[IllegalArgumentException] {
      PipelineCompiler.compile(Seq(Map("$densify" -> Map(
        "field" -> "m", "range" -> Map("step" -> 1, "unit" -> "fortnight",
          "bounds" -> "full")))), tables = _ => sparse)(sparse)
    }
  }

  test("$densify sub-day unit on a DATE field rejects at plan time") {
    val dated = Seq((java.sql.Date.valueOf("2024-01-01"), 1.0),
      (java.sql.Date.valueOf("2024-01-03"), 3.0)).toDF("d", "v")
    // day unit on DATE is fine
    val ok = PipelineCompiler.compile(Seq(Map("$densify" -> Map(
      "field" -> "d", "range" -> Map("step" -> 1, "unit" -> "day",
        "bounds" -> "full")))), tables = _ => dated)(dated)
    assert(ok.count() == 3)
    // hour unit on DATE would duplicate grid rows after the cast — reject
    val e = intercept[IllegalArgumentException] {
      PipelineCompiler.compile(Seq(Map("$densify" -> Map(
        "field" -> "d", "range" -> Map("step" -> 6, "unit" -> "hour",
          "bounds" -> "full")))), tables = _ => dated)(dated)
    }
    assert(e.getMessage.contains("finer than DATE"))
  }

  test("bare single-argument scalar folds dispatch on the resolved type") {
    val d = Seq((1L, Seq(3.0, 1.0, 2.0), 7.5, "str"),
      (2L, Seq.empty[Double], -1.0, "s2"))
      .toDF("_id", "arr", "x", "s")
    def one(expr: Map[String, Any]): Seq[Any] =
      PipelineCompiler.compile(Seq(Map("$project" ->
        Map("_id" -> 1, "out" -> expr))), tables = _ => d)(d)
        .orderBy("_id").select("out").collect().map(_.get(0)).toSeq
    // array argument folds elements (empty array -> null max / 0 sum)
    assert(one(Map("$max" -> "$arr")) == Seq(3.0, null))
    assert(one(Map("$sum" -> "$arr")) == Seq(6.0, 0.0))
    assert(one(Map("$avg" -> "$arr")) == Seq(2.0, null))
    // NON-array argument is the one-element case (Mongo), not an error
    assert(one(Map("$max" -> "$x")) == Seq(7.5, -1.0))
    assert(one(Map("$min" -> "$x")) == Seq(7.5, -1.0))
    assert(one(Map("$sum" -> "$x")) == Seq(7.5, -1.0))
    assert(one(Map("$avg" -> "$x")) == Seq(7.5, -1.0))
    // non-numeric scalar: $sum -> 0, $avg -> null, $max -> the value
    assert(one(Map("$sum" -> "$s")) == Seq(0.0, 0.0))
    assert(one(Map("$avg" -> "$s")) == Seq(null, null))
    assert(one(Map("$max" -> "$s")) == Seq("str", "s2"))
  }

  test("$setWindowFields range + unit windows over a date key") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")
    val df = Seq(("a", ts("2024-01-01"), 1L), ("a", ts("2024-01-03"), 2L),
      ("a", ts("2024-01-08"), 4L), ("b", ts("2024-01-01"), 8L))
      .toDF("k", "d", "v")
    val out = PipelineCompiler.compile(Seq(Map("$setWindowFields" -> Map(
      "partitionBy" -> "$k", "sortBy" -> Map("d" -> 1),
      "output" -> Map("rs" -> Map("$sum" -> "$v",
        "window" -> Map("range" -> Seq(-2, 0), "unit" -> "day")))))),
      tables = _ => df)(df)
    // trailing 2 days inclusive: 01-03 sees 01-01; 01-08 sees only itself
    assert(out.orderBy("k", "d").select("rs").as[Long].collect().toSeq ==
      Seq(1L, 3L, 4L, 8L))
    // calendar units can't map to a fixed range offset — reject
    intercept[IllegalArgumentException] {
      PipelineCompiler.compile(Seq(Map("$setWindowFields" -> Map(
        "partitionBy" -> "$k", "sortBy" -> Map("d" -> 1),
        "output" -> Map("rs" -> Map("$sum" -> "$v",
          "window" -> Map("range" -> Seq(-1, 0), "unit" -> "month")))))),
        tables = _ => df)(df)
    }
  }

  test("splitMerge parses a trailing $merge and rejects a mid-pipeline one") {
    val (stages, m) = PipelineCompiler.splitMerge(Seq(
      Map("$match" -> Map("cat" -> "a")),
      Map("$merge" -> Map("into" -> "tgt", "on" -> "n",
        "whenMatched" -> "keepExisting", "whenNotMatched" -> "discard"))))
    assert(stages == Seq(Map("$match" -> Map("cat" -> "a"))))
    assert(m.contains(PipelineCompiler.MergeSpec("tgt", Seq("n"),
      "keepExisting", "discard")))
    assert(PipelineCompiler.splitMerge(Seq(Map("$match" -> Map.empty)))._2
      .isEmpty)
    intercept[IllegalArgumentException] {
      PipelineCompiler.MergeSpec("t", Seq("k"), "pipeline-update", "insert")
    }
  }

  test("$replaceWith is the $replaceRoot alias") {
    val nested = Seq((1, ("x", 2.0))).toDF("id", "doc")
    val out = PipelineCompiler.compile(
      Seq(Map("$replaceWith" -> "$doc")), tables = _ => nested)(nested)
    assert(out.columns.toSeq == Seq("_1", "_2"))
    assert(out.head().getString(0) == "x")
  }

  test("splitOut parses a trailing $out (string and {db,coll} forms)") {
    import PipelineCompiler.OutTarget
    val (stages, t) = PipelineCompiler.splitOut(Seq(
      Map("$match" -> Map("a" -> 1)), Map("$out" -> "tgt")))
    assert(stages == Seq(Map("$match" -> Map("a" -> 1))) &&
      t.contains(OutTarget(None, "tgt")))
    // doc form carries the cross-database target through
    assert(PipelineCompiler.splitOut(Seq(Map("$out" ->
      Map("db" -> "d", "coll" -> "c"))))._2
      .contains(OutTarget(Some("d"), "c")))
    assert(PipelineCompiler.splitOut(Seq(Map("$out" ->
      Map("coll" -> "c"))))._2.contains(OutTarget(None, "c")))
    // unknown keys in the doc form reject instead of being dropped
    intercept[IllegalArgumentException] {
      PipelineCompiler.splitOut(Seq(Map("$out" ->
        Map("coll" -> "c", "sharded" -> true))))
    }
    assert(PipelineCompiler.splitOut(Seq(Map("$match" -> Map.empty)))._2
      .isEmpty)
  }

  test("unsupported stage rejected") {
    intercept[IllegalArgumentException] { run(Map("$facet" -> Map.empty)) }
  }
}

class SampleStageSpec extends graft.SparkSpec {
  import spark.implicits._
  test("$sample is deterministic for a fixed seed and bounded by size") {
    val df = (1 to 100).toDF("n")
    val s1 = PipelineCompiler.compile(Seq(Map("$sample" ->
      Map("size" -> 5, "seed" -> 7))))(df).select("n").as[Int].collect().toSeq
    val s2 = PipelineCompiler.compile(Seq(Map("$sample" ->
      Map("size" -> 5, "seed" -> 7))))(df).select("n").as[Int].collect().toSeq
    assert(s1 == s2 && s1.size == 5)
  }
}

class BucketStageSpec extends graft.SparkSpec {
  import spark.implicits._
  test("$bucket groups into boundary buckets with default") {
    val df = Seq(5.0, 15.0, 25.0, 95.0).toDF("v")
    val out = PipelineCompiler.compile(Seq(
      Map("$bucket" -> Map("groupBy" -> "$v",
        "boundaries" -> Seq(0.0, 10.0, 30.0),
        "default" -> "other",
        "n" -> Map("$sum" -> 1))),
      Map("$sort" -> Map("_id" -> 1))))(df)
    val rows = out.collect().map(r => (r.get(0).toString, r.getLong(1))).toSeq
    assert(rows == Seq(("0.0", 1L), ("10.0", 2L), ("other", 1L)))
  }
}

class ExprLangSpec extends graft.SparkSpec {
  import spark.implicits._
  private def df = Seq(("2024-03-15 10:30:00", 25.0), ("2024-07-01 08:00:00", 5.0))
    .toDF("ts", "v").withColumn("ts", $"ts".cast("timestamp"))

  test("$switch with default") {
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "band" -> Map("$switch" -> Map(
        "branches" -> Seq(
          Map("case" -> Map("$gte" -> Seq("$v", 20.0)), "then" -> "high"),
          Map("case" -> Map("$gte" -> Seq("$v", 10.0)), "then" -> "mid")),
        "default" -> "low"))))))(df)
    assert(out.select("band").as[String].collect().toSeq == Seq("high", "low"))
  }

  test("$dateToString and $dateTrunc") {
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "day" -> Map("$dateToString" -> Map("date" -> "$ts", "format" -> "%Y-%m-%d")),
      "mon" -> Map("$dateTrunc" -> Map("date" -> "$ts", "unit" -> "month"))))))(df)
    assert(out.select("day").as[String].head() == "2024-03-15")
    assert(out.select("mon").as[java.sql.Timestamp].head().toString
      .startsWith("2024-03-01"))
  }

  test("$dateTrunc binSize and startOfWeek anchor at 2000-01-01") {
    // 2024-03-15 was a Friday
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      // 6-hour bins: 10:30 lands in the 06:00 bin
      "h6" -> Map("$dateTrunc" -> Map("date" -> "$ts", "unit" -> "hour",
        "binSize" -> 6)),
      // Mongo default week start is sunday → Sun 2024-03-10
      "wk" -> Map("$dateTrunc" -> Map("date" -> "$ts", "unit" -> "week")),
      // explicit monday → Mon 2024-03-11
      "wkM" -> Map("$dateTrunc" -> Map("date" -> "$ts", "unit" -> "week",
        "startOfWeek" -> "monday")),
      // 2-month bins anchored Jan 2000 → March lands in the Mar bin
      "m2" -> Map("$dateTrunc" -> Map("date" -> "$ts", "unit" -> "month",
        "binSize" -> 2)),
      // 3-year bins anchored 2000 → 2024 is a bin start
      "y3" -> Map("$dateTrunc" -> Map("date" -> "$ts", "unit" -> "year",
        "binSize" -> 3))))))(df)
    val r = out.select("h6", "wk", "wkM", "m2", "y3").head()
    assert(r.getTimestamp(0).toString.startsWith("2024-03-15 06:00:00"))
    assert(r.getTimestamp(1).toString.startsWith("2024-03-10 00:00:00"))
    assert(r.getTimestamp(2).toString.startsWith("2024-03-11 00:00:00"))
    assert(r.getTimestamp(3).toString.startsWith("2024-03-01 00:00:00"))
    assert(r.getTimestamp(4).toString.startsWith("2024-01-01 00:00:00"))
  }

  test("type conversions and $trim") {
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "s" -> Map("$toString" -> "$v"),
      "i" -> Map("$toInt" -> "$v"),
      "t" -> Map("$trim" -> Map("input" -> Map("$literal" -> "  x  ")))))))(df)
    val r = out.select("s", "i", "t").head()
    assert(r.getString(0) == "25.0" && r.getInt(1) == 25 && r.getString(2) == "x")
  }

  test("$map / $filter / $reduce bind lambda variables through env") {
    val arr = Seq((1, Seq(1, 2, 3, 4))).toDF("id", "xs")
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "doubled" -> Map("$map" -> Map("input" -> "$xs", "as" -> "x",
        "in" -> Map("$multiply" -> Seq("$$x", 2)))),
      "evens" -> Map("$filter" -> Map("input" -> "$xs", "as" -> "x",
        "cond" -> Map("$eq" -> Seq(Map("$mod" -> Seq("$$x", 2)), 0)))),
      "total" -> Map("$reduce" -> Map("input" -> "$xs",
        "initialValue" -> 0,
        "in" -> Map("$add" -> Seq("$$value", "$$this"))))))))(arr)
    val r = out.select("doubled", "evens", "total").head()
    assert(r.getSeq[Int](0) == Seq(2, 4, 6, 8))
    assert(r.getSeq[Int](1) == Seq(2, 4))
    assert(r.getInt(2) == 10)
    // unbound variables are an error, not a silent literal
    intercept[IllegalArgumentException] {
      PipelineCompiler.expr2col(Map("$add" -> Seq("$$nope", 1)))
    }
  }

  test("$let binds scoped variables; $$v.field descends into structs") {
    val d2 = Seq((3, 4)).toDF("a", "b")
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "hyp" -> Map("$let" -> Map(
        "vars" -> Map("p" -> Map("$multiply" -> Seq("$a", "$a")),
          "q" -> Map("$multiply" -> Seq("$b", "$b"))),
        "in" -> Map("$sqrt" -> Map("$add" -> Seq("$$p", "$$q")))))))))(d2)
    assert(out.select("hyp").head().getDouble(0) == 5.0)
    val nested = Seq((1, Seq((2, "x"), (5, "y")))).toDF("id", "ps")
    val got = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "firsts" -> Map("$map" -> Map("input" -> "$ps", "as" -> "p",
        "in" -> "$$p._1"))))))(nested)
    assert(got.select("firsts").head().getSeq[Int](0) == Seq(2, 5))
  }

  test("array operators: in/indexOf/concat/reverse/first/last/range/slice/zip") {
    val arr = Seq((Seq(10, 20, 30), Seq(40, 50))).toDF("xs", "ys")
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "has20" -> Map("$in" -> Seq(20, "$xs")),
      "ix" -> Map("$indexOfArray" -> Seq("$xs", 30)),
      "missing" -> Map("$indexOfArray" -> Seq("$xs", 99)),
      "cat" -> Map("$concatArrays" -> Seq("$xs", "$ys")),
      "rev" -> Map("$reverseArray" -> "$xs"),
      "hd" -> Map("$first" -> "$xs"),
      "tl" -> Map("$last" -> "$xs"),
      "rng" -> Map("$range" -> Seq(0, 6, 2)),
      "emptyRng" -> Map("$range" -> Seq(5, 2)),
      "negRng" -> Map("$range" -> Seq(4, 0, -2)),
      "firstTwo" -> Map("$slice" -> Seq("$xs", 2)),
      "lastOne" -> Map("$slice" -> Seq("$xs", -1)),
      "mid" -> Map("$slice" -> Seq("$xs", 1, 2)),
      "zipped" -> Map("$zip" -> Map("inputs" -> Seq("$xs", "$ys")))))))(arr)
    val r = out.head()
    def gs(n: String) = r.getSeq[Any](out.columns.indexOf(n))
    assert(r.getBoolean(out.columns.indexOf("has20")))
    assert(r.getInt(out.columns.indexOf("ix")) == 2)
    assert(r.getInt(out.columns.indexOf("missing")) == -1)
    assert(gs("cat") == Seq(10, 20, 30, 40, 50))
    assert(gs("rev") == Seq(30, 20, 10))
    assert(r.getInt(out.columns.indexOf("hd")) == 10)
    assert(r.getInt(out.columns.indexOf("tl")) == 30)
    assert(gs("rng") == Seq(0L, 2L, 4L))
    assert(gs("emptyRng") == Nil)
    assert(gs("negRng") == Seq(4L, 2L))
    assert(gs("firstTwo") == Seq(10, 20))
    assert(gs("lastOne") == Seq(30))
    assert(gs("mid") == Seq(20, 30))
    // zip of [10,20,30]+[40,50] truncates to the shorter input (structs)
    assert(gs("zipped").size == 2)
  }

  test("3-arg $slice: negative position counts from the end, clamped") {
    val arr = Seq((Seq(10, 20, 30), 0)).toDF("xs", "k")
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      // literal positions
      "lastTwo" -> Map("$slice" -> Seq("$xs", -2, 2)),
      "clamped" -> Map("$slice" -> Seq("$xs", -9, 2)), // |pos|>len → start
      "pastEnd" -> Map("$slice" -> Seq("$xs", 7, 2)),  // empty
      // expression-valued position (forces the 3-expr case)
      "exprNeg" -> Map("$slice" ->
        Seq("$xs", Map("$subtract" -> Seq("$k", 2)), 2)),
      "emptyIn" -> Map("$slice" ->
        Seq(Map("$slice" -> Seq("$xs", 0, 0)), -1, 1))))))(arr)
    val r = out.head()
    def gs(n: String) = r.getSeq[Any](out.columns.indexOf(n))
    assert(gs("lastTwo") == Seq(20, 30))
    assert(gs("clamped") == Seq(10, 20))
    assert(gs("pastEnd") == Nil)
    assert(gs("exprNeg") == Seq(20, 30))
    assert(gs("emptyIn") == Nil) // empty input array never errors
  }

  test("bitwise expressions: empty operand identities, $bitNot arity") {
    val d = Seq(Tuple1(5)).toDF("a")
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "andId" -> Map("$bitAnd" -> Seq.empty[Any]),
      "orId" -> Map("$bitOr" -> Seq.empty[Any]),
      "xorId" -> Map("$bitXor" -> Seq.empty[Any])))))(d).head()
    assert(out.getInt(out.fieldIndex("andId")) == -1)
    assert(out.getInt(out.fieldIndex("orId")) == 0)
    assert(out.getInt(out.fieldIndex("xorId")) == 0)
    intercept[IllegalArgumentException] {
      PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
        "bad" -> Map("$bitNot" -> Seq("$a", "$a"))))))(d)
    }
  }

  test("set operators are deduped and sorted for determinism") {
    val d2 = Seq((Seq(3, 1, 2, 2), Seq(2, 4))).toDF("xs", "ys")
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "u" -> Map("$setUnion" -> Seq("$xs", "$ys")),
      "i" -> Map("$setIntersection" -> Seq("$xs", "$ys")),
      "d" -> Map("$setDifference" -> Seq("$xs", "$ys"))))))(d2)
    val r = out.select("u", "i", "d").head()
    assert(r.getSeq[Int](0) == Seq(1, 2, 3, 4))
    assert(r.getSeq[Int](1) == Seq(2))
    assert(r.getSeq[Int](2) == Seq(1, 3))
  }

  test("math + string operators") {
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "p" -> Map("$pow" -> Seq("$v", 2)),
      "sq" -> Map("$sqrt" -> "$v"),
      "tr" -> Map("$trunc" -> Seq(Map("$divide" -> Seq("$v", 7)), 1)),
      "sg" -> Map("$sign" -> Map("$subtract" -> Seq(0, "$v"))),
      "rx" -> Map("$regexMatch" -> Map("input" -> Map("$toString" -> "$v"),
        "regex" -> "^25")),
      "ixc" -> Map("$indexOfCP" -> Seq(Map("$literal" -> "hello"), "ll")),
      "rep" -> Map("$replaceAll" -> Map(
        "input" -> Map("$literal" -> "a-b-c"), "find" -> "-",
        "replacement" -> "."))))))(df)
    val r = out.orderBy(org.apache.spark.sql.functions.desc("v")).head()
    assert(r.getDouble(r.fieldIndex("p")) == 625.0)
    assert(r.getDouble(r.fieldIndex("sq")) == 5.0)
    assert(r.getDouble(r.fieldIndex("tr")) == 3.5) // 25/7=3.571 -> 3.5
    assert(r.getInt(r.fieldIndex("sg")) == -1)
    assert(r.getBoolean(r.fieldIndex("rx")))
    assert(r.getInt(r.fieldIndex("ixc")) == 2)
    assert(r.getString(r.fieldIndex("rep")) == "a.b.c")
  }

  test("$dateAdd and boundary-crossing $dateDiff") {
    val d2 = Seq(("2024-03-15 23:59:30", "2024-03-16 00:00:30"))
      .toDF("s", "e")
      .withColumn("s", $"s".cast("timestamp"))
      .withColumn("e", $"e".cast("timestamp"))
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "plus2h" -> Map("$dateAdd" -> Map("startDate" -> "$s",
        "unit" -> "hour", "amount" -> 2)),
      // elapsed time is 60 s, but a DAY boundary and a MINUTE boundary
      // are each crossed once — Mongo counts crossings
      "dDays" -> Map("$dateDiff" -> Map("startDate" -> "$s",
        "endDate" -> "$e", "unit" -> "day")),
      "dMins" -> Map("$dateDiff" -> Map("startDate" -> "$s",
        "endDate" -> "$e", "unit" -> "minute"))))))(d2)
    val r = out.select("plus2h", "dDays", "dMins").head()
    assert(r.getTimestamp(0).toString.startsWith("2024-03-16 01:59:30"))
    assert(r.getLong(1) == 1L && r.getLong(2) == 1L)
    // $dateSubtract inverts $dateAdd exactly
    val back = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "t" -> Map("$dateSubtract" -> Map(
        "startDate" -> Map("$dateAdd" -> Map("startDate" -> "$s",
          "unit" -> "week", "amount" -> 3)),
        "unit" -> "week", "amount" -> 3))))))(d2)
    val rb = back.select("t", "s").head()
    assert(rb.getTimestamp(0) == rb.getTimestamp(1))
  }

  test("$trim chars, bounded $indexOfArray / $indexOfCP") {
    val d2 = Seq(("xxabcxx", Seq(5, 7, 5, 9))).toDF("s", "arr")
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "t" -> Map("$trim" -> Map("input" -> "$s", "chars" -> "x")),
      // second 5 is at index 2; searching from 1 finds it
      "ia" -> Map("$indexOfArray" -> Seq("$arr", 5, 1)),
      // bounded [1, 2): the 5 at index 2 is outside -> -1
      "iaMiss" -> Map("$indexOfArray" -> Seq("$arr", 5, 1, 2)),
      // "cafeteria": first e is index 3, inside the [3,5) window
      "ic" -> Map("$indexOfCP" ->
        Seq(Map("$literal" -> "cafeteria"), "e", 3, 5)),
      "icMiss" -> Map("$indexOfCP" ->
        Seq(Map("$literal" -> "cafeteria"), "e", 7, 9))))))(d2)
    val r = out.select("t", "ia", "iaMiss", "ic", "icMiss").head()
    assert(r.getString(0) == "abc")
    assert(r.getInt(1) == 2 && r.getInt(2) == -1)
    assert(r.getInt(3) == 3 && r.getInt(4) == -1)
  }

  test("scalar $firstN/$lastN/$minN/$maxN array forms") {
    val d2 = Seq((Seq[java.lang.Double](4.0, 1.0, null, 9.0, 2.0)))
      .toDF("arr")
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "f2" -> Map("$firstN" -> Map("input" -> "$arr", "n" -> 2)),
      "l2" -> Map("$lastN" -> Map("input" -> "$arr", "n" -> 2)),
      "lBig" -> Map("$lastN" -> Map("input" -> "$arr", "n" -> 9)),
      "mn2" -> Map("$minN" -> Map("input" -> "$arr", "n" -> 2)),
      "mx2" -> Map("$maxN" -> Map("input" -> "$arr", "n" -> 2))))))(d2)
    val r = out.select("f2", "l2", "lBig", "mn2", "mx2").head()
    assert(r.getSeq[Any](0) == Seq(4.0, 1.0))
    assert(r.getSeq[Any](1) == Seq(9.0, 2.0))
    assert(r.getSeq[Any](2) == Seq(4.0, 1.0, null, 9.0, 2.0))
    assert(r.getSeq[Any](3) == Seq(1.0, 2.0))
    assert(r.getSeq[Any](4) == Seq(9.0, 4.0))
  }

  test("scalar $max/$min/$sum/$avg fold listed values or array elements") {
    val d2 = Seq((4.0, 9.0, Seq(1.0, 5.0, 3.0)), (7.0, 2.0, Seq.empty[Double]))
      .toDF("a", "b", "arr")
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "clamped" -> Map("$max" -> Seq(5.0, "$a")), // the clamping idiom
      "lo" -> Map("$min" -> Seq("$a", "$b")),
      "s" -> Map("$sum" -> Seq("$a", "$b", 1)),
      "m" -> Map("$avg" -> Seq("$a", "$b")),
      "arrMax" -> Map("$max" -> "$arr"),
      "arrSum" -> Map("$sum" -> "$arr"),
      "arrAvg" -> Map("$avg" -> "$arr")))))(d2)
    val r = out.orderBy("a").collect()
    def g(i: Int, c: String) = r(i).getDouble(r(i).fieldIndex(c))
    assert(g(0, "clamped") == 5.0 && g(1, "clamped") == 7.0)
    assert(g(0, "lo") == 4.0 && g(1, "lo") == 2.0)
    assert(g(0, "s") == 14.0 && g(1, "s") == 10.0)
    assert(g(0, "m") == 6.5 && g(1, "m") == 4.5)
    assert(g(0, "arrMax") == 5.0)
    assert(g(0, "arrSum") == 9.0 && g(1, "arrSum") == 0.0) // empty -> 0
    assert(g(0, "arrAvg") == 3.0)
    assert(r(1).isNullAt(r(1).fieldIndex("arrAvg"))) // empty avg -> null
  }

  test("date operators honor the timezone key") {
    // 2024-03-15 10:30 UTC = 06:30 in New York (EDT, UTC-4)
    val d2 = Seq("2024-03-15 10:30:00").toDF("s")
      .withColumn("s", $"s".cast("timestamp"))
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "hNY" -> Map("$hour" -> Map("date" -> "$s",
        "timezone" -> "America/New_York")),
      "hOff" -> Map("$hour" -> Map("date" -> "$s",
        "timezone" -> "+05:30")),
      "dayNY" -> Map("$dateToString" -> Map("date" -> "$s",
        "format" -> "%Y-%m-%d %H:%M",
        "timezone" -> "America/New_York")),
      // midnight in NY = 04:00 UTC (EDT)
      "truncNY" -> Map("$dateTrunc" -> Map("date" -> "$s",
        "unit" -> "day", "timezone" -> "America/New_York"))))))(d2)
    val r = out.select("hNY", "hOff", "dayNY", "truncNY").head()
    assert(r.getInt(0) == 6)
    assert(r.getInt(1) == 16)
    assert(r.getString(2) == "2024-03-15 06:30")
    assert(r.getTimestamp(3).toString.startsWith("2024-03-15 04:00:00"))
  }

  test("regex options flags and $dateFromString onError/onNull") {
    val d2 = Seq(("HELLO world", "not-a-date"), ("bye", null))
      .toDF("s", "ds")
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "ci" -> Map("$regexMatch" -> Map("input" -> "$s",
        "regex" -> "^hello", "options" -> "i")),
      "found" -> Map("$regexFind" -> Map("input" -> "$s",
        "regex" -> "WORLD", "options" -> "i")),
      "d" -> Map("$dateFromString" -> Map("dateString" -> "$ds",
        "onError" -> Map("$literal" ->
          java.time.Instant.parse("1999-01-01T00:00:00Z")),
        "onNull" -> Map("$literal" ->
          java.time.Instant.parse("2001-01-01T00:00:00Z"))))))))(d2)
    val rows = out.select("ci", "found.match", "d").orderBy(desc("ci"))
      .collect()
    assert(rows(0).getBoolean(0) && rows(0).getString(1) == "world")
    assert(rows(0).getTimestamp(2).toString.startsWith("1999-01-01"))
    assert(!rows(1).getBoolean(0))
    assert(rows(1).getTimestamp(2).toString.startsWith("2001-01-01"))
  }

  test("date formats quote literal text (ISO T) and %% escapes") {
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "iso" -> Map("$dateToString" -> Map("date" -> "$ts",
        "format" -> "%Y-%m-%dT%H:%M:%S")),
      "pct" -> Map("$dateToString" -> Map("date" -> "$ts",
        "format" -> "%d%%")),
      "roundtrip" -> Map("$dateFromString" -> Map(
        "dateString" -> Map("$literal" -> "2024-03-15T10:30:00"),
        "format" -> "%Y-%m-%dT%H:%M:%S"))))))(df)
    val r = out.select("iso", "pct", "roundtrip").head()
    assert(r.getString(0) == "2024-03-15T10:30:00")
    assert(r.getString(1) == "15%")
    assert(r.getTimestamp(2).toString.startsWith("2024-03-15 10:30:00"))
  }

  test("$dateFromString / $dateFromParts convert zone wall clock to instant") {
    val d2 = Seq("2024-03-15 06:30:00").toDF("s")
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      // 06:30 NY (EDT) = 10:30 UTC
      "fromStr" -> Map("$dateFromString" -> Map("dateString" -> "$s",
        "format" -> "%Y-%m-%d %H:%M:%S",
        "timezone" -> "America/New_York")),
      "fromParts" -> Map("$dateFromParts" -> Map(
        "year" -> 2024, "month" -> 3, "day" -> 15, "hour" -> 6,
        "minute" -> 30, "timezone" -> "America/New_York"))))))(d2)
    val r = out.select("fromStr", "fromParts").head()
    assert(r.getTimestamp(0).toString.startsWith("2024-03-15 10:30:00"))
    assert(r.getTimestamp(1).toString.startsWith("2024-03-15 10:30:00"))
  }

  test("$dateAdd day across a DST transition keeps the wall clock") {
    // US DST spring-forward 2024-03-10: NY wall clock loses an hour.
    // 2024-03-09 12:00 NY = 17:00 UTC (EST); +1 day with timezone must
    // land on 2024-03-10 12:00 NY = 16:00 UTC (EDT) — 23 elapsed hours.
    val d2 = Seq("2024-03-09 17:00:00").toDF("s")
      .withColumn("s", $"s".cast("timestamp"))
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "tzAware" -> Map("$dateAdd" -> Map("startDate" -> "$s",
        "unit" -> "day", "amount" -> 1,
        "timezone" -> "America/New_York")),
      "fixed" -> Map("$dateAdd" -> Map("startDate" -> "$s",
        "unit" -> "day", "amount" -> 1))))))(d2)
    val r = out.select("tzAware", "fixed").head()
    assert(r.getTimestamp(0).toString.startsWith("2024-03-10 16:00:00"))
    assert(r.getTimestamp(1).toString.startsWith("2024-03-10 17:00:00"))
  }

  test("$dateDiff week counts sunday boundaries by default") {
    // Sat 2024-03-09 -> Sun 2024-03-10 crosses one Sunday boundary;
    // ISO (monday-start) would say 0
    val d2 = Seq(("2024-03-09", "2024-03-10")).toDF("a", "b")
      .withColumn("a", $"a".cast("timestamp"))
      .withColumn("b", $"b".cast("timestamp"))
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "w" -> Map("$dateDiff" -> Map("startDate" -> "$a", "endDate" -> "$b",
        "unit" -> "week")),
      "wMon" -> Map("$dateDiff" -> Map("startDate" -> "$a",
        "endDate" -> "$b", "unit" -> "week",
        "startOfWeek" -> "monday"))))))(d2)
    val r = out.select("w", "wMon").head()
    assert(r.getLong(0) == 1L)
    assert(r.getLong(1) == 0L)
  }

  test("$week is sunday-start week 0-53 (strftime %U), not ISO") {
    val d2 = Seq("2024-01-01", "2024-01-07", "2024-03-15", "2023-01-01",
      "2021-12-31").toDF("s").withColumn("s", $"s".cast("timestamp"))
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "w" -> Map("$week" -> "$s")))))(d2)
    // expected values cross-checked against python strftime('%U')
    assert(out.select("s", "w").collect().map(_.getInt(1)).toSeq ==
      Seq(0, 1, 10, 1, 52))
  }

  test("$dateAdd calendar units clamp to month end") {
    val d2 = Seq("2024-01-31 10:30:00").toDF("s")
      .withColumn("s", $"s".cast("timestamp"))
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "m1" -> Map("$dateAdd" -> Map("startDate" -> "$s",
        "unit" -> "month", "amount" -> 1)),
      "q1" -> Map("$dateAdd" -> Map("startDate" -> "$s",
        "unit" -> "quarter", "amount" -> 1)),
      "y1" -> Map("$dateAdd" -> Map("startDate" -> "$s",
        "unit" -> "year", "amount" -> 1)),
      "ms" -> Map("$dateAdd" -> Map("startDate" -> "$s",
        "unit" -> "millisecond", "amount" -> 1500)),
      "back" -> Map("$dateSubtract" -> Map("startDate" -> "$s",
        "unit" -> "month", "amount" -> 2))))))(d2)
    val r = out.select("m1", "q1", "y1", "ms", "back").head()
    // 2024 is a leap year: Jan 31 + 1 month clamps to Feb 29
    assert(r.getTimestamp(0).toString.startsWith("2024-02-29 10:30:00"))
    assert(r.getTimestamp(1).toString.startsWith("2024-04-30 10:30:00"))
    // 2025 is not: Jan 31 + 1 year keeps Jan 31
    assert(r.getTimestamp(2).toString.startsWith("2025-01-31 10:30:00"))
    assert(r.getTimestamp(3).toString.startsWith("2024-01-31 10:30:01.5"))
    assert(r.getTimestamp(4).toString.startsWith("2023-11-30 10:30:00"))
  }

  test("$toDate / $toBool casts") {
    val d3 = Seq(("2024-01-02 03:04:05", 1)).toDF("s", "i")
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "ts" -> Map("$toDate" -> "$s"),
      "b" -> Map("$toBool" -> "$i")))))(d3)
    val r = out.select("ts", "b").head()
    assert(r.getTimestamp(0).toString.startsWith("2024-01-02 03:04:05"))
    assert(r.getBoolean(1))
  }

  test("ISO calendar ops: year-boundary weeks") {
    // 2024-12-30 is a Monday in ISO week 1 of 2025;
    // 2021-01-01 is a Friday in ISO week 53 of 2020
    val d = Seq(("2024-12-30"), ("2021-01-01")).toDF("s")
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "d0" -> Map("$toDate" -> "$s"),
      "dow" -> Map("$dayOfWeek" -> "$s"),
      "idow" -> Map("$isoDayOfWeek" -> "$s"),
      "iwk" -> Map("$isoWeek" -> "$s"),
      "iwy" -> Map("$isoWeekYear" -> "$s")))))(d)
      .select("s", "dow", "idow", "iwk", "iwy").orderBy("s")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getLong(4))).toSeq
    assert(out == Seq(("2021-01-01", 6, 5, 53, 2020L),
      ("2024-12-30", 2, 1, 1, 2025L)))
  }

  test("$dateFromParts / $dateToParts round-trip with milliseconds") {
    val d = Seq((2024, 3, 15)).toDF("y", "m", "dd")
    val out = PipelineCompiler.compile(Seq(
      Map("$addFields" -> Map("ts" -> Map("$dateFromParts" -> Map(
        "year" -> "$y", "month" -> "$m", "day" -> "$dd",
        "hour" -> 7, "minute" -> 8, "second" -> 9,
        "millisecond" -> 250)))),
      Map("$addFields" -> Map(
        "p" -> Map("$dateToParts" -> Map("date" -> "$ts")),
        "ms" -> Map("$millisecond" -> "$ts")))))(d)
    val r = out.select("ts", "p.hour", "p.second", "p.millisecond", "ms")
      .head()
    assert(r.getTimestamp(0).toString == "2024-03-15 07:08:09.25")
    assert(r.getLong(1) == 7L && r.getLong(2) == 9L && r.getLong(3) == 250L)
    assert(r.getInt(4) == 250)
    // iso8601 variant: 2024-03-15 is a Friday in ISO week 11 of 2024
    val iso = PipelineCompiler.compile(Seq(
      Map("$addFields" -> Map("p" -> Map("$dateToParts" -> Map(
        "date" -> Map("$dateFromParts" -> Map(
          "year" -> "$y", "month" -> "$m", "day" -> "$dd")),
        "iso8601" -> true))))))(d)
      .select("p.isoWeekYear", "p.isoWeek", "p.isoDayOfWeek").head()
    assert(iso.getLong(0) == 2024L && iso.getLong(1) == 11L &&
      iso.getLong(2) == 5L)
  }

  test("set predicates and boolean element folds") {
    val d = Seq((Seq(1, 2, 2), Seq(2, 1), Seq(1, 2, 3))).toDF("a", "b", "c")
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "eqAB" -> Map("$setEquals" -> Seq("$a", "$b")),
      "eqAC" -> Map("$setEquals" -> Seq("$a", "$c")),
      "subAB" -> Map("$setIsSubset" -> Seq("$a", "$b")),
      "subBC" -> Map("$setIsSubset" -> Seq("$b", "$c")),
      "anyBig" -> Map("$anyElementTrue" -> Seq(Map("$map" -> Map(
        "input" -> "$a", "as" -> "v",
        "in" -> Map("$gte" -> Seq("$$v", 2)))))),
      "allBig" -> Map("$allElementsTrue" -> Seq(Map("$map" -> Map(
        "input" -> "$a", "as" -> "v",
        "in" -> Map("$gte" -> Seq("$$v", 2))))))))))(d)
    val r = out.select("eqAB", "eqAC", "subAB", "subBC", "anyBig", "allBig")
      .head()
    assert(r.getBoolean(0) && !r.getBoolean(1) && r.getBoolean(2) &&
      r.getBoolean(3) && r.getBoolean(4) && !r.getBoolean(5))
  }

  test("array literals and struct field surgery") {
    val d = Seq((7, "x")).toDF("n", "s")
    val out = PipelineCompiler.compile(Seq(
      Map("$addFields" -> Map(
        "arr" -> Seq("$n", Map("$multiply" -> Seq("$n", 2)), 99),
        "o" -> Map("a" -> "$n", "b" -> "$s"))),
      Map("$addFields" -> Map(
        "got" -> Map("$getField" -> Map("field" -> "b", "input" -> "$o")),
        "set" -> Map("$setField" -> Map("field" -> "a", "input" -> "$o",
          "value" -> 42)),
        "cut" -> Map("$unsetField" ->
          Map("field" -> "a", "input" -> "$o"))))))(d)
    val r = out.select("arr", "got", "set.a", "cut").head()
    assert(r.getSeq[Int](0) == Seq(7, 14, 99))
    assert(r.getString(1) == "x")
    assert(r.getInt(2) == 42)
    assert(r.getStruct(3).schema.fieldNames.toSeq == Seq("b"))
  }

  test("trig/log operators match java.lang.Math") {
    val d = Seq((0.5, 2.0)).toDF("x", "y")
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "s" -> Map("$sin" -> "$x"), "t" -> Map("$tanh" -> "$x"),
      "a2" -> Map("$atan2" -> Seq("$y", "$x")),
      "r" -> Map("$degreesToRadians" -> 180),
      "g" -> Map("$radiansToDegrees" -> Map("$divide" ->
        Seq(Math.PI, 2.0))),
      "l" -> Map("$log" -> Seq("$y", 4.0))))))(d)
    val r = out.select("s", "t", "a2", "r", "g", "l").head()
    assert(r.getDouble(0) == Math.sin(0.5))
    assert(r.getDouble(1) == Math.tanh(0.5))
    assert(r.getDouble(2) == Math.atan2(2.0, 0.5))
    assert(r.getDouble(3) == Math.PI)
    assert(math.abs(r.getDouble(4) - 90.0) < 1e-12)
    assert(math.abs(r.getDouble(5) - 0.5) < 1e-12)
  }

  test("$arrayToObject last-wins on duplicate keys; $mergeObjects skips null") {
    val d = Seq((1L, 2L)).toDF("x", "y")
    val out = PipelineCompiler.compile(Seq(
      Map("$addFields" -> Map(
        "m" -> Map("$arrayToObject" -> Seq(Seq(
          Map("k" -> "a", "v" -> "$x"), Map("k" -> "a", "v" -> "$y")))),
        "mn" -> Map("$mergeObjects" -> Seq(
          Map("$arrayToObject" -> Seq(Seq(Map("k" -> "b", "v" -> "$x")))),
          // a typed null map (the missing-operand shape)
          Map("$cond" -> Seq(Map("$eq" -> Seq("$x", 999)),
            Map("$arrayToObject" -> Seq(Seq(Map("k" -> "c", "v" -> "$y")))),
            Map("$literal" -> null))))))),
      Map("$addFields" -> Map(
        "av" -> Map("$getField" -> Map("field" -> "a", "input" -> "$m")),
        "bv" -> Map("$getField" -> Map("field" -> "b", "input" -> "$mn"))))))(d)
    val r = out.select("av", "bv").head()
    assert(r.getLong(0) == 2L) // duplicate key 'a': LAST value wins
    assert(r.getLong(1) == 1L) // null operand ignored, not poisoning
  }

  test("$objectToArray / $arrayToObject / $mergeObjects last-wins") {
    val d = Seq((1L, 2L)).toDF("x", "y")
    val out = PipelineCompiler.compile(Seq(
      Map("$addFields" -> Map(
        "m1" -> Map("$arrayToObject" -> Seq(Seq(
          Map("k" -> "a", "v" -> "$x"), Map("k" -> "b", "v" -> "$y")))),
        "m2" -> Map("$arrayToObject" -> Seq(Seq(
          Map("k" -> "b", "v" -> Map("$multiply" -> Seq("$y", 10L))),
          Map("k" -> "c", "v" -> 7L)))))),
      Map("$addFields" -> Map(
        "ents" -> Map("$sortArray" -> Map(
          "input" -> Map("$objectToArray" ->
            Map("$mergeObjects" -> Seq("$m1", "$m2"))),
          "sortBy" -> 1))))))(d)
    val ents = out.select("ents").head().getSeq[org.apache.spark.sql.Row](0)
    assert(ents.map(r => (r.getString(0), r.getLong(1))) ==
      Seq(("a", 1L), ("b", 20L), ("c", 7L))) // b overridden by m2
  }

  test("chars-aware trims, $indexOfBytes, $type and $isNumber") {
    val d = Seq(("xxhéllozz", 7, 1.5)).toDF("s", "i", "f")
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "lt" -> Map("$ltrim" -> Map("input" -> "$s", "chars" -> "x")),
      "rt" -> Map("$rtrim" -> Map("input" -> "$s", "chars" -> "z")),
      "iob" -> Map("$indexOfBytes" -> Seq("$s", "llo")), // after x,x,h,é(2B)
      "absent" -> Map("$indexOfBytes" -> Seq("$s", "qq")),
      "ts" -> Map("$type" -> "$s"), "ti" -> Map("$type" -> "$i"),
      "tf" -> Map("$type" -> "$f"),
      "ns" -> Map("$isNumber" -> "$s"),
      "ni" -> Map("$isNumber" -> "$i")))))(d)
    val r = out.select("lt", "rt", "iob", "absent", "ts", "ti", "tf",
      "ns", "ni").head()
    assert(r.getString(0) == "héllozz" && r.getString(1) == "xxhéllo")
    assert(r.getInt(2) == 5 && r.getInt(3) == -1)
    assert(r.getString(4) == "string" && r.getString(5) == "int" &&
      r.getString(6) == "double")
    assert(!r.getBoolean(7) && r.getBoolean(8))
  }

  test("$dateDiff calendar units count boundary crossings") {
    val d = Seq(("2023-12-20 10:00:00", "2024-01-05 09:00:00"))
      .toDF("s", "e")
      .select($"s".cast("timestamp").as("s"), $"e".cast("timestamp").as("e"))
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "m" -> Map("$dateDiff" -> Map("startDate" -> "$s", "endDate" -> "$e",
        "unit" -> "month")),
      "q" -> Map("$dateDiff" -> Map("startDate" -> "$s", "endDate" -> "$e",
        "unit" -> "quarter")),
      "y" -> Map("$dateDiff" -> Map("startDate" -> "$s", "endDate" -> "$e",
        "unit" -> "year"))))))(d)
    // 16 days apart but one month/quarter/year boundary crossed
    assert(out.select("m", "q", "y").as[(Long, Long, Long)].head() ==
      ((1L, 1L, 1L)))
  }

  test("$replaceOne replaces only the first occurrence") {
    val d = Seq(Tuple1("banana")).toDF("s")
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "one" -> Map("$replaceOne" -> Map("input" -> "$s", "find" -> "an",
        "replacement" -> "AN")),
      "none" -> Map("$replaceOne" -> Map("input" -> "$s", "find" -> "zz",
        "replacement" -> "AN"))))))(d)
    assert(out.select("one", "none").as[(String, String)].head() ==
      (("bANana", "banana")))
  }

  test("$regexFind / $regexFindAll") {
    val d = Seq(("Clerk#000000951", "many tiny words here")).toDF("clerk", "c")
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "rf" -> Map("$regexFind" ->
        Map("input" -> "$clerk", "regex" -> "#([0-9]+)")),
      "none" -> Map("$regexFind" ->
        Map("input" -> "$c", "regex" -> "[0-9]+")),
      "rfa" -> Map("$regexFindAll" ->
        Map("input" -> "$c", "regex" -> "[a-z]{4,}"))))))(d)
    val r = out.select("rf.match", "rf.captures", "none", "rfa").head()
    assert(r.getString(0) == "#000000951")
    assert(r.getSeq[String](1) == Seq("000000951"))
    assert(r.isNullAt(2))
    assert(r.getSeq[String](3) == Seq("many", "tiny", "words", "here"))
  }

  test("$toObjectId/$toUUID validate format, raise on invalid") {
    val good = Seq(("507F1F77BCF86CD799439011",
      "A0EEBC99-9C0B-4EF8-BB6D-6BB9BD380A11")).toDF("oid", "uid")
    val out = PipelineCompiler.compile(Seq(
      Map("$project" -> Map(
        "o" -> Map("$toObjectId" -> "$oid"),
        "u" -> Map("$toUUID" -> "$uid")))))(good).head()
    assert(out.getString(0) == "507f1f77bcf86cd799439011")
    assert(out.getString(1) == "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11")
    val bad = Seq(Tuple1("nope")).toDF("oid")
    val err = intercept[Exception] {
      PipelineCompiler.compile(Seq(
        Map("$project" -> Map("o" -> Map("$toObjectId" -> "$oid")))))(bad)
        .collect()
    }
    assert(err.getMessage.contains("invalid ObjectId"))
  }

  test("$toHashedIndexKey is deterministic, 64-bit, spread") {
    val d = Seq("alpha", "beta", "alpha").toDF("k")
    val out = PipelineCompiler.compile(Seq(
      Map("$project" -> Map(
        "h" -> Map("$toHashedIndexKey" -> "$k")))))(d)
      .collect().map(_.getLong(0))
    assert(out(0) == out(2))         // deterministic per value
    assert(out(0) != out(1))         // distinct values spread
  }

  test("$convert honors onError and onNull; $dateFromString parses") {
    val d = Seq(("12", "abc"), (null, "7")).toDF("a", "b")
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "ca" -> Map("$convert" -> Map("input" -> "$a", "to" -> "int",
        "onError" -> -1, "onNull" -> -2)),
      "cb" -> Map("$convert" -> Map("input" -> "$b", "to" -> "int",
        "onError" -> -1)),
      "ts" -> Map("$dateFromString" -> Map(
        "dateString" -> Map("$literal" -> "2024/01/02 03:04"),
        "format" -> "%Y/%m/%d %H:%M"))))))(d)
    val rows = out.select("ca", "cb", "ts").collect()
    assert(rows(0).getInt(0) == 12 && rows(0).getInt(1) == -1)
    assert(rows(1).getInt(0) == -2 && rows(1).getInt(1) == 7)
    assert(rows(0).getTimestamp(2).toString.startsWith("2024-01-02 03:04"))
    // null input + onError but NO onNull: Mongo yields null, not onError
    val out2 = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "cn" -> Map("$convert" -> Map("input" -> "$a", "to" -> "int",
        "onError" -> -1))))))(d)
    assert(out2.where($"a".isNull).select("cn").head().isNullAt(0))
    intercept[IllegalArgumentException] {
      PipelineCompiler.expr2col(Map("$convert" ->
        Map("input" -> "$a", "to" -> "objectId")))
    }
  }

  test("byte-level string ops count UTF-8 bytes, not codepoints") {
    val d = Seq(Tuple1("héllo")).toDF("s") // é is 2 UTF-8 bytes
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "cp" -> Map("$strLenCP" -> "$s"),
      "by" -> Map("$strLenBytes" -> "$s"),
      "sb" -> Map("$substrBytes" -> Seq("$s", 0, 3)),
      "bsz" -> Map("$binarySize" -> "$s")))))(d)
    val r = out.select("cp", "by", "sb", "bsz").head()
    assert(r.getInt(0) == 5)
    assert(r.getInt(1) == 6)
    assert(r.getString(2) == "hé")
    assert(r.getInt(3) == 6)
  }

  test("inverse hyperbolics, $cmp/$strcasecmp, $substr, $toDecimal, $isArray") {
    val d = Seq((2.0, "Apple", "apple", Seq(1, 2))).toDF("x", "a", "b", "arr")
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "ash" -> Map("$asinh" -> Map("$sinh" -> "$x")),
      "ach" -> Map("$acosh" -> Map("$cosh" -> "$x")),
      "ath" -> Map("$atanh" -> Map("$tanh" -> "$x")),
      "c1" -> Map("$cmp" -> Seq("$a", "$b")),
      "c2" -> Map("$strcasecmp" -> Seq("$a", "$b")),
      "sb" -> Map("$substr" -> Seq("$a", 0, 3)),
      "dec" -> Map("$toDecimal" -> "$x"),
      "ia" -> Map("$isArray" -> "$arr"),
      "ns" -> Map("$isArray" -> "$a")))))(d)
    val r = out.select("ash", "ach", "ath", "c1", "c2", "sb", "ia", "ns")
      .head()
    assert(math.abs(r.getDouble(0) - 2.0) < 1e-9)
    assert(math.abs(r.getDouble(1) - 2.0) < 1e-9)
    assert(math.abs(r.getDouble(2) - 2.0) < 1e-9)
    assert(r.getInt(3) == -1) // 'A' < 'a'
    assert(r.getInt(4) == 0)  // case-insensitive equal
    assert(r.getString(5) == "App")
    assert(r.getBoolean(6) && !r.getBoolean(7))
    assert(out.select("dec").schema.head.dataType.typeName
      .startsWith("decimal"))
  }

  test("$bsonSize measures the raw-document serialization, $rand in [0,1)") {
    val d = Seq((1L, "a")).toDF("_id", "cat")
    val out = PipelineCompiler.compile(Seq(Map("$addFields" -> Map(
      "r" -> Map("$rand" -> Map.empty),
      "sz" -> Map("$bsonSize" ->
        Map("id" -> "$_id", "cat" -> "$cat"))))))(d)
    val row = out.select("r", "sz").head()
    val rv = row.getDouble(0)
    assert(rv >= 0.0 && rv < 1.0)
    assert(row.getInt(1) == """{"id":1,"cat":"a"}""".length)
  }

  test("$sampleRate keeps ~p of rows, 0 and 1 are exact") {
    val d = spark.range(2000).toDF("_id")
    val none = new graft.db.MockCollection(d).find(
      Map("$sampleRate" -> 0.0)).count()
    val all = new graft.db.MockCollection(d).find(
      Map("$sampleRate" -> 1.0)).count()
    assert(none == 0L && all == 2000L)
    val some = new graft.db.MockCollection(d).find(
      Map("$sampleRate" -> 0.5)).count()
    assert(some > 600 && some < 1400, s"~50% expected, got $some")
    intercept[IllegalArgumentException] {
      graft.query.QueryCompiler.compile(Map("$sampleRate" -> 1.5))
    }
  }
}

class SearchStagesSpec extends graft.SparkSpec {
  import spark.implicits._

  test("$search text synonyms: equivalent and explicit mappings") {
    val docs = Seq((1L, "the quick fox"), (2L, "the rapid fox"),
      (3L, "a slow snail"), (4L, "the speedy fox")).toDF("id", "txt")
    val equivalent = Seq(Tuple1(Seq("fast", "quick", "rapid")))
      .toDF("synonyms")
    def run(syn: org.apache.spark.sql.DataFrame) =
      PipelineCompiler.compile(Seq(
        Map("$search" -> Map("text" -> Map(
          "query" -> "fast", "path" -> "txt",
          "synonyms" -> "syn")))),
        tables = { case "syn" => syn })(docs)
        .select("id").orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(run(equivalent) == Seq(1L, 2L))
    // explicit: only "fast" triggers the expansion, one-directional
    val explicit = Seq((Seq("fast"), Seq("speedy")))
      .toDF("input", "synonyms")
    assert(run(explicit) == Seq(4L))
    // fuzzy + synonyms rejected
    val err = intercept[IllegalArgumentException] {
      PipelineCompiler.compile(Seq(
        Map("$search" -> Map("text" -> Map(
          "query" -> "fast", "path" -> "txt",
          "fuzzy" -> Map("maxEdits" -> 1),
          "synonyms" -> "syn")))),
        tables = { case "syn" => equivalent })(docs)
    }
    assert(err.getMessage.contains("cannot combine"))
  }

  test("$search count option binds $$SEARCH_META for later stages") {
    val d = Seq((1L, "alpha beta"), (2L, "beta gamma"), (3L, "delta"))
      .toDF("id", "txt")
    val out = PipelineCompiler.compile(Seq(
      Map("$search" -> Map(
        "text" -> Map("query" -> "beta", "path" -> "txt"),
        "count" -> Map("type" -> "total"))),
      Map("$project" -> Map("id" -> 1,
        "total" -> "$$SEARCH_META.count.total"))))(d)
      .orderBy("id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 2L), (2L, 2L)))
    // $addFields path binds it too
    val out2 = PipelineCompiler.compile(Seq(
      Map("$search" -> Map(
        "text" -> Map("query" -> "beta", "path" -> "txt"),
        "count" -> Map())),
      Map("$addFields" -> Map(
        "total" -> "$$SEARCH_META.count.total"))))(d)
      .select("id", "total").orderBy("id").collect()
    assert(out2.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 2L), (2L, 2L)))
  }

  test("$search highlight: per-hit passages via searchHighlights meta") {
    val d = Seq((1L, "alpha beta gamma delta epsilon beta zeta"),
      (2L, "no hits here at all")).toDF("id", "txt")
    val out = PipelineCompiler.compile(Seq(
      Map("$search" -> Map(
        "text" -> Map("query" -> "beta zeta", "path" -> "txt"),
        "highlight" -> Map("path" -> "txt", "maxNumPassages" -> 2))),
      Map("$project" -> Map("id" -> 1,
        "hl" -> Map("$meta" -> "searchHighlights")))))(d)
    val rows = out.where($"id" === 1)
      .selectExpr("transform(hl, p -> struct(p.texts[0].value, " +
        "p.texts[1].value, p.texts[2].value))")
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    // capped at 2 passages although there are 3 hits
    assert(rows.size == 2)
    assert(rows(0) == (("alpha", "beta", "gamma delta")))
    assert(rows(1) == (("delta epsilon", "beta", "zeta")))
    val err = intercept[IllegalArgumentException] {
      PipelineCompiler.compile(Seq(
        Map("$search" -> Map(
          "text" -> Map("query" -> "beta", "path" -> "txt"),
          "highlight" -> Map("path" -> "other")))))(d)
    }
    assert(err.getMessage.contains("no text/phrase leg"))
  }

  test("$search highlight tokenizes the path with its leg's analyzer") {
    val d = Seq((1L, "Stream, filter!"), (2L, "nothing here"))
      .toDF("id", "txt")
    def hits(searchDoc: Map[String, Any]): Seq[String] =
      PipelineCompiler.compile(Seq(
        Map("$search" -> (searchDoc ++
          Map("highlight" -> Map("path" -> "txt")))),
        Map("$project" -> Map("id" -> 1,
          "hl" -> Map("$meta" -> "searchHighlights")))))(d)
        .where($"id" === 1)
        .selectExpr("transform(hl, p -> p.texts[1].value)")
        .collect().head.getSeq[String](0)
    // lucene.standard analyzes "Stream," to "stream", which the query
    // matches: one passage for it
    assert(hits(Map("analyzer" -> "lucene.standard",
      "text" -> Map("query" -> "stream", "path" -> "txt"))) ==
      Seq("stream"))
    // a {value, multi} path names the highlight path too
    assert(hits(Map("text" -> Map("query" -> "Filter",
      "path" -> Map("value" -> "txt", "multi" -> "lucene.standard")))) ==
      Seq("filter"))
  }

  test("$search geoWithin/geoShape legs: box, circle, within/disjoint/contains") {
    val d = Seq((1L, Seq(0.1, 0.1)), (2L, Seq(0.3, 0.0)),
      (3L, Seq(0.9, 0.9)), (4L, Seq(-0.2, 0.05)))
      .toDF("id", "pt")
    def ids(searchDoc: Map[String, Any]): Seq[Long] =
      PipelineCompiler.compile(Seq(Map("$search" -> searchDoc)))(d)
        .select("id").orderBy("id").collect().map(_.getLong(0)).toSeq
    // box keeps everything within [-0.5,0.5]^2
    assert(ids(Map("geoWithin" -> Map("path" -> "pt", "box" -> Map(
      "bottomLeft" -> Map("type" -> "Point",
        "coordinates" -> Seq(-0.5, -0.5)),
      "topRight" -> Map("type" -> "Point",
        "coordinates" -> Seq(0.5, 0.5)))))) == Seq(1L, 2L, 4L))
    // small circle around (0.1, 0.1): only id=1 (haversine meters)
    assert(ids(Map("geoWithin" -> Map("path" -> "pt", "circle" -> Map(
      "center" -> Map("type" -> "Point", "coordinates" -> Seq(0.1, 0.1)),
      "radius" -> 1000)))) == Seq(1L))
    val diamond = Map("type" -> "Polygon", "coordinates" -> Seq(Seq(
      Seq(0.4, 0.0), Seq(0.0, 0.4), Seq(-0.4, 0.0), Seq(0.0, -0.4),
      Seq(0.4, 0.0))))
    assert(ids(Map("geoShape" -> Map("path" -> "pt",
      "relation" -> "within", "geometry" -> diamond))) == Seq(1L, 2L, 4L))
    assert(ids(Map("geoShape" -> Map("path" -> "pt",
      "relation" -> "disjoint", "geometry" -> diamond))) == Seq(3L))
    assert(ids(Map("geoShape" -> Map("path" -> "pt",
      "relation" -> "contains", "geometry" -> Map("type" -> "Point",
        "coordinates" -> Seq(0.3, 0.0))))) == Seq(2L))
    val err = intercept[Exception] {
      ids(Map("geoShape" -> Map("path" -> "pt", "relation" -> "contains",
        "geometry" -> diamond)))
    }
    assert(err.getMessage.contains("Point geometry"))
  }

  test("$search embeddedDocument matches per element, aggregates scores") {
    val d = Seq(
      (1L, Seq(("a", 10), ("b", 40), ("a", 50))),
      (2L, Seq(("b", 10))),
      (3L, Seq(("a", 5)))
    ).toDF("id", "items")
    def run(searchDoc: Map[String, Any]) =
      PipelineCompiler.compile(Seq(
        Map("$search" -> searchDoc),
        Map("$project" -> Map("id" -> 1,
          "score" -> Map("$meta" -> "searchScore")))))(d)
    // compound inner: must equals 'a', filter qty >= 20 → only id=1
    // matches (one element "a"/50); sum score = 1.0 per matching element
    val out = run(Map("embeddedDocument" -> Map(
      "path" -> "items",
      "operator" -> Map("compound" -> Map(
        "must" -> Seq(Map("equals" ->
          Map("path" -> "items._1", "value" -> "a"))),
        "filter" -> Seq(Map("range" ->
          Map("path" -> "items._2", "gte" -> 20))))))))
      .select("id", "score").collect()
    assert(out.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 1.0)))
    // no explode/join: element evaluation is lambda algebra in the scan
    val plan = run(Map("embeddedDocument" -> Map(
      "path" -> "items",
      "operator" -> Map("equals" ->
        Map("path" -> "items._1", "value" -> "a")))))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Generate") && !plan.contains("Join"))
    // mean aggregate with boosted equals: id=1 has 2 'a' elements,
    // each score 3.0 → mean 3.0
    val mean = run(Map("embeddedDocument" -> Map(
      "path" -> "items",
      "score" -> Map("embedded" -> Map("aggregate" -> "mean")),
      "operator" -> Map("equals" -> Map("path" -> "items._1",
        "value" -> "a",
        "score" -> Map("boost" -> Map("value" -> 3.0)))))))
      .select("id", "score").orderBy("id").collect()
    assert(mean.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 3.0), (3L, 3.0)))
    // inner path must extend the array path
    val err = intercept[Exception] {
      run(Map("embeddedDocument" -> Map(
        "path" -> "items",
        "operator" -> Map("equals" ->
          Map("path" -> "other.x", "value" -> "a")))))
    }
    assert(err.getMessage.contains("must extend"))
  }

  test("$vectorSearch ranks by cosine, folds the query vector into the scan") {
    val d = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = PipelineCompiler.compile(Seq(
      Map("$vectorSearch" -> Map("path" -> "embedding",
        "queryVector" -> Seq(1.0, 0.0), "limit" -> 2,
        "tieBreak" -> "vec_id", "scoreField" -> "score"))))(d)
    val rows = out.select("vec_id", "score").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(math.abs(rows.head.getDouble(1) - 1.0) < 1e-12)
    // no join anywhere: the plan is scan → project → TakeOrdered
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && plan.contains("TakeOrderedAndProject"))
  }

  test("$geoNear planar: distance order, bounds, multiplier, includeLocs") {
    val pts = Seq(
      (1L, Seq(0.0, 0.0)), (2L, Seq(3.0, 4.0)),     // d = 0, 5
      (3L, Seq(6.0, 8.0)), (4L, Seq(30.0, 40.0)))   // d = 10, 50
      .toDF("id", "loc")
    val out = PipelineCompiler.compile(Seq(
      Map("$geoNear" -> Map("near" -> Seq(0.0, 0.0), "key" -> "loc",
        "distanceField" -> "d", "minDistance" -> 1.0,
        "maxDistance" -> 20.0, "distanceMultiplier" -> 2.0,
        "includeLocs" -> "where"))))(pts)
    val rows = out.select("id", "d", "where").collect()
    // id=1 dropped by minDistance, id=4 by maxDistance; ascending order;
    // multiplier scales the emitted field only (bounds saw raw 5 and 10)
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L, 3L))
    assert(rows.map(_.getDouble(1)).toSeq == Seq(10.0, 20.0))
    assert(rows.map(_.getSeq[Double](2)).toSeq ==
      Seq(Seq(3.0, 4.0), Seq(6.0, 8.0)))
  }

  test("$geoNear spherical: haversine meters, GeoJSON near + struct key, query") {
    // quarter meridian: equator → pole ≈ 10 001 965 m on the mean sphere
    val pts = Seq(
      (1L, "keep", ("Point", Seq(0.0, 90.0))),
      (2L, "keep", ("Point", Seq(0.0, 0.0))),
      (3L, "drop", ("Point", Seq(0.0, 45.0))))
      .toDF("id", "tag", "geo")
      .withColumn("geo", struct(col("geo._1").as("type"),
        col("geo._2").as("coordinates")))
    val out = PipelineCompiler.compile(Seq(
      Map("$geoNear" -> Map(
        "near" -> Map("type" -> "Point", "coordinates" -> Seq(0.0, 0.0)),
        "key" -> "geo", "distanceField" -> "d", "spherical" -> true,
        "query" -> Map("tag" -> "keep")))))(pts)
    val rows = out.select("id", "d").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L, 1L))
    assert(rows.head.getDouble(1) == 0.0)
    assert(math.abs(rows(1).getDouble(1) - math.Pi / 2 * 6371008.8) < 1e-3)
  }

  test("$geoNear GeoJSON near implies spherical without the flag") {
    val pts = Seq((1L, Seq(0.0, 90.0))).toDF("id", "loc")
    val out = PipelineCompiler.compile(Seq(
      Map("$geoNear" -> Map(
        "near" -> Map("type" -> "Point", "coordinates" -> Seq(0.0, 0.0)),
        "key" -> "loc", "distanceField" -> "d"))))(pts)
    // meters on the sphere, not 90 planar degrees
    assert(math.abs(out.select("d").as[Double].head()
      - math.Pi / 2 * 6371008.8) < 1e-3)
  }

  test("$search phrase rejects an empty query") {
    val docs = Seq((1L, "text here")).toDF("id", "txt")
    intercept[IllegalArgumentException] {
      PipelineCompiler.compile(Seq(Map("$search" -> Map("phrase" ->
        Map("query" -> "", "path" -> "txt")))))(docs)
    }
  }

  test("$searchMeta count plan skips the BM25 stats aggregate") {
    val docs = Seq((1L, "spark row"), (2L, "other")).toDF("id", "txt")
    val out = PipelineCompiler.compile(Seq(
      Map("$searchMeta" -> Map("text" ->
        Map("query" -> "spark", "path" -> "txt")))))(docs)
    assert(out.select("count.total").as[Long].head() == 1L)
    assert(!out.queryExecution.optimizedPlan.toString
      .contains("_avgdl"))
  }

  test("$search text: BM25 order, $meta searchScore, non-matches dropped") {
    val docs = Seq(
      (1L, "spark spark spark"), (2L, "spark row"),
      (3L, "row row row row"), (4L, "other words entirely"))
      .toDF("id", "txt")
    val out = PipelineCompiler.compile(Seq(
      Map("$search" -> Map("index" -> "ignored", "text" ->
        Map("query" -> "spark row", "path" -> "txt"))),
      Map("$project" -> Map("id" -> 1,
        "s" -> Map("$meta" -> "searchScore")))))(docs)
    val rows = out.collect()
    assert(rows.map(_.getLong(0)).toSet == Set(1L, 2L, 3L)) // 4 dropped
    assert(out.columns.toSeq == Seq("id", "s")) // carrier column gone
    assert(rows.forall(_.getDouble(1) > 0.0))
    // doc 2 matches both terms; its combined score must beat the
    // single-term docs only if BM25 says so — just assert ordering is by
    // the emitted score, descending
    val scores = out.orderBy(desc("s")).select("s")
      .collect().map(_.getDouble(0)).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("$search phrase scores by occurrence count") {
    val docs = Seq((1L, "ab cd ab cd"), (2L, "ab cd"), (3L, "zz"))
      .toDF("id", "txt")
    val out = PipelineCompiler.compile(Seq(
      Map("$search" -> Map("phrase" ->
        Map("query" -> "ab cd", "path" -> "txt"))),
      Map("$project" -> Map("id" -> 1,
        "s" -> Map("$meta" -> "searchScore")))))(docs)
    assert(out.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap ==
      Map(1L -> 2.0, 2L -> 1.0))
  }

  test("$search wildcard: glob translation, constant score") {
    val docs = Seq((1L, "spark-4.1.2"), (2L, "spark-3.5"), (3L, "flink"))
      .toDF("id", "txt")
    val out = PipelineCompiler.compile(Seq(
      Map("$search" -> Map("wildcard" ->
        Map("query" -> "spark-4.?.*", "path" -> "txt"))),
      Map("$project" -> Map("id" -> 1,
        "s" -> Map("$meta" -> "searchScore")))))(docs)
    assert(out.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap ==
      Map(1L -> 1.0)) // regex metachars in the doc text stay literal
  }

  test("$search lucene.french / lucene.german: stemmed text and phrase " +
      "legs; unknown analyzers still reject") {
    val docs = Seq(
      (1L, "la continuelle recherche", "die möglichkeiten der kindern"),
      (2L, "chercher les traitements", "laufen und wanderung"),
      (3L, "nationale", "kleinsten kinder"))
      .toDF("id", "fr", "de")
    // french text leg: "continuellement" stems to continuel on both sides
    val fr = PipelineCompiler.compile(Seq(
      Map("$search" -> Map("analyzer" -> "lucene.french",
        "text" -> Map("query" -> "continuellement", "path" -> "fr"))),
      Map("$project" -> Map("id" -> 1))))(docs)
    assert(fr.select("id").as[Long].collect().toSeq == Seq(1L))
    // german phrase leg: adjacency runs in the stop-removed stemmed
    // stream — 'der' is unindexed, so [moglich, kind] is adjacent
    val de = PipelineCompiler.compile(Seq(
      Map("$search" -> Map("analyzer" -> "lucene.german",
        "phrase" -> Map("query" -> "mögliche kinder", "path" -> "de"))),
      Map("$project" -> Map("id" -> 1))))(docs)
    assert(de.select("id").as[Long].collect().toSeq == Seq(1L))
    val e = intercept[IllegalArgumentException](
      PipelineCompiler.compile(Seq(
        Map("$search" -> Map("analyzer" -> "lucene.finnish",
          "text" -> Map("query" -> "x", "path" -> "fr")))))(docs))
    assert(e.getMessage.contains("unsupported"))
  }

  test("$search searchAfter: keyset pagination with no overlap or gap") {
    val docs = Seq(
      (1L, "stream stream stream"), (2L, "stream stream x"),
      (3L, "stream x y"), (4L, "stream y z"), (5L, "stream z w"),
      (6L, "nothing here"))
      .toDF("id", "txt")
    val sort = Map("s" -> Map("$meta" -> "searchScore"), "id" -> 1)
    def page(after: Option[String]): Seq[(Long, String)] =
      PipelineCompiler.compile(Seq(
        Map("$search" -> (Map(
          "text" -> Map("query" -> "stream", "path" -> "txt"),
          "sort" -> sort) ++
          after.map("searchAfter" -> _).toMap)),
        Map("$limit" -> 2),
        Map("$project" -> Map("id" -> 1,
          "tok" -> Map("$meta" -> "searchSequenceToken")))))(docs)
        .as[(Long, String)].collect().toSeq
    val p1 = page(None)
    val p2 = page(Some(p1.last._2))
    val p3 = page(Some(p2.last._2))
    // three pages cover the 5 matches in order, no overlap, no gap
    assert((p1 ++ p2 ++ p3).map(_._1) == Seq(1L, 2L, 3L, 4L, 5L))
    // score ties (docs 3,4,5 all tf=1) break on the id sort key, so
    // paging across the tie boundary is still exact
    assert(p2.map(_._1) == Seq(3L, 4L))
    // a NULL stored-field sort value sorts last under desc — paging
    // from a non-null cursor must reach the null tail (no silent gap)
    val withNulls = Seq((1L, "stream", java.lang.Long.valueOf(9L)),
      (2L, "stream", java.lang.Long.valueOf(5L)),
      (3L, "stream", null.asInstanceOf[java.lang.Long]))
      .toDF("id", "txt", "aux")
    val np1 = PipelineCompiler.compile(Seq(
      Map("$search" -> Map(
        "text" -> Map("query" -> "stream", "path" -> "txt"),
        "sort" -> Map("aux" -> -1, "id" -> 1))),
      Map("$limit" -> 2),
      Map("$project" -> Map("id" -> 1,
        "tok" -> Map("$meta" -> "searchSequenceToken")))))(withNulls)
      .as[(Long, String)].collect().toSeq
    assert(np1.map(_._1) == Seq(1L, 2L))
    val np2 = PipelineCompiler.compile(Seq(
      Map("$search" -> Map(
        "text" -> Map("query" -> "stream", "path" -> "txt"),
        "sort" -> Map("aux" -> -1, "id" -> 1),
        "searchAfter" -> np1.last._2)),
      Map("$project" -> Map("id" -> 1))))(withNulls)
      .select("id").as[Long].collect().toSeq
    assert(np2 == Seq(3L))
    // searchAfter without sort / a garbage token reject loudly
    val e1 = intercept[IllegalArgumentException](PipelineCompiler.compile(
      Seq(Map("$search" -> Map(
        "text" -> Map("query" -> "stream", "path" -> "txt"),
        "searchAfter" -> "abc"))))(docs))
    assert(e1.getMessage.contains("sort"))
    val e2 = intercept[IllegalArgumentException](PipelineCompiler.compile(
      Seq(Map("$search" -> Map(
        "text" -> Map("query" -> "stream", "path" -> "txt"),
        "sort" -> sort, "searchAfter" -> "%%%"))))(docs).collect())
    assert(e2.getMessage.contains("searchAfter"))
  }

  test("$search autocomplete: token prefix match") {
    val docs = Seq((1L, "streaming engine"), (2L, "stream"), (3L, "upstream"))
      .toDF("id", "txt")
    val out = PipelineCompiler.compile(Seq(
      Map("$search" -> Map("autocomplete" ->
        Map("query" -> "stream", "path" -> "txt"))),
      Map("$project" -> Map("id" -> 1))))(docs)
    // prefix of a token, not substring: "upstream" must not match
    assert(out.select("id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("$vectorSearch quantization: scalar and binary variants") {
    val docs = Seq(
      (1L, Array(1.0f, 0.1f)), (2L, Array(0.9f, 0.4f)),
      (3L, Array(-1.0f, 0.2f)), (4L, Array(0.1f, 1.0f)))
      .toDF("vec_id", "embedding")
    def ids(extra: Map[String, Any]): Seq[Long] =
      PipelineCompiler.compile(Seq(
        Map("$vectorSearch" -> (Map("path" -> "embedding",
          "queryVector" -> Seq(1.0, 0.0), "limit" -> 2,
          "tieBreak" -> "vec_id") ++ extra)),
        Map("$project" -> Map("vec_id" -> 1))))(docs)
        .select("vec_id").as[Long].collect().toSeq
    // all three modes agree on this frame (binary's shortlist keeps the
    // true top-2 in its 3 candidates; scalar's codes preserve ranks)
    assert(ids(Map.empty) == Seq(1L, 2L))
    assert(ids(Map("quantization" -> "scalar")) == Seq(1L, 2L))
    assert(ids(Map("quantization" -> "binary",
      "numCandidates" -> 3)) == Seq(1L, 2L))
    val e = intercept[IllegalArgumentException](
      ids(Map("quantization" -> "product")))
    assert(e.getMessage.contains("quantization"))
    // binary's hamming shortlist cuts at an integer distance — boundary
    // ties would make the rescored set nondeterministic, so the stage
    // requires an explicit tie-break column
    val e2 = intercept[IllegalArgumentException](
      PipelineCompiler.compile(Seq(
        Map("$vectorSearch" -> Map("path" -> "embedding",
          "queryVector" -> Seq(1.0, 0.0), "limit" -> 2,
          "quantization" -> "binary"))))(docs).collect())
    assert(e2.getMessage.contains("tieBreak"))
  }

  test("$search score function DSL and boost.path") {
    val docs = Seq(
      (1L, "spark stream", 100L, Some(4.0)),
      (2L, "spark stream", 300L, None),
      (3L, "nothing", 300L, Some(1.0)))
      .toDF("id", "txt", "n", "pop")
    def scoresOpt(score: Option[Map[String, Any]]): Map[Long, Double] =
      PipelineCompiler.compile(Seq(
        Map("$search" -> Map("text" -> (Map(
          "query" -> "stream", "path" -> "txt") ++
          score.map("score" -> _)))),
        Map("$project" -> Map("id" -> 1,
          "s" -> Map("$meta" -> "searchScore")))))(docs)
        .select("id", "s").as[(Long, Double)].collect().toMap
    def scores(score: Map[String, Any]) = scoresOpt(Some(score))
    // constant relevance isolates the function algebra exactly
    val base = Map("constant" -> Map("value" -> 2.0))
    assert(scores(base) == Map(1L -> 2.0, 2L -> 2.0))
    // multiply/add/constant/score compose; path reads a field with
    // undefined fallback for nulls
    val fn = scores(Map("function" -> Map("multiply" -> Seq(
      Map("score" -> "relevance"),
      Map("add" -> Seq(Map("constant" -> 1.0),
        Map("path" -> Map("value" -> "pop", "undefined" -> 0.5))))))))
    val rel = scoresOpt(None) // unmodified BM25
    assert(math.abs(fn(1L) - rel(1L) * 5.0) < 1e-9)
    assert(math.abs(fn(2L) - rel(2L) * 1.5) < 1e-9)
    // log10 semantics: log1p(n) = log10(n + 1)
    val lg = scores(Map("function" -> Map("multiply" -> Seq(
      Map("constant" -> 3.0),
      Map("log1p" -> Map("path" -> "n"))))))
    assert(math.abs(lg(1L) - 3.0 * math.log10(101.0)) < 1e-9)
    // gauss: decay^((|n-origin|/scale)^2) — 1 at the origin, `decay`
    // at distance scale
    val ga = scores(Map("function" -> Map("gauss" -> Map(
      "path" -> "n", "origin" -> 300, "scale" -> 200, "decay" -> 0.5))))
    assert(math.abs(ga(2L) - 1.0) < 1e-9)
    assert(math.abs(ga(1L) - math.pow(0.5, 1.0)) < 1e-9)
    // boost.path multiplies by the field, undefined covers nulls
    val bp = scores(Map("boost" ->
      Map("path" -> "pop", "undefined" -> 2.0)))
    assert(math.abs(bp(1L) - rel(1L) * 4.0) < 1e-9)
    assert(math.abs(bp(2L) - rel(2L) * 2.0) < 1e-9)
    // unknown function expressions reject loudly
    val e = intercept[IllegalArgumentException](scores(
      Map("function" -> Map("exp" -> Map("path" -> "n")))))
    assert(e.getMessage.contains("unsupported function expression"))
  }

  test("$search autocomplete fuzzy: typo-tolerant prefix completion") {
    val docs = Seq(
      (1L, "stream processing"), (2L, "strong types"),
      (3L, "filter pipeline"), (4L, "streaming joins"))
      .toDF("id", "txt")
    // "strae" is one edit from the "strea"/"stre" prefixes of
    // stream/streaming but ≥2 from every prefix of "strong"
    val any = PipelineCompiler.compile(Seq(
      Map("$search" -> Map("autocomplete" -> Map(
        "query" -> "strae", "path" -> "txt",
        "fuzzy" -> Map("maxEdits" -> 1)))),
      Map("$project" -> Map("id" -> 1))))(docs)
    assert(any.select("id").as[Long].collect().toSet == Set(1L, 4L))
    // prefixLength pins leading characters exact: "stra" ≠ "stre" kills
    // the match entirely
    val pinned = PipelineCompiler.compile(Seq(
      Map("$search" -> Map("autocomplete" -> Map(
        "query" -> "strae", "path" -> "txt",
        "fuzzy" -> Map("maxEdits" -> 1, "prefixLength" -> 4)))),
      Map("$project" -> Map("id" -> 1))))(docs)
    assert(pinned.count() == 0L)
    // fuzzy composes with tokenOrder sequential: the adjacent-token scan
    // runs with the fuzzy per-token predicate
    val seq = PipelineCompiler.compile(Seq(
      Map("$search" -> Map("autocomplete" -> Map(
        "query" -> "strae proc", "path" -> "txt",
        "tokenOrder" -> "sequential",
        "fuzzy" -> Map("maxEdits" -> 1)))),
      Map("$project" -> Map("id" -> 1))))(docs)
    assert(seq.select("id").as[Long].collect().toSet == Set(1L))
    // prefixLength beyond the term length pins the WHOLE term (Lucene's
    // cap), it does not demand an impossible longer-than-term prefix
    val overPin = PipelineCompiler.compile(Seq(
      Map("$search" -> Map("autocomplete" -> Map(
        "query" -> "stre", "path" -> "txt",
        "fuzzy" -> Map("maxEdits" -> 1, "prefixLength" -> 9)))),
      Map("$project" -> Map("id" -> 1))))(docs)
    assert(overPin.select("id").as[Long].collect().toSet == Set(1L, 4L))
    // out-of-range maxEdits still rejects loudly
    val e = intercept[IllegalArgumentException](PipelineCompiler.compile(Seq(
      Map("$search" -> Map("autocomplete" -> Map(
        "query" -> "x", "path" -> "txt",
        "fuzzy" -> Map("maxEdits" -> 3))))))(docs))
    assert(e.getMessage.contains("maxEdits"))
  }

  test("$search lucene.english: stemmed text and phrase matching") {
    val docs = Seq(
      (1L, "The filtering systems are fast"),
      (2L, "a filter system"),
      (3L, "filtration plant"), // filtration stems to filtrat, NOT filter
      (4L, "nothing relevant"))
      .toDF("id", "txt")
    // text: query "filter system" must match the INFLECTED doc 1 and the
    // base-form doc 2, not the different-stem doc 3
    val text = PipelineCompiler.compile(Seq(
      Map("$search" -> Map(
        "analyzer" -> "lucene.english",
        "text" -> Map("query" -> "filter system", "path" -> "txt"))),
      Map("$project" -> Map("id" -> 1))))(docs)
    assert(text.select("id").as[Long].collect().toSet == Set(1L, 2L))
    // phrase: stop words are removed on BOTH sides before adjacency, so
    // "filtering systems" is a phrase match for "filter system" in doc 1
    val phrase = PipelineCompiler.compile(Seq(
      Map("$search" -> Map(
        "analyzer" -> "lucene.english",
        "phrase" -> Map("query" -> "filter system", "path" -> "txt"))),
      Map("$project" -> Map("id" -> 1))))(docs)
    assert(phrase.select("id").as[Long].collect().toSet == Set(1L, 2L))
    // unknown analyzers still reject loudly
    val e = intercept[IllegalArgumentException](PipelineCompiler.compile(Seq(
      Map("$search" -> Map("analyzer" -> "lucene.finnish",
        "text" -> Map("query" -> "x", "path" -> "txt")))))(docs))
    assert(e.getMessage.contains("unsupported"))
  }

  test("$search compound: must/mustNot/filter/should + score sum") {
    val docs = Seq(
      (1L, "spark rdd engine"), (2L, "spark sql engine"),
      (3L, "spark sql legacy"), (4L, "flink sql engine"))
      .toDF("id", "txt")
    val out = PipelineCompiler.compile(Seq(
      Map("$search" -> Map("compound" -> Map(
        "must" -> Seq(Map("text" ->
          Map("query" -> "spark", "path" -> "txt"))),
        "mustNot" -> Seq(Map("phrase" ->
          Map("query" -> "legacy", "path" -> "txt"))),
        "filter" -> Seq(Map("wildcard" ->
          Map("query" -> "*engine*", "path" -> "txt"))),
        "should" -> Seq(Map("phrase" ->
          Map("query" -> "sql", "path" -> "txt")))))),
      Map("$project" -> Map("id" -> 1,
        "s" -> Map("$meta" -> "searchScore")))))(docs)
    val rows = out.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // 3 dropped by mustNot, 4 by must, filter keeps engine docs;
    // doc 2's matching should-phrase adds 1.0 over doc 1's must-only score
    assert(rows.keySet == Set(1L, 2L))
    assert(math.abs(rows(2L) - rows(1L) - 1.0) < 1e-9)
  }

  test("$search scoreDetails: filter/mustNot-context legs never appear " +
      "and listed legs sum to the total") {
    val docs = Seq(
      (1L, "spark sql engine"), (2L, "spark rdd engine"))
      .toDF("id", "txt")
    // a nested compound INSIDE filter: its must/should legs contribute
    // nothing to the score, so they must not show up in the breakdown
    val out = PipelineCompiler.compile(Seq(
      Map("$search" -> Map(
        "compound" -> Map(
          "must" -> Seq(Map("phrase" ->
            Map("query" -> "spark", "path" -> "txt"))),
          "should" -> Seq(Map("phrase" ->
            Map("query" -> "sql", "path" -> "txt"))),
          "filter" -> Seq(Map("compound" -> Map(
            "must" -> Seq(Map("phrase" ->
              Map("query" -> "engine", "path" -> "txt"))),
            "should" -> Seq(Map("phrase" ->
              Map("query" -> "rdd", "path" -> "txt"))))))),
        "scoreDetails" -> true)),
      Map("$project" -> Map("id" -> 1,
        "d" -> Map("$meta" -> "searchScoreDetails")))))(docs)
    val rows = out.collect().map { r =>
      val d = r.getStruct(1)
      val legs = d.getSeq[org.apache.spark.sql.Row](2).map(l =>
        (l.getString(1), l.getDouble(0)))
      (r.getLong(0), d.getDouble(0), legs)
    }
    assert(rows.nonEmpty)
    rows.foreach { case (_, total, legs) =>
      // only the outer scoring clauses are listed…
      assert(legs.map(_._1).toSet == Set("must.phrase", "should.phrase"))
      // …and their values sum exactly to the reported total
      assert(math.abs(legs.map(_._2).sum - total) < 1e-9)
    }
  }

  test("$search compound: only-should requires one hit; minimumShouldMatch") {
    val docs = Seq((1L, "a b"), (2L, "a"), (3L, "z")).toDF("id", "txt")
    val onlyShould = PipelineCompiler.compile(Seq(
      Map("$search" -> Map("compound" -> Map(
        "should" -> Seq(
          Map("phrase" -> Map("query" -> "a", "path" -> "txt")),
          Map("phrase" -> Map("query" -> "b", "path" -> "txt")))))),
      Map("$project" -> Map("id" -> 1))))(docs)
    assert(onlyShould.select("id").as[Long].collect().toSet == Set(1L, 2L))
    val msm2 = PipelineCompiler.compile(Seq(
      Map("$search" -> Map("compound" -> Map(
        "minimumShouldMatch" -> 2,
        "should" -> Seq(
          Map("phrase" -> Map("query" -> "a", "path" -> "txt")),
          Map("phrase" -> Map("query" -> "b", "path" -> "txt")))))),
      Map("$project" -> Map("id" -> 1))))(docs)
    assert(msm2.select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("$search compound of two text legs keeps both corpus-stat sets") {
    val docs = Seq(
      (1L, "alpha beta"), (2L, "alpha"), (3L, "beta"), (4L, "gamma"))
      .toDF("id", "txt")
    val out = PipelineCompiler.compile(Seq(
      Map("$search" -> Map("compound" -> Map(
        "must" -> Seq(
          Map("text" -> Map("query" -> "alpha", "path" -> "txt")),
          Map("text" -> Map("query" -> "beta", "path" -> "txt")))))),
      Map("$project" -> Map("id" -> 1,
        "s" -> Map("$meta" -> "searchScore")))))(docs)
    val rows = out.collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L)) // both musts required
    assert(rows.head.getDouble(1) > 0.0)
  }

  test("$search structured operators: equals/range/exists + boost") {
    val docs = Seq(
      (1L, "en", 100L, Option("alpha")),
      (2L, "fr", 250L, Option("beta")),
      (3L, "en", 400L, Option.empty[String]))
      .toDF("id", "lang", "n", "tag")
    val out = PipelineCompiler.compile(Seq(
      Map("$search" -> Map("compound" -> Map(
        "filter" -> Seq(
          Map("equals" -> Map("path" -> "lang", "value" -> "en")),
          Map("range" -> Map("path" -> "n", "gte" -> 100, "lt" -> 400))),
        "should" -> Seq(
          Map("exists" -> Map("path" -> "tag",
            "score" -> Map("boost" -> Map("value" -> 3.0)))))))),
      Map("$project" -> Map("id" -> 1,
        "s" -> Map("$meta" -> "searchScore")))))(docs)
    // id 3: n=400 fails lt; id 2: lang fr; id 1 scores the boosted should
    assert(out.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap ==
      Map(1L -> 3.0))
  }

  test("$search in + constant score") {
    val docs = Seq((1L, "en"), (2L, "fr"), (3L, "de")).toDF("id", "lang")
    val out = PipelineCompiler.compile(Seq(
      Map("$search" -> Map("in" -> Map("path" -> "lang",
        "value" -> Seq("en", "de"),
        "score" -> Map("constant" -> Map("value" -> 7.5))))),
      Map("$project" -> Map("id" -> 1,
        "s" -> Map("$meta" -> "searchScore")))))(docs)
    assert(out.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap ==
      Map(1L -> 7.5, 3L -> 7.5))
  }

  test("$searchMeta facet: string top-N and number boundaries") {
    import org.apache.spark.sql.Row
    val docs = Seq(
      (1L, "en", 10L), (2L, "en", 20L), (3L, "fr", 30L),
      (4L, "de", 50L), (5L, "en", 70L), (6L, "fr", 999L))
      .toDF("id", "lang", "n")
    val out = PipelineCompiler.compile(Seq(
      Map("$searchMeta" -> Map("facet" -> Map(
        "operator" -> Map("range" -> Map("path" -> "n", "lt" -> 100)),
        "facets" -> Map(
          "byLang" -> Map("type" -> "string", "path" -> "lang",
            "numBuckets" -> 2),
          "byN" -> Map("type" -> "number", "path" -> "n",
            "boundaries" -> Seq(0, 25, 100))))))))(docs)
    val r = out.head()
    assert(r.getStruct(r.fieldIndex("count")).getLong(0) == 5L)
    val f = r.getStruct(r.fieldIndex("facet"))
    val byLang = f.getStruct(f.schema.fieldIndex("byLang")).getSeq[Row](0)
    // top-2 by count desc, value asc tie-break: en(3), then de(1) over fr(1)
    assert(byLang.map(b => (b.getString(0), b.getLong(1))) ==
      Seq(("en", 3L), ("de", 1L)))
    val byN = f.getStruct(f.schema.fieldIndex("byN")).getSeq[Row](0)
    assert(byN.map(b => (b.getDouble(0), b.getLong(1))) ==
      Seq((0.0, 2L), (25.0, 3L)))
  }

  test("$searchMeta facet: date boundaries; default rejects loudly") {
    import org.apache.spark.sql.Row
    val ts = java.sql.Timestamp.valueOf(_: String)
    val docs = Seq(
      (1L, ts("1993-06-01 00:00:00")), (2L, ts("1994-01-15 00:00:00")),
      (3L, ts("1995-07-01 00:00:00")), (4L, ts("1999-02-01 00:00:00")))
      .toDF("id", "d")
    val out = PipelineCompiler.compile(Seq(
      Map("$searchMeta" -> Map("facet" -> Map(
        "facets" -> Map(
          "byYear" -> Map("type" -> "date", "path" -> "d",
            "boundaries" -> Seq("1993-01-01", "1995-01-01",
              "1998-01-01"))))))))(docs)
    val r = out.head()
    val f = r.getStruct(r.fieldIndex("facet"))
    val by = f.getStruct(f.schema.fieldIndex("byYear")).getSeq[Row](0)
    // docs 1,2 land in [1993,1995); doc 3 in [1995,1998); doc 4 out
    assert(by.map(b => (b.getTimestamp(0).toString, b.getLong(1))) ==
      Seq(("1993-01-01 00:00:00.0", 2L), ("1995-01-01 00:00:00.0", 1L)))
    val e = intercept[IllegalArgumentException](PipelineCompiler.compile(
      Seq(Map("$searchMeta" -> Map("facet" -> Map(
        "facets" -> Map("byYear" -> Map("type" -> "date", "path" -> "d",
          "boundaries" -> Seq("1993-01-01", "1995-01-01"),
          "default" -> "other")))))))(docs))
    assert(e.getMessage.contains("default"))
  }

  test("$rankFusion: RRF over ranked sub-pipelines, weights, meta score") {
    val docs = Seq(
      (1L, "spark spark stream", 10.0),
      (2L, "spark", 50.0),
      (3L, "stream stream", 30.0),
      (4L, "other", 40.0)).toDF("_id", "txt", "pop")
    val out = PipelineCompiler.compile(Seq(
      Map("$rankFusion" -> Map(
        "input" -> Map("pipelines" -> Map(
          "lexical" -> Seq(
            Map("$search" -> Map("text" ->
              Map("query" -> "spark", "path" -> "txt"))),
            Map("$limit" -> 2)),
          "popular" -> Seq(
            Map("$sort" -> Map("pop" -> -1)),
            Map("$limit" -> 2)))),
        "combination" -> Map("weights" -> Map("popular" -> 2.0)))),
      Map("$project" -> Map("_id" -> 1,
        "s" -> Map("$meta" -> "searchScore")))))(docs)
    val rows = out.collect().map(r => (r.getLong(0), r.getDouble(1)))
    // lexical BM25 ranks doc2 over doc1 (shorter doc, same idf); popular
    // ranks doc2 then doc4. Fused: doc2 = (1+2)/61, doc4 = 2/62,
    // doc1 = 1/62 — output ordered by fused score
    assert(rows.map(_._1).toSeq == Seq(2L, 4L, 1L))
    val expect = Map(2L -> 3.0 / 61, 4L -> 2.0 / 62, 1L -> 1.0 / 62)
    rows.foreach { case (id, s) => assert(math.abs(s - expect(id)) < 1e-9) }
  }

  test("$rankFusion rejects unranked pipelines; key extension fuses") {
    val docs = Seq((1L, 5.0), (2L, 9.0)).toDF("doc_id", "pop")
    intercept[IllegalArgumentException] { // no _id and no key
      PipelineCompiler.compile(Seq(Map("$rankFusion" -> Map(
        "input" -> Map("pipelines" -> Map("p" -> Seq(
          Map("$sort" -> Map("pop" -> -1)))))))))(docs)
    }
    intercept[IllegalArgumentException] { // unranked sub-pipeline
      PipelineCompiler.compile(Seq(Map("$rankFusion" -> Map(
        "key" -> "doc_id",
        "input" -> Map("pipelines" -> Map("p" -> Seq(
          Map("$match" -> Map("pop" -> Map("$gt" -> 0.0))))))))))(docs)
    }
    val out = PipelineCompiler.compile(Seq(Map("$rankFusion" -> Map(
      "key" -> "doc_id",
      "input" -> Map("pipelines" -> Map("p" -> Seq(
        Map("$sort" -> Map("pop" -> -1)), Map("$limit" -> 1))))))))(docs)
    assert(out.select("doc_id").as[Long].collect().toSeq == Seq(2L))
  }

  test("$scoreFusion: sum/avg, weights, minMaxScaler") {
    val docs = Seq((1L, "a b"), (2L, "a"), (3L, "c")).toDF("_id", "text")
    def run(extra: Map[String, Any],
        normalization: Option[String] = None): Map[Long, Double] = {
      val input = Map("pipelines" -> Map(
        "p1" -> Seq(Map("$match" ->
          Map("$text" -> Map("$search" -> "a b")))),
        "p2" -> Seq(Map("$match" ->
          Map("$text" -> Map("$search" -> "c")))))) ++
        normalization.map("normalization" -> _).toMap
      PipelineCompiler.compile(Seq(
        Map("$scoreFusion" -> (Map("input" -> input) ++ extra)),
        Map("$project" -> Map("_id" -> 1,
          "s" -> Map("$meta" -> "searchScore")))))(docs)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    }
    // none + sum + weight: p1 scores are matched-term counts (2, 1)
    assert(run(Map("combination" -> Map("method" -> "sum",
      "weights" -> Map("p2" -> 3.0)))) ==
      Map(1L -> 2.0, 2L -> 1.0, 3L -> 3.0))
    // avg divides by the number of pipelines, absent = 0
    assert(run(Map("combination" -> Map("method" -> "avg"))) ==
      Map(1L -> 1.0, 2L -> 0.5, 3L -> 0.5))
    // minMaxScaler rescales per pipeline; a constant pipeline maps to 0
    assert(run(Map("combination" -> Map("method" -> "sum")),
      Some("minMaxScaler")) == Map(1L -> 1.0, 2L -> 0.0, 3L -> 0.0))
    intercept[IllegalArgumentException] { // unscored pipeline rejects
      PipelineCompiler.compile(Seq(Map("$scoreFusion" -> Map(
        "input" -> Map("pipelines" -> Map("p" -> Seq(
          Map("$match" -> Map("text" -> "a b")))))))))(docs)
    }
  }

  test("$vectorSearch filter pre-filters before ranking") {
    val docs = Seq(
      (1L, Array(1.0f, 0.0f), "a"), (2L, Array(0.9f, 0.1f), "b"),
      (3L, Array(0.8f, 0.2f), "a")).toDF("id", "vec", "tag")
    val out = PipelineCompiler.compile(Seq(
      Map("$vectorSearch" -> Map("path" -> "vec",
        "queryVector" -> Seq(1.0, 0.0), "limit" -> 2,
        "filter" -> Map("tag" -> "a")))))(docs)
    assert(out.select("id").as[Long].collect().toSeq == Seq(1L, 3L))
  }

  test("$search sort option orders by stored fields instead of score") {
    val docs = Seq(
      (3L, "spark spark spark"), (1L, "spark row"), (2L, "spark spark"))
      .toDF("id", "txt")
    val out = PipelineCompiler.compile(Seq(
      Map("$search" -> Map(
        "text" -> Map("query" -> "spark", "path" -> "txt"),
        "sort" -> Map("id" -> 1))),
      Map("$project" -> Map("id" -> 1))))(docs)
    assert(out.select("id").as[Long].collect().toSeq == Seq(1L, 2L, 3L))
    // {$meta} entry falls back to relevance within the sort doc
    val rel = PipelineCompiler.compile(Seq(
      Map("$search" -> Map(
        "text" -> Map("query" -> "spark", "path" -> "txt"),
        "sort" -> Map("s" -> Map("$meta" -> "searchScore")))),
      Map("$project" -> Map("id" -> 1))))(docs)
    assert(rel.select("id").as[Long].collect().toSeq == Seq(3L, 2L, 1L))
  }

  test("$sort by {$meta: textScore} orders by the search score") {
    val docs = Seq((1L, "spark"), (2L, "spark spark spark"), (3L, "spark spark"))
      .toDF("id", "txt")
    val out = PipelineCompiler.compile(Seq(
      Map("$search" -> Map("text" ->
        Map("query" -> "spark", "path" -> "txt"))),
      Map("$sort" -> Map("score" -> Map("$meta" -> "textScore"))),
      Map("$project" -> Map("id" -> 1))))(docs)
    assert(out.select("id").as[Long].collect().toSeq == Seq(2L, 3L, 1L))
  }

  test("$match $text stashes a textScore for $meta sort/projection") {
    val docs = Seq((1L, "spark only"), (2L, "spark shuffle here"),
      (3L, "nothing relevant")).toDF("id", "text")
    val out = PipelineCompiler.compile(Seq(
      Map("$match" -> Map("$text" -> Map("$search" -> "spark shuffle"))),
      Map("$sort" -> Map("s" -> Map("$meta" -> "textScore"))),
      Map("$project" -> Map("id" -> 1,
        "s" -> Map("$meta" -> "textScore")))))(docs)
    val rows = out.collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L, 1L)) // 2 terms > 1 term
    assert(rows.map(_.getDouble(1)).toSeq == Seq(2.0, 1.0))
  }

  test("$searchMeta returns the count document") {
    val docs = Seq((1L, "spark x"), (2L, "y"), (3L, "spark z"))
      .toDF("id", "txt")
    val out = PipelineCompiler.compile(Seq(
      Map("$searchMeta" -> Map("text" ->
        Map("query" -> "spark", "path" -> "txt")))))(docs)
    assert(out.select("count.total").as[Long].head() == 2L)
  }

  test("$collStats emits count and storage stats") {
    val tmp = java.nio.file.Files.createTempDirectory("collstats").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$tmp/t")
    val scan = spark.read.parquet(s"$tmp/t")
    val out = PipelineCompiler.compile(Seq(
      Map("$collStats" -> Map("count" -> Map.empty[String, Any],
        "storageStats" -> Map.empty[String, Any]))))(scan)
    val r = out.head()
    assert(r.getLong(r.fieldIndex("count")) == 2L)
    val ss = r.getStruct(r.fieldIndex("storageStats"))
    assert(ss.getLong(ss.fieldIndex("storageSize")) > 0L)
    assert(ss.getInt(ss.fieldIndex("nindexes")) == 0)
  }

  test("$documents replaces the input with literal rows, null-filling") {
    val anything = Seq((1L, "ignored")).toDF("id", "v")
    val out = PipelineCompiler.compile(Seq(
      Map("$documents" -> Seq(
        Map("a" -> 1, "b" -> "x"),
        Map("a" -> 2),
        Map("a" -> 3, "b" -> "z", "c" -> true))),
      Map("$sort" -> Map("a" -> 1))))(anything)
    assert(out.columns.toSeq == Seq("a", "b", "c"))
    val rows = out.collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(rows(1).isNullAt(1) && rows(0).isNullAt(2))
    assert(rows(2).getString(1) == "z" && rows(2).getBoolean(2))
  }

  test("$redact prunes rows by expression decision") {
    val docs = Seq((1L, "public"), (2L, "secret"), (3L, "public"))
      .toDF("id", "level")
    val out = PipelineCompiler.compile(Seq(
      Map("$redact" -> Map("$cond" -> Seq(
        Map("$eq" -> Seq("$level", "secret")),
        "$$PRUNE", "$$KEEP")))))(docs)
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    // $$DESCEND at the root keeps the row
    val out2 = PipelineCompiler.compile(Seq(
      Map("$redact" -> "$$DESCEND")))(docs)
    assert(out2.count() == 3)
  }

  test("collection-level stages reject when not first (Mongo's rule)") {
    val docs = Seq((1L, "a")).toDF("id", "v")
    intercept[IllegalArgumentException] {
      PipelineCompiler.compile(Seq(
        Map("$match" -> Map("id" -> 1)),
        Map("$collStats" -> Map("count" -> Map.empty[String, Any]))))(docs)
    }
    intercept[IllegalArgumentException] {
      PipelineCompiler.compile(Seq(
        Map("$limit" -> 1),
        Map("$documents" -> Seq(Map("a" -> 1)))))(docs)
    }
  }

  test("$indexStats: empty frame in Mongo's shape, downstream-composable") {
    val docs = Seq((1L, "a")).toDF("id", "v")
    val out = PipelineCompiler.compile(Seq(
      Map("$indexStats" -> Map.empty[String, Any]),
      Map("$match" -> Map("name" -> "_id_")),
      Map("$project" -> Map("name" -> 1))))(docs)
    assert(out.columns.toSeq == Seq("name") && out.count() == 0)
  }

  test("$search stats side is broadcast (no shuffle join in the plan)") {
    val docs = Seq((1L, "spark row")).toDF("id", "txt")
    val out = PipelineCompiler.compile(Seq(
      Map("$search" -> Map("text" ->
        Map("query" -> "spark", "path" -> "txt")))))(docs)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"))
  }

  test("$geoNear stays join-free (scan-fused scalar math)") {
    val pts = Seq((1L, Seq(1.0, 2.0))).toDF("id", "loc")
    val out = PipelineCompiler.compile(Seq(
      Map("$geoNear" -> Map("near" -> Seq(0.0, 0.0), "key" -> "loc",
        "distanceField" -> "d", "spherical" -> true))))(pts)
    assert(!out.queryExecution.executedPlan.toString.contains("Join"))
  }

  test("$unwind doc form: includeArrayIndex + preserveNullAndEmptyArrays") {
    val docs = Seq(
      (1L, Seq("a", "b")),
      (2L, Seq.empty[String]),
      (3L, null)).toDF("id", "arr")
    // default: empty/null rows drop
    val plain = PipelineCompiler.compile(Seq(
      Map("$unwind" -> "$arr")))(docs)
    assert(plain.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 1L))
    // preserve: kept with null element; index null on preserved rows
    val kept = PipelineCompiler.compile(Seq(
      Map("$unwind" -> Map("path" -> "$arr",
        "includeArrayIndex" -> "pos",
        "preserveNullAndEmptyArrays" -> true))))(docs)
      .select("id", "arr", "pos").orderBy("id", "pos")
      .collect().toSeq.map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(kept == Seq((1L, "a", 0L), (1L, "b", 1L),
      (2L, null, -1L), (3L, null, -1L)))
  }

  test("$unwind on a dotted path rebuilds the struct member per element") {
    val docs = Seq((1L, ("x", Seq(10, 20))), (2L, ("y", Seq(30))))
      .toDF("id", "s").withColumn("s",
        struct($"s._1".as("tag"), $"s._2".as("vals")))
    val out = PipelineCompiler.compile(Seq(
      Map("$unwind" -> "$s.vals")))(docs)
      .select($"id", $"s.tag", $"s.vals".as("v"))
      .as[(Long, String, Int)].collect().toSeq.sorted
    assert(out == Seq((1L, "x", 10), (1L, "x", 20), (2L, "y", 30)))
  }

  test("$tsSecond/$tsIncrement unpack a BSON-timestamp carrier") {
    // {t: 5, i: 7} packed as (5 << 32) | 7
    val docs = Seq(5L * 4294967296L + 7L).toDF("p")
    val out = PipelineCompiler.compile(Seq(
      Map("$project" -> Map("t" -> Map("$tsSecond" -> "$p"),
        "i" -> Map("$tsIncrement" -> "$p")))))(docs)
    assert(out.select("t", "i").as[(Long, Long)].head() == ((5L, 7L)))
  }

  test("bitwise expressions: n-ary $bitAnd/$bitOr/$bitXor, unary $bitNot") {
    val docs = Seq((12L, 10L)).toDF("a", "b")
    val out = PipelineCompiler.compile(Seq(
      Map("$project" -> Map(
        "and" -> Map("$bitAnd" -> Seq("$a", "$b", 6)),
        "or"  -> Map("$bitOr" -> Seq("$a", "$b")),
        "xor" -> Map("$bitXor" -> Seq("$a", "$b")),
        "not" -> Map("$bitNot" -> "$a")))))(docs)
    assert(out.select("and", "or", "xor", "not")
      .as[(Long, Long, Long, Long)].head() == ((0L, 14L, 6L, -13L)))
  }

  test("admin and change-stream stages reject with Spark-native routes") {
    val docs = Seq((1L, "a")).toDF("id", "v")
    val cs = intercept[IllegalArgumentException] {
      PipelineCompiler.compile(Seq(
        Map("$changeStream" -> Map.empty[String, Any])))(docs)
    }
    assert(cs.getMessage.contains("StreamingMigrations"))
    val op = intercept[IllegalArgumentException] {
      PipelineCompiler.compile(Seq(
        Map("$currentOp" -> Map.empty[String, Any])))(docs)
    }
    assert(op.getMessage.contains("Spark UI"))
  }

  test("$function and $accumulator reject with native-route guidance") {
    val docs = Seq((1L, 2L)).toDF("id", "v")
    val fn = intercept[IllegalArgumentException] {
      PipelineCompiler.compile(Seq(Map("$project" -> Map("x" ->
        Map("$function" -> Map("body" -> "function(){}", "args" -> Seq(),
          "lang" -> "js"))))))(docs)
    }
    assert(fn.getMessage.contains("$let"))
    val acc = intercept[IllegalArgumentException] {
      PipelineCompiler.compile(Seq(Map("$group" -> Map("_id" -> null,
        "x" -> Map("$accumulator" -> Map("init" -> "function(){}"))))))(docs)
    }
    assert(acc.getMessage.contains("built-in"))
  }
}
