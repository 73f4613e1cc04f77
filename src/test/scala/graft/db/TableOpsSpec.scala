package graft.db

import graft.SparkSpec

class TableOpsSpec extends SparkSpec {
  import spark.implicits._
  import TableOps._

  private def base = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
    .toDF("_id", "cat", "v")

  test("updateAll reports matched count and preserves others") {
    val (out, info) = updateAll(base, Map("_id" -> Map("$lte" -> 2)),
      Map("$set" -> Map("cat" -> "Z")))
    assert(info.updated == 2)
    assert(out.where($"cat" === "Z").count() == 2)
    assert(out.where($"_id" === 3).select("cat").as[String].head() == "c")
  }

  test("updateAllPipeline: stage expressions, matched count observed") {
    val (out, info) = updateAllPipeline(base,
      Map("_id" -> Map("$lte" -> 2)),
      Seq(Map("$set" -> Map(
        "v" -> Map("$multiply" -> Seq("$v", 10))))))
    assert(info.updated == 2)
    assert(out.orderBy("_id").select("v").as[Double].collect().toSeq ==
      Seq(10.0, 20.0, 3.0))
  }

  test("findAndModifyPipeline updates only the first sorted match") {
    val (out, pre) = findAndModifyPipeline(base, Map("v" -> Map("$gt" -> 0)),
      Seq("-v"), Seq(Map("$set" ->
        Map("cat" -> Map("$concat" -> Seq("$cat", "!"))))))
    assert(pre.select("cat").as[String].head() == "c") // pre-image
    assert(out.orderBy("_id").select("cat").as[String].collect().toSeq ==
      Seq("a", "b", "c!"))
  }

  test("runBulk applies pipeline-form updates in both modes") {
    val ops = Seq(BulkUpdatePipeline(Map("cat" -> "a"),
      Seq(Map("$set" -> Map("v" -> Map("$add" -> Seq("$v", 100)))))))
    for (unordered <- Seq(false, true)) {
      val out = runBulk(base, ops, unordered = unordered)
      assert(out.orderBy("_id").select("v").as[Double].collect().toSeq ==
        Seq(101.0, 2.0, 3.0), s"unordered=$unordered")
    }
  }

  test("removeAll anti-filters") {
    val (out, info) = removeAll(base, Map("cat" -> "b"))
    assert(info.removed == 1)
    assert(out.select("_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("upsert: update existing, insert new, last-wins within updates") {
    val updates = Seq((2L, "b2", 20.0), (4L, "d", 4.0), (4L, "d2", 40.0))
      .toDF("_id", "cat", "v")
    val out = upsert(base, updates, "_id").orderBy("_id")
    assert(out.count() == 4)
    assert(out.where($"_id" === 2).select("cat").as[String].head() == "b2")
    assert(out.where($"_id" === 4).select("cat").as[String].head() == "d2")
    assert(out.where($"_id" === 1).select("cat").as[String].head() == "a")
  }

  test("upsert rejects schema mismatch") {
    intercept[IllegalArgumentException] {
      upsert(base, base.drop("v"), "_id")
    }
  }

  test("bulk applies ops in order") {
    val ins = Seq((9L, "i", 9.0)).toDF("_id", "cat", "v")
    val out = runBulk(base, Seq(
      BulkUpdate(Map("_id" -> 1L), Map("$set" -> Map("cat" -> "one"))),
      BulkRemove(Map("cat" -> "one")), // removes what the update just tagged
      BulkInsert(ins)))
    assert(out.select("_id").as[Long].collect().sorted.toSeq ==
      Seq(2L, 3L, 9L))
  }

  test("toRawDocs/fromRawDocs round-trip (transformDocument parity)") {
    val docs = toRawDocs(base)
    assert(docs.columns.toSeq == Seq("doc"))
    val sample = docs.orderBy("doc").as[String].head()
    assert(sample.startsWith("{") && sample.contains("\"_id\""))
    val back = fromRawDocs(docs, "doc", base.schema)
    assert(back.orderBy("_id").collect().toSeq ==
      base.orderBy("_id").collect().toSeq)
  }

  test("unordered bulk batches by type: one union, one merge, one filter") {
    val ins = Seq((9L, "i", 9.0), (10L, "j", 10.0)).toDF("_id", "cat", "v")
    val up = Seq((2L, "b2", 20.0)).toDF("_id", "cat", "v")
    val out = runBulk(base, Seq(
      BulkInsert(ins.where($"_id" === 9)),
      BulkUpsert(2L, up),
      BulkInsert(ins.where($"_id" === 10)),
      BulkRemove(Map("cat" -> "c")),
      BulkRemove(Map("cat" -> "j"))), unordered = true)
    assert(out.select("_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 9L))
    assert(out.where($"_id" === 2).select("cat").as[String].head() == "b2")
    // both removes compile to ONE disjunctive anti-filter, not two layers
    val removeFilters = out.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.toString.contains("cat") => f
    }
    assert(removeFilters.size == 1,
      s"expected one batched remove filter: $removeFilters")
  }

  test("findAndModify returnNew returns the post-image") {
    val (_, post) = findAndModify(base,
      Map("v" -> Map("$gt" -> 1.0)), Seq("-v"),
      Map("$set" -> Map("cat" -> "hit")), remove = false, returnNew = true)
    val r = post.collect().head
    assert(r.getAs[Long]("_id") == 3L)
    assert(r.getAs[String]("cat") == "hit") // post-update image
  }

  test("findAndModify updates the first sorted match and returns pre-image") {
    val (out, hit) = findAndModify(base,
      Map("v" -> Map("$gt" -> 1.0)), Seq("-v"),
      Map("$set" -> Map("cat" -> "hit")), remove = false)
    assert(hit.select("_id").as[Long].head() == 3L)
    assert(out.where($"cat" === "hit").select("_id").as[Long].head() == 3L)
    assert(out.count() == 3)
  }

  test("findAndModify remove pops the row") {
    val (out, hit) = findAndModify(base, Map.empty, Seq("v"),
      Map.empty, remove = true)
    assert(hit.select("_id").as[Long].head() == 1L)
    assert(out.count() == 2)
  }

  test("findAndModify rejects remove+update") {
    intercept[IllegalArgumentException] {
      findAndModify(base, Map.empty, Nil,
        Map("$set" -> Map("cat" -> "x")), remove = true)
    }
  }
}

class UpsertDocSpec extends graft.SparkSpec {
  import spark.implicits._
  import TableOps._

  private def base = Seq((1L, "a", 1.0), (2L, "b", 2.0))
    .toDF("_id", "cat", "v")

  test("upsertDoc updates matching rows in place") {
    val out = upsertDoc(base, Map("_id" -> 1L),
      Map("$set" -> Map("cat" -> "hit"), "$inc" -> Map("v" -> 10)))
    assert(out.count() == 2)
    val r = out.where($"_id" === 1).select("cat", "v").head()
    assert(r.getString(0) == "hit" && r.getDouble(1) == 11.0)
  }

  test("upsertDoc inserts query-equality + $set fields when no match") {
    val out = upsertDoc(base, Map("_id" -> 9L),
      Map("$set" -> Map("cat" -> "new")))
    assert(out.count() == 3)
    val r = out.where($"_id" === 9).select("cat", "v").head()
    assert(r.getString(0) == "new" && r.isNullAt(1))
  }

  test("upsertDoc replacement-doc insert") {
    val out = upsertDoc(base, Map("_id" -> 7L),
      Map("cat" -> "repl", "v" -> 5.5))
    val r = out.where($"_id" === 7).select("cat", "v").head()
    assert(r.getString(0) == "repl" && r.getDouble(1) == 5.5)
  }
}
