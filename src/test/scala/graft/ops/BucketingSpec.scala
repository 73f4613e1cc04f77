package graft.ops

class BucketingSpec extends graft.SparkSpec {
  import spark.implicits._

  test("bucketed equi-join has NO exchange on either side") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bkt").toString
    val left = (1L to 500L).map(i => (i, s"l$i")).toDF("k", "lv")
    val right = (1L to 500L).map(i => (i, i * 2.0)).toDF("k", "rv")
    val lt = Bucketing.writeBucketed(left, "k", 4, dir)
    val rt = Bucketing.writeBucketed(right, "k", 4, dir)
    // force the sort-merge path so the assertion is about bucketing, not
    // a broadcast hiding the exchange
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.bucketedEquiJoin(spark, lt, rt, "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(500))
      assert(!plan.contains("Exchange"), plan.take(800))
      assert(joined.count() == 500)
      val r = joined.where($"k" === 7).select("lv", "rv").head()
      assert(r.getString(0) == "l7" && r.getDouble(1) == 14.0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    }
  }

  test("mismatched bucket counts are rejected, not silently shuffled") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bkt2").toString
    val a = Seq((1L, "x")).toDF("k", "v")
    val ta = Bucketing.writeBucketed(a, "k", 4, dir)
    val tb = Bucketing.writeBucketed(a, "k", 8, dir)
    val e = intercept[IllegalArgumentException] {
      Bucketing.bucketedEquiJoin(spark, ta, tb, "k")
    }
    assert(e.getMessage.contains("bucket counts differ"))
    val e2 = intercept[IllegalArgumentException] {
      spark.range(3).toDF("k").createOrReplaceTempView("graft_plain_v")
      Bucketing.bucketedEquiJoin(spark, "graft_plain_v", ta, "k")
    }
    assert(e2.getMessage.contains("not bucketed"))
  }
}
