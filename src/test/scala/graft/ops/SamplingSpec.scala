package graft.ops

import graft.SparkSpec

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = (1L to 2000L).map(i => (i, if (i % 4 == 0) "en" else "de"))
    .toDF("id", "lang")

  test("hashSample is deterministic and roughly proportional") {
    val a = Sampling.hashSample(df, "id", 0.2).select("id").as[Long].collect().toSet
    val b = Sampling.hashSample(df, "id", 0.2).select("id").as[Long].collect().toSet
    assert(a == b)
    assert(a.size > 300 && a.size < 500) // ~400 expected
  }

  test("hashSample fractions 1 and 0 keep exactly the hash form's rows, " +
      "null ids included, without hashing") {
    import org.apache.spark.sql.functions.col
    val mixed = Seq(Some(1L), None, Some(-7L), Some(Long.MaxValue), None)
      .toDF("id").withColumn("s", col("id").cast("string"))
    for (idCol <- Seq("id", "s"); salt <- Seq("", "x");
        fraction <- Seq(1.0, 0.0)) {
      val hashed = mixed.where(Sampling.hashBucket(col(idCol), salt) <
        (fraction * 1000000L).toLong)
      val fast = Sampling.hashSample(mixed, idCol, fraction, salt)
      assert(fast.collect().toSeq.sortBy(_.toString) ==
        hashed.collect().toSeq.sortBy(_.toString), s"$idCol $fraction")
      assert(!fast.queryExecution.optimizedPlan.toString.contains("md5"))
    }
    assert(Sampling.hashSample(mixed, "id", 1.0).count() == 3)
  }

  test("capPerKey keeps at most n per key, deterministically") {
    val capped = Sampling.capPerKey(df, "id", "lang", 100)
    val byLang = capped.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    assert(byLang == Map("en" -> 100L, "de" -> 100L))
    // deterministic subset: same rows on a rerun AND under different
    // partitioning (retry-safe by construction)
    val a = capped.select("id").as[Long].collect().toSet
    val b = Sampling.capPerKey(df.repartition(7), "id", "lang", 100)
      .select("id").as[Long].collect().toSet
    assert(a == b)
    // keys under the cap keep everything
    assert(Sampling.capPerKey(df, "id", "lang", 5000).count() == 2000L)
    // a different salt redraws the subset
    val c = Sampling.capPerKey(df, "id", "lang", 100, salt = "x")
      .select("id").as[Long].collect().toSet
    assert(c != a && c.size == 200)
  }

  test("membership is monotone in the fraction (stable splits)") {
    val small = Sampling.hashSample(df, "id", 0.1).select("id").as[Long].collect().toSet
    val big = Sampling.hashSample(df, "id", 0.3).select("id").as[Long].collect().toSet
    assert(small.subsetOf(big))
  }

  test("stratified fractions apply per class") {
    val out = Sampling.stratifiedHashSample(df, "id", "lang",
      Map("en" -> 0.0), defaultFraction = 1.0)
    assert(out.where($"lang" === "en").count() == 0)
    assert(out.where($"lang" === "de").count() == 1500)
  }

  test("trainTestSplit partitions without overlap") {
    val (train, test) = Sampling.trainTestSplit(df, "id", 0.25)
    assert(train.count() + test.count() == 2000)
    assert(train.join(test, "id").count() == 0)
    val t2 = Sampling.trainTestSplit(df, "id", 0.25)._2
    assert(test.select("id").as[Long].collect().toSet ==
      t2.select("id").as[Long].collect().toSet)
  }

  test("clusterAwareSplit keeps near-dup clusters on one side") {
    import org.apache.spark.sql.functions._
    val docs = (1L to 400L).toDF("id")
    // pairs chain 1-2-3 into one cluster; 10-11 into another
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val (train, test) = Sampling.clusterAwareSplit(docs, "id", pairs, 0.5)
    assert(train.count() + test.count() == 400)
    assert(train.join(test, "id").count() == 0)
    def side(d: org.apache.spark.sql.DataFrame, ids: Seq[Long]) =
      d.where(col("id").isin(ids: _*)).count()
    // each cluster lands entirely on one side
    assert(side(train, Seq(1, 2, 3)) == 3 || side(test, Seq(1, 2, 3)) == 3)
    assert(side(train, Seq(10, 11)) == 2 || side(test, Seq(10, 11)) == 2)
    graft.ops.Dedup.releaseCaches()
  }

  test("clusterAwareSplit tolerates user columns named component/__rep") {
    import org.apache.spark.sql.functions._
    // regression: the cluster join used to bind to any pre-existing
    // "component" column; reserved internal names make this unambiguous
    val docs = (1L to 50L).toDF("id")
      .withColumn("component", lit("user-data"))
      .withColumn("__rep", lit(7))
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val (train, test) = Sampling.clusterAwareSplit(docs, "id", pairs, 0.5)
    assert(train.count() + test.count() == 50)
    // user columns survive untouched on both sides
    assert(train.columns.toSet == Set("id", "component", "__rep"))
    assert(test.select("component").distinct().as[String].collect()
      .toSeq.forall(_ == "user-data"))
    graft.ops.Dedup.releaseCaches()
  }

  test("tokenBudgetMix samples each source to its share of the budget") {
    val docs = (1L to 400L).map { i =>
      (i, if (i <= 200) "big" else "small", 100L)
    }.toDF("doc_id", "source", "toks") // big: 20k tokens, small: 20k
    // budget 10k split 3:1 -> big alloc 7.5k (f=.375), small 2.5k (f=.125)
    val out = Sampling.tokenBudgetMix(docs, "doc_id", "source", "toks",
      10000L, Map("big" -> 3.0, "small" -> 1.0))
    val bySrc = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // hash sampling is approximate but deterministic — expect counts in
    // a generous band around 75 and 25 of 200 each
    assert(bySrc("big") > 50 && bySrc("big") < 100)
    assert(bySrc("small") > 10 && bySrc("small") < 40)
    // deterministic: same call, same rows
    val again = Sampling.tokenBudgetMix(docs, "doc_id", "source", "toks",
      10000L, Map("big" -> 3.0, "small" -> 1.0))
    assert(out.select("doc_id").collect().toSet ==
      again.select("doc_id").collect().toSet)
    // a source with fewer tokens than its allocation keeps everything
    val all = Sampling.tokenBudgetMix(docs, "doc_id", "source", "toks",
      1000000L, Map("big" -> 1.0))
    assert(all.count() == 200 &&
      all.select("source").distinct().as[String].head() == "big")
  }

  test("tokenBudgetMix tolerates non-string sources, double tokens, nulls") {
    // int source keys, DOUBLE token column (sum -> Double), a null source
    val docs = (1L to 300L).map { i =>
      (i, if (i <= 100) Some(1) else if (i <= 200) Some(2) else None,
        100.5)
    }.toDF("doc_id", "source", "toks")
    val out = Sampling.tokenBudgetMix(docs, "doc_id", "source", "toks",
      5000L, Map("1" -> 1.0, "2" -> 1.0))
    val srcs = out.select("source").distinct().as[Option[Int]]
      .collect().flatten.toSet
    assert(srcs.subsetOf(Set(1, 2))) // null-source rows dropped, no NPE
    assert(out.count() > 0 && out.count() < 200)
    // DECIMAL token column (sum -> java.math.BigDecimal)
    val dec = docs.withColumn("toks",
      docs("toks").cast(org.apache.spark.sql.types.DecimalType(10, 2)))
    assert(Sampling.tokenBudgetMix(dec, "doc_id", "source", "toks",
      5000L, Map("1" -> 1.0)).count() > 0)
  }

  test("salt changes the sample") {
    val a = Sampling.hashSample(df, "id", 0.2, "s1").select("id").as[Long].collect().toSet
    val b = Sampling.hashSample(df, "id", 0.2, "s2").select("id").as[Long].collect().toSet
    assert(a != b)
  }

  test("kFold: stable partition of rows into k folds") {
    val docs = (1L to 1000L).map(i => Tuple1(i)).toDF("doc_id")
    val folded = Sampling.kFold(docs, "doc_id", 5)
    val counts = folded.groupBy("fold").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set(0, 1, 2, 3, 4))
    assert(counts.values.sum == 1000L)
    counts.values.foreach(c => assert(c > 120 && c < 280, counts))
    // a row's fold never changes
    val again = Sampling.kFold(docs, "doc_id", 5)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val first = folded.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(first == again)
  }

  test("temperatureMix: α=1 is uniform, α<1 up-weights small sources") {
    val docs = (1L to 500L).map { i =>
      (i, if (i <= 400) "big" else "small", 100L)
    }.toDF("doc_id", "source", "toks") // big: 40k tokens, small: 10k
    def keepFractions(alpha: Double): (Double, Double) = {
      val out = Sampling.temperatureMix(docs, "doc_id", "source", "toks",
        25000L, alpha)
      val by = out.groupBy("source").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      (by.getOrElse("big", 0L) / 400.0, by.getOrElse("small", 0L) / 100.0)
    }
    // α = 1: proportional — both sources keep ~budget/total = 50%
    val (b1, s1) = keepFractions(1.0)
    assert(math.abs(b1 - s1) < 0.15, s"α=1 big=$b1 small=$s1")
    // α = 0.3: flattened — the small source keeps a much larger fraction
    val (b3, s3) = keepFractions(0.3)
    assert(s3 > b3 + 0.2, s"α=0.3 big=$b3 small=$s3")
    // deterministic
    val x = Sampling.temperatureMix(docs, "doc_id", "source", "toks",
      25000L, 0.5).select("doc_id").collect().toSet
    val y = Sampling.temperatureMix(docs, "doc_id", "source", "toks",
      25000L, 0.5).select("doc_id").collect().toSet
    assert(x == y)
  }
}
