package graft.plans

import graft.SparkSpec
import graft.query.QueryCompiler
import org.apache.spark.sql.functions._

/** Plan-shape assertions: the scale contract, not just row equality.
  * These lock in that compiled queries keep Catalyst's pushdown/broadcast
  * behavior — a regression here is a 100 TB regression even when results
  * stay correct. */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def explain(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  test("compiled query predicates push down to the parquet scan") {
    val df = graft.sources.Tables.table(spark, sf, "lineitem")
      .where(QueryCompiler.compile(Map(
        "l_returnflag" -> "R", "l_quantity" -> Map("$gte" -> 30))))
      .select("l_orderkey")
    val plan = explain(df)
    assert(plan.contains("PushedFilters"))
    assert(plan.contains("IsNotNull(l_returnflag)") ||
      plan.contains("EqualTo(l_returnflag,R)"))
  }

  test("projection prunes the parquet read schema") {
    val df = graft.sources.Tables.table(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity")
    val plan = explain(df)
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") &&
      readSchema.contains("l_quantity") &&
      !readSchema.contains("l_comment") && !readSchema.contains("l_shipdate"))
  }

  test("$vectorSearch filter pushes into the parquet scan") {
    val ses = new graft.db.GraftSession(spark, sf)
    val df = ses.db("t").c("embeddings").pipe(Seq(
      Map("$vectorSearch" -> Map("path" -> "embedding",
        "queryVector" -> Seq.fill(64)(0.1), "limit" -> 5,
        "tieBreak" -> "vec_id",
        "filter" -> Map("vec_id" -> Map("$lt" -> 100))))))
    val plan = explain(df)
    assert(plan.contains("PushedFilters"))
    assert(plan.contains("LessThan(vec_id,100)"))
  }

  test("$rankFusion: bounded inputs fuse via broadcast join, no cartesian") {
    val ses = new graft.db.GraftSession(spark, sf)
    val df = ses.db("t").c("documents").pipe(Seq(
      Map("$rankFusion" -> Map(
        "key" -> "doc_id",
        "input" -> Map("pipelines" -> Map(
          "a" -> Seq(Map("$sort" -> Map("n_chars" -> -1, "doc_id" -> 1)),
            Map("$limit" -> 5)),
          "b" -> Seq(Map("$sort" -> Map("doc_id" -> 1)),
            Map("$limit" -> 5))))))))
    val plan = explain(df)
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("dependency semi-join broadcasts the small side") {
    val orders = graft.sources.Tables.table(spark, sf, "orders")
    val edges = graft.sources.Tables.table(spark, sf, "lineitem")
      .where(col("l_quantity") > 45)
      .select(col("l_orderkey").as("o_orderkey"))
    val df = orders.join(broadcast(edges), Seq("o_orderkey"), "left_semi")
    assert(explain(df).contains("BroadcastHashJoin"))
  }

  test("fused lookup+unwind compiles to a join, not collect_list+explode") {
    val ses = new graft.db.GraftSession(spark, sf)
    val df = ses.db("t").c("orders").pipe(Seq(
      Map("$lookup" -> Map("from" -> "customer", "localField" -> "o_custkey",
        "foreignField" -> "c_custkey", "as" -> "cust")),
      Map("$unwind" -> "$cust")))
    val plan = explain(df)
    assert(!plan.contains("Generate")) // no explode
    assert(!plan.contains("collect_list"))
    assert(plan.contains("Join") || plan.contains("BroadcastHashJoin"))
  }

  test("fused lookup+unwind preserve form compiles to a LEFT join") {
    val ses = new graft.db.GraftSession(spark, sf)
    // nation keys run 0..24; region keys 0..4 — nations with no matching
    // "customer" row must survive with a null struct under preserve
    val df = ses.db("t").c("nation").pipe(Seq(
      Map("$lookup" -> Map("from" -> "region", "localField" -> "n_nationkey",
        "foreignField" -> "r_regionkey", "as" -> "reg")),
      Map("$unwind" -> Map("path" -> "$reg",
        "preserveNullAndEmptyArrays" -> true))))
    val plan = explain(df)
    assert(!plan.contains("Generate") && !plan.contains("collect_list"))
    assert(plan.contains("LeftOuter") || plan.contains("left_outer"))
    assert(df.count() == 25) // every nation kept
    assert(df.where(col("reg").isNull).count() == 20) // unmatched → null
  }

  test("unfused lookup still produces array semantics") {
    val ses = new graft.db.GraftSession(spark, sf)
    val df = ses.db("t").c("orders").pipe(Seq(
      Map("$lookup" -> Map("from" -> "customer", "localField" -> "o_custkey",
        "foreignField" -> "c_custkey", "as" -> "cust"))))
    assert(df.schema("cust").dataType.typeName == "array")
  }

  test("native dot product stays inside whole-stage codegen") {
    import graft.functions.VectorFunctions.vec_dot
    val e = graft.sources.Tables.table(spark, sf, "embeddings")
    val df = e.select(vec_dot(col("embedding"), col("embedding")).as("nsq"))
    val plan = explain(df)
    // formatted explain marks codegen'd operators with "[codegen id : N]"
    assert(plan.contains("codegen id"))
    assert(plan.contains("floatvecdot"))
    // value check: dot(v,v) > 0 for non-zero embeddings
    assert(df.where(col("nsq") > 0).count() == e.count())
  }

  test("embeddingNearDup default path has no BroadcastNestedLoopJoin") {
    val e = graft.sources.Tables.table(spark, sf, "embeddings")
    val df = graft.ops.Dedup.embeddingNearDup(e, "vec_id", "embedding",
      threshold = 0.3, dim = 64)
    val plan = explain(df)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "default embeddingNearDup must block via LSH buckets, not O(n^2)")
    // the opt-in brute path (blockTables = 0) is the only nested-loop form
    val brute = graft.ops.Dedup.embeddingNearDup(e, "vec_id", "embedding",
      threshold = 0.3, blockTables = 0)
    assert(explain(brute).contains("BroadcastNestedLoopJoin"))
  }

  test("adaptive embeddingNearDup pair plan: native buckets, one " +
      "grouped scan, no (t, bkt) join or typed groups, exactly 2 " +
      "Exchanges") {
    val e = graft.sources.Tables.table(spark, sf, "embeddings")
    val df = graft.ops.Dedup.embeddingNearDup(e, "vec_id", "embedding",
      threshold = 0.9, dim = 64)
    val plan = explain(df)
    assert(plan.contains("hyperplane_buckets") &&
      plan.contains("cosine_pairs") && plan.contains("collect_list"),
      plan)
    assert(!plan.contains("Join") && !plan.contains("floatvecdot"), plan)
    assert(!plan.contains("AppendColumns") && !plan.contains("MapGroups") &&
      !plan.contains("DeserializeToObject"), plan)
    // one exchange on the bucket key, one for the pair distinct
    val exchanges = plan.linesIterator.count(_.contains(") Exchange"))
    assert(exchanges == 2, plan)
    // the blockCol branch is the same scan over its own key
    val blocked = explain(graft.ops.Dedup.embeddingNearDup(e, "vec_id",
      "embedding", threshold = 0.9, blockCol = Some("label")))
    assert(blocked.contains("cosine_pairs") && !blocked.contains("Join") &&
      blocked.linesIterator.count(_.contains(") Exchange")) == 2, blocked)
  }

  test("semDeDup plan, both keep rules: one grouped pair scan, no " +
      "typed groups, at most the one Exchange of the typed scan it " +
      "replaced") {
    val e = graft.sources.Tables.table(spark, sf, "embeddings")
    Seq(false, true).foreach { far =>
      val plan = explain(graft.ops.Dedup.semDeDupKMeans(e, "vec_id",
        "embedding", eps = 0.3, k = 4, iters = 2,
        keepFarthestFromCentroid = far))
      assert(plan.contains("cosine_pairs") && plan.contains("collect_list"),
        plan)
      assert(!plan.contains("AppendColumns") && !plan.contains("MapGroups") &&
        !plan.contains("DeserializeToObject"), plan)
      // the groupByKey scan planned exactly 1 Exchange (the cell key)
      // plus a broadcast anti-join on this fixture
      assert(plan.linesIterator.count(_.contains(") Exchange")) <= 1, plan)
    }
  }

  test("semantic decontamination: broadcast path is the bounded " +
      "product, LSH path has no nested loop") {
    val e = graft.sources.Tables.table(spark, sf, "embeddings")
    val bench = e.where(col("vec_id") < 8)
    val corpus = e.where(col("vec_id") >= 8)
    val broad = graft.ops.Decontaminate.semantic(corpus, "vec_id",
      "embedding", bench, "vec_id", "embedding", threshold = 0.5)
    // the deliberate bounded product: bench side broadcast
    assert(explain(broad).contains("BroadcastNestedLoopJoin"))
    spark.conf.set("spark.graft.semdecon.broadcastLimit", "1")
    try {
      val lsh = graft.ops.Decontaminate.semantic(corpus, "vec_id",
        "embedding", bench, "vec_id", "embedding", threshold = 0.5,
        dim = 64)
      val plan = explain(lsh)
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        "above the limit, candidates must meet on the bucket equi-join")
    } finally spark.conf.unset("spark.graft.semdecon.broadcastLimit")
  }

  test("editDistancePairs: no nested loop without short strings; the " +
      "short bucket is probe-gated and valve-bounded") {
    import spark.implicits._
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), concat(lit("prod"),
        col("doc_id").cast("string")).as("code"))
    val plan = explain(
      graft.ops.Dedup.editDistancePairs(docs, "doc_id", "code", 1))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "no short strings -> the nested-loop branch must not be planned")
    val withShorts = Seq((1L, "x"), (2L, "y"), (3L, "prod-long-code"))
      .toDF("doc_id", "code")
    assert(explain(graft.ops.Dedup.editDistancePairs(
      withShorts, "doc_id", "code", 1))
      .contains("BroadcastNestedLoopJoin"))
    spark.conf.set("spark.graft.editdist.shortBucketLimit", "1")
    try {
      val err = intercept[IllegalArgumentException] {
        graft.ops.Dedup.editDistancePairs(withShorts, "doc_id", "code", 1)
      }
      assert(err.getMessage.contains("shortBucketLimit"))
    } finally spark.conf.unset("spark.graft.editdist.shortBucketLimit")
  }

  test("editDistancePairsBetween and the store face: the short " +
      "bucket is planned when reference shorts exist and the valve " +
      "names the face") {
    import spark.implicits._
    val withShorts = Seq((1L, "x"), (2L, "y"), (3L, "prod-long-code"))
      .toDF("doc_id", "code")
    val store = graft.ops.Dedup.editDistanceSegmentStore(
      withShorts, "doc_id", "code", 1)
    val faces = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "editDistancePairsBetween:" -> (() => graft.ops.Dedup
        .editDistancePairsBetween(withShorts, withShorts, "doc_id",
          "code", 1)),
      "editDistancePairsBetweenPrecomputed:" -> (() => graft.ops.Dedup
        .editDistancePairsBetweenPrecomputed(withShorts, store, "doc_id",
          "code", 1)))
    for ((_, build) <- faces)
      assert(explain(build()).contains("BroadcastNestedLoopJoin"))
    spark.conf.set("spark.graft.editdist.shortBucketLimit", "1")
    try {
      for ((face, build) <- faces) {
        val err = intercept[IllegalArgumentException](build())
        assert(err.getMessage.contains(face) &&
          err.getMessage.contains("shortBucketLimit") &&
          err.getMessage.contains("Filter degenerate strings"),
          err.getMessage)
      }
    } finally spark.conf.unset("spark.graft.editdist.shortBucketLimit")
    graft.ops.Dedup.releaseCaches()
  }

  test("minhashLshPairsBetween: band equi-join, no nested loop; " +
      "domainPercentileFilter: thresholds broadcast back") {
    val docs = graft.sources.Tables.table(spark, sf, "documents")
    val between = graft.ops.Dedup.minhashLshPairsBetween(
      docs.where(col("doc_id") >= 200), docs.where(col("doc_id") < 200),
      "doc_id", "text")
    val p1 = explain(between)
    assert(!p1.contains("BroadcastNestedLoopJoin") &&
      !p1.contains("CartesianProduct"))
    val filt = graft.ops.Curation.domainPercentileFilter(
      docs, "source", "n_chars", 0.5)
    assert(explain(filt).contains("BroadcastHashJoin"),
      "per-domain thresholds must broadcast back, never shuffle the corpus")
  }

  test("resolveClusters: both windows share ONE component exchange") {
    import spark.implicits._
    val docs = Seq((1L, "a", 10L), (2L, "a", 30L))
      .toDF("doc_id", "text", "n_chars")
    val clusters = Seq((1L, 1L), (2L, 1L)).toDF("id", "component")
    val df = graft.ops.Dedup.resolveClusters(docs, clusters,
      "doc_id", "n_chars")
    val plan = explain(df)
    // the cluster_size count and the quality row_number partition on
    // the same key: one exchange feeds both Window nodes (the join
    // itself broadcasts — no extra shuffle)
    val exchanges = plan.linesIterator
      .count(_.matches("^\\(\\d+\\) Exchange.*"))
    assert(exchanges == 1,
      s"expected one shuffle on component, got $exchanges:\n$plan")
  }

  test("ivfTopK has no cartesian/nested-loop join (cell-key equi-joins only)") {
    val e = graft.sources.Tables.table(spark, sf, "embeddings")
    val df = graft.ops.Similarity.ivfTopK(e,
      e.where(org.apache.spark.sql.functions.col("vec_id") < 8),
      "vec_id", "embedding",
      centroids = e.where(org.apache.spark.sql.functions.col("vec_id") < 16),
      k = 10, nprobe = 4)
    val plan = explain(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "IVF candidates must meet on a cell-id equi-join")
  }

  test("simhashNearDup verifies hamming before the distinct exchange") {
    val docs = graft.sources.Tables.table(spark, sf, "documents")
    val df = graft.ops.Dedup.simhashNearDup(docs, "doc_id", "text")
    val plan = df.queryExecution.optimizedPlan
    // the per-pair min(hamming) aggregate's subtree already contains
    // the hamming filter — candidates are cut before they shuffle
    val topAgg = plan.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if a.aggregateExpressions.exists(_.toString.contains("hamming")) => a
    }
    assert(topAgg.isDefined, "aggregate of min(hamming) per (id_a, id_b)")
    // the verify predicate must run below the distinct: either a Filter
    // node, or (stronger) fused into the chunk self-join's condition
    val verifyBelow = topAgg.get.child.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.toString.contains("bit_count") => f
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.exists(_.toString.contains("bit_count")) => j
    }
    assert(verifyBelow.isDefined,
      "hamming verify must run below the distinct exchange")
  }

  /** Higher-order lambdas and Generate nodes left in an optimized plan —
    * the interpreted per-row work the native text kernels replace. */
  private def lambdasAndGenerates(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions._
    val lambdaKinds: Seq[Class[_]] = Seq(classOf[ArrayTransform],
      classOf[ArrayFilter], classOf[ArrayAggregate], classOf[LambdaFunction])
    val generates = plan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate =>
        s"Generate ${g.generator.prettyName}"
    }
    val lambdas = plan.flatMap(_.expressions)
      .flatMap(_.collect { case e => e })
      .filter(e => lambdaKinds.exists(_.isInstance(e)))
      .map(_.getClass.getSimpleName)
    (generates ++ lambdas).distinct
  }

  test("curate and minhashSignatures plan no lambdas and no shingle " +
    "Generate; signatures shuffle once, for the doc-level min-merge") {
    val docs = graft.sources.Tables.table(spark, sf, "documents")
    val curated = graft.ops.Curation.curate(docs, "doc_id", "text",
      minQuality = 0.1, sampleFraction = 0.5, minLangMargin = 1)
    assert(lambdasAndGenerates(curated.queryExecution.optimizedPlan).isEmpty,
      lambdasAndGenerates(curated.queryExecution.optimizedPlan))
    val sigs = graft.ops.Dedup.minhashSignatures(docs, "doc_id", "text",
      3, 12)
    assert(lambdasAndGenerates(sigs.queryExecution.optimizedPlan).isEmpty,
      lambdasAndGenerates(sigs.queryExecution.optimizedPlan))
    val plan = explain(sigs)
    val exchanges = plan.linesIterator
      .count(_.matches("^\\(\\d+\\) Exchange.*"))
    assert(exchanges == 1 && plan.contains("hashpartitioning(id#"),
      s"expected one shuffle keyed by id, got $exchanges:\n$plan")
  }

  test("asof join costs exactly one shuffle (union + ordered window)") {
    val ev = graft.sources.Tables.table(spark, sf, "events")
    val snaps = ev.where(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("value").as("signup_value"))
    val df = graft.ops.AsofJoin.backward(ev, snaps, "user_id", "ts", "ts",
      Seq("signup_value"))
    val plan = df.queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1,
      s"asof join must shuffle once (the window partitioning), got $shuffles\n$plan")
  }

  test("updateAll/removeAll: one table scan, count observed in-plan") {
    val li = graft.sources.Tables.table(spark, sf, "lineitem")
    val (updated, _) = graft.db.TableOps.updateAll(li,
      Map("l_returnflag" -> "A"), Map("$set" -> Map("l_linestatus" -> "X")),
      "l_orderkey")
    val scans = updated.queryExecution.optimizedPlan.collectLeaves().size
    assert(scans == 1, s"updateAll must scan the table once, got $scans")
    assert(updated.queryExecution.optimizedPlan.toString
      .contains("CollectMetrics"), "match count must ride the same job")
    val (removed, _) = graft.db.TableOps.removeAll(li,
      Map("l_quantity" -> Map("$lt" -> 10)))
    assert(removed.queryExecution.optimizedPlan.collectLeaves().size == 1)
  }

  test("$lookup pipeline form compiles to ONE equi-join, no nested loop") {
    val ses = new graft.db.GraftSession(spark, sf)
    val df = ses.db("t").c("orders").pipe(Seq(
      Map("$lookup" -> Map(
        "from" -> "lineitem",
        "let" -> Map("ok" -> "$o_orderkey"),
        "pipeline" -> Seq(
          Map("$match" -> Map("$expr" ->
            Map("$eq" -> Seq("$l_orderkey", "$$ok")))),
          Map("$match" -> Map("l_quantity" -> Map("$gte" -> 30.0)))),
        "as" -> "lines"))))
    val plan = explain(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"))
    // exactly one join (the correlated equality), not one per sub-stage
    val joins = "(?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)".r
      .findAllIn(plan.linesIterator
        .filter(_.matches("^\\(\\d+\\) .*")).mkString("\n")).size
    assert(joins == 1, s"expected 1 join node, plan:\n$plan")
    // the row-local $match filters the from side BELOW the join: the
    // quantity filter reaches the lineitem scan as a pushed filter
    assert(plan.contains("GreaterThanOrEqual(l_quantity,30.0)"))
  }

  test("$setWindowFields keeps aggregates in Window nodes, one shuffle") {
    val ses = new graft.db.GraftSession(spark, sf)
    val df = ses.db("t").c("orders").pipe(Seq(
      Map("$setWindowFields" -> Map(
        "partitionBy" -> "$o_orderstatus",
        "sortBy" -> Map("o_orderkey" -> 1),
        "output" -> Map(
          "rn" -> Map("$documentNumber" -> Map.empty),
          "run" -> Map("$sum" -> "$o_totalprice",
            "window" -> Map("documents" -> Seq("unbounded", "current"))))))))
    val plan = explain(df)
    assert(plan.contains("Window"))
    val exchanges = plan.linesIterator
      .count(_.matches("^\\(\\d+\\) Exchange.*"))
    assert(exchanges == 1,
      s"expected one shuffle on the partition key, got $exchanges:\n$plan")
  }

  test("$bucketAuto never globally sorts the raw data") {
    val ses = new graft.db.GraftSession(spark, sf)
    val df = ses.db("t").c("orders").pipe(Seq(
      Map("$bucketAuto" -> Map("groupBy" -> "$o_totalprice",
        "buckets" -> 4))))
    val plan = explain(df)
    // the only Sort belongs to the distinct-value window; the raw-row side
    // joins the broadcast value->bucket map without a global ordering
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"))
    assert(!plan.contains("rangepartitioning(o_totalprice"),
      "raw rows must not be range-partitioned for a global sort")
  }

  test("$bucketAuto granularity quantizes BEFORE the boundary window") {
    val ses = new graft.db.GraftSession(spark, sf)
    val df = ses.db("t").c("orders").pipe(Seq(
      Map("$bucketAuto" -> Map("groupBy" -> "$o_totalprice",
        "buckets" -> 4, "granularity" -> "R5"))))
    val plan = explain(df)
    // the boundary window runs at COMPILE time over the bounded
    // (value, bucket) table (|series|×decades rows) and the mapping
    // folds into the scan as one literal map lookup — the final plan
    // has the quantize CASE chain, no Window, and NO join-back (the
    // join form planted an inferred isnotnull under the staged quantize
    // projections and predicate pushdown inlined them per series step —
    // measured 102 s of q99's 100× time)
    assert(!plan.contains("Window"),
      "boundary assignment must fold to a literal, not a per-query window")
    assert(plan.contains("CASE WHEN"),
      "granularity quantization must be in-plan")
    assert(plan.contains("map_keys") || plan.contains("element_at") ||
      plan.contains("keys:"), "bucket mapping should be a literal lookup")
    assert(!plan.contains("rangepartitioning(o_totalprice"),
      "raw rows must not be range-partitioned for a global sort")
    // and semantically: the window input domain is tiny even though
    // o_totalprice is near-unique
    import org.apache.spark.sql.functions._
    val distinctQuantized = spark.read
      .parquet(s"$sf/orders.parquet")
      .select(graft.functions.Granularity
        .roundUp(col("o_totalprice").cast("double"), "R5").as("q"))
      .distinct().count()
    assert(distinctQuantized <= 5 * 10,
      s"quantized domain should be bounded by series x decades, " +
        s"got $distinctQuantized")
  }

  test("ANN corpus repartition is conditional on the scan's parallelism") {
    val e = graft.sources.Tables.table(spark, sf, "embeddings")
    val par = spark.sparkContext.defaultParallelism
    // already-parallel corpus (hash-partitioned, >= parallelism): the entry
    // points must NOT inject their own round-robin Exchange over the big side
    val pre = e.repartition(par * 2, col("vec_id"))
    assert(graft.ops.Partitioning.ensureMinPartitions(pre) eq pre,
      "pre-partitioned corpus must pass through untouched")
    val q = e.where(col("vec_id") < 8)
    val cents = e.where(col("vec_id") < 16)
    val lshPre = explain(graft.ops.Similarity.lshTopK(
      pre, q, "vec_id", "embedding", k = 5, dim = 64))
    assert(!lshPre.toLowerCase.contains("roundrobinpartitioning"),
      s"lshTopK must not round-robin shuffle a pre-partitioned corpus:\n$lshPre")
    val ivfPre = explain(graft.ops.Similarity.ivfTopK(
      pre, q, "vec_id", "embedding", cents, k = 5))
    assert(!ivfPre.toLowerCase.contains("roundrobinpartitioning"),
      s"ivfTopK must not round-robin shuffle a pre-partitioned corpus:\n$ivfPre")
    // the small-file fix survives: a single-split corpus still parallelizes
    val one = e.coalesce(1)
    val ivfOne = explain(graft.ops.Similarity.ivfTopK(
      one, q, "vec_id", "embedding", cents, k = 5))
    assert(ivfOne.toLowerCase.contains("roundrobinpartitioning"),
      "single-split corpus must still be spread to default parallelism")
  }

  test("top-k sort+limit compiles to TakeOrderedAndProject") {
    val df = new graft.db.GraftSession(spark, sf).db("t").c("lineitem")
      .find().sort("-l_extendedprice").limit(5)
      .select("l_orderkey", "l_extendedprice").toDF
    assert(explain(df).contains("TakeOrderedAndProject"))
  }

  test("dsir: scan-fused scoring — no join at all, top-k never sorts " +
      "the corpus") {
    val docs = graft.sources.Tables.table(spark, sf, "documents")
    val df = graft.ops.Dsir.select(docs, "doc_id", "text",
      docs.where(col("source") === "src0"), k = 10, buckets = 256)
    val plan = explain(df)
    // the ≤buckets-row log-ratio table folds into the scan as an array
    // literal, so the scoring plan has NO join operator of any kind —
    // one scan, one per-partition top-k
    assert(!plan.contains("Join"))
    assert(plan.contains("TakeOrderedAndProject"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("collated $lookup stays a hash equi-join; collated $group is " +
      "one hash aggregate (the fold is a scalar key expression)") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-plan-coll").toString
    Seq((1L, "Alice"), (2L, "alice"), (3L, "Bob"))
      .toDF("_id", "name").write.parquet(s"$dir/people.parquet")
    Seq(("ALICE", 1L), ("BOB", 2L))
      .toDF("who", "s").write.parquet(s"$dir/scores.parquet")
    val c = new graft.db.GraftSession(spark, dir).db("d").c("people")
    val look = c.pipe(
      Seq(Map("$lookup" -> Map("from" -> "scores",
        "localField" -> "name", "foreignField" -> "who",
        "as" -> "sc"))),
      collation = Map("locale" -> "en", "strength" -> 2))
    val lp = explain(look)
    assert(!lp.contains("BroadcastNestedLoopJoin") &&
      !lp.contains("CartesianProduct"))
    assert(lp.contains("BroadcastHashJoin") ||
      lp.contains("SortMergeJoin") || lp.contains("ShuffledHashJoin"))
    val grp = c.pipe(
      Seq(Map("$group" -> Map("_id" -> "$name",
        "n" -> Map("$sum" -> 1)))),
      collation = Map("locale" -> "en", "strength" -> 2))
    val gp = explain(grp)
    // min(original-string) is an immutable-buffer aggregate, so Spark
    // picks SortAggregate — still partial + final around ONE exchange
    assert((gp.contains("HashAggregate") || gp.contains("SortAggregate"))
      && !gp.contains("Join"))
    // the fold adds a key expression, never a second shuffle
    assert("\\+- Exchange".r.findAllIn(gp).size == 1)
  }

  test("precomputed-signature cross-frame minhash: no reference-side " +
      "text scan in the plan") {
    import spark.implicits._
    val docs = graft.sources.Tables.table(spark, sf, "documents")
    val store = java.nio.file.Files
      .createTempDirectory("graft-bandstore-spec").toString
    graft.ops.Dedup.minhashBandSignatures(
        docs.where(col("doc_id") < 200), "doc_id", "text")
      .write.mode("overwrite").partitionBy("band").parquet(store)
    val df = graft.ops.Dedup.minhashLshPairsBetweenPrecomputed(
      docs.where(col("doc_id") >= 200), spark.read.parquet(store),
      "doc_id", "text")
    val plan = explain(df)
    // every documents scan is the DELTA side (pushed filter >= 200):
    // the reference corpus arrives as the saved band frame, never as
    // text — the whole point of the store is that a daily batch does
    // not re-read 100 TB of ref text. (A second delta scan is fine:
    // the band-partitioned store triggers a dynamic-partition-pruning
    // subquery over the delta's bands, which prunes store partitions
    // at scale and reuses the delta broadcast in the production
    // big-store/small-delta shape.)
    val sections = plan.split("\\(\\d+\\) Scan parquet")
      .filter(_.contains("documents.parquet"))
    assert(sections.nonEmpty && sections.forall(
      _.contains("GreaterThanOrEqual(doc_id,200)")),
      "a documents scan without the delta pushdown is a ref-side " +
        "text re-scan")
    assert(plan.contains("bandstore-spec"),
      "saved band frame missing from the plan")
    // the (band, sig) candidate join is an equi-join
    assert(plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"))
    // parity: the store path returns exactly the recompute path's pairs
    val viaStore = df.as[(Long, Long)].collect().toSet
    val recompute = graft.ops.Dedup.minhashLshPairsBetween(
      docs.where(col("doc_id") >= 200), docs.where(col("doc_id") < 200),
      "doc_id", "text").as[(Long, Long)].collect().toSet
    assert(viaStore == recompute && viaStore.nonEmpty)
  }

  test("precomputed bucket-store cross-frame embedding near-dup: no " +
      "reference-side vector hashing in the plan") {
    import spark.implicits._
    val e = graft.sources.Tables.table(spark, sf, "embeddings")
    val store = java.nio.file.Files
      .createTempDirectory("graft-vecstore-spec").toString
    graft.ops.Dedup.vectorBucketSignatures(
        e.where(col("vec_id") < 400), "vec_id", "embedding",
        blockTables = 4, blockPlanes = 8, dim = 64)
      .write.mode("overwrite").partitionBy("t").parquet(store)
    val df = graft.ops.Dedup.embeddingNearDupBetweenPrecomputed(
      e.where(col("vec_id") >= 400), spark.read.parquet(store),
      e.where(col("vec_id") < 400), "vec_id", "embedding",
      threshold = 0.3, blockTables = 4, blockPlanes = 8, dim = 64)
    val plan = explain(df)
    assert(plan.contains("vecstore-spec"),
      "saved bucket frame missing from the plan")
    // bucket emission is the posexplode Generate: exactly ONE in
    // the whole plan — the DELTA's. A second Generate would mean the
    // reference corpus is re-paying tables×planes dot products per
    // batch, the exact cost the store exists to eliminate. (The ref
    // VECTORS legitimately appear once: the narrow (id, vec) join-back
    // for the exact-cosine verify.)
    val generates = plan.linesIterator.count(_.contains(") Generate"))
    assert(generates == 1,
      s"expected exactly 1 bucket-emission Generate (the delta's), " +
        s"got $generates")
    // the (t, bkt) candidate join is an equi-join
    assert(plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"))
    // parity: the store path returns exactly the recompute path's pairs
    val viaStore = df.as[(Long, Long)].collect().toSet
    val recompute = graft.ops.Dedup.embeddingNearDupBetween(
      e.where(col("vec_id") >= 400), e.where(col("vec_id") < 400),
      "vec_id", "embedding", threshold = 0.3, blockTables = 4,
      blockPlanes = 8, dim = 64).as[(Long, Long)].collect().toSet
    graft.ops.Dedup.releaseCaches()
    assert(viaStore == recompute && viaStore.nonEmpty)
  }

  test("precomputed bucket-store bitext mining: one bucket-emission " +
      "Generate (the crawl batch's) and parity with the recompute path") {
    import spark.implicits._
    val e = graft.sources.Tables.table(spark, sf, "embeddings")
    val store = java.nio.file.Files
      .createTempDirectory("graft-bitextstore-spec").toString
    val indexed = e.where(col("vec_id") >= 40 && col("vec_id") < 80)
    graft.ops.Dedup.vectorBucketSignatures(indexed, "vec_id",
        "embedding", blockTables = 8, blockPlanes = 8, dim = 64)
      .write.mode("overwrite").partitionBy("t").parquet(store)
    val df = graft.ops.Similarity.bitextMineLshPrecomputed(
      e.where(col("vec_id") < 40), spark.read.parquet(store), indexed,
      "vec_id", "embedding", k = 4, minMargin = 1.0,
      nPlanes = 8, tables = 8, dim = 64)
    val plan = explain(df)
    assert(plan.contains("bitextstore-spec"),
      "saved bucket frame missing from the plan")
    // the indexed side's tables x planes dot products must never be
    // re-paid: exactly one posexplode Generate in the MAIN plan —
    // the batch's. (A dynamic-partition-pruning Subquery section may
    // repeat the batch's Generate to prune the t-partitioned store's
    // file listing — that's delta-sized work that SAVES store I/O at
    // scale, not a ref-side recompute.)
    val generates = plan.split("Subquery:").head.linesIterator
      .count(_.contains(") Generate"))
    assert(generates == 1,
      s"expected exactly 1 bucket-emission Generate (the batch's), " +
        s"got $generates")
    // bit-identical to the recompute path (same planes, same margin
    // math over the same candidate set)
    val viaStore = df.as[(Long, Long, Double, Double)].collect().toSet
    val recompute = graft.ops.Similarity.bitextMineLsh(
      e.where(col("vec_id") < 40), indexed, "vec_id", "embedding",
      k = 4, minMargin = 1.0, nPlanes = 8, tables = 8, dim = 64)
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(viaStore == recompute && viaStore.nonEmpty)
  }

  test("precomputed chunk-store cross-frame simhash: no " +
      "reference-side text scan in the plan") {
    import spark.implicits._
    val docs = graft.sources.Tables.table(spark, sf, "documents")
    val store = java.nio.file.Files
      .createTempDirectory("graft-simstore-spec").toString
    graft.ops.Dedup.simhashChunkSignatures(
        docs.where(col("doc_id") < 200), "doc_id", "text")
      .write.mode("overwrite").partitionBy("chunk").parquet(store)
    val df = graft.ops.Dedup.simhashNearDupBetweenPrecomputed(
      docs.where(col("doc_id") >= 200), spark.read.parquet(store),
      "doc_id", "text")
    val plan = explain(df)
    // every documents scan is the DELTA side: the reference arrives
    // as the saved chunk frame — even the hamming verify reads the
    // store's own simhash column, so ref text appears NOWHERE
    val sections = plan.split("\\(\\d+\\) Scan parquet")
      .filter(_.contains("documents.parquet"))
    assert(sections.nonEmpty && sections.forall(
      _.contains("GreaterThanOrEqual(doc_id,200)")),
      "a documents scan without the delta pushdown is a ref-side " +
        "text re-scan")
    assert(plan.contains("simstore-spec"),
      "saved chunk frame missing from the plan")
    val viaStore = df.as[(Long, Long)].collect().toSet
    val recompute = graft.ops.Dedup.simhashNearDupBetween(
      docs.where(col("doc_id") >= 200), docs.where(col("doc_id") < 200),
      "doc_id", "text").as[(Long, Long)].collect().toSet
    assert(viaStore == recompute)
  }

  test("precomputed media chunk store: the plan decodes ONLY the " +
      "delta — one mapPartitions, ref pixels never touched") {
    import spark.implicits._
    val mk = (0L until 300L).map(i =>
      (i, graft.ops.Multimodal.fixtureBmp(i)))
    val media = mk.toDF("media_id", "content")
    val store = java.nio.file.Files
      .createTempDirectory("graft-mediastore-spec").toString
    graft.ops.Multimodal.mediaChunkSignatures(
        media.where(col("media_id") < 200))
      .write.mode("overwrite").partitionBy("chunk").parquet(store)
    val df = graft.ops.Multimodal.mediaNearDupBetween(
      media.where(col("media_id") >= 200), spark.read.parquet(store))
    val plan = explain(df)
    assert(plan.contains("mediastore-spec"),
      "saved chunk frame missing from the plan")
    // decode is the mapPartitions (SerializeFromObject/MapPartitions
    // pair): exactly ONE in the plan — the delta's. A second one
    // would mean the reference corpus is re-DECODING per batch, the
    // exact cost the store exists to eliminate.
    val decodes = plan.linesIterator.count(_.contains(") MapPartitions"))
    assert(decodes == 1,
      s"expected exactly 1 decode MapPartitions (the delta's), got " +
        s"$decodes")
    // parity: the store path equals the self-join restricted to the
    // directional split
    val viaStore = df.select("new_id", "ref_id")
      .as[(Long, Long)].collect().toSet
    val full = graft.ops.Multimodal.mediaNearDup(media)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val directional = full.collect {
      case (a, b) if a >= 200 && b < 200 => (a, b)
      case (a, b) if b >= 200 && a < 200 => (b, a)
    }
    assert(viaStore == directional && viaStore.nonEmpty)
  }

  test("mergeClusters relabels only the touched components of a " +
      "10k-node prior from a 1-pair delta") {
    import spark.implicits._
    // large prior labeling, tiny delta: propagation input is the
    // contracted delta graph — prior labels only appear in the
    // contraction joins and the final relabel join
    val prior = (0L until 10000L).map(i => (i, i - (i % 2)))
      .toDF("id", "component")
    val delta = Seq((4L, 7L)).toDF("id_a", "id_b")
    val out = graft.ops.Dedup.mergeClusters(prior, delta)
    // correctness of the touched component
    val m = out.as[(Long, Long)].collect().toMap
    assert(m(4L) == 4L && m(5L) == 4L && m(6L) == 4L && m(7L) == 4L)
    assert(m(8L) == 8L && m(9L) == 8L && m(0L) == 0L)
    assert(m.size == 10000)
    graft.ops.Dedup.releaseCaches()
  }

  test("minhashJaccardEstimate: one text scan — band join and both " +
      "signature join-backs read the persisted frame") {
    val docs = graft.sources.Tables.table(spark, sf, "documents")
    val df = graft.ops.Dedup.minhashJaccardEstimate(
      docs, "doc_id", "text")
    val plan = explain(df)
    // the signature frame is persisted: its four consumers (two band
    // sides, two estimate join-backs) must read the cache, leaving
    // exactly ONE parquet scan of the text in the plan
    val docScans = plan.linesIterator.count(l =>
      l.contains("Location") && l.contains("documents.parquet"))
    assert(docScans <= 1,
      s"expected at most 1 documents scan, got $docScans")
    assert(plan.contains("InMemoryTableScan") ||
      plan.contains("InMemoryRelation"),
      "signature frame must be read from the persisted cache")
    graft.ops.Dedup.releaseCaches()
  }

  test("editDistancePairsBetween: segment equi-join, no nested loop " +
      "when no short strings exist") {
    import spark.implicits._
    val mk = (0 until 300).map(i => (i.toLong, f"prod$i%04d-alpha"))
      .toDF("doc_id", "code")
    val df = graft.ops.Dedup.editDistancePairsBetween(
      mk.where($"doc_id" >= 150), mk.where($"doc_id" < 150),
      "doc_id", "code", 1)
    val plan = explain(df)
    // candidates meet on the (l, k, sub) equi-join; the short bucket
    // must stay OUT of the plan when the bounded probe finds no
    // short strings
    assert(plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"))
    // and the result is right (probe-gated fast path, d=1 digit pairs)
    assert(df.count() > 0)
  }

  test("precomputed IVF cell store: the query plan reads the saved " +
      "index and the query rows only — no corpus re-assignment") {
    import spark.implicits._
    val e = graft.sources.Tables.table(spark, sf, "embeddings")
    val cents = e.where(col("vec_id") < 16)
    val store = java.nio.file.Files
      .createTempDirectory("graft-ivf-spec").toString
    graft.ops.Similarity.ivfCellSignatures(e, "vec_id", "embedding",
        cents)
      .write.mode("overwrite").partitionBy("cell").parquet(store)
    val df = graft.ops.Similarity.ivfTopKPrecomputed(
      e.where(col("vec_id") < 8), spark.read.parquet(store),
      "vec_id", "embedding", cents, k = 10, nprobe = 4)
    val plan = explain(df)
    // every embeddings scan is the QUERY side (pushed filter < 8):
    // the corpus arrives as the saved cell-partitioned index with its
    // vectors riding — never re-assigned, never re-read. (The
    // centroid frame is collected to driver literals at PLAN BUILD,
    // so it leaves no scan in the final plan.)
    val sections = plan.split("\\(\\d+\\) Scan parquet")
      .filter(_.contains("embeddings.parquet"))
    assert(sections.nonEmpty && sections.forall(
      _.contains("LessThan(vec_id,8)")),
      "an embeddings scan without the query pushdown is a corpus " +
        "re-read")
    assert(plan.contains("ivf-spec"),
      "saved cell index missing from the plan")
    // candidates meet on the cell equi-join, never a loop
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"))
    // parity end-to-end
    val viaStore = df.as[(Long, Long, Int)].collect().toSet
    val recompute = graft.ops.Similarity.ivfTopK(e,
      e.where(col("vec_id") < 8), "vec_id", "embedding", cents,
      k = 10, nprobe = 4).as[(Long, Long, Int)].collect().toSet
    assert(viaStore == recompute && viaStore.nonEmpty)
  }

  test("precomputed bm25 postings store: no corpus scan, query terms " +
      "prune to their bucket partitions") {
    import spark.implicits._
    val docs = graft.sources.Tables.table(spark, sf, "documents")
    val store = java.nio.file.Files
      .createTempDirectory("graft-bm25-spec").toString
    val idx = graft.ops.TextSearch.bm25Index(docs, "doc_id", "text")
    idx.postings.write.mode("overwrite").partitionBy("bkt")
      .parquet(s"$store/postings")
    idx.stats.write.mode("overwrite").parquet(s"$store/stats")
    val saved = graft.ops.TextSearch.Bm25Index(
      spark.read.parquet(s"$store/postings"),
      spark.read.parquet(s"$store/stats"))
    val df = graft.ops.TextSearch.bm25Precomputed(saved, "doc_id",
      Seq("data", "spark"), k = 10)
    val plan = explain(df)
    // the whole point of the index: scoring never reads corpus text
    assert(!plan.contains("documents.parquet"),
      "scoring a saved index must not scan the corpus")
    // pmod(hash(lit)) folds to a literal, so the bucket disjunction
    // lands in PartitionFilters and prunes the postings store
    val postingsScan = plan.split("\\(\\d+\\) Scan parquet")
      .find(s => s.contains("bm25-spec") && s.contains("/postings"))
    assert(postingsScan.exists(s => s.contains("PartitionFilters") &&
      s.contains("bkt")), "bucket partition pruning missing")
    // and the scoring is right end-to-end
    val viaStore = df.as[(Long, Double, Long)].collect().toSet
    val oneShot = graft.ops.TextSearch.bm25(docs, "doc_id", "text",
      Seq("data", "spark"), k = 10)
      .as[(Long, Double, Long)].collect().toSet
    assert(viaStore.map(r => (r._1, r._3)) ==
      oneShot.map(r => (r._1, r._3)) && viaStore.nonEmpty)
  }

  test("precomputed segment-store cross-frame edit distance: no " +
      "reference-side string scan in the plan") {
    import spark.implicits._
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .withColumn("code", concat(lit("prod"),
        (col("doc_id") / 2).cast("long").cast("string"),
        when(col("doc_id") % 2 === 0, lit("-a")).otherwise(lit("-b"))))
    val store = java.nio.file.Files
      .createTempDirectory("graft-edstore-spec").toString
    graft.ops.Dedup.editDistanceSegmentStore(
        docs.where(col("doc_id") < 200), "doc_id", "code", 1)
      .write.mode("overwrite").partitionBy("k").parquet(store)
    val df = graft.ops.Dedup.editDistancePairsBetweenPrecomputed(
      docs.where(col("doc_id") >= 200), spark.read.parquet(store),
      "doc_id", "code", 1)
    val plan = explain(df)
    // every documents scan is the DELTA side (pushed filter >= 200):
    // the ref corpus arrives as saved segments WITH its strings
    // riding — the exact-levenshtein verify reads the store column,
    // never ref text (the q246 self-sufficiency contract)
    val sections = plan.split("\\(\\d+\\) Scan parquet")
      .filter(_.contains("documents.parquet"))
    assert(sections.nonEmpty && sections.forall(
      _.contains("GreaterThanOrEqual(doc_id,200)")),
      "a documents scan without the delta pushdown is a ref-side " +
        "string re-scan")
    assert(plan.contains("edstore-spec"),
      "saved segment frame missing from the plan")
    // candidates meet on the (l, k, sub) equi-join, never a loop
    assert(plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"))
    // parity: the store path returns exactly the recompute path's pairs
    val viaStore = df.as[(Long, Long)].collect().toSet
    val recompute = graft.ops.Dedup.editDistancePairsBetween(
      docs.where(col("doc_id") >= 200), docs.where(col("doc_id") < 200),
      "doc_id", "code", 1).as[(Long, Long)].collect().toSet
    assert(viaStore == recompute && viaStore.nonEmpty)
    graft.ops.Dedup.releaseCaches()
  }

  test("paragraphDedup: two exchanges (paragraph hash, doc regroup), " +
      "no join") {
    val docs = graft.sources.Tables.table(spark, sf, "documents")
    val plan = explain(graft.ops.Dedup.paragraphDedup(
      docs, "doc_id", "text"))
    assert("\\+- Exchange".r.findAllIn(plan).size == 2,
      "paragraph dedup must cost exactly the md5-window exchange and " +
        "the per-doc regroup")
    assert(!plan.contains("Join"))
  }

  test("bloom decontamination: might_contain filters the corpus scan side") {
    val docs = graft.sources.Tables.table(spark, sf, "documents")
    val df = graft.ops.Decontaminate.contaminationBloom(
      docs.where(col("doc_id") % 2 === 1), "doc_id", "text",
      docs.where(col("doc_id") % 2 === 0), "doc_id", "text",
      n = 3, expectedBenchShingles = 1L << 16)
    val plan = explain(df)
    // the sketch predicate must sit below the join's exchange: corpus
    // shingles are dropped before any shuffle, not after the join
    val filterIdx = plan.indexOf("might_contain")
    assert(filterIdx >= 0, "bloom predicate missing from the plan")
    val joinIdx = plan.indexOf("SortMergeJoin") match {
      case -1 => plan.indexOf("ShuffledHashJoin") match {
        case -1 => plan.indexOf("BroadcastHashJoin")
        case i => i
      }
      case i => i
    }
    assert(joinIdx >= 0, "expected an equi-join in the plan")
  }

  test("$search embeddedDocument: lambda algebra, no Generate/Join") {
    import graft.pipeline.PipelineCompiler
    import spark.implicits._
    val d = Seq((1L, Seq(("a", 10)))).toDF("id", "items")
    val plan = explain(PipelineCompiler.compile(Seq(
      Map("$search" -> Map("embeddedDocument" -> Map(
        "path" -> "items",
        "operator" -> Map("equals" ->
          Map("path" -> "items._1", "value" -> "a"))))),
      Map("$project" -> Map("id" -> 1))))(d))
    assert(!plan.contains("Generate") && !plan.contains("Join"))
  }

  test("$lookup concise form: shaping $match pushes into the from scan") {
    import graft.pipeline.PipelineCompiler
    val orders = graft.sources.Tables.table(spark, sf, "orders")
    val li = graft.sources.Tables.table(spark, sf, "lineitem")
    val plan = explain(PipelineCompiler.compile(
      Seq(Map("$lookup" -> Map(
        "from" -> "lineitem", "localField" -> "o_orderkey",
        "foreignField" -> "l_orderkey", "as" -> "xs",
        "pipeline" -> Seq(
          Map("$match" -> Map("l_quantity" -> Map("$gte" -> 45))),
          Map("$project" -> Map("l_orderkey" -> 1)))))),
      tables = _ => li)(orders))
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(l_quantity,45"))
  }

  test("NB classifier scoring: token equi-join + hash aggregate") {
    import spark.implicits._
    val docs = Seq((1L, "a b", true), (2L, "c", false))
      .toDF("id", "text", "lab")
    val plan = explain(graft.ops.Classifier.naiveBayes(
      docs, "id", "text", col("lab")))
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("HashAggregate"))
  }

  test("PCA projection: no exchange, stays in the scan") {
    import spark.implicits._
    val d = Seq((1L, Array(1.0, 2.0)), (2L, Array(3.0, 4.0)))
      .toDF("id", "emb")
    val m = graft.ops.Pca.fit(d, "emb")
    val plan = explain(graft.ops.Pca.project(d, "emb", m, "pc"))
    assert(!plan.contains("Exchange") && !plan.contains("Join"))
  }

  test("spark.graft.skewSalt: $group and $lookup compile to salted shapes") {
    import spark.implicits._
    import graft.pipeline.PipelineCompiler
    val d = Seq((1L, "a", 5L), (2L, "a", 7L), (3L, "b", 1L))
      .toDF("_id", "k", "v")
    val items = Seq(("a", 10L), ("b", 30L)).toDF("k", "q")
    val gp = Seq(Map("$group" -> (Map("_id" -> "$k",
      "s" -> Map("$sum" -> "$v")): Map[String, Any])))
    val lk = Seq(Map("$lookup" -> (Map("from" -> "items",
      "localField" -> "k", "foreignField" -> "k",
      "as" -> "xs"): Map[String, Any])))
    // unsalted baselines: no salt machinery in the plan
    val g0 = PipelineCompiler.compile(gp)(d).queryExecution
      .optimizedPlan.toString
    val l0 = PipelineCompiler.compile(lk, _ => items)(d).queryExecution
      .optimizedPlan.toString
    assert(!g0.contains("__sg0") && !l0.contains("__sl"))
    spark.conf.set("spark.graft.skewSalt", "4")
    try {
      // $group: two aggregates — per (key, salt) partial, then combine
      // (the optimizer may rewrite the __salt alias into a
      // _groupingexpression, so assert on the partial columns + shape)
      val g = PipelineCompiler.compile(gp)(d).queryExecution
        .optimizedPlan.toString
      assert(g.contains("__sg0"))
      assert("(?s)Aggregate.*Aggregate".r.findFirstIn(g).isDefined)
      // $lookup: join condition carries the scatter/replica salt keys
      val l = PipelineCompiler.compile(lk, _ => items)(d).queryExecution
        .optimizedPlan.toString
      assert(l.contains("__sl") && l.contains("__sr"))
      assert(l.contains("explode")) // right-side replication
    } finally spark.conf.unset("spark.graft.skewSalt")
  }

  test("deterministic salt skips map columns; salted group works on " +
      "map-typed frames") {
    import spark.implicits._
    import graft.pipeline.PipelineCompiler
    // Spark's hash rejects MapType — the salt must exclude such columns
    val d = Seq((1L, "a", 5L), (2L, "a", 7L), (3L, "b", 1L))
      .toDF("_id", "k", "v")
      .withColumn("m", map(col("k"), col("v")))
    val gp = Seq(Map("$group" -> (Map("_id" -> "$k",
      "s" -> Map("$sum" -> "$v")): Map[String, Any])))
    spark.conf.set("spark.graft.skewSalt", "4")
    try {
      val out = PipelineCompiler.compile(gp)(d)
        .orderBy("_id").as[(String, Long)].collect().toSeq
      assert(out == Seq(("a", 12L), ("b", 1L)))
    } finally spark.conf.unset("spark.graft.skewSalt")
    // all-map frames fall back to the JSON rendering (still works)
    val allMap = d.select(col("m"))
    assert(allMap.select(graft.ops.Skew.deterministicSalt(allMap, 4))
      .distinct().count() >= 1)
  }

  test("spark.graft.skewSalt=auto: engine-first policy — group stays " +
      "plain, lookup salts only without AQE") {
    import spark.implicits._
    import graft.pipeline.PipelineCompiler
    // 90% of rows share one key: hottest-reducer imbalance ~ 0.9 * P
    val skewed = spark.range(2000L)
      .selectExpr("id AS _id",
        "CASE WHEN id % 10 < 9 THEN 'hot' ELSE concat('k', id) END AS k",
        "id AS v")
    val uniform = spark.range(2000L)
      .selectExpr("id AS _id", "concat('k', id % 500) AS k", "id AS v")
    // the sketch estimator: skewed share ~0.9 at 32 partitions -> ~29;
    // uniform share ~1/500 -> 0
    assert(graft.ops.Skew.autoSalt(skewed, col("k")) > 2)
    assert(graft.ops.Skew.autoSalt(uniform, col("k")) == 0)
    val gp = Seq(Map("$group" -> (Map("_id" -> "$k",
      "s" -> Map("$sum" -> "$v")): Map[String, Any])))
    val items = Seq(("hot", 10L), ("k5", 30L)).toDF("k", "q")
    val lk = Seq(Map("$lookup" -> (Map("from" -> "items",
      "localField" -> "k", "foreignField" -> "k",
      "as" -> "xs"): Map[String, Any])))
    spark.conf.set("spark.graft.skewSalt", "auto")
    try {
      // $group: map-side partial aggregation already absorbs a hot
      // decomposable key (measured parity — ScaleProbe saltgroup), so
      // auto NEVER salts the aggregate
      val g = PipelineCompiler.compile(gp)(skewed).queryExecution
        .optimizedPlan.toString
      assert(!g.contains("__sg0"))
      // $lookup with AQE on: runtime skew-split beats static salting in
      // every measured configuration (ScaleProbe saltlookup) -> plain
      val lAqe = PipelineCompiler.compile(lk, _ => items)(skewed)
        .queryExecution.optimizedPlan.toString
      assert(!lAqe.contains("__sl"))
      // $lookup with AQE off: the sketch engages — salted shape on the
      // skewed frame, plain on the uniform one
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val lSkew = PipelineCompiler.compile(lk, _ => items)(skewed)
        .queryExecution.optimizedPlan.toString
      assert(lSkew.contains("__sl") && lSkew.contains("__sr"))
      val lUni = PipelineCompiler.compile(lk, _ => items)(uniform)
        .queryExecution.optimizedPlan.toString
      assert(!lUni.contains("__sl"))
      // results identical either way (the salt only reshapes the plan)
      val got = PipelineCompiler.compile(lk, _ => items)(skewed)
        .selectExpr("_id", "size(xs) AS n").orderBy("_id")
        .as[(Long, Int)].collect().toSeq
      spark.conf.unset("spark.graft.skewSalt")
      val want = PipelineCompiler.compile(lk, _ => items)(skewed)
        .selectExpr("_id", "size(xs) AS n").orderBy("_id")
        .as[(Long, Int)].collect().toSeq
      assert(got == want)
    } finally {
      spark.conf.unset("spark.graft.skewSalt")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }
}

class FingerprintSpec extends SparkSpec {
  import graft.apm.Fingerprint

  test("literals strip to type placeholders; same shape -> same print") {
    val a = Map("time" -> Map("$gt" -> java.time.Instant.now()), "n" -> 5)
    val b = Map("n" -> 99, "time" -> Map("$gt" ->
      java.time.Instant.parse("2020-01-01T00:00:00Z")))
    assert(Fingerprint.fingerprint(a) == Fingerprint.fingerprint(b))
    assert(Fingerprint.fingerprint(a).contains("<date>"))
  }

  test("arrays dedup by element shape") {
    val fp = Fingerprint.fingerprint(Map("ids" -> Seq(1, 2, 3, "x")))
    assert(fp == """{"ids": [<int>, <string>]}""")
  }

  test("different shapes -> different prints") {
    assert(Fingerprint.fingerprint(Map("a" -> 1)) !=
      Fingerprint.fingerprint(Map("a" -> Map("$gt" -> 1))))
  }
}
