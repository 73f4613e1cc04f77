package graft.queries

import org.apache.spark.sql.functions._
import java.time.Instant

import graft.model._
import graft.db.{GraftSession, TableOps}
import graft.db.TableOps._
import graft.orchestrate.MigrationApp
import graft.backup.{Backup, BackupOptions}

import Fixtures._

/** The write surface: update-compiler operators, upserts, bulk writes,
  * findAndModify, inserts and DDL, backups and end-to-end migrations. */
private[queries] object UpdateQueries {

  val all: Seq[Q] = Seq(

    // §2.8 update compiler: $set + $inc applied to matching rows
    Q("q05_update_set_inc", run = (s, dir) => {
      val (res, _) = TableOps.updateAll(
        tbl(s, dir, "lineitem"),
        Map("l_returnflag" -> "A"),
        Map("$set" -> Map("l_linestatus" -> "X"),
            "$inc" -> Map("l_quantity" -> 5)),
        "l_orderkey")
      res.select("l_orderkey", "l_linenumber", "l_linestatus", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    }, oracle = """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_returnflag = 'A' THEN 'X' ELSE l_linestatus END AS l_linestatus,
        |  CASE WHEN l_returnflag = 'A' THEN l_quantity + 5 ELSE l_quantity END AS l_quantity
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // $push modifier form ($each + $sort + $slice) through the update
    // compiler on matching rows — map-only, zero shuffles
    Q("q111_push_each", run = (s, dir) => {
      val src = tbl(s, dir, "part").where(col("p_partkey") <= 500)
        .withColumn("arr", split(col("p_brand"), "#"))
      val (res, _) = TableOps.updateAll(src,
        Map("p_size" -> Map("$lte" -> 20)),
        Map("$push" -> Map("arr" -> Map("$each" -> Seq("zz", "aa"),
          "$sort" -> 1, "$slice" -> 3))),
        "p_partkey")
      res.select(col("p_partkey"), concat_ws("|", col("arr")).as("arr_s"))
        .orderBy("p_partkey")
    }, oracle = """SELECT p_partkey,
        |  CASE WHEN p_size <= 20 THEN
        |    array_to_string(list_slice(list_sort(list_concat(
        |      string_split(p_brand, '#'), ['zz', 'aa'])), 1, 3), '|')
        |  ELSE array_to_string(string_split(p_brand, '#'), '|')
        |  END AS arr_s
        |FROM part WHERE p_partkey <= 500
        |ORDER BY p_partkey""".stripMargin),

    // all-positional $[] element updates + $bit, both codegen'd lambdas /
    // bitwise ops on matching rows — map-only
    Q("q112_positional_bit", run = (s, dir) => {
      val src = tbl(s, dir, "part").where(col("p_partkey") <= 500)
        .withColumn("scores",
          sequence(lit(1), (col("p_size") % 5 + 1).cast("int")))
        .withColumn("flags", col("p_size").cast("long"))
      val (res, _) = TableOps.updateAll(src,
        Map("p_size" -> Map("$gte" -> 10)),
        Map("$inc" -> Map("scores.$[]" -> 100),
          "$bit" -> Map("flags" -> Map("xor" -> 21))),
        "p_partkey")
      res.select(col("p_partkey"),
        array_join(col("scores").cast("array<string>"), ",").as("scores_s"),
        col("flags"))
        .orderBy("p_partkey")
    }, oracle = """SELECT p_partkey,
        |  array_to_string(CASE WHEN p_size >= 10
        |    THEN list_transform(range(1, (p_size % 5 + 1) + 1),
        |                        x -> x + 100)
        |    ELSE range(1, (p_size % 5 + 1) + 1) END, ',') AS scores_s,
        |  CASE WHEN p_size >= 10 THEN xor(CAST(p_size AS BIGINT), 21)
        |    ELSE CAST(p_size AS BIGINT) END AS flags
        |FROM part WHERE p_partkey <= 500
        |ORDER BY p_partkey""".stripMargin),

    // filtered positional $[ident] + arrayFilters: only elements matching
    // the element-level predicate update — one codegen'd lambda
    Q("q113_array_filters", run = (s, dir) => {
      val src = tbl(s, dir, "part").where(col("p_partkey") <= 500)
        .withColumn("grades",
          array(col("p_size"), col("p_size") % 7 * 10, lit(42)))
      val (res, _) = TableOps.updateAll(src, Map.empty,
        Map("$set" -> Map("grades.$[g]" -> -1)),
        "p_partkey", Seq(Map("g" -> Map("$gte" -> 25))))
      res.select(col("p_partkey"),
        array_join(col("grades").cast("array<string>"), ",").as("g_s"))
        .orderBy("p_partkey")
    }, oracle = """SELECT p_partkey, array_to_string(list_transform(
        |    [p_size, (p_size % 7) * 10, 42],
        |    x -> CASE WHEN x >= 25 THEN -1 ELSE x END), ',') AS g_s
        |FROM part WHERE p_partkey <= 500
        |ORDER BY p_partkey""".stripMargin),

    // nested positional updates: arr.$[g].inner.$[i] — per-level
    // arrayFilters compile to nested transform lambdas (zero shuffles)
    Q("q117_nested_positional", run = (s, dir) => {
      val src = tbl(s, dir, "part").where(col("p_partkey") <= 300)
        .withColumn("groups", array(
          struct(lit("a").as("tag"),
            array(col("p_size"), lit(5)).as("inner")),
          struct(lit("b").as("tag"),
            array(lit(30), col("p_size") % 10).as("inner"))))
      val (res, _) = TableOps.updateAll(src, Map.empty,
        Map("$inc" -> Map("groups.$[g].inner.$[i]" -> 100)),
        "p_partkey",
        Seq(Map("g.tag" -> "b"), Map("i" -> Map("$lt" -> 10))))
      res.select(col("p_partkey"),
        array_join(transform(col("groups"), g =>
          concat(g.getField("tag"), lit(":"),
            array_join(g.getField("inner").cast("array<string>"), ","))),
          "|").as("g_s"))
        .orderBy("p_partkey")
    }, oracle = """SELECT p_partkey,
        |  concat('a:', array_to_string([p_size, 5], ','), '|b:',
        |    array_to_string(list_transform([30, p_size % 10],
        |      x -> CASE WHEN x < 10 THEN x + 100 ELSE x END), ','))
        |    AS g_s
        |FROM part WHERE p_partkey <= 300
        |ORDER BY p_partkey""".stripMargin),

    // first-match positional $: the query's $elemMatch condition picks
    // the element; only the FIRST matching element per row updates
    Q("q114_positional_first", run = (s, dir) => {
      val src = tbl(s, dir, "part").where(col("p_partkey") <= 500)
        .withColumn("grades",
          array(col("p_size"), lit(25), col("p_size") % 7 * 10))
      val (res, _) = TableOps.updateAll(src,
        Map("grades" -> Map("$elemMatch" -> Map("$gte" -> 20))),
        Map("$set" -> Map("grades.$" -> -1)),
        "p_partkey")
      res.select(col("p_partkey"),
        array_join(col("grades").cast("array<string>"), ",").as("g_s"))
        .orderBy("p_partkey")
    }, oracle = """WITH src AS (SELECT p_partkey,
        |    [CAST(p_size AS BIGINT), CAST(25 AS BIGINT),
        |     CAST((p_size % 7) * 10 AS BIGINT)] AS g
        |  FROM part WHERE p_partkey <= 500),
        |ex AS (SELECT p_partkey, i, g[i] AS v
        |  FROM src, UNNEST(range(1, len(g)+1)) AS u(i)),
        |fi AS (SELECT p_partkey, MIN(i) AS first_i FROM ex
        |  WHERE v >= 20 GROUP BY 1)
        |SELECT s.p_partkey, array_to_string(list_transform(
        |    range(1, len(s.g)+1),
        |    i -> CAST(CASE WHEN f.first_i IS NOT NULL AND i = f.first_i
        |      THEN -1 ELSE s.g[i] END AS VARCHAR)), ',') AS g_s
        |FROM src s LEFT JOIN fi f USING (p_partkey)
        |ORDER BY s.p_partkey""".stripMargin),

    // §2.8 $rename (the anser example shape) on matching rows
    Q("q06_update_rename", run = (s, dir) => {
      val (res, _) = TableOps.updateAll(
        tbl(s, dir, "events"),
        Map("ts" -> Map("$gt" -> Instant.parse("2024-01-15T00:00:00Z"))),
        Map("$rename" -> Map("ts" -> "timeSince")),
        "event_id")
      res.select("event_id", "ts", "timeSince").orderBy("event_id")
    }, oracle = """SELECT event_id,
        |  CASE WHEN ts > TIMESTAMP '2024-01-15 00:00:00' THEN NULL ELSE ts END AS ts,
        |  CASE WHEN ts > TIMESTAMP '2024-01-15 00:00:00' THEN ts ELSE NULL END AS timeSince
        |FROM events ORDER BY event_id""".stripMargin),

    // §2.9 RemoveAll (anti-filter) + rollup of the survivors
    Q("q07_remove_all", run = (s, dir) => {
      val (res, _) = TableOps.removeAll(
        tbl(s, dir, "lineitem"), Map("l_quantity" -> Map("$lt" -> 10)))
      res.groupBy("l_returnflag").agg(count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")
    }, oracle = """SELECT l_returnflag, COUNT(*) AS cnt FROM lineitem
        |WHERE NOT (l_quantity < 10)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // §2.9 Upsert: MERGE-shaped last-wins by key (updates + inserts)
    Q("q08_upsert", run = (s, dir) => {
      val base = tbl(s, dir, "orders")
      val updates = base.where(col("o_orderstatus") === "F")
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val inserts = base.where(col("o_orderstatus") === "P")
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      TableOps.upsert(base, updates.unionByName(inserts), "o_orderkey")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    }, oracle = """WITH updates AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2 AS o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderstatus = 'P'
        |)
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM (
        |  SELECT * FROM updates
        |  UNION ALL
        |  SELECT * FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
        |) ORDER BY o_orderkey""".stripMargin),

    // §2.9 ordered Bulk: update → remove → insert in one batch
    Q("q09_bulk", run = (s, dir) => {
      val part = tbl(s, dir, "part")
      val inserts = part.where(col("p_partkey") <= 3)
        .withColumn("p_partkey", col("p_partkey") + 1000000L)
      TableOps.runBulk(part, Seq(
        BulkUpdate(Map("p_size" -> Map("$gte" -> 40)),
          Map("$set" -> Map("p_brand" -> "Brand#XL"))),
        BulkRemove(Map("p_retailprice" -> Map("$lt" -> 910.0))),
        BulkInsert(inserts)), "p_partkey")
        .select("p_partkey", "p_brand", "p_size")
        .orderBy("p_partkey")
    }, oracle = """WITH u AS (
        |  SELECT p_partkey, p_name,
        |         CASE WHEN p_size >= 40 THEN 'Brand#XL' ELSE p_brand END AS p_brand,
        |         p_type, p_size, p_retailprice
        |  FROM part
        |), r AS (
        |  SELECT * FROM u WHERE NOT (p_retailprice < 910.0)
        |), i AS (
        |  SELECT * FROM r
        |  UNION ALL
        |  SELECT p_partkey + 1000000, p_name, p_brand, p_type, p_size, p_retailprice
        |  FROM part WHERE p_partkey <= 3
        |)
        |SELECT p_partkey, p_brand, p_size FROM i ORDER BY p_partkey""".stripMargin),

    // §2.1 backup export frame: query + sort + limit
    Q("q16_backup", run = (s, dir) =>
      Backup.exportFrame(tbl(s, dir, "events"), BackupOptions(
        query = Map("event_type" -> "click"),
        sortKeys = Seq("-ts", "event_id"),
        limit = 100))
        .select("event_id", "user_id", "ts"),
      oracle = """SELECT event_id, user_id, ts FROM events
        |WHERE event_type = 'click'
        |ORDER BY ts DESC, event_id LIMIT 100""".stripMargin),

    // $pull condition-doc form + $pullAll: element-level removal compiled
    // to codegen'd array filter lambdas — map-only, no shuffle
    Q("q125_pull_forms", run = (s, dir) => {
      val src = tbl(s, dir, "part").where(col("p_partkey") <= 500)
        .withColumn("arr",
          sequence(lit(1), (col("p_size") % 6 + 2).cast("int")))
      val (pulled, _) = TableOps.updateAll(src,
        Map("p_size" -> Map("$gte" -> 10)),
        Map("$pull" -> Map("arr" -> Map("$gte" -> 4))),
        "p_partkey")
      val (res, _) = TableOps.updateAll(pulled,
        Map("p_size" -> Map("$lt" -> 10)),
        Map("$pullAll" -> Map("arr" -> Seq(1, 3))),
        "p_partkey")
      res.select(col("p_partkey"),
        array_join(col("arr").cast("array<string>"), ",").as("arr_s"))
        .orderBy("p_partkey")
    }, oracle = """SELECT p_partkey,
        |  array_to_string(
        |    CASE WHEN p_size >= 10 THEN
        |      list_filter(generate_series(1, p_size % 6 + 2), x -> x < 4)
        |    ELSE
        |      list_filter(generate_series(1, p_size % 6 + 2),
        |        x -> x NOT IN (1, 3))
        |    END, ',') AS arr_s
        |FROM part WHERE p_partkey <= 500
        |ORDER BY p_partkey""".stripMargin),

    // Pipeline-form update (Mongo 4.2 `update: [stage…]`): $set stage
    // expressions READ the document (classic operators take literals
    // only), $unset stage removal — one conditional scan transform, same
    // one-scan matched-count observation as the document form
    Q("q166_update_pipeline", run = (s, dir) => {
      val (res, _) = TableOps.updateAllPipeline(
        tbl(s, dir, "lineitem"),
        Map("l_returnflag" -> "R"),
        Seq(
          Map("$set" -> Map(
            "gross" -> Map("$multiply" -> Seq("$l_extendedprice",
              Map("$subtract" -> Seq(1, "$l_discount")))),
            "l_linestatus" ->
              Map("$concat" -> Seq("$l_linestatus", "-upd")))),
          Map("$unset" -> "l_tax")),
        "l_orderkey")
      res.select(col("l_orderkey"), col("l_linenumber"),
          col("l_linestatus"), col("l_tax"),
          col("gross").cast("decimal(18,4)").cast("double").as("gross"))
        .orderBy("l_orderkey", "l_linenumber")
    }, oracle = """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_returnflag = 'R' THEN l_linestatus || '-upd'
        |       ELSE l_linestatus END AS l_linestatus,
        |  CASE WHEN l_returnflag = 'R' THEN NULL ELSE l_tax END AS l_tax,
        |  CASE WHEN l_returnflag = 'R' THEN CAST(CAST(
        |      l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        |      AS DOUBLE) ELSE NULL END AS gross
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // §2.9 upsert with an update-operator document, insert branch
    Q("q34_upsert_doc", run = (s, dir) =>
      TableOps.upsertDoc(tbl(s, dir, "orders"),
        Map("o_orderkey" -> -1L),
        Map("$set" -> Map("o_orderstatus" -> "Z")), "o_orderkey")
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey"),
      oracle = """SELECT o_orderkey, o_orderstatus FROM (
        |  SELECT o_orderkey, o_orderstatus FROM orders
        |  UNION ALL SELECT -1, 'Z'
        |) ORDER BY o_orderkey""".stripMargin),

    // §2.9 findAndModify: update the first sorted match
    Q("q35_find_and_modify", run = (s, dir) => {
      val (out, _) = TableOps.findAndModify(tbl(s, dir, "orders"),
        Map("o_orderstatus" -> "O"),
        Seq("-o_totalprice", "o_orderkey"),
        Map("$set" -> Map("o_orderpriority" -> "0-TOUCHED")),
        remove = false, "o_orderkey")
      out.select("o_orderkey", "o_orderpriority").orderBy("o_orderkey")
    }, oracle = """SELECT o_orderkey,
        |  CASE WHEN o_orderkey = (
        |    SELECT o_orderkey FROM orders WHERE o_orderstatus = 'O'
        |    ORDER BY o_totalprice DESC, o_orderkey LIMIT 1)
        |  THEN '0-TOUCHED' ELSE o_orderpriority END AS o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // §2.9 manual migration end-to-end: a registered Row => Row operation
    // through MigrationApp (migration_job_manual.go:41-93) on a temp copy
    Q("q41_manual_migration", run = (s, dir) => {
      val tmp = tmpCopy(dir, "supplier", "graft-manual")
      val regs = new graft.orchestrate.Registries
      regs.registerOperation("upper-name", r => {
        val i = r.fieldIndex("s_name")
        org.apache.spark.sql.Row.fromSeq(
          r.toSeq.updated(i, r.getString(i).toUpperCase))
      })
      val app = new MigrationApp(s, tmp, registries = regs)
      app.setup(Seq(ManualMigration(
        GeneratorOptions("up", ns = Namespace("db", "supplier"),
          query = Map("s_nationkey" -> Map("$lt" -> 10))), "upper-name")))
      val res = app.run()
      require(res.forall(!_.hasErrors), s"manual migration failed: $res")
      s.read.parquet(s"$tmp/supplier.parquet")
        .select("s_suppkey", "s_name", "s_nationkey")
        .orderBy("s_suppkey")
    }, oracle = """SELECT s_suppkey,
        |  CASE WHEN s_nationkey < 10 THEN upper(s_name) ELSE s_name END
        |    AS s_name,
        |  s_nationkey
        |FROM supplier ORDER BY s_suppkey""".stripMargin),

    // §2.9 stream migration end-to-end: a registered whole-stream processor
    // (may drop rows) through MigrationApp (migration_job_stream.go:38-78)
    Q("q42_stream_migration", run = (s, dir) => {
      val tmp = tmpCopy(dir, "customer", "graft-stream")
      val regs = new graft.orchestrate.Registries
      regs.registerProcessor("evens-upper", it =>
        it.filter(r => r.getLong(r.fieldIndex("c_custkey")) % 2 == 0)
          .map { r =>
            val i = r.fieldIndex("c_name")
            org.apache.spark.sql.Row.fromSeq(
              r.toSeq.updated(i, r.getString(i).toUpperCase))
          })
      val app = new MigrationApp(s, tmp, registries = regs)
      app.setup(Seq(StreamMigration(
        GeneratorOptions("evens", ns = Namespace("db", "customer"),
          query = Map("c_mktsegment" -> "BUILDING")), "evens-upper")))
      val res = app.run()
      require(res.forall(!_.hasErrors), s"stream migration failed: $res")
      s.read.parquet(s"$tmp/customer.parquet")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    }, oracle = """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_mktsegment <> 'BUILDING'
        |UNION ALL
        |SELECT c_custkey, upper(c_name), c_mktsegment FROM customer
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey % 2 = 0
        |ORDER BY c_custkey""".stripMargin),

    // §2.1 Insert + read-back through the session facade (db/wrapper.go:
    // 117-125): append derived rows, then Find over the grown table
    Q("q43_insert", run = (s, dir) => {
      // seed with a Spark write: collections live in directory layout so
      // Insert can append files without rewriting the table
      val tmp = scratchDir("graft-insert").toString
      tbl(s, dir, "nation").write.parquet(s"$tmp/nation.parquet")
      val c = new GraftSession(s, tmp).db("db").c("nation")
      val derived = tbl(s, dir, "nation")
        .where(col("n_nationkey") < 5)
        .withColumn("n_nationkey", (col("n_nationkey") + 100).cast("int"))
      c.insert(derived)
      c.find().sort("n_nationkey")
        .select("n_nationkey", "n_name", "n_regionkey").toDF
    }, oracle = """SELECT n_nationkey, n_name, n_regionkey FROM (
        |  SELECT n_nationkey, n_name, n_regionkey FROM nation
        |  UNION ALL
        |  SELECT CAST(n_nationkey + 100 AS INTEGER), n_name, n_regionkey
        |  FROM nation WHERE n_nationkey < 5)
        |ORDER BY n_nationkey""".stripMargin),

    // §2.1 DDL lifecycle: create with schema, insert twice, list, count,
    // drop — the environment state changes surface as a one-row result
    Q("q44_ddl", run = (s, dir) => {
      val tmp = scratchDir("graft-ddlq").toString
      val db = new GraftSession(s, tmp).db("d")
      val region = tbl(s, dir, "region")
      val c = db.createCollection("fresh", region.schema)
      c.insert(region)
      c.insert(region)
      val listed = db.listCollections().mkString(",")
      val cnt = c.count()
      db.dropCollection("fresh")
      val remaining = db.listCollections().size.toLong
      s.range(1).select(lit(listed).as("listed"), lit(cnt).as("cnt"),
        lit(remaining).as("after_drop"))
    }, oracle = """SELECT 'fresh' AS listed, 2 * COUNT(*) AS cnt,
        |  CAST(0 AS BIGINT) AS after_drop
        |FROM region""".stripMargin),

    // §2.10 config-file entry point: a YAML configuration drives a simple
    // migration end-to-end (config.go:16-80, model/config.go yaml tags)
    Q("q45_config_yaml", run = (s, dir) => {
      val tmp = tmpCopy(dir, "region", "graft-yaml")
      val yaml =
        """options:
          |  dry_run: false
          |  limit: 0
          |simple_migrations:
          |  - options:
          |      id: tag-regions
          |      namespace:
          |        db_name: d
          |        collection: region
          |      query: {"r_regionkey": {"$gte": 2}}
          |    update: {"$set": {"r_name": "TAGGED"}}
          |""".stripMargin
      val conf = graft.orchestrate.ConfigLoader.fromYaml(yaml)
      val app = new MigrationApp(s, tmp, conf.options)
        .setup(conf.simpleMigrations)
      val res = app.run()
      require(res.forall(!_.hasErrors), s"config migration failed: $res")
      s.read.parquet(s"$tmp/region.parquet")
        .select("r_regionkey", "r_name").orderBy("r_regionkey")
    }, oracle = """SELECT r_regionkey,
        |  CASE WHEN r_regionkey >= 2 THEN 'TAGGED' ELSE r_name END AS r_name
        |FROM region ORDER BY r_regionkey""".stripMargin),

    // §2.4 PendingMigrationOperations: count of documents a migration's
    // query still matches (migration_helper_legacy.go:101-120)
    Q("q49_pending_migrations", run = (s, dir) => {
      val app = new MigrationApp(s, dir)
      val n = app.pendingMigrationOperations(SimpleMigration(
        GeneratorOptions("pending", ns = Namespace("d", "orders"),
          query = Map("o_orderstatus" -> "O")),
        Map("$set" -> Map("o_orderpriority" -> "X"))))
      s.range(1).select(lit(n).as("pending"))
    }, oracle = """SELECT CAST(COUNT(*) AS BIGINT) AS pending FROM orders
        |WHERE o_orderstatus = 'O'""".stripMargin),

    // §2.9 UNORDERED Bulk (db/wrapper.go:335-344): ops arrive scrambled;
    // type-batching reorders them insert -> upsert -> update -> remove and
    // collapses each class into ONE plan layer (one union / one merge
    // window / one anti-filter) instead of a layer per op
    Q("q52_bulk_unordered", run = (s, dir) => {
      val part = tbl(s, dir, "part")
      val inserts = part.where(col("p_partkey") <= 3)
        .withColumn("p_partkey", col("p_partkey") + 1000000L)
      val upserts = part.where(col("p_partkey").between(10, 20))
          .withColumn("p_retailprice", col("p_retailprice") + 1000.0)
        .unionByName(part.where(col("p_partkey") <= 2)
          .withColumn("p_partkey", col("p_partkey") + 2000000L))
      TableOps.runBulk(part, Seq(
        BulkRemove(Map("p_retailprice" -> Map("$lt" -> 910.0))),
        BulkInsert(inserts),
        BulkUpdate(Map("p_size" -> Map("$gte" -> 40)),
          Map("$set" -> Map("p_brand" -> "Brand#XL"))),
        BulkUpsert((), upserts)), "p_partkey", unordered = true)
        .select("p_partkey", "p_brand", "p_size", "p_retailprice")
        .orderBy("p_partkey")
    },
    // unordered bulk = type-batched insert -> upsert -> update -> remove,
    // regardless of the order ops were queued in
    oracle = """WITH ins AS (
        |  SELECT * FROM part
        |  UNION ALL
        |  SELECT p_partkey + 1000000, p_name, p_brand, p_type, p_size,
        |         p_retailprice
        |  FROM part WHERE p_partkey <= 3
        |), ups AS (
        |  SELECT p_partkey, p_name, p_brand, p_type, p_size,
        |         p_retailprice + 1000.0 AS p_retailprice
        |  FROM part WHERE p_partkey BETWEEN 10 AND 20
        |  UNION ALL
        |  SELECT p_partkey + 2000000, p_name, p_brand, p_type, p_size,
        |         p_retailprice
        |  FROM part WHERE p_partkey <= 2
        |), m AS (
        |  SELECT * FROM ups
        |  UNION ALL
        |  SELECT * FROM ins
        |  WHERE p_partkey NOT IN (SELECT p_partkey FROM ups)
        |), u AS (
        |  SELECT p_partkey,
        |    CASE WHEN p_size >= 40 THEN 'Brand#XL' ELSE p_brand END AS p_brand,
        |    p_size, p_retailprice
        |  FROM m
        |)
        |SELECT p_partkey, p_brand, p_size, p_retailprice FROM u
        |WHERE NOT (p_retailprice < 910.0)
        |ORDER BY p_partkey""".stripMargin),

    // §2.9 findAndModify with Change.ReturnNew (db/data.go:19-26): the
    // returned image is the POST-update row, not the pre-image
    Q("q53_fam_return_new", run = (s, dir) => {
      val (_, img) = TableOps.findAndModify(tbl(s, dir, "orders"),
        Map("o_orderstatus" -> "P"), Seq("o_orderkey"),
        Map("$set" -> Map("o_orderpriority" -> "RUSH"),
            "$inc" -> Map("o_totalprice" -> 1000)),
        remove = false, "o_orderkey", returnNew = true)
      img.select("o_orderkey", "o_orderstatus", "o_orderpriority",
        "o_totalprice")
    }, oracle = """SELECT o_orderkey, o_orderstatus, 'RUSH' AS o_orderpriority,
        |       o_totalprice + 1000 AS o_totalprice
        |FROM orders WHERE o_orderstatus = 'P'
        |ORDER BY o_orderkey LIMIT 1""".stripMargin),

    // §2.8 transformDocument round-trip (db/wrapper.go:599-610): typed rows
    // -> raw JSON docs -> typed rows; the oracle mirrors the trip through
    // DuckDB's to_json/json_extract so BOTH engines prove the identity
    Q("q54_transform_doc", run = (s, dir) => {
      val nation = tbl(s, dir, "nation")
      val raw = TableOps.toRawDocs(nation)
      TableOps.fromRawDocs(raw, "doc", nation.schema)
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    }, oracle = """WITH raw AS (
        |  SELECT to_json(struct_pack(n_nationkey := n_nationkey,
        |    n_name := n_name, n_regionkey := n_regionkey)) AS doc
        |  FROM nation)
        |SELECT CAST(json_extract_string(doc, '$.n_nationkey') AS INTEGER)
        |         AS n_nationkey,
        |       json_extract_string(doc, '$.n_name') AS n_name,
        |       CAST(json_extract_string(doc, '$.n_regionkey') AS INTEGER)
        |         AS n_regionkey
        |FROM raw ORDER BY n_nationkey""".stripMargin),
  )
}
