package graft.queries

import org.apache.spark.sql.functions._

import graft.db.GraftSession

import Fixtures._

/** The find surface: filtered scans, point lookups, projections, counts,
  * find-level collation and the session facade's read commands. */
private[queries] object ScanQueries {

  val all: Seq[Q] = Seq(

    // §2.1 filtered scan through the query compiler + session facade
    Q("q01_find", run = (s, dir) =>
      coll(s, dir, "lineitem")
        .find(Map(
          "l_returnflag" -> "R",
          "l_quantity" -> Map("$gte" -> 30),
          "l_linestatus" -> Map("$in" -> Seq("F", "O"))))
        .sort("l_orderkey", "l_linenumber")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .toDF,
      oracle = """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity >= 30
        |  AND l_linestatus IN ('F', 'O')
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // §2.1 point lookup (FindId)
    Q("q02_find_id", run = (s, dir) =>
      coll(s, dir, "orders").findId(42L, "o_orderkey").toDF,
      oracle = "SELECT * FROM orders WHERE o_orderkey = 42"),

    // §2.6 sort(-field)/skip/limit through the ± sort-string parser
    Q("q03_sort_limit_skip", run = (s, dir) =>
      coll(s, dir, "lineitem").find()
        .sort("-l_extendedprice", "l_orderkey", "l_linenumber")
        .skip(10).limit(20)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .toDF,
      oracle = """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 20 OFFSET 10""".stripMargin),

    // §2.4 filtered count
    Q("q04_count", run = (s, dir) =>
      coll(s, dir, "orders").find(Map("o_orderstatus" -> "O"))
        .toDF.agg(count(lit(1)).as("cnt")),
      oracle = "SELECT COUNT(*) AS cnt FROM orders WHERE o_orderstatus = 'O'"),

    // §2.2 projection-operator Select forms: exclusion doc + $slice (the
    // reference's pass-through projection, db/wrapper.go:386,463-465).
    // The sliced array is declared as double scalar legs (float→double
    // widening is exact in both engines) so the driver's row comparator
    // can hash the output; the $slice+exclusion projection itself still
    // runs through the library.
    Q("q116_select_exclude_slice", run = (s, dir) =>
      coll(s, dir, "embeddings")
        .find(Map("vec_id" -> Map("$lt" -> 100)))
        .select(Map("label" -> 0, "embedding" -> Map("$slice" -> 3)))
        .sort("vec_id")
        .toDF
        .select(col("vec_id"),
          col("embedding")(0).cast("double").as("e0"),
          col("embedding")(1).cast("double").as("e1"),
          col("embedding")(2).cast("double").as("e2")),
      oracle = """SELECT vec_id,
        |  CAST(embedding[1] AS DOUBLE) AS e0,
        |  CAST(embedding[2] AS DOUBLE) AS e1,
        |  CAST(embedding[3] AS DOUBLE) AS e2
        |FROM embeddings WHERE vec_id < 100 ORDER BY vec_id""".stripMargin),

    // dotted-path projection docs over struct columns: inclusion rebuilds
    // the struct with only the selected members (q135); exclusion drops
    // just the member via dropFields (q136). Shapes proven via to_json.
    Q("q135_select_dotted_incl", run = (s, dir) => {
      val base = tbl(s, dir, "customer").where(col("c_custkey") <= 200)
        .select(col("c_custkey"), struct(col("c_name").as("name"),
          struct(col("c_acctbal").as("bal"),
            col("c_mktsegment").as("seg")).as("acct")).as("info"))
      graft.query.ProjectionCompiler.project(base,
        Map("c_custkey" -> 1, "info.acct.seg" -> 1, "info.name" -> 1))
        .select(col("c_custkey"), to_json(col("info")).as("info_json"))
        .orderBy("c_custkey")
    }, oracle = """SELECT c_custkey, to_json(struct_pack(
        |    name := c_name,
        |    acct := struct_pack(seg := c_mktsegment))) AS info_json
        |FROM customer WHERE c_custkey <= 200 ORDER BY c_custkey""".stripMargin),

    Q("q136_select_dotted_excl", run = (s, dir) => {
      val base = tbl(s, dir, "customer").where(col("c_custkey") <= 200)
        .select(col("c_custkey"), struct(col("c_name").as("name"),
          struct(col("c_acctbal").as("bal"),
            col("c_mktsegment").as("seg")).as("acct")).as("info"))
      graft.query.ProjectionCompiler.project(base, Map("info.acct.bal" -> 0))
        .select(col("c_custkey"), to_json(col("info")).as("info_json"))
        .orderBy("c_custkey")
    }, oracle = """SELECT c_custkey, to_json(struct_pack(
        |    name := c_name,
        |    acct := struct_pack(seg := c_mktsegment))) AS info_json
        |FROM customer WHERE c_custkey <= 200 ORDER BY c_custkey""".stripMargin),

    // $jsonSchema validation query (pass-through db/wrapper.go:452-481):
    // presence + enum + range + pattern, property schemas gated on
    // presence — one scan-fused predicate
    Q("q124_jsonschema", run = (s, dir) =>
      coll(s, dir, "documents")
        .find(Map("$jsonSchema" -> Map(
          "required" -> Seq("text"),
          "properties" -> Map(
            "lang" -> Map("enum" -> Seq("en", "de")),
            "n_chars" -> Map("bsonType" -> "long",
              "minimum" -> 100, "maximum" -> 300),
            "text" -> Map("pattern" -> "^[a-z]")))))
        .select(Map("doc_id" -> 1))
        .sort("doc_id")
        .toDF,
      oracle = """SELECT doc_id FROM documents
        |WHERE text IS NOT NULL
        |  AND (lang IS NULL OR lang IN ('en', 'de'))
        |  AND (n_chars IS NULL OR (n_chars >= 100 AND n_chars <= 300))
        |  AND (text IS NULL OR regexp_matches(text, '^[a-z]'))
        |ORDER BY doc_id""".stripMargin),

    // geo query operators (pass-through db/wrapper.go:452-481): $geoWithin
    // $box + legacy $near distance bound over the embedding's first two
    // components as planar coordinates — both fold into scan-fused codegen
    Q("q123_geowithin", run = (s, dir) =>
      coll(s, dir, "embeddings")
        .find(Map("$and" -> Seq(
          Map("embedding" -> Map("$geoWithin" ->
            Map("$box" -> Seq(Seq(-0.5, -0.5), Seq(0.5, 0.5))))),
          Map("embedding" -> Map("$near" -> Seq(0.0, 0.0),
            "$maxDistance" -> 0.45)))))
        .select(Map("vec_id" -> 1))
        .sort("vec_id")
        .toDF,
      oracle = """SELECT vec_id FROM embeddings
        |WHERE embedding[1] >= -0.5 AND embedding[1] <= 0.5
        |  AND embedding[2] >= -0.5 AND embedding[2] <= 0.5
        |  AND sqrt(pow(CAST(embedding[1] AS DOUBLE), 2)
        |         + pow(CAST(embedding[2] AS DOUBLE), 2)) <= 0.45
        |ORDER BY vec_id""".stripMargin),

    // Collation on the find surface: strength-2 (case-insensitive)
    // matching folds BOTH comparison sides — the uppercase query literals
    // match lowercase stored values — and string sort keys fold likewise
    Q("q180_collation_find", run = (s, dir) =>
      coll(s, dir, "documents")
        .find(Map("lang" -> Map("$in" -> Seq("EN", "FR"))))
        .collation(Map("locale" -> "en", "strength" -> 2))
        .sort("source", "-doc_id")
        .select("doc_id", "lang", "source").toDF,
      oracle = """SELECT doc_id, lang, source FROM documents
        |WHERE lower(lang) IN ('en', 'fr')
        |ORDER BY lower(source), doc_id DESC""".stripMargin),

    // collation numericOrdering: digit runs compare as numbers, so
    // src2 sorts before src10 (binary order would interleave src1,
    // src10..src19, src2); composed with strength 2 the lang filter
    // stays case-insensitive
    Q("q189_collation_numeric", run = (s, dir) =>
      coll(s, dir, "documents")
        .find(Map("lang" -> Map("$in" -> Seq("EN", "FR"))))
        .collation(Map("locale" -> "en", "strength" -> 2,
          "numericOrdering" -> true))
        .sort("source", "doc_id")
        .select("doc_id", "source").toDF,
      // numeric collation order on this corpus = (non-digit part, numeric
      // value of the digit run): every source is 'src' + digits
      oracle = """SELECT doc_id, source FROM documents
        |WHERE lower(lang) IN ('en', 'fr')
        |ORDER BY regexp_replace(source, '[0-9]+', '', 'g'),
        |  CAST(coalesce(nullif(regexp_extract(source, '[0-9]+'), ''),
        |    '0') AS BIGINT),
        |  doc_id""".stripMargin),

    // BSON Extended-JSON v2 query documents (the mongoexport/driver
    // config-file form): {$date}/{$numberLong}/… type wrappers decode to
    // native values before compilation; operators stay documents
    Q("q175_extended_json", run = (s, dir) => {
      val q = graft.orchestrate.ConfigLoader.parseJson(
        """{"ts": {"$gt": {"$date": "2024-01-02T00:00:00Z"}},
          |  "event_type": "error",
          |  "event_id": {"$lt": {"$numberLong": "4000"}}}""".stripMargin)
        .asInstanceOf[Map[String, Any]]
      coll(s, dir, "events").find(q)
        .select(Map("event_id" -> 1, "event_type" -> 1))
        .sort("event_id").toDF
    }, oracle = """SELECT event_id, event_type FROM events
        |WHERE ts > TIMESTAMP '2024-01-02 00:00:00'
        |  AND event_type = 'error' AND event_id < 4000
        |ORDER BY event_id""".stripMargin),

    // §2.2 $elemMatch projection (inclusion mode): first embedding
    // component > 0.5 as a 1-element array, null when none. Declared as a
    // scalar leg (driver comparators cannot hash array cells).
    Q("q119_select_elemmatch", run = (s, dir) =>
      coll(s, dir, "embeddings")
        .find(Map("vec_id" -> Map("$lt" -> 50)))
        .select(Map("vec_id" -> 1,
          "embedding" -> Map("$elemMatch" -> Map("$gt" -> 0.5))))
        .sort("vec_id")
        .toDF
        .select(col("vec_id"),
          element_at(col("embedding"), 1).cast("double").as("hit")),
      oracle = """SELECT vec_id,
        |  CASE WHEN len(list_filter(embedding, x -> x > 0.5)) > 0
        |       THEN CAST(list_filter(embedding, x -> x > 0.5)[1] AS DOUBLE)
        |  END AS hit
        |FROM embeddings WHERE vec_id < 50 ORDER BY vec_id""".stripMargin),

    // §2.4 EstimatedDocumentCount: parquet footer metadata, no scan
    Q("q31_estimated_count", run = (s, dir) => {
      val n = coll(s, dir, "lineitem").estimatedCount()
      s.range(1).select(lit(n).as("cnt"))
    }, oracle = "SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem"),

    // semi-structured payloads: JSON column extraction (the schemaless
    // document escape hatch — SURVEY §1.2 dynamic payloads)
    Q("q36_json_extract", run = (s, dir) =>
      tbl(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(sum("k").as("sum_k"), count(lit(1)).as("n"),
          min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("event_type"),
      oracle = """SELECT event_type,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
        |  CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // §2.1 RunCommand escape hatch: raw SQL through the session
    // (client/wrapper.go:32-40)
    Q("q48_run_command", run = (s, dir) => {
      tbl(s, dir, "lineitem").createOrReplaceTempView("lineitem_cmd_v")
      new GraftSession(s, dir).runCommand(
        """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS cnt
          |FROM lineitem_cmd_v GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)
    }, oracle = """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    // §2.1 Query.All: collect through the facade's action path, rebuilt as
    // a frame (db/wrapper.go:571-587)
    Q("q46_query_all", run = (s, dir) => {
      val q = coll(s, dir, "orders").find(Map("o_orderstatus" -> "F"))
        .sort("-o_totalprice", "o_orderkey").limit(25)
        .select("o_orderkey", "o_totalprice")
      val rows = q.all()
      s.createDataFrame(
        java.util.Arrays.asList(rows: _*), q.toDF.schema)
    }, oracle = """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderstatus = 'F'
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin),

    // §2.1 ListDatabaseNames (client/wrapper.go:21-23): a flat root holding
    // tables plus two multi-db subdirectories (an empty dir is not a db)
    Q("q55_list_databases", run = (s, dir) => {
      val tmp = scratchDir("graft-lsdb")
      val root = tmp.resolve("dbroot")
      java.nio.file.Files.createDirectory(root)
      val src = java.nio.file.Paths.get(s"$dir/region.parquet")
      java.nio.file.Files.copy(src, root.resolve("region.parquet"))
      for (db <- Seq("alpha", "beta")) {
        val d = root.resolve(db)
        java.nio.file.Files.createDirectory(d)
        java.nio.file.Files.copy(src, d.resolve("region.parquet"))
      }
      java.nio.file.Files.createDirectory(root.resolve("empty"))
      val names = new GraftSession(s, root.toString).listDatabaseNames()
      s.range(1).select(lit(names.mkString(",")).as("dbs"),
        lit(names.size.toLong).as("n_dbs"))
    }, oracle = "SELECT 'dbroot,alpha,beta' AS dbs, CAST(3 AS BIGINT) AS n_dbs"),

    // §2.12 query fingerprinting + OTel statement formatting: the oracle is
    // the expected constant — both are deterministic driver-side renderings
    // of a fixed command document (apm/otel_monitor.go:222-250)
    Q("q65_fingerprint", run = (s, dir) => {
      val doc = Map("find" -> "users",
        "filter" -> scala.collection.immutable.ListMap(
          "age" -> Map("$gte" -> 21), "tags" -> Seq(1, 2, "x")))
      val fp = graft.apm.Fingerprint.fingerprint(
        doc("filter").asInstanceOf[Map[String, Any]])
      val full = graft.apm.OtelMonitor.formatStatement(doc, stripped = false)
      val stripped = graft.apm.OtelMonitor.formatStatement(doc,
        stripped = true)
      s.range(1).select(lit(fp).as("fp"),
        lit(full.contains("21")).as("full_has_values"),
        lit(stripped.contains("21")).as("stripped_has_values"))
    }, oracle = """SELECT '{"age": {"$gte": <int>}, "tags": [<int>, <string>]}' AS fp,
        |       true AS full_has_values, false AS stripped_has_values"""
        .stripMargin),

    // bitwise query predicates + $type through the query compiler
    Q("q84_query_bits_type", run = (s, dir) =>
      coll(s, dir, "part").find(Map(
        "p_size" -> Map("$bitsAllSet" -> Seq(0, 2)),
        "p_partkey" -> Map("$bitsAnyClear" -> 6),
        "p_name" -> Map("$type" -> "string"),
        "p_retailprice" -> Map("$type" -> "double")))
        .sort("p_partkey")
        .select("p_partkey", "p_size")
        .toDF,
      oracle = """SELECT p_partkey, p_size FROM part
        |WHERE (p_size & 5) = 5 AND (p_partkey & 6) <> 6
        |ORDER BY p_partkey""".stripMargin),
  )
}
