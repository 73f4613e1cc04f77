package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.time.Instant

import graft.db.GraftSession
import graft.apm.Apm

import Fixtures._

/** Aggregation pipelines and relational shapes: $group, $lookup, $facet,
  * windows, $merge/$out, the expression operators and aggregate-level
  * collation. */
private[queries] object PipelineQueries {

  val all: Seq[Q] = Seq(

    // §2.3 dependency-state semi-join (broadcast; _id ∈ edges shape)
    Q("q10_semijoin", run = (s, dir) => {
      val orders = tbl(s, dir, "orders")
      val edges = tbl(s, dir, "lineitem").where(col("l_quantity") > 45)
        .select(col("l_orderkey").as("o_orderkey"))
      orders.join(broadcast(edges), Seq("o_orderkey"), "left_semi")
        .select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
    }, oracle = """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)
        |ORDER BY o_orderkey""".stripMargin),

    // §2.4 aggregation pipeline: $match + $group + $sort
    Q("q11_pipeline_group", run = (s, dir) =>
      coll(s, dir, "orders").pipe(Seq(
        Map("$match" -> Map("o_totalprice" -> Map("$gt" -> 1000.0))),
        Map("$group" -> Map(
          "_id" -> "$o_orderstatus",
          "n" -> Map("$sum" -> 1),
          "maxp" -> Map("$max" -> "$o_totalprice"),
          "minp" -> Map("$min" -> "$o_totalprice"))),
        Map("$sort" -> Map("_id" -> 1)))),
      oracle = """SELECT o_orderstatus AS _id, CAST(COUNT(*) AS BIGINT) AS n,
        |       MAX(o_totalprice) AS maxp, MIN(o_totalprice) AS minp
        |FROM orders WHERE o_totalprice > 1000.0
        |GROUP BY o_orderstatus ORDER BY _id""".stripMargin),

    // §2.4 headline grouped aggregation (TPC-H Q1 shape, decimal-exact)
    Q("q12_agg_sum", run = (s, dir) =>
      tbl(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit(java.sql.Timestamp.from(
          Instant.parse("1998-09-01T00:00:00Z"))))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum("l_quantity").as("sum_qty"),
          dsum("l_extendedprice").as("sum_price"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus"),
      oracle = """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // §2.4 pipeline $unwind + $sortByCount (word histogram)
    Q("q13_unwind_wordcount", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$addFields" -> Map("word" -> Map("$split" -> Seq("$text", " ")))),
        Map("$unwind" -> "$word"),
        Map("$sortByCount" -> "$word"),
        Map("$limit" -> 50))),
      oracle = """SELECT word AS _id, CAST(COUNT(*) AS BIGINT) AS count
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY count DESC, _id LIMIT 50""".stripMargin),

    // §2.3 $lookup + $unwind + $project (join parity layer)
    Q("q14_lookup", run = (s, dir) =>
      new GraftSession(s, dir).db("testdata").c("orders").pipe(Seq(
        Map("$lookup" -> Map("from" -> "customer",
          "localField" -> "o_custkey", "foreignField" -> "c_custkey",
          "as" -> "cust")),
        Map("$unwind" -> "$cust"),
        Map("$project" -> Map("o_orderkey" -> 1, "c_name" -> "$cust.c_name")),
        Map("$sort" -> Map("o_orderkey" -> 1)))),
      oracle = """SELECT o_orderkey, c_name FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin),

    // §2.12 APM event-window rollup (map-side-combining aggregation)
    Q("q15_apm_rollup", run = (s, dir) =>
      Apm.rollup(
        tbl(s, dir, "events")
          .withColumn("ok", col("event_type") =!= "error")
          .withColumn("dur", col("event_id") % 1000),
        Seq("event_type"), "ok", "dur")
        .orderBy("event_type"),
      oracle = """SELECT event_type,
        |  CAST(SUM(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) AS BIGINT) AS succeeded,
        |  CAST(SUM(CASE WHEN event_type <> 'error' THEN 0 ELSE 1 END) AS BIGINT) AS failed,
        |  CAST(SUM(event_id % 1000) AS BIGINT) AS duration_ns
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // scalar fold expressions: $max clamping idiom, $min, list $sum/$avg
    // — pure codegen'd projections, zero shuffles
    Q("q110_scalar_folds", run = (s, dir) =>
      coll(s, dir, "orders").pipe(Seq(
        Map("$match" -> Map("o_orderkey" -> Map("$lte" -> 2000))),
        Map("$project" -> Map(
          "o_orderkey" -> 1,
          "clamped" -> Map("$max" -> Seq(50000.0, "$o_totalprice")),
          "lo" -> Map("$min" -> Seq("$o_totalprice", 100000.0)),
          "s" -> Map("$sum" -> Seq("$o_totalprice", "$o_custkey")),
          "m" -> Map("$avg" -> Seq("$o_totalprice", "$o_custkey"))))))
        .orderBy("o_orderkey"),
      oracle = """SELECT o_orderkey,
        |  greatest(50000.0, o_totalprice) AS clamped,
        |  least(o_totalprice, 100000.0) AS lo,
        |  o_totalprice + CAST(o_custkey AS DOUBLE) AS s,
        |  (o_totalprice + CAST(o_custkey AS DOUBLE)) / 2.0 AS m
        |FROM orders WHERE o_orderkey <= 2000
        |ORDER BY o_orderkey""".stripMargin),

    // $geoIntersects: point-in-Polygon-with-hole plus a MultiPolygon, over
    // coordinates derived from the first two embedding components (scan-
    // fused ray-cast predicates; shapes chosen so the oracle reduces to
    // closed-form half-plane tests)
    Q("q131_geo_intersects", run = (s, dir) =>
      coll(s, dir, "embeddings").pipe(Seq(
        Map("$addFields" -> Map("pt" -> Seq(
          Map("$arrayElemAt" -> Seq("$embedding", 0)),
          Map("$arrayElemAt" -> Seq("$embedding", 1))))),
        Map("$match" -> Map("$or" -> Seq(
          Map("pt" -> Map("$geoIntersects" -> Map("$geometry" -> Map(
            "type" -> "Polygon",
            "coordinates" -> Seq(
              // diamond |x|+|y| <= 0.35 with square hole |x|,|y| <= 0.1
              Seq(Seq(0.35, 0.0), Seq(0.0, 0.35), Seq(-0.35, 0.0),
                Seq(0.0, -0.35), Seq(0.35, 0.0)),
              Seq(Seq(-0.1, -0.1), Seq(-0.1, 0.1), Seq(0.1, 0.1),
                Seq(0.1, -0.1), Seq(-0.1, -0.1))))))),
          Map("pt" -> Map("$geoIntersects" -> Map("$geometry" -> Map(
            "type" -> "MultiPolygon",
            "coordinates" -> Seq(
              Seq(Seq(Seq(0.4, 0.4), Seq(0.6, 0.4), Seq(0.6, 0.6),
                Seq(0.4, 0.6), Seq(0.4, 0.4))),
              Seq(Seq(Seq(-0.6, -0.6), Seq(-0.4, -0.6), Seq(-0.4, -0.4),
                Seq(-0.6, -0.4), Seq(-0.6, -0.6))))))))))),
        Map("$project" -> Map("_id" -> 0, "vec_id" -> 1))))
        .orderBy("vec_id"),
      oracle = """SELECT vec_id FROM (
        |  SELECT vec_id,
        |    CAST(embedding[1] AS DOUBLE) AS x,
        |    CAST(embedding[2] AS DOUBLE) AS y
        |  FROM embeddings)
        |WHERE (abs(x) + abs(y) <= 0.35
        |       AND NOT (abs(x) <= 0.1 AND abs(y) <= 0.1))
        |   OR (x >= 0.4 AND x <= 0.6 AND y >= 0.4 AND y <= 0.6)
        |   OR (x >= -0.6 AND x <= -0.4 AND y >= -0.6 AND y <= -0.4)
        |ORDER BY vec_id""".stripMargin),

    // $tsSecond / $tsIncrement: BSON-internal-timestamp accessors over a
    // packed 64-bit carrier built in-pipeline — pure bit ops, scan-fused
    Q("q132_ts_parts", run = (s, dir) =>
      coll(s, dir, "events").pipe(Seq(
        Map("$match" -> Map("event_id" -> Map("$lt" -> 500))),
        Map("$addFields" -> Map("packed" -> Map("$add" -> Seq(
          Map("$multiply" -> Seq("$event_id", 4294967296L)),
          Map("$mod" -> Seq("$event_id", 1000)))))),
        Map("$project" -> Map("_id" -> 0, "event_id" -> 1,
          "t" -> Map("$tsSecond" -> "$packed"),
          "i" -> Map("$tsIncrement" -> "$packed")))))
        .orderBy("event_id"),
      oracle = """SELECT event_id,
        |  event_id AS t,
        |  event_id % 1000 AS i
        |FROM events WHERE event_id < 500 ORDER BY event_id""".stripMargin),

    // $unwind doc form: includeArrayIndex (posexplode, no second pass) +
    // preserveNullAndEmptyArrays (explode_outer) over expression-length
    // $slice prefixes — vec_id % 3 == 0 rows survive as null-element rows
    Q("q134_unwind_options", run = (s, dir) =>
      coll(s, dir, "embeddings").pipe(Seq(
        Map("$match" -> Map("vec_id" -> Map("$lt" -> 30))),
        Map("$project" -> Map("_id" -> 0, "vec_id" -> 1,
          "arr" -> Map("$slice" -> Seq("$embedding",
            Map("$mod" -> Seq("$vec_id", 3)))))),
        Map("$unwind" -> Map("path" -> "$arr",
          "includeArrayIndex" -> "idx",
          "preserveNullAndEmptyArrays" -> true))))
        .orderBy("vec_id", "idx"),
      oracle = """WITH a AS (
        |  SELECT vec_id, embedding[1:(vec_id % 3)] AS arr
        |  FROM embeddings WHERE vec_id < 30),
        |x AS (
        |  SELECT vec_id, unnest(arr) AS v,
        |    generate_subscripts(arr, 1) - 1 AS i
        |  FROM a)
        |SELECT a.vec_id, x.v AS arr, CAST(x.i AS BIGINT) AS idx
        |FROM a LEFT JOIN x USING (vec_id)
        |ORDER BY vec_id, idx""".stripMargin),

    // bitwise expression operators (Mongo 6.3+): n-ary folds + $bitNot,
    // all scan-fused integer ops
    Q("q133_bit_exprs", run = (s, dir) =>
      coll(s, dir, "events").pipe(Seq(
        Map("$match" -> Map("event_id" -> Map("$lt" -> 500))),
        Map("$project" -> Map("_id" -> 0, "event_id" -> 1,
          "band" -> Map("$bitAnd" -> Seq("$event_id", 255L)),
          "bor"  -> Map("$bitOr" -> Seq("$event_id", 4096L)),
          "bxor" -> Map("$bitXor" -> Seq("$event_id", 255L)),
          "bnot" -> Map("$bitNot" -> "$event_id")))))
        .orderBy("event_id"),
      oracle = """SELECT event_id,
        |  event_id & 255 AS band,
        |  event_id | 4096 AS bor,
        |  xor(event_id, 255) AS bxor,
        |  ~event_id AS bnot
        |FROM events WHERE event_id < 500 ORDER BY event_id""".stripMargin),

    // $documents literal source + $redact access-control filter
    Q("q126_documents_redact", run = (s, dir) =>
      coll(s, dir, "region").pipe(Seq(
        Map("$documents" -> Seq(
          Map("k" -> 1, "level" -> "public", "v" -> 10),
          Map("k" -> 2, "level" -> "secret", "v" -> 20),
          Map("k" -> 3, "level" -> "public"),
          Map("k" -> 4, "level" -> "internal", "v" -> 40))),
        Map("$redact" -> Map("$cond" -> Seq(
          Map("$eq" -> Seq("$level", "secret")), "$$PRUNE", "$$KEEP"))),
        Map("$sort" -> Map("k" -> 1))))
        .toDF,
      oracle = """SELECT * FROM (VALUES
        |  (1, 'public', 10), (3, 'public', NULL), (4, 'internal', 40))
        |  t(k, level, v)
        |ORDER BY k""".stripMargin),

    // Mongo 8.1 score-normalization additions: $minMaxScaler window
    // operator (frame extrema in the SAME one-pass window as min/max)
    // and the $sigmoid expression — both scan-fused scalar math after
    // one partition-keyed window exchange
    Q("q149_sigmoid_minmax", run = (s, dir) =>
      coll(s, dir, "orders").pipe(Seq(
        Map("$match" -> Map("o_orderkey" -> Map("$lte" -> 2000))),
        Map("$setWindowFields" -> Map(
          "partitionBy" -> "$o_orderpriority",
          "output" -> Map("scaled" -> Map("$minMaxScaler" -> Map(
            "input" -> "$o_totalprice", "min" -> 0, "max" -> 100))))),
        Map("$project" -> Map("o_orderkey" -> 1, "scaled" -> 1,
          "sig" -> Map("$sigmoid" -> Map("$divide" -> Seq(
            Map("$subtract" -> Seq("$o_totalprice", 150000.0)),
            50000.0)))))))
        .select(col("o_orderkey"),
          col("scaled").cast("decimal(18,9)").cast("double").as("scaled"),
          col("sig").cast("decimal(18,9)").cast("double").as("sig"))
        .orderBy("o_orderkey"),
      oracle = """WITH w AS (
        |  SELECT o_orderkey, o_totalprice,
        |    min(o_totalprice) OVER (PARTITION BY o_orderpriority) AS mn,
        |    max(o_totalprice) OVER (PARTITION BY o_orderpriority) AS mx
        |  FROM orders WHERE o_orderkey <= 2000)
        |SELECT o_orderkey,
        |  CAST(CAST(CASE WHEN mx - mn = 0 THEN 0.0
        |    ELSE (o_totalprice - mn) / (mx - mn) * 100.0 + 0.0 END
        |    AS DECIMAL(18,9)) AS DOUBLE) AS scaled,
        |  CAST(CAST(1.0 / (1.0 + exp(-((o_totalprice - 150000.0)
        |    / 50000.0))) AS DECIMAL(18,9)) AS DOUBLE) AS sig
        |FROM w ORDER BY o_orderkey""".stripMargin),

    // collation alternate "shifted": whitespace + punctuation are
    // variable characters, ignored at strengths 1-3 — the $match
    // equality sees "re!USE" ≡ "re-use" ≡ "re use" ≡ "reuse" (strength
    // 2 folds the case) and the $sort groups all spellings of a word
    // together, ordered by the stripped key then doc_id. The fixture
    // spellings come from a $switch on doc_id so the oracle can rebuild
    // them
    Q("q199_collation_shifted", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$match" -> Map("doc_id" -> Map("$lt" -> 300))),
        Map("$addFields" -> Map("tag" -> Map("$switch" -> Map(
          "branches" -> Seq(
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 0)), "then" -> "re-use"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 1)), "then" -> "reuse"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 2)), "then" -> "re use"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 3)), "then" -> "refuse"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 4)), "then" -> "re-fuse")),
          "default" -> "rescue")))),
        Map("$match" -> Map("tag" -> Map("$in" -> Seq(
          "re!USE", "REFUSE")))),
        Map("$sort" -> Map("tag" -> 1, "doc_id" -> 1)),
        Map("$project" -> Map("doc_id" -> 1, "tag" -> 1))),
        Map("locale" -> "en", "strength" -> 2,
          "alternate" -> "shifted")),
      // the shifted key strips variables then lowers; on this fixture the
      // variable set reduces to [^a-z0-9] after lowercasing (the spellings
      // only carry '-', ' ' and '!'), so the oracle's strip is exact.
      // 'refuse' < 'reuse' on the stripped key, hence the refuse group
      // leads
      oracle = """WITH d AS (
        |  SELECT doc_id,
        |    (['re-use','reuse','re use','refuse','re-fuse','rescue'])
        |      [(doc_id % 6) + 1] AS tag
        |  FROM documents WHERE doc_id < 300),
        |k AS (SELECT doc_id, tag,
        |    lower(regexp_replace(tag, '[^a-zA-Z0-9]+', '', 'g')) AS key
        |  FROM d)
        |SELECT doc_id, tag FROM k
        |WHERE key IN ('reuse', 'refuse')
        |ORDER BY key, doc_id""".stripMargin),

    // collation caseFirst "upper": the caseLevel struct key's case-bit
    // string relabels so uppercase orders before lowercase WITHIN an
    // equal primary — ALPHA < ALPHa < Alpha < alpha — while the primary
    // level still decides first (every alpha spelling before beta)
    Q("q204_collation_casefirst", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$match" -> Map("doc_id" -> Map("$lt" -> 300))),
        Map("$addFields" -> Map("tag" -> Map("$switch" -> Map(
          "branches" -> Seq(
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 0)), "then" -> "alpha"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 1)), "then" -> "Alpha"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 2)), "then" -> "ALPHA"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 3)), "then" -> "beta"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 4)), "then" -> "Beta")),
          "default" -> "ALPHa")))),
        Map("$sort" -> Map("tag" -> 1, "doc_id" -> 1)),
        Map("$project" -> Map("doc_id" -> 1, "tag" -> 1))),
        Map("locale" -> "en", "strength" -> 2, "caseLevel" -> true,
          "caseFirst" -> "upper")),
      // the oracle rebuilds the caseLevel struct key in SQL: primary =
      // lower(tag), case level = the per-letter bit pattern with the
      // caseFirst-upper relabeling ('0' for uppercase, '1' otherwise —
      // the fixture is pure ASCII letters, so [A-Z] IS \p{Lu} here)
      oracle = """WITH t AS (
        |  SELECT doc_id,
        |    CASE doc_id % 6 WHEN 0 THEN 'alpha' WHEN 1 THEN 'Alpha'
        |      WHEN 2 THEN 'ALPHA' WHEN 3 THEN 'beta' WHEN 4 THEN 'Beta'
        |      ELSE 'ALPHa' END AS tag
        |  FROM documents WHERE doc_id < 300)
        |SELECT doc_id, tag FROM t
        |ORDER BY lower(tag),
        |  regexp_replace(regexp_replace(tag, '[^A-Z]', '1', 'g'),
        |    '[A-Z]', '0', 'g'),
        |  doc_id""".stripMargin),

    // tailored Swedish collation: å/ä/ö sort as distinct letters AFTER
    // z (CLDR sv), not as accented a/o — the lower+strip model would
    // order åker/äpple/ära with the a-words and öga with the o-ish
    // ones
    Q("q210_collation_swedish_tailored", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$match" -> Map("doc_id" -> Map("$lt" -> 280))),
        Map("$addFields" -> Map("tag" -> Map("$switch" -> Map(
          "branches" -> Seq(
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 7)), 0)), "then" -> "öga"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 7)), 1)), "then" -> "zon"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 7)), 2)), "then" -> "åker"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 7)), 3)), "then" -> "ära"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 7)), 4)), "then" -> "arm"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 7)), 5)), "then" -> "bok")),
          "default" -> "äpple")))),
        Map("$sort" -> Map("tag" -> 1, "doc_id" -> 1)),
        Map("$project" -> Map("doc_id" -> 1, "tag" -> 1))),
        Map("locale" -> "sv", "strength" -> 1)),
      // the oracle rebuilds the tailored sv primary key in SQL: lower,
      // then the CLDR letter routing (å/ä-group/ö-group → stand-ins
      // above z, ü/ű → y, ð → d) — DuckDB's translate is per-character
      // like Spark's; the generic accent strip that follows in the
      // engine is the identity on this fixture (every accent is already
      // consumed by the tailoring)
      oracle = ("""WITH t AS (
        |  SELECT doc_id,
        |    CASE doc_id % 7 WHEN 0 THEN 'öga' WHEN 1 THEN 'zon'
        |      WHEN 2 THEN 'åker' WHEN 3 THEN 'ära' WHEN 4 THEN 'arm'
        |      WHEN 5 THEN 'bok' ELSE 'äpple' END AS tag
        |  FROM documents WHERE doc_id < 280)
        |SELECT doc_id, tag FROM t
        |ORDER BY translate(lower(tag), 'åäæęöøőœüűð',
        |  '""".stripMargin +
        "yyd" +
        """'), doc_id""")),

    // tailored Danish collation at strength 2: æ/ø/å sort after z, the
    // aa digraph collates EQUAL to å (their difference is tertiary),
    // and within a primary group the CLDR secondary order holds
    // (æ before ä, ø before ö — the opposite of binary)
    Q("q211_collation_danish_aa", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$match" -> Map("doc_id" -> Map("$lt" -> 280))),
        Map("$addFields" -> Map("tag" -> Map("$switch" -> Map(
          "branches" -> Seq(
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 0)), "then" -> "Aalborg"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 1)), "then" -> "Ålborg"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 2)), "then" -> "äble"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 3)), "then" -> "æble"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 4)), "then" -> "ørn")),
          "default" -> "zebra")))),
        Map("$sort" -> Map("tag" -> 1, "doc_id" -> 1)),
        Map("$project" -> Map("doc_id" -> 1, "tag" -> 1))),
        Map("locale" -> "da", "strength" -> 2)),
      // strength-2 tailored da key = (primary, secondary): primary folds
      // aa → å then routes æ/ä, ø/ö/ő, å to post-z stand-ins; the
      // secondary string swaps ä↔æ and ö↔ø so binary order agrees with
      // CLDR's within-group order; Aalborg/Ålborg tie on BOTH levels and
      // fall to doc_id
      oracle = ("""WITH t AS (
        |  SELECT doc_id,
        |    CASE doc_id % 6 WHEN 0 THEN 'Aalborg' WHEN 1 THEN 'Ålborg'
        |      WHEN 2 THEN 'äble' WHEN 3 THEN 'æble' WHEN 4 THEN 'ørn'
        |      ELSE 'zebra' END AS tag
        |  FROM documents WHERE doc_id < 280),
        |k AS (SELECT doc_id, tag,
        |  replace(lower(tag), 'aa', 'å') AS pre FROM t)
        |SELECT doc_id, tag FROM k
        |ORDER BY translate(pre, 'æäøöőåüűð',
        |  '""".stripMargin +
        "yyd" +
        """'), translate(pre, 'äæöø', 'æäøö'), doc_id""")),

    // tailored Russian collation at strength 2: ё collates as a
    // secondary variant of е (CLDR ru) — binary order would exile the
    // ё-words past я; strength 2 orders е << ё inside each primary
    // group
    Q("q213_collation_russian_yo", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$match" -> Map("doc_id" -> Map("$lt" -> 280))),
        Map("$addFields" -> Map("tag" -> Map("$switch" -> Map(
          "branches" -> Seq(
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 0)), "then" -> "еж"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 1)), "then" -> "ёж"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 2)), "then" -> "елка"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 3)), "then" -> "ёлка"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 4)), "then" -> "жук")),
          "default" -> "яблоко")))),
        Map("$sort" -> Map("tag" -> 1, "doc_id" -> 1)),
        Map("$project" -> Map("doc_id" -> 1, "tag" -> 1))),
        Map("locale" -> "ru", "strength" -> 2)),
      // strength-2 tailored ru key = (primary, secondary): primary folds
      // ё→е (CLDR: ё is a secondary variant of е), secondary is the raw
      // text (binary е < ё matches CLDR's within-group order); Cyrillic
      // base letters are already in CLDR primary order in code points
      oracle = """WITH t AS (
        |  SELECT doc_id,
        |    CASE doc_id % 6 WHEN 0 THEN 'еж' WHEN 1 THEN 'ёж'
        |      WHEN 2 THEN 'елка' WHEN 3 THEN 'ёлка' WHEN 4 THEN 'жук'
        |      ELSE 'яблоко' END AS tag
        |  FROM documents WHERE doc_id < 280)
        |SELECT doc_id, tag FROM t
        |ORDER BY replace(lower(tag), 'ё', 'е'), lower(tag), doc_id"""
        .stripMargin),

    // tailored Turkish collation: the dotless-i CASE FOLD itself is
    // locale-tailored (I→ı, İ→i — Iğdır folds to ığdır, İzmir to
    // izmir), and ç/ğ/ı/ö/ş/ü re-order as distinct letters
    // MID-alphabet (ç right after c, ı BEFORE i) — binary would sort
    // the uppercase words first and ç past z
    Q("q214_collation_turkish", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$match" -> Map("doc_id" -> Map("$lt" -> 280))),
        Map("$addFields" -> Map("tag" -> Map("$switch" -> Map(
          "branches" -> Seq(
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 7)), 0)), "then" -> "cam"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 7)), 1)), "then" -> "çam"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 7)), 2)), "then" -> "Iğdır"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 7)), 3)), "then" -> "ırmak"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 7)), 4)),
              "then" -> "istanbul"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 7)), 5)), "then" -> "İzmir")),
          "default" -> "şeker")))),
        Map("$sort" -> Map("tag" -> 1, "doc_id" -> 1)),
        Map("$project" -> Map("doc_id" -> 1, "tag" -> 1))),
        Map("locale" -> "tr", "strength" -> 1)),
      // strength-1 tailored tr key: the Turkish case fold FIRST (İ→i,
      // I→ı — NOT the root fold), then the whole letter sequence routes
      // to consecutive private-use stand-ins in CLDR tr order (ç right
      // after c, ı BEFORE i, ş after s, ü after u); the oracle rebuilds
      // the identical stand-in page with the same translate
      oracle = ("""WITH t AS (
        |  SELECT doc_id,
        |    CASE doc_id % 7 WHEN 0 THEN 'cam' WHEN 1 THEN 'çam'
        |      WHEN 2 THEN 'Iğdır' WHEN 3 THEN 'ırmak'
        |      WHEN 4 THEN 'istanbul' WHEN 5 THEN 'İzmir'
        |      ELSE 'şeker' END AS tag
        |  FROM documents WHERE doc_id < 280)
        |SELECT doc_id, tag FROM t
        |ORDER BY translate(
        |  lower(replace(replace(tag, 'İ', 'i'), 'I', 'ı')),
        |  '""".stripMargin + "abcçdefgğhıijklmnoöpqrsştuüvwxyz" +
        "', '" + (0 until 32).map(i => (0xE100 + i).toChar).mkString +
        "'), doc_id")),

    // collation backwards (fr_CA's ICU default): the secondary
    // (accent) level compares from the END of the string — côte
    // sorts BEFORE coté (the LAST accent difference decides), while
    // the primary level still dominates (cotre/cozy after the whole
    // cote family regardless of accents)
    Q("q215_collation_fr_backwards", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$match" -> Map("doc_id" -> Map("$lt" -> 280))),
        Map("$addFields" -> Map("tag" -> Map("$switch" -> Map(
          "branches" -> Seq(
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 0)), "then" -> "cote"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 1)), "then" -> "coté"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 2)), "then" -> "côte"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 3)), "then" -> "côté"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 4)), "then" -> "cotre")),
          "default" -> "cozy")))),
        Map("$sort" -> Map("tag" -> 1, "doc_id" -> 1)),
        Map("$project" -> Map("doc_id" -> 1, "tag" -> 1))),
        Map("locale" -> "fr_CA", "strength" -> 2)),
      // fr_CA backwards key = (primary, reversed secondary): primary
      // strips accents; the secondary swaps acute↔grave (DUCET order)
      // and is REVERSED, so the binary comparison reads the accents from
      // the END of the string — côte before coté
      oracle = """WITH t AS (
        |  SELECT doc_id,
        |    CASE doc_id % 6 WHEN 0 THEN 'cote' WHEN 1 THEN 'coté'
        |      WHEN 2 THEN 'côte' WHEN 3 THEN 'côté' WHEN 4 THEN 'cotre'
        |      ELSE 'cozy' END AS tag
        |  FROM documents WHERE doc_id < 280)
        |SELECT doc_id, tag FROM t
        |ORDER BY translate(lower(tag), 'ôé', 'oe'),
        |  reverse(translate(lower(tag), 'àáèéìíòóùú', 'áàéèíìóòúù')),
        |  doc_id""".stripMargin),

    // collation normalization: true — canonically-equivalent input
    // (decomposed e + COMBINING ACUTE vs precomposed é) collates
    // equal: the key composes to NFC before the strength fold, so the
    // decomposed slots match a precomposed query literal
    Q("q216_collation_normalization", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$match" -> Map("doc_id" -> Map("$lt" -> 300))),
        Map("$addFields" -> Map("tag" -> Map("$switch" -> Map(
          "branches" -> Seq(
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 5)), 0)), "then" -> "café"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 5)), 1)),
              "then" -> "café"), // decomposed
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 5)), 2)),
              "then" -> "CAFÉ"), // decomposed, uppercase
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 5)), 3)), "then" -> "cafe")),
          "default" -> "latte")))),
        Map("$match" -> Map("tag" -> "café")),
        Map("$project" -> Map("doc_id" -> 1))),
        Map("locale" -> "en", "strength" -> 2,
          "normalization" -> true))
        .orderBy("doc_id"),
      // normalization: true — the oracle composes with DuckDB's own
      // nfc_normalize, the same canonical composition the engine's
      // native expression applies (JDK Normalizer); strength 2 then
      // folds case only, so the two decomposed slots match the
      // precomposed literal and the accent-less 'cafe' slot does NOT
      oracle = """WITH t AS (
        |  SELECT doc_id,
        |    CASE doc_id % 5 WHEN 0 THEN 'café'
        |      WHEN 1 THEN 'cafe' || chr(769)
        |      WHEN 2 THEN 'CAFE' || chr(769)
        |      WHEN 3 THEN 'cafe' ELSE 'latte' END AS tag
        |  FROM documents WHERE doc_id < 300)
        |SELECT doc_id FROM t
        |WHERE lower(nfc_normalize(tag)) = 'café'
        |ORDER BY doc_id""".stripMargin),

    // aggregate-level collation applies to $group EQUALITY (Mongo runs
    // the whole pipeline under the collation): at strength 2 the
    // case-variant tags are ONE group; the engine surfaces the
    // deterministic min-original as _id (Mongo's representative is
    // first-encountered, i.e. unspecified) and the trailing $sort folds
    // through the same key
    Q("q217_group_collation", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$match" -> Map("doc_id" -> Map("$lt" -> 300))),
        Map("$addFields" -> Map("tag" -> Map("$switch" -> Map(
          "branches" -> Seq(
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 5)), 0)), "then" -> "Alpha"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 5)), 1)), "then" -> "alpha"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 5)), 2)), "then" -> "ALPHA"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 5)), 3)), "then" -> "Beta")),
          "default" -> "beta")))),
        Map("$group" -> Map("_id" -> "$tag",
          "n" -> Map("$sum" -> 1))),
        Map("$sort" -> Map("_id" -> 1))),
        Map("locale" -> "en", "strength" -> 2)),
      // collated $group: GROUP BY the folded key, min(original) as the
      // deterministic _id representative, count as the accumulator; the
      // trailing sort folds through the same key
      oracle = """WITH t AS (
        |  SELECT doc_id,
        |    CASE doc_id % 5 WHEN 0 THEN 'Alpha' WHEN 1 THEN 'alpha'
        |      WHEN 2 THEN 'ALPHA' WHEN 3 THEN 'Beta' ELSE 'beta'
        |      END AS tag
        |  FROM documents WHERE doc_id < 300)
        |SELECT min(tag) AS _id, count(*) AS n FROM t
        |GROUP BY lower(tag)
        |ORDER BY lower(min(tag))""".stripMargin),

    // aggregate-level collation applies to $lookup EQUALITY: at
    // strength 2 the case-variant names join nation's uppercase
    // n_name ("NATION_3"…); the made-up name matches nothing
    // (left-outer empty array). Still one hash equi-join — the key folds through
    // the same scalar collation-key expression as $match/$sort.
    Q("q218_lookup_collation", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$match" -> Map("doc_id" -> Map("$lt" -> 300))),
        Map("$addFields" -> Map("cname" -> Map("$switch" -> Map(
          "branches" -> Seq(
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 4)), 0)), "then" -> "nation_3"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 4)), 1)), "then" -> "Nation_3"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 4)), 2)), "then" -> "NATION_7")),
          "default" -> "atlantis")))),
        Map("$lookup" -> Map("from" -> "nation",
          "localField" -> "cname", "foreignField" -> "n_name",
          "as" -> "nn")),
        Map("$project" -> Map("doc_id" -> 1, "cname" -> 1,
          "n" -> Map("$size" -> "$nn")))),
        Map("locale" -> "en", "strength" -> 2))
        .orderBy("doc_id"),
      // collated $lookup: the oracle joins on the folded (lowercased)
      // key; $size of the matched array = the per-row join match count
      oracle = """WITH t AS (
        |  SELECT doc_id,
        |    CASE doc_id % 4 WHEN 0 THEN 'nation_3' WHEN 1 THEN 'Nation_3'
        |      WHEN 2 THEN 'NATION_7' ELSE 'atlantis' END AS cname
        |  FROM documents WHERE doc_id < 300)
        |SELECT t.doc_id, t.cname, count(n.n_name) AS n
        |FROM t LEFT JOIN nation n
        |  ON lower(n.n_name) = lower(t.cname)
        |GROUP BY t.doc_id, t.cname
        |ORDER BY t.doc_id""".stripMargin),

    // tailored Spanish collation: ñ is a DISTINCT letter between n and
    // o (CLDR es) — the lower+strip model would fold peña onto pena;
    // accents stay secondary (está groups with esta) and case folds
    Q("q219_collation_spanish_enye", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$match" -> Map("doc_id" -> Map("$lt" -> 280))),
        Map("$addFields" -> Map("tag" -> Map("$switch" -> Map(
          "branches" -> Seq(
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 0)), "then" -> "pan"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 1)), "then" -> "pena"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 2)), "then" -> "peña"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 3)), "then" -> "peor"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 4)), "then" -> "PEÑA")),
          "default" -> "está")))),
        Map("$sort" -> Map("tag" -> 1, "doc_id" -> 1)),
        Map("$project" -> Map("doc_id" -> 1, "tag" -> 1))),
        Map("locale" -> "es", "strength" -> 1)),
      // strength-1 tailored es key: the whole alphabet (ñ between n and
      // o) routes to the private-use page; accented á folds to a's
      // stand-in; the oracle rebuilds the identical page
      oracle = ("""WITH t AS (
        |  SELECT doc_id,
        |    CASE doc_id % 6 WHEN 0 THEN 'pan' WHEN 1 THEN 'pena'
        |      WHEN 2 THEN 'peña' WHEN 3 THEN 'peor' WHEN 4 THEN 'PEÑA'
        |      ELSE 'está' END AS tag
        |  FROM documents WHERE doc_id < 280)
        |SELECT doc_id, tag FROM t
        |ORDER BY translate(lower(tag),
        |  '""".stripMargin + "abcdefghijklmnñopqrstuvwxyzá" +
        "', '" + ((0 until 27).map(i => (0xE200 + i).toChar).mkString
          + 0xE200.toChar) + "'), doc_id")),

    // tailored Polish collation: ą/ł/ź/ż are distinct primaries IN
    // PLACE (a < ą, l < ł, z < ź < ż) — binary would interleave them
    // past z
    Q("q220_collation_polish", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$match" -> Map("doc_id" -> Map("$lt" -> 280))),
        Map("$addFields" -> Map("tag" -> Map("$switch" -> Map(
          "branches" -> Seq(
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 0)), "then" -> "luz"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 1)), "then" -> "łaska"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 2)), "then" -> "maj"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 3)), "then" -> "za"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 4)), "then" -> "źle")),
          "default" -> "żaba")))),
        Map("$sort" -> Map("tag" -> 1, "doc_id" -> 1)),
        Map("$project" -> Map("doc_id" -> 1, "tag" -> 1))),
        Map("locale" -> "pl", "strength" -> 1)),
      oracle = ("""WITH t AS (
        |  SELECT doc_id,
        |    CASE doc_id % 6 WHEN 0 THEN 'luz' WHEN 1 THEN 'łaska'
        |      WHEN 2 THEN 'maj' WHEN 3 THEN 'za' WHEN 4 THEN 'źle'
        |      ELSE 'żaba' END AS tag
        |  FROM documents WHERE doc_id < 280)
        |SELECT doc_id, tag FROM t
        |ORDER BY translate(lower(tag),
        |  '""".stripMargin + "aąbcćdeęfghijklłmnńoópqrsśtuvwxyzźż" +
        "', '" + (0 until 35).map(i => (0xE300 + i).toChar).mkString +
        "'), doc_id")),

    // tailored Czech collation: the ch DIGRAPH is one letter between h
    // and i (chata sorts after hrad, not with the c-words), č/ř after
    // their bases
    Q("q221_collation_czech_ch", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$match" -> Map("doc_id" -> Map("$lt" -> 280))),
        Map("$addFields" -> Map("tag" -> Map("$switch" -> Map(
          "branches" -> Seq(
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 0)), "then" -> "cena"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 1)), "then" -> "čaj"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 2)), "then" -> "hrad"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 3)), "then" -> "chata"),
            Map("case" -> Map("$eq" -> Seq(
              Map("$mod" -> Seq("$doc_id", 6)), 4)), "then" -> "irsko")),
          "default" -> "řeka")))),
        Map("$sort" -> Map("tag" -> 1, "doc_id" -> 1)),
        Map("$project" -> Map("doc_id" -> 1, "tag" -> 1))),
        Map("locale" -> "cs", "strength" -> 1)),
      // cs: the ch digraph replaces to its own page slot (between h and
      // i) on the LOWERED text, then the single letters translate
      oracle = ("""WITH t AS (
        |  SELECT doc_id,
        |    CASE doc_id % 6 WHEN 0 THEN 'cena' WHEN 1 THEN 'čaj'
        |      WHEN 2 THEN 'hrad' WHEN 3 THEN 'chata' WHEN 4 THEN 'irsko'
        |      ELSE 'řeka' END AS tag
        |  FROM documents WHERE doc_id < 280)
        |SELECT doc_id, tag FROM t
        |ORDER BY translate(
        |  replace(lower(tag), 'ch', '""".stripMargin +
        (0xE400 + 9).toChar +
        "'), '" + "abcčdefghijklmnopqrřsštuvwxyzž" + "', '" +
        "abcčdefgh ijklmnopqrřsštuvwxyzž".zipWithIndex.collect {
          case (ch, i) if ch != ' ' => (0xE400 + i).toChar
        }.mkString + "'), doc_id")),

    // Mongo array-localField $lookup: the local array is a SET of join
    // keys ($in-like membership, each matching foreign doc once). Plan:
    // distinct elements explode into a hash equi-join (here the fused
    // lookup+unwind form) — never a nested-loop membership join
    Q("q183_lookup_array", run = (s, dir) =>
      new GraftSession(s, dir).db("testdata").c("documents").pipe(Seq(
        Map("$set" -> Map("keys" -> Seq(
          Map("$mod" -> Seq("$doc_id", 25)),
          Map("$mod" -> Seq(Map("$multiply" -> Seq("$doc_id", 7)), 25))))),
        Map("$lookup" -> Map("from" -> "nation",
          "localField" -> "keys", "foreignField" -> "n_nationkey",
          "as" -> "nats")),
        Map("$unwind" -> "$nats"),
        Map("$group" -> Map("_id" -> "$doc_id",
          "n" -> Map("$sum" -> 1),
          "nn" -> Map("$min" -> "$nats.n_name"))),
        Map("$project" -> Map("doc_id" -> "$_id", "n" -> 1, "nn" -> 1,
          "_id" -> 0)),
        Map("$sort" -> Map("doc_id" -> 1)))),
      oracle = """WITH d AS (
        |  SELECT doc_id,
        |    [doc_id % 25, (doc_id * 7) % 25] AS keys FROM documents),
        |e AS (SELECT doc_id, unnest(keys) AS k FROM d),
        |e2 AS (SELECT DISTINCT doc_id, k FROM e),
        |m AS (SELECT e2.doc_id, n.n_name
        |      FROM e2 JOIN nation n ON n.n_nationkey = e2.k)
        |SELECT doc_id, COUNT(*) AS n, MIN(n_name) AS nn
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // $lookup concise correlated form (Mongo 8.0): equality condition +
    // row-local shaping pipeline, pre-applied to the from-side scan so
    // the $match pushes into the parquet read
    Q("q168_lookup_concise", run = (s, dir) =>
      coll(s, dir, "orders").pipe(Seq(
        Map("$match" -> Map("o_orderkey" -> Map("$lte" -> 2000))),
        Map("$lookup" -> Map(
          "from" -> "lineitem",
          "localField" -> "o_orderkey",
          "foreignField" -> "l_orderkey",
          "as" -> "big_items",
          "pipeline" -> Seq(
            Map("$match" -> Map("l_quantity" -> Map("$gte" -> 45))),
            Map("$project" -> Map("l_orderkey" -> 1,
              "l_linenumber" -> 1))))),
        Map("$project" -> Map("o_orderkey" -> 1,
          "n_big" -> Map("$size" -> "$big_items")))))
        .select(col("o_orderkey"), col("n_big"))
        .orderBy("o_orderkey"),
      oracle = """SELECT o_orderkey,
        |  CAST((SELECT COUNT(*) FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
        |    AS INT) AS n_big
        |FROM orders WHERE o_orderkey <= 2000
        |ORDER BY o_orderkey""".stripMargin),

    // Bucketed co-located join: both sides written bucketBy(orderkey)
    // once (the shuffle paid at write time), then the fact⋈fact join and
    // its aggregate run with NO Exchange on either bucketed side
    // (BucketingSpec pins the plan) — the storage-layout half of the
    // 100 TB shuffle story
    Q("q167_bucketed_join", run = (s, dir) => {
      val tmp = scratchDir("graft-bkt-q").toString
      // the two bucketed fixture tables are independent (distinct
      // generated names/dirs): overlap their write jobs (guide §2.6);
      // Await in concurrently() orders the assignments before the join
      var lt: String = null
      var rt: String = null
      concurrently(
        () => lt = graft.ops.Bucketing.writeBucketed(
          tbl(s, dir, "lineitem").withColumn("k", col("l_orderkey")),
          "k", 8, tmp),
        () => rt = graft.ops.Bucketing.writeBucketed(
          tbl(s, dir, "orders").withColumn("k", col("o_orderkey")),
          "k", 8, tmp))
      graft.ops.Bucketing.bucketedEquiJoin(s, lt, rt, "k")
        .groupBy("o_orderpriority")
        // exact decimal arithmetic end-to-end: price and discount each
        // round unambiguously to their stored 2-decimal values, and the
        // decimal multiply/sum is exact in both engines
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1).cast(DecimalType(4, 2)) -
              col("l_discount").cast(DecimalType(4, 2))))
            .cast("double").as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }, oracle = """SELECT o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |    AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // $convert format (Mongo 8.0): string <-> binData via hex/base64/utf8
    // byte encodings — scan-fused codec expressions, round-trip checked
    Q("q158_convert_format", run = (s, dir) => {
      def conv(in: Any, to: String, format: String): Map[String, Any] =
        Map("$convert" -> Map("input" -> in, "to" -> to,
          "format" -> format))
      coll(s, dir, "documents").pipe(Seq(
        Map("$match" -> Map("doc_id" -> Map("$lt" -> 50))),
        Map("$project" -> Map("doc_id" -> 1,
          "hex_rt" -> conv(conv("$source", "binData", "utf8"),
            "string", "hex"),
          "b64_rt" -> conv(conv("$source", "binData", "utf8"),
            "string", "base64"),
          "back" -> conv(conv(conv(conv("$source", "binData", "utf8"),
            "string", "hex"), "binData", "hex"), "string", "utf8")))))
        .orderBy("doc_id")
    }, oracle = """SELECT doc_id, lower(hex(encode(source))) AS hex_rt,
        |  to_base64(encode(source)) AS b64_rt, source AS back
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin),

    // $geoNear (reference pass-through db/wrapper.go:88-94): haversine
    // distance from a point over derived [lon, lat] coordinates — query
    // pre-filter pushed to the scan, maxDistance bound, distance emitted;
    // all scan-fused scalar math, no join
    Q("q118_geonear", run = (s, dir) =>
      coll(s, dir, "customer").pipe(Seq(
        Map("$addFields" -> Map("loc" -> Seq(
          Map("$subtract" -> Seq(Map("$mod" -> Seq("$c_custkey", 360)), 179.5)),
          Map("$subtract" -> Seq(Map("$mod" -> Seq("$c_custkey", 170)), 84.75))))),
        Map("$geoNear" -> Map(
          "near" -> Seq(12.5, 41.9),
          "key" -> "loc",
          "distanceField" -> "dist",
          "spherical" -> true,
          "maxDistance" -> 8.0e6,
          "query" -> Map("c_mktsegment" -> "BUILDING"))),
        Map("$project" -> Map(
          "_id" -> "$c_custkey",
          "dist_km" -> Map("$toLong" -> Map("$round" ->
            Seq(Map("$divide" -> Seq("$dist", 1000.0)), 0)))))))
        .orderBy("_id"),
      oracle = """WITH c AS (
        |  SELECT c_custkey,
        |    (c_custkey % 360) - 179.5 AS lon,
        |    (c_custkey % 170) - 84.75 AS lat
        |  FROM customer WHERE c_mktsegment = 'BUILDING'
        |), d AS (
        |  SELECT c_custkey AS _id,
        |    2 * 6371008.8 * asin(sqrt(
        |      pow(sin(radians(lat - 41.9) * 0.5), 2) +
        |      cos(radians(41.9)) * cos(radians(lat)) *
        |      pow(sin(radians(lon - 12.5) * 0.5), 2))) AS dist
        |  FROM c
        |)
        |SELECT _id, CAST(round(dist / 1000.0, 0) AS BIGINT) AS dist_km
        |FROM d WHERE dist <= 8000000.0 ORDER BY _id""".stripMargin),

    // §2.4 pipeline expression sublanguage ($concat/$toUpper/$cond/$year)
    Q("q29_pipeline_expr", run = (s, dir) =>
      coll(s, dir, "orders").pipe(Seq(
        Map("$addFields" -> Map(
          "key" -> Map("$concat" -> Seq(
            Map("$toUpper" -> "$o_orderstatus"), "-",
            Map("$cond" -> Seq(
              Map("$gte" -> Seq("$o_totalprice", 100000.0)), "big", "small")))),
          "yr" -> Map("$year" -> "$o_orderdate"))),
        Map("$group" -> Map("_id" -> "$key",
          "n" -> Map("$sum" -> 1),
          "min_year" -> Map("$min" -> "$yr"))),
        Map("$sort" -> Map("_id" -> 1)))),
      oracle = """SELECT upper(o_orderstatus) || '-' ||
        |  CASE WHEN o_totalprice >= 100000.0 THEN 'big' ELSE 'small' END AS _id,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MIN(year(o_orderdate)) AS INT) AS min_year
        |FROM orders GROUP BY 1 ORDER BY _id""".stripMargin),

    // §2.7 set ops over migration work-lists: union ∪ distinct, except
    Q("q30_setops", run = (s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val o = tbl(s, dir, "orders")
      val a = li.where(col("l_quantity") > 49)
        .select(col("l_orderkey").as("k"))
      val b = o.where(col("o_totalprice") > 400000.0)
        .select(col("o_orderkey").as("k"))
      val c = o.where(col("o_orderstatus") === "P")
        .select(col("o_orderkey").as("k"))
      a.union(b).distinct().except(c).orderBy("k")
    }, oracle = """WITH a AS (SELECT l_orderkey AS k FROM lineitem WHERE l_quantity > 49),
        |b AS (SELECT o_orderkey AS k FROM orders WHERE o_totalprice > 400000.0),
        |c AS (SELECT o_orderkey AS k FROM orders WHERE o_orderstatus = 'P'),
        |u AS (SELECT k FROM a UNION SELECT k FROM b)
        |SELECT k FROM u EXCEPT SELECT k FROM c ORDER BY k""".stripMargin),

    // §2.4 pipeline $bucket histogram
    Q("q37_bucket", run = (s, dir) =>
      coll(s, dir, "orders").pipe(Seq(
        Map("$bucket" -> Map(
          "groupBy" -> "$o_totalprice",
          "boundaries" -> Seq(0.0, 50000.0, 150000.0, 300000.0, 1000000.0),
          "n" -> Map("$sum" -> 1),
          "maxp" -> Map("$max" -> "$o_totalprice"))),
        Map("$sort" -> Map("_id" -> 1)))),
      oracle = """SELECT CASE
        |    WHEN o_totalprice >= 0.0 AND o_totalprice < 50000.0 THEN 0.0
        |    WHEN o_totalprice >= 50000.0 AND o_totalprice < 150000.0 THEN 50000.0
        |    WHEN o_totalprice >= 150000.0 AND o_totalprice < 300000.0 THEN 150000.0
        |    WHEN o_totalprice >= 300000.0 AND o_totalprice < 1000000.0 THEN 300000.0
        |    ELSE NULL END AS _id,
        |  CAST(COUNT(*) AS BIGINT) AS n, MAX(o_totalprice) AS maxp
        |FROM orders GROUP BY 1 ORDER BY _id""".stripMargin),

    // as-of (point-in-time) join: events against their user's latest
    // signup snapshot — one shuffle + window, no range explosion
    Q("q38_asof_join", run = (s, dir) => {
      val ev = tbl(s, dir, "events")
      val snaps = ev.where(col("event_type") === "signup")
        .select(col("user_id"), col("ts"),
          col("value").as("signup_value"))
      graft.ops.AsofJoin.backward(
        ev.select("event_id", "user_id", "ts"), snaps,
        "user_id", "ts", "ts", Seq("signup_value"))
        .select("event_id", "signup_value")
        .orderBy("event_id")
    }, oracle = """WITH r AS (
        |  SELECT user_id, ts, value AS signup_value FROM events
        |  WHERE event_type = 'signup')
        |SELECT l.event_id, r.signup_value FROM events l
        |ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin),

    // statistical window accumulators over full partitions: population /
    // sample stddev, covariance, exact median — one Window pass each
    Q("q103_window_stats", run = (s, dir) => {
      // The variance family (stddev/covariance) differs from DuckDB by
      // ~1 ulp (different accumulation algorithms), and the cent-quantized
      // inputs put true values exactly ON any fixed rounding boundary —
      // no rounding width is safe. So the hash-compared columns are
      // derived from EXACT integer window sums (identical longs → the
      // same IEEE expression in both engines → bit-identical doubles),
      // and the Mongo accumulators stay exercised through `acc_ok`, an
      // in-row tolerance check the oracle expects to be uniformly true.
      import org.apache.spark.sql.expressions.Window
      val piped = coll(s, dir, "orders").pipe(Seq(
        Map("$match" -> Map("o_orderkey" -> Map("$lte" -> 3000))),
        Map("$setWindowFields" -> Map(
          "partitionBy" -> "$o_custkey",
          "sortBy" -> Map("o_orderkey" -> 1),
          "output" -> Map(
            "sp" -> Map("$stdDevPop" -> "$o_totalprice",
              "window" -> Map("documents" ->
                Seq("unbounded", "unbounded"))),
            "ss" -> Map("$stdDevSamp" -> "$o_totalprice",
              "window" -> Map("documents" ->
                Seq("unbounded", "unbounded"))),
            "cp" -> Map("$covariancePop" ->
              Seq("$o_totalprice", "$o_orderkey"),
              "window" -> Map("documents" ->
                Seq("unbounded", "unbounded"))),
            "md" -> Map("$median" -> "$o_totalprice"))))))
      val w = Window.partitionBy("o_custkey")
      val cents = round(col("o_totalprice") * 100, 0).cast("long")
      val n = count(lit(1)).over(w).cast("double")
      val sx = sum(cents).over(w).cast("double")
      val sxx = sum(cents * cents).over(w).cast("double")
      val sxy = sum(cents * col("o_orderkey")).over(w).cast("double")
      val sy = sum(col("o_orderkey")).over(w).cast("double")
      val varPop = greatest((sxx - sx * sx / n) / n, lit(0.0))
      val spx = sqrt(varPop) / 100
      val ssx = when(n > 1,
        sqrt(greatest((sxx - sx * sx / n) / (n - 1), lit(0.0))) / 100)
      val cpx = (sxy - sx * sy / n) / n / 100
      piped
        .withColumn("sp_x", spx).withColumn("ss_x", ssx)
        .withColumn("cp_x", cpx)
        .select(col("o_orderkey"), col("o_custkey"),
          col("sp_x").as("sp"), col("ss_x").as("ss"), col("cp_x").as("cp"),
          (floor(col("md") * 1e2 + 0.5) / 1e2).as("md"),
          (abs(col("sp") - col("sp_x")) < 1e-4 &&
            (n === 1 || abs(col("ss") - col("ss_x")) < 1e-4) &&
            abs(col("cp") - col("cp_x")) < 1e-2).as("acc_ok"))
        .orderBy("o_orderkey")
    }, oracle = """WITH b AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey <= 3000),
        |w AS (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(COUNT(*) OVER win AS DOUBLE) AS n,
        |    CAST(SUM(cents) OVER win AS DOUBLE) AS sx,
        |    CAST(SUM(cents * cents) OVER win AS DOUBLE) AS sxx,
        |    CAST(SUM(cents * o_orderkey) OVER win AS DOUBLE) AS sxy,
        |    CAST(SUM(o_orderkey) OVER win AS DOUBLE) AS sy,
        |    median(o_totalprice) OVER win AS md
        |  FROM b WINDOW win AS (PARTITION BY o_custkey))
        |SELECT o_orderkey, o_custkey,
        |  sqrt(greatest((sxx - sx * sx / n) / n, 0.0)) / 100 AS sp,
        |  CASE WHEN n > 1 THEN
        |    sqrt(greatest((sxx - sx * sx / n) / (n - 1), 0.0)) / 100
        |  END AS ss,
        |  (sxy - sx * sy / n) / n / 100 AS cp,
        |  floor(md * 1e2 + 0.5) / 1e2 AS md,
        |  true AS acc_ok
        |FROM w ORDER BY o_orderkey""".stripMargin),

    // $merge whenMatched UPDATE-PIPELINE form: per matched pair the input
    // doc is the EXISTING target row and $$new binds to the incoming one
    // — accumulate counts and bump a generation field in one keyed merge
    Q("q104_merge_pipeline", run = (s, dir) => {
      import s.implicits._
      val root = tmpCopy(dir, "orders", "graft-merge-pipe")
      Seq(("F", 1000L, 2L), ("Z", 5L, 1L)).toDF("status", "cnt", "gen")
        .write.parquet(root + "/summary.parquet")
      new GraftSession(s, root).db("d").c("orders").pipe(Seq(
        Map("$group" -> Map("_id" -> "$o_orderstatus",
          "cnt" -> Map("$sum" -> 1))),
        Map("$project" -> Map("status" -> "$_id", "cnt" -> 1)),
        Map("$merge" -> Map("into" -> "summary", "on" -> "status",
          "whenMatched" -> Seq(Map("$set" -> Map(
            "cnt" -> Map("$add" -> Seq("$cnt", "$$new.cnt")),
            "gen" -> Map("$add" -> Seq("$gen", 1))))),
          "whenNotMatched" -> "insert"))))
        .select(col("status"), col("cnt").cast("long").as("cnt"),
          col("gen").cast("long").as("gen"))
        .orderBy("status")
    }, oracle = """WITH g AS (
        |  SELECT o_orderstatus AS status, COUNT(*) AS cnt
        |  FROM orders GROUP BY o_orderstatus),
        |seed AS (SELECT * FROM (VALUES
        |  ('F', CAST(1000 AS BIGINT), CAST(2 AS BIGINT)),
        |  ('Z', CAST(5 AS BIGINT), CAST(1 AS BIGINT))) s(status, cnt, gen))
        |SELECT COALESCE(s.status, g.status) AS status,
        |  CASE WHEN s.status IS NOT NULL AND g.status IS NOT NULL
        |      THEN s.cnt + g.cnt
        |    WHEN s.status IS NOT NULL THEN s.cnt ELSE g.cnt END AS cnt,
        |  CASE WHEN s.status IS NOT NULL AND g.status IS NOT NULL
        |      THEN s.gen + 1
        |    WHEN s.status IS NOT NULL THEN s.gen
        |    ELSE CAST(NULL AS BIGINT) END AS gen
        |FROM seed s FULL OUTER JOIN g ON g.status = s.status
        |ORDER BY status""".stripMargin),

    // calendar-unit $densify: per-month order counts (Jan/Apr/Jul only, so
    // the grid has real gaps) densified over a month grid — the grid is
    // sequence(timestamp, timestamp, INTERVAL 1 MONTH), real calendar
    // arithmetic, distributed explode + anti-join
    Q("q105_densify_month", run = (s, dir) =>
      coll(s, dir, "orders").pipe(Seq(
        Map("$match" -> Map("$expr" -> Map("$in" ->
          Seq(Map("$month" -> "$o_orderdate"), Seq(1, 4, 7))))),
        Map("$group" -> Map("_id" -> Map("$dateTrunc" ->
          Map("date" -> "$o_orderdate", "unit" -> "month")),
          "n" -> Map("$sum" -> 1))),
        Map("$project" -> Map("month" -> "$_id", "n" -> 1)),
        Map("$densify" -> Map("field" -> "month",
          "range" -> Map("step" -> 1, "unit" -> "month",
            "bounds" -> "full")))))
        .select(col("month"), col("n").cast("long").as("n"))
        .orderBy("month"),
      oracle = """WITH g AS (
        |  SELECT date_trunc('month', o_orderdate) AS month,
        |    COUNT(*) AS n
        |  FROM orders WHERE month(o_orderdate) IN (1, 4, 7)
        |  GROUP BY 1),
        |grid AS (
        |  SELECT unnest(generate_series(
        |    (SELECT min(month) FROM g), (SELECT max(month) FROM g),
        |    INTERVAL 1 MONTH)) AS month)
        |SELECT grid.month AS month, g.n AS n
        |FROM grid LEFT JOIN g USING (month)
        |ORDER BY month""".stripMargin),

    // date-keyed range window: trailing-90-day revenue per customer —
    // window: {range: [-90, 0], unit: "day"} maps to a rangeBetween over
    // epoch-micros with the offsets scaled into micros (exact for fixed
    // units). Cent-integer sums for float determinism vs the oracle.
    Q("q106_range_window_unit", run = (s, dir) =>
      coll(s, dir, "orders").pipe(Seq(
        Map("$match" -> Map("o_orderkey" -> Map("$lte" -> 5000))),
        Map("$addFields" -> Map("cents" -> Map("$toLong" -> Map("$round" ->
          Seq(Map("$multiply" -> Seq("$o_totalprice", 100)), 0))))),
        Map("$setWindowFields" -> Map(
          "partitionBy" -> "$o_custkey",
          "sortBy" -> Map("o_orderdate" -> 1),
          "output" -> Map("rs" -> Map("$sum" -> "$cents",
            "window" -> Map("range" -> Seq(-90, 0), "unit" -> "day")))))))
        .select(col("o_orderkey"), col("o_custkey"),
          (col("rs") / 100.0).as("rsum"))
        .orderBy("o_orderkey"),
      oracle = """SELECT o_orderkey, o_custkey,
        |  SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate
        |     RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW)
        |    / 100.0 AS rsum
        |FROM orders WHERE o_orderkey <= 5000
        |ORDER BY o_orderkey""".stripMargin),

    // binned $dateTrunc (2-month bins anchored at 2000-01-01, Mongo's
    // reference point) + sunday-start week trunc + calendar $dateAdd with
    // month-end clamping — all scalar expressions fused into the scan,
    // one shuffle for the group
    Q("q107_datetrunc_bins", run = (s, dir) =>
      coll(s, dir, "orders").pipe(Seq(
        Map("$match" -> Map("o_orderkey" -> Map("$lte" -> 20000))),
        Map("$addFields" -> Map(
          "bin2m" -> Map("$dateTrunc" -> Map("date" -> "$o_orderdate",
            "unit" -> "month", "binSize" -> 2)),
          "wk" -> Map("$dateTrunc" -> Map("date" -> "$o_orderdate",
            "unit" -> "week")),
          "due" -> Map("$dateAdd" -> Map("startDate" -> "$o_orderdate",
            "unit" -> "month", "amount" -> 3)))),
        Map("$group" -> Map("_id" -> "$bin2m",
          "n" -> Map("$sum" -> 1),
          "max_wk" -> Map("$max" -> "$wk"),
          "min_due" -> Map("$min" -> "$due")))))
        .select(col("_id").as("bin"), col("n").cast("long").as("n"),
          col("max_wk"), col("min_due"))
        .orderBy("bin"),
      oracle = """WITH b AS (
        |  SELECT
        |    TIMESTAMP '2000-01-01' + INTERVAL (CAST(
        |      floor(((year(o_orderdate) - 2000) * 12
        |             + month(o_orderdate) - 1) / 2.0) * 2 AS INT))
        |      MONTH AS bin,
        |    date_trunc('week', o_orderdate + INTERVAL 1 DAY)
        |      - INTERVAL 1 DAY AS wk,
        |    o_orderdate + INTERVAL 3 MONTH AS due
        |  FROM orders WHERE o_orderkey <= 20000)
        |SELECT bin, COUNT(*) AS n, max(wk) AS max_wk, min(due) AS min_due
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin),

    // $$ROOT round-trip: push whole documents into per-status arrays,
    // unwind them back, project fields out of the nested doc — the
    // group-docs idiom, exercised end-to-end
    Q("q102_root_roundtrip", run = (s, dir) =>
      coll(s, dir, "orders").pipe(Seq(
        Map("$match" -> Map("o_orderkey" -> Map("$lte" -> 100))),
        Map("$group" -> Map("_id" -> "$o_orderstatus",
          "docs" -> Map("$push" -> "$$ROOT"))),
        Map("$unwind" -> "$docs"),
        Map("$project" -> Map(
          "status" -> "$_id",
          "ok" -> "$docs.o_orderkey",
          "tp" -> "$docs.o_totalprice"))))
        .orderBy("ok"),
      oracle = """SELECT o_orderstatus AS status, o_orderkey AS ok,
        |  o_totalprice AS tp
        |FROM orders WHERE o_orderkey <= 100 ORDER BY ok""".stripMargin),

    // time-series window operators: $locf / $linearFill over a gappy
    // column, $derivative / $integral / $expMovingAvg over the dense one —
    // all single-window plans, no self-joins
    Q("q100_window_timeseries", run = (s, dir) =>
      coll(s, dir, "orders").pipe(Seq(
        Map("$match" -> Map("o_orderkey" -> Map("$lte" -> 3000))),
        Map("$addFields" -> Map("v" -> Map("$cond" -> Seq(
          Map("$eq" -> Seq(Map("$mod" -> Seq("$o_orderkey", 3)), 0)),
          "$o_totalprice", Map("$literal" -> null))))),
        Map("$setWindowFields" -> Map(
          "partitionBy" -> "$o_custkey",
          "sortBy" -> Map("o_orderkey" -> 1),
          "output" -> Map(
            "lo" -> Map("$locf" -> "$v"),
            "lf" -> Map("$linearFill" -> "$v"),
            "dv" -> Map(
              "$derivative" -> Map("input" -> "$o_totalprice"),
              "window" -> Map("documents" ->
                Seq("unbounded", "unbounded"))),
            "ig" -> Map(
              "$integral" -> Map("input" -> "$o_totalprice"),
              "window" -> Map("documents" -> Seq("unbounded", "current"))),
            "ema" -> Map("$expMovingAvg" ->
              Map("input" -> "$o_totalprice", "N" -> 3)))))))
        .select(col("o_orderkey"), col("o_custkey"),
          (floor(col("lo") * 1e6 + 0.5) / 1e6).as("lo"),
          (floor(col("lf") * 1e6 + 0.5) / 1e6).as("lf"),
          (floor(col("dv") * 1e6 + 0.5) / 1e6).as("dv"),
          (floor(col("ig") * 1e6 + 0.5) / 1e6).as("ig"),
          (floor(col("ema") * 1e6 + 0.5) / 1e6).as("ema"))
        .orderBy("o_orderkey"),
      oracle = """WITH b AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice END AS v
        |  FROM orders WHERE o_orderkey <= 3000),
        |w AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, v,
        |    last_value(v IGNORE NULLS) OVER
        |      (PARTITION BY o_custkey ORDER BY o_orderkey
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lo,
        |    last_value(v IGNORE NULLS) OVER
        |      (PARTITION BY o_custkey ORDER BY o_orderkey
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN o_orderkey END
        |      IGNORE NULLS) OVER
        |      (PARTITION BY o_custkey ORDER BY o_orderkey
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pk,
        |    first_value(v IGNORE NULLS) OVER
        |      (PARTITION BY o_custkey ORDER BY o_orderkey
        |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN o_orderkey END
        |      IGNORE NULLS) OVER
        |      (PARTITION BY o_custkey ORDER BY o_orderkey
        |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nk,
        |    first_value(o_totalprice) OVER
        |      (PARTITION BY o_custkey ORDER BY o_orderkey
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS fv,
        |    last_value(o_totalprice) OVER
        |      (PARTITION BY o_custkey ORDER BY o_orderkey
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS lv,
        |    first_value(o_orderkey) OVER
        |      (PARTITION BY o_custkey ORDER BY o_orderkey
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS fk,
        |    last_value(o_orderkey) OVER
        |      (PARTITION BY o_custkey ORDER BY o_orderkey
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS lk,
        |    (o_totalprice + lag(o_totalprice) OVER
        |      (PARTITION BY o_custkey ORDER BY o_orderkey)) / 2 *
        |      (o_orderkey - lag(o_orderkey) OVER
        |        (PARTITION BY o_custkey ORDER BY o_orderkey)) AS seg,
        |    array_agg(CAST(o_totalprice AS DOUBLE)) OVER
        |      (PARTITION BY o_custkey ORDER BY o_orderkey
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre
        |  FROM b),
        |f AS (
        |  SELECT o_orderkey, o_custkey, lo,
        |    CASE WHEN v IS NOT NULL THEN v
        |         WHEN pv IS NULL OR nv IS NULL THEN NULL
        |         WHEN nk = pk THEN pv
        |         ELSE pv + (nv - pv) * (o_orderkey - pk) / (nk - pk)
        |    END AS lf,
        |    (lv - fv) / (lk - fk) AS dv,
        |    SUM(COALESCE(seg, 0)) OVER
        |      (PARTITION BY o_custkey ORDER BY o_orderkey
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ig,
        |    list_reduce(pre, (a, x) -> x * 0.5 + a * 0.5) AS ema
        |  FROM w)
        |SELECT o_orderkey, o_custkey,
        |  floor(lo * 1e6 + 0.5) / 1e6 AS lo,
        |  floor(lf * 1e6 + 0.5) / 1e6 AS lf,
        |  floor(dv * 1e6 + 0.5) / 1e6 AS dv,
        |  floor(ig * 1e6 + 0.5) / 1e6 AS ig,
        |  floor(ema * 1e6 + 0.5) / 1e6 AS ema
        |FROM f ORDER BY o_orderkey""".stripMargin),

    // scalar expression completions: inverse hyperbolics, three-way
    // compares, byte substrings, decimal conversion, type introspection,
    // raw-document size — all codegen'd, zero shuffles
    Q("q101_scalar_expr", run = (s, dir) =>
      coll(s, dir, "part").pipe(Seq(
        Map("$match" -> Map("p_partkey" -> Map("$lte" -> 500))),
        Map("$addFields" -> Map(
          "ash" -> Map("$asinh" -> Map("$divide" ->
            Seq("$p_retailprice", 1000.0))),
          "ach" -> Map("$acosh" -> Map("$add" -> Seq("$p_size", 1.0))),
          "ath" -> Map("$atanh" -> Map("$divide" ->
            Seq(Map("$mod" -> Seq("$p_size", 9)), 10.0))),
          "c1" -> Map("$cmp" -> Seq("$p_type", "$p_brand")),
          "sc" -> Map("$strcasecmp" -> Seq("$p_type", "$p_type")),
          "sb" -> Map("$substr" -> Seq("$p_name", 2, 5)),
          "dec" -> Map("$toDouble" -> Map("$toDecimal" -> "$p_retailprice")),
          "ia" -> Map("$isArray" -> Map("$split" -> Seq("$p_name", " "))),
          "ns" -> Map("$isArray" -> "$p_name"),
          "sz" -> Map("$bsonSize" -> Map("pk" -> "$p_partkey"))))))
        .select(col("p_partkey"),
          (floor(col("ash") * 1e6 + 0.5) / 1e6).as("ash"),
          (floor(col("ach") * 1e6 + 0.5) / 1e6).as("ach"),
          (floor(col("ath") * 1e6 + 0.5) / 1e6).as("ath"),
          col("c1"), col("sc"), col("sb"), col("dec"), col("ia"),
          col("ns"), col("sz").cast("long").as("sz"))
        .orderBy("p_partkey"),
      oracle = """SELECT p_partkey,
        |  floor(ln(p_retailprice / 1000.0 +
        |    sqrt(p_retailprice / 1000.0 * (p_retailprice / 1000.0) + 1.0))
        |    * 1e6 + 0.5) / 1e6 AS ash,
        |  floor(ln(p_size + 1.0 +
        |    sqrt((p_size + 1.0) * (p_size + 1.0) - 1.0)) * 1e6 + 0.5) / 1e6
        |    AS ach,
        |  floor(0.5 * ln((1.0 + (p_size % 9) / 10.0) /
        |    (1.0 - (p_size % 9) / 10.0)) * 1e6 + 0.5) / 1e6 AS ath,
        |  CASE WHEN p_type = p_brand THEN 0
        |       WHEN p_type < p_brand THEN -1 ELSE 1 END AS c1,
        |  0 AS sc,
        |  substr(p_name, 3, 5) AS sb,
        |  CAST(CAST(p_retailprice AS DECIMAL(38,10)) AS DOUBLE) AS dec,
        |  true AS ia,
        |  false AS ns,
        |  CAST(strlen('{"pk":' || p_partkey || '}') AS BIGINT) AS sz
        |FROM part WHERE p_partkey <= 500 ORDER BY p_partkey""".stripMargin),

    // $bucketAuto with granularity: values quantize UP to the R10
    // preferred-number series BEFORE the boundary window, so the distinct-
    // value window input is bounded by the series domain even on this
    // near-unique continuous column
    Q("q99_bucket_auto_granularity", run = (s, dir) =>
      coll(s, dir, "orders").pipe(Seq(
        Map("$bucketAuto" -> Map("groupBy" -> "$o_totalprice",
          "buckets" -> 6, "granularity" -> "R10"))))
        .select(col("_id.min").as("b_min"), col("_id.max").as("b_max"),
          col("count"))
        .orderBy("b_min"),
      oracle = s"""WITH b AS (SELECT o_totalprice AS v FROM orders),
         |q AS (SELECT v,
         |  ${graft.functions.Granularity.sqlCase("v", "R10")} AS qv
         |  FROM b),
         |freq AS (SELECT qv, COUNT(*) AS f FROM q GROUP BY qv),
         |wcum AS (SELECT qv, f,
         |  SUM(f) OVER (ORDER BY qv) - f AS cum,
         |  SUM(f) OVER () AS n FROM freq),
         |asg AS (SELECT qv, f,
         |  CAST(least(floor(cum * 6 / n), 5) AS INT) AS bucket FROM wcum),
         |g AS (SELECT bucket, MIN(qv) AS b_min, MAX(qv) AS b_max,
         |  CAST(SUM(f) AS BIGINT) AS count FROM asg GROUP BY bucket)
         |SELECT b_min, b_max, count FROM g ORDER BY b_min""".stripMargin),

    // $merge whenMatched mode matrix: field-wise "merge" (pipeline columns
    // overwrite, target-only columns kept, inserts get nulls) and
    // "keepExisting" (only new keys land) — one keyed shuffle each
    Q("q98_merge_modes", run = (s, dir) => {
      import s.implicits._
      val root = tmpCopy(dir, "orders", "graft-merge-modes")
      Seq(("F", 0L, "seed"), ("Z", 99L, "seed")).toDF("status", "cnt", "src")
        .write.parquet(root + "/summary.parquet")
      Seq(("F", 0L)).toDF("status", "cnt")
        .write.parquet(root + "/summary2.parquet")
      val db = new GraftSession(s, root).db("d")
      val agg = Seq(
        Map("$group" -> Map("_id" -> "$o_orderstatus",
          "cnt" -> Map("$sum" -> 1))),
        Map("$project" -> Map("status" -> "$_id", "cnt" -> 1)))
      val m = db.c("orders").pipe(agg :+ Map("$merge" ->
        Map("into" -> "summary", "on" -> "status",
          "whenMatched" -> "merge", "whenNotMatched" -> "insert")))
      val k = db.c("orders").pipe(agg :+ Map("$merge" ->
        Map("into" -> "summary2", "on" -> "status",
          "whenMatched" -> "keepExisting", "whenNotMatched" -> "insert")))
      m.select(lit("merge").as("mode"), col("status"), col("cnt"),
          col("src"))
        .unionByName(k.select(lit("keep").as("mode"), col("status"),
          col("cnt"), lit(null).cast("string").as("src")))
        .orderBy("mode", "status")
    }, oracle = """WITH g AS (
        |  SELECT o_orderstatus AS status, COUNT(*) AS cnt
        |  FROM orders GROUP BY o_orderstatus),
        |seed AS (SELECT * FROM (VALUES
        |  ('F', CAST(0 AS BIGINT), 'seed'),
        |  ('Z', CAST(99 AS BIGINT), 'seed')) s(status, cnt, src)),
        |m AS (
        |  SELECT COALESCE(g.status, s.status) AS status,
        |    CASE WHEN g.status IS NOT NULL THEN g.cnt ELSE s.cnt END AS cnt,
        |    s.src AS src
        |  FROM seed s FULL OUTER JOIN g ON g.status = s.status),
        |k AS (
        |  SELECT 'F' AS status, CAST(0 AS BIGINT) AS cnt
        |  UNION ALL
        |  SELECT status, cnt FROM g WHERE status <> 'F')
        |SELECT 'merge' AS mode, status, cnt, src FROM m
        |UNION ALL
        |SELECT 'keep' AS mode, status, cnt, NULL AS src FROM k
        |ORDER BY mode, status""".stripMargin),

    // $merge whenMatched update-pipeline stage set beyond $set: $unset
    // drops fields on matched rows (null-filled against the unmatched
    // remainder), $replaceWith rebuilds the matched doc from target +
    // $$new bindings
    Q("q141_merge_pipeline_stages", run = (s, dir) => {
      import s.implicits._
      val root = tmpCopy(dir, "orders", "graft-merge-stages")
      Seq(("F", 5L, "seed"), ("Z", 99L, "seed")).toDF("status", "cnt", "note")
        .write.parquet(root + "/sum_unset.parquet")
      Seq(("F", 5L, "seed"), ("Z", 99L, "seed")).toDF("status", "cnt", "note")
        .write.parquet(root + "/sum_repl.parquet")
      val db = new GraftSession(s, root).db("d")
      val agg = Seq(
        Map("$group" -> Map("_id" -> "$o_orderstatus",
          "cnt" -> Map("$sum" -> 1))),
        Map("$project" -> Map("status" -> "$_id", "cnt" -> 1)))
      val u = db.c("orders").pipe(agg :+ Map("$merge" ->
        Map("into" -> "sum_unset", "on" -> "status",
          "whenMatched" -> Seq(
            Map("$set" -> Map("cnt" ->
              Map("$add" -> Seq("$cnt", "$$new.cnt")))),
            Map("$unset" -> "note")),
          "whenNotMatched" -> "insert")))
      val r = db.c("orders").pipe(agg :+ Map("$merge" ->
        Map("into" -> "sum_repl", "on" -> "status",
          "whenMatched" -> Seq(Map("$replaceWith" -> Map(
            "status" -> "$status",
            "cnt" -> Map("$add" -> Seq("$cnt", "$$new.cnt")),
            "note" -> Map("$concat" -> Seq("$note", "+"))))),
          "whenNotMatched" -> "insert")))
      u.select(lit("unset").as("mode"), col("status"), col("cnt"),
          col("note"))
        .unionByName(r.select(lit("repl").as("mode"), col("status"),
          col("cnt"), col("note")))
        .orderBy("mode", "status")
    }, oracle = """WITH c AS (
        |  SELECT o_orderstatus AS status, COUNT(*) AS cnt
        |  FROM orders GROUP BY 1)
        |SELECT 'unset' AS mode, status,
        |       CASE WHEN status = 'F' THEN cnt + 5 ELSE cnt END AS cnt,
        |       CAST(NULL AS VARCHAR) AS note
        |FROM c
        |UNION ALL SELECT 'unset', 'Z', 99, 'seed'
        |UNION ALL
        |SELECT 'repl', status,
        |       CASE WHEN status = 'F' THEN cnt + 5 ELSE cnt END,
        |       CASE WHEN status = 'F' THEN 'seed+' END
        |FROM c
        |UNION ALL SELECT 'repl', 'Z', 99, 'seed'
        |ORDER BY mode, status""".stripMargin),

    // $fill linear interpolation: gaps filled proportional to the sortBy
    // distance between surrounding known values, per partition
    Q("q97_fill_linear", run = (s, dir) =>
      coll(s, dir, "orders").pipe(Seq(
        Map("$match" -> Map("o_orderkey" -> Map("$lte" -> 5000))),
        Map("$addFields" -> Map("v" -> Map("$cond" -> Seq(
          Map("$eq" -> Seq(Map("$mod" -> Seq("$o_orderkey", 3)), 0)),
          "$o_totalprice", Map("$literal" -> null))))),
        Map("$fill" -> Map("partitionBy" -> "$o_custkey",
          "sortBy" -> Map("o_orderkey" -> 1),
          "output" -> Map("v" -> Map("method" -> "linear"))))))
        .select(col("o_orderkey"), col("o_custkey"),
          // explicit half-up rounding: decimal casts differ in rounding
          // MODE between engines on exact ...5 ties (HALF_UP vs half-even)
          (floor(col("v") * 1e6 + 0.5) / 1e6).as("v"))
        .orderBy("o_orderkey"),
      oracle = """WITH b AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice END AS v
        |  FROM orders WHERE o_orderkey <= 5000),
        |w AS (
        |  SELECT o_orderkey, o_custkey, v,
        |    CAST(o_orderkey AS DOUBLE) AS key,
        |    last_value(v IGNORE NULLS) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    last_value(CASE WHEN v IS NOT NULL
        |        THEN CAST(o_orderkey AS DOUBLE) END IGNORE NULLS)
        |      OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pk,
        |    first_value(v IGNORE NULLS) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderkey
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN v IS NOT NULL
        |        THEN CAST(o_orderkey AS DOUBLE) END IGNORE NULLS)
        |      OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nk
        |  FROM b)
        |SELECT o_orderkey, o_custkey,
        |  floor((CASE WHEN v IS NOT NULL THEN v
        |    WHEN pv IS NULL OR nv IS NULL THEN NULL
        |    ELSE pv + (nv - pv) * (key - pk) / (nk - pk) END)
        |    * 1e6 + 0.5) / 1e6 AS v
        |FROM w ORDER BY o_orderkey""".stripMargin),

    // chars-aware trims, byte-offset indexOf, expression-level $type /
    // $isNumber (static-schema type introspection)
    Q("q96_trim_type", run = (s, dir) =>
      coll(s, dir, "part").pipe(Seq(
        Map("$match" -> Map("p_partkey" -> Map("$lte" -> 500))),
        Map("$addFields" -> Map(
          "lt" -> Map("$ltrim" -> Map("input" -> "$p_name",
            "chars" -> "clod ")),
          "rt" -> Map("$rtrim" -> Map("input" -> "$p_name",
            "chars" -> "te")),
          "iob" -> Map("$indexOfBytes" -> Seq("$p_name", "widget")),
          "tname" -> Map("$type" -> "$p_name"),
          "tsize" -> Map("$type" -> "$p_size"),
          "tprice" -> Map("$type" -> "$p_retailprice"),
          "numn" -> Map("$isNumber" -> "$p_name"),
          "nums" -> Map("$isNumber" -> "$p_size")))))
        .select("p_partkey", "lt", "rt", "iob", "tname", "tsize",
          "tprice", "numn", "nums")
        .orderBy("p_partkey"),
      oracle = """SELECT p_partkey,
        |  ltrim(p_name, 'clod ') AS lt,
        |  rtrim(p_name, 'te') AS rt,
        |  CAST(strpos(p_name, 'widget') - 1 AS INT) AS iob,
        |  'string' AS tname,
        |  'int' AS tsize,
        |  'double' AS tprice,
        |  FALSE AS numn,
        |  TRUE AS nums
        |FROM part WHERE p_partkey <= 500 ORDER BY p_partkey""".stripMargin),

    // calendar-unit $dateDiff (month/quarter/year boundary crossings) and
    // first-occurrence $replaceOne
    Q("q95_datediff_replace", run = (s, dir) =>
      coll(s, dir, "orders").pipe(Seq(
        Map("$match" -> Map("o_orderkey" -> Map("$lte" -> 2000))),
        Map("$addFields" -> Map(
          "dm" -> Map("$dateDiff" -> Map(
            "startDate" -> Map("$literal" ->
              java.time.Instant.parse("2024-06-15T00:00:00Z")),
            "endDate" -> "$o_orderdate", "unit" -> "month")),
          "dq" -> Map("$dateDiff" -> Map(
            "startDate" -> Map("$literal" ->
              java.time.Instant.parse("2024-06-15T00:00:00Z")),
            "endDate" -> "$o_orderdate", "unit" -> "quarter")),
          "dy" -> Map("$dateDiff" -> Map(
            "startDate" -> Map("$literal" ->
              java.time.Instant.parse("2024-06-15T00:00:00Z")),
            "endDate" -> "$o_orderdate", "unit" -> "year")),
          "rp" -> Map("$replaceOne" -> Map("input" -> "$o_orderpriority",
            "find" -> "E", "replacement" -> "*")),
          "rpn" -> Map("$replaceOne" -> Map("input" -> "$o_orderpriority",
            "find" -> "ZZZ", "replacement" -> "*"))))))
        .select("o_orderkey", "dm", "dq", "dy", "rp", "rpn")
        .orderBy("o_orderkey"),
      oracle = """SELECT o_orderkey,
        |  datediff('month', TIMESTAMP '2024-06-15', o_orderdate) AS dm,
        |  datediff('quarter', TIMESTAMP '2024-06-15', o_orderdate) AS dq,
        |  datediff('year', TIMESTAMP '2024-06-15', o_orderdate) AS dy,
        |  regexp_replace(o_orderpriority, 'E', '*') AS rp,
        |  o_orderpriority AS rpn
        |FROM orders WHERE o_orderkey <= 2000
        |ORDER BY o_orderkey""".stripMargin),

    // ordered $firstN/$lastN window accumulators (deterministic under
    // sortBy, unlike Mongo's document-order $group forms)
    Q("q90_window_firstn", run = (s, dir) =>
      coll(s, dir, "orders").pipe(Seq(
        Map("$match" -> Map("o_orderkey" -> Map("$lte" -> 3000))),
        Map("$setWindowFields" -> Map(
          "partitionBy" -> "$o_custkey",
          "sortBy" -> Map("o_orderkey" -> 1),
          "output" -> Map(
            "f2" -> Map(
              "$firstN" -> Map("input" -> "$o_orderkey", "n" -> 2),
              "window" -> Map("documents" -> Seq("unbounded", "current"))),
            "l2" -> Map(
              "$lastN" -> Map("input" -> "$o_orderkey", "n" -> 2),
              "window" -> Map("documents" ->
                Seq("unbounded", "current"))))))))
        .select(col("o_orderkey"), col("o_custkey"),
          // stringified: the driver's pandas comparator cannot sort/hash
          // raw array columns, so join to a deterministic CSV form
          concat_ws(",", transform(col("f2"), _.cast("string"))).as("f2"),
          concat_ws(",", transform(col("l2"), _.cast("string"))).as("l2"))
        .orderBy("o_orderkey"),
      oracle = """WITH b AS (
        |  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey <= 3000),
        |w AS (
        |  SELECT o_orderkey, o_custkey,
        |    array_agg(o_orderkey) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS acc
        |  FROM b)
        |SELECT o_orderkey, o_custkey,
        |  array_to_string(list_transform(acc[1:2], x -> x::VARCHAR), ',')
        |    AS f2,
        |  array_to_string(list_transform(
        |    acc[greatest(len(acc) - 1, 1) : len(acc)], x -> x::VARCHAR), ',')
        |    AS l2
        |FROM w ORDER BY o_orderkey""".stripMargin),

    // §2.8 dotted-path semantics (GetDottedKeyName, bsonutil/helpers.go):
    // an embedded-doc $addFields builds a struct, then a dotted-path
    // $match resolves into it
    Q("q51_dotted_path", run = (s, dir) =>
      coll(s, dir, "documents").pipe(Seq(
        Map("$addFields" -> Map("nested" ->
          Map("lang" -> "$lang", "chars" -> "$n_chars"))),
        Map("$match" -> Map(
          "nested.lang" -> "en",
          "nested.chars" -> Map("$gte" -> 200))),
        Map("$project" -> Map("doc_id" -> 1)),
        Map("$sort" -> Map("doc_id" -> 1)))),
      oracle = """SELECT doc_id FROM documents
        |WHERE lang = 'en' AND n_chars >= 200
        |ORDER BY doc_id""".stripMargin),

    // §2.4 $facet: multiple sub-pipelines over ONE input, one output row;
    // the facet arrays are flattened to deterministic scalars for hashing
    Q("q56_facet", run = (s, dir) => {
      val out = coll(s, dir, "orders").pipe(Seq(
        Map("$facet" -> Map(
          "by_status" -> Seq(
            Map("$group" -> Map("_id" -> "$o_orderstatus",
              "cnt" -> Map("$sum" -> 1)))),
          "big" -> Seq(
            Map("$match" -> Map("o_totalprice" ->
              Map("$gte" -> 300000.0))),
            Map("$count" -> "n"))))))
      out.select(
        concat_ws("|", sort_array(expr(
          "transform(by_status, x -> concat(x._id, ':', cast(x.cnt as string)))")))
          .as("statuses"),
        element_at(col("big"), 1).getField("n").as("n_big"))
    }, oracle = """SELECT
        |  (SELECT string_agg(s, '|' ORDER BY s) FROM (
        |     SELECT o_orderstatus || ':' || CAST(COUNT(*) AS VARCHAR) AS s
        |     FROM orders GROUP BY o_orderstatus)) AS statuses,
        |  (SELECT COUNT(*) FROM orders
        |   WHERE o_totalprice >= 300000.0) AS n_big""".stripMargin),

    // §2.4 $merge: pipeline result upserted into a sibling collection
    // (replace existing keys, insert new, leave untouched keys alone)
    Q("q57_merge", run = (s, dir) => {
      import s.implicits._
      val root = tmpCopy(dir, "orders", "graft-merge")
      // stale row for F (will be replaced) + a key the pipeline won't touch
      Seq(("F", 0L), ("Z", 99L)).toDF("status", "cnt")
        .write.parquet(root + "/summary.parquet")
      new GraftSession(s, root).db("d").c("orders").pipe(Seq(
        Map("$group" -> Map("_id" -> "$o_orderstatus",
          "cnt" -> Map("$sum" -> 1))),
        Map("$project" -> Map("status" -> "$_id", "cnt" -> 1)),
        Map("$merge" -> Map("into" -> "summary", "on" -> "status"))))
        .orderBy("status")
    }, oracle = """SELECT status, cnt FROM (
        |  SELECT o_orderstatus AS status, COUNT(*) AS cnt
        |  FROM orders GROUP BY o_orderstatus
        |  UNION ALL
        |  SELECT 'Z' AS status, CAST(99 AS BIGINT) AS cnt
        |) ORDER BY status""".stripMargin),

    // §2.3 $lookup pipeline form (let + correlated $expr $eq + row-local
    // sub-stages) compiled to ONE equi-join — never a per-row rescan
    Q("q58_lookup_pipeline", run = (s, dir) => {
      coll(s, dir, "orders").pipe(Seq(
        Map("$match" -> Map("o_orderkey" -> Map("$lte" -> 200))),
        Map("$lookup" -> Map(
          "from" -> "lineitem",
          "let" -> Map("ok" -> "$o_orderkey"),
          "pipeline" -> Seq(
            Map("$match" -> Map("$expr" ->
              Map("$eq" -> Seq("$l_orderkey", "$$ok")))),
            Map("$match" -> Map("l_quantity" -> Map("$gte" -> 30.0))),
            Map("$project" -> Map("l_linenumber" -> 1))),
          "as" -> "lines"))))
        .select(col("o_orderkey"),
          size(col("lines")).cast("long").as("n_lines"),
          concat_ws(",", expr(
            "transform(sort_array(transform(lines, x -> x.l_linenumber)), " +
              "x -> cast(x as string))")).as("line_nums"))
        .orderBy("o_orderkey")
    }, oracle = """SELECT o.o_orderkey,
        |  COALESCE(l.n, 0) AS n_lines,
        |  COALESCE(l.nums, '') AS line_nums
        |FROM orders o
        |LEFT JOIN (
        |  SELECT l_orderkey, COUNT(*) AS n,
        |    string_agg(CAST(l_linenumber AS VARCHAR), ','
        |      ORDER BY l_linenumber) AS nums
        |  FROM lineitem WHERE l_quantity >= 30.0 GROUP BY l_orderkey
        |) l ON o.o_orderkey = l.l_orderkey
        |WHERE o.o_orderkey <= 200
        |ORDER BY o.o_orderkey""".stripMargin),

    // §2.4 $graphLookup: recursive ancestor walk (parent = id - 5 chain
    // derived from nation) as iterated checkpointed equi-joins; the oracle
    // is DuckDB's recursive CTE over the same derived edge table
    Q("q59_graph_lookup", run = (s, dir) => {
      val tmp = scratchDir("graft-graph")
      tbl(s, dir, "nation").select(
        col("n_nationkey").as("id"),
        when(col("n_nationkey") >= 5, col("n_nationkey") - 5).as("parent"))
        .write.parquet(tmp.toString + "/nodes.parquet")
      new GraftSession(s, tmp.toString).db("d").c("nodes").pipe(Seq(
        Map("$graphLookup" -> Map(
          "from" -> "nodes", "startWith" -> "$parent",
          "connectFromField" -> "parent", "connectToField" -> "id",
          "as" -> "anc"))))
        .select(col("id"),
          size(col("anc")).cast("long").as("n_anc"),
          concat_ws(",", expr(
            "transform(sort_array(transform(anc, x -> x.id)), " +
              "x -> cast(x as string))")).as("anc_ids"))
        .orderBy("id")
    }, oracle = """WITH RECURSIVE nodes AS (
        |  SELECT n_nationkey AS id,
        |    CASE WHEN n_nationkey >= 5 THEN n_nationkey - 5 END AS parent
        |  FROM nation),
        |anc AS (
        |  SELECT id, parent AS aid FROM nodes WHERE parent IS NOT NULL
        |  UNION
        |  SELECT a.id, n.parent FROM anc a JOIN nodes n ON a.aid = n.id
        |  WHERE n.parent IS NOT NULL
        |)
        |SELECT n.id, COALESCE(c.n, 0) AS n_anc,
        |       COALESCE(c.ids, '') AS anc_ids
        |FROM nodes n LEFT JOIN (
        |  SELECT id, COUNT(*) AS n,
        |    string_agg(CAST(aid AS VARCHAR), ',' ORDER BY aid) AS ids
        |  FROM anc GROUP BY id) c ON n.id = c.id
        |ORDER BY n.id""".stripMargin),

    // §2.5 $setWindowFields: Mongo window functions straight onto Spark
    // Window — one shuffle on the partition key, codegen'd aggregates
    Q("q60_window_fields", run = (s, dir) => {
      coll(s, dir, "orders").pipe(Seq(
        Map("$setWindowFields" -> Map(
          "partitionBy" -> "$o_orderstatus",
          "sortBy" -> Map("o_orderkey" -> 1),
          "output" -> Map(
            "rn" -> Map("$documentNumber" -> Map.empty),
            "running_cnt" -> Map("$count" -> 1,
              "window" -> Map("documents" -> Seq("unbounded", "current"))),
            "prev_key" -> Map("$shift" -> Map("output" -> "$o_orderkey",
              "by" -> -1, "default" -> -1)))))))
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("rn").cast("long").as("rn"), col("running_cnt"),
          col("prev_key").cast("long").as("prev_key"))
        .orderBy("o_orderkey")
    }, oracle = """SELECT o_orderkey, o_orderstatus,
        |  ROW_NUMBER() OVER
        |    (PARTITION BY o_orderstatus ORDER BY o_orderkey) AS rn,
        |  COUNT(*) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_cnt,
        |  COALESCE(LAG(o_orderkey) OVER
        |    (PARTITION BY o_orderstatus ORDER BY o_orderkey), -1) AS prev_key
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin),

    // §2.7 $unionWith: union with a piped sibling collection
    Q("q61_union_with", run = (s, dir) => {
      coll(s, dir, "customer").pipe(Seq(
        Map("$project" -> Map("key" -> "$c_custkey", "name" -> "$c_name")),
        Map("$unionWith" -> Map("coll" -> "supplier", "pipeline" -> Seq(
          Map("$project" -> Map(
            "key" -> Map("$add" -> Seq("$s_suppkey", 1000000)),
            "name" -> "$s_name")))))))
        .orderBy("key")
    }, oracle = """SELECT key, name FROM (
        |  SELECT c_custkey AS key, c_name AS name FROM customer
        |  UNION ALL
        |  SELECT s_suppkey + 1000000 AS key, s_name AS name FROM supplier
        |) ORDER BY key""".stripMargin),

    // §2.5 $fill locf: last-observation-carried-forward over an ordered
    // window (nulls synthesized in-pipeline; TPC-H has none)
    Q("q62_fill_locf", run = (s, dir) => {
      coll(s, dir, "orders").pipe(Seq(
        Map("$addFields" -> Map("v" -> Map("$cond" -> Seq(
          Map("$lt" -> Seq("$o_totalprice", 100000.0)),
          null, "$o_totalprice")))),
        Map("$fill" -> Map(
          "partitionBy" -> "$o_orderstatus",
          "sortBy" -> Map("o_orderkey" -> 1),
          "output" -> Map("v" -> Map("method" -> "locf"))))))
        .select("o_orderkey", "o_orderstatus", "v")
        .orderBy("o_orderkey")
    }, oracle = """SELECT o_orderkey, o_orderstatus,
        |  LAST_VALUE(v IGNORE NULLS) OVER (
        |    PARTITION BY o_orderstatus ORDER BY o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
        |FROM (SELECT o_orderkey, o_orderstatus,
        |        CASE WHEN o_totalprice < 100000.0 THEN NULL
        |             ELSE o_totalprice END AS v
        |      FROM orders)
        |ORDER BY o_orderkey""".stripMargin),

    // §2.5 $densify: per-supplier-count nation grid — missing nation keys
    // in [0, 25) appear as null-count rows; oracle = generate_series
    Q("q68_densify", run = (s, dir) => {
      coll(s, dir, "supplier").pipe(Seq(
        Map("$match" -> Map("s_suppkey" -> Map("$lte" -> 30))),
        Map("$group" -> Map("_id" -> "$s_nationkey",
          "n_sup" -> Map("$sum" -> 1))),
        Map("$project" -> Map("nk" -> "$_id", "n_sup" -> 1)),
        Map("$densify" -> Map("field" -> "nk",
          "range" -> Map("step" -> 1, "bounds" -> Seq(0, 25))))))
        .select(col("nk").cast("long").as("nk"), col("n_sup"))
        .orderBy("nk")
    }, oracle = """WITH counts AS (
        |  SELECT s_nationkey AS nk, COUNT(*) AS n_sup
        |  FROM supplier WHERE s_suppkey <= 30 GROUP BY s_nationkey)
        |SELECT g.nk, c.n_sup
        |FROM (SELECT UNNEST(range(0, 25)) AS nk) g
        |LEFT JOIN counts c ON g.nk = c.nk
        |ORDER BY g.nk""".stripMargin),

    // §2.4 $out sink: the pipeline result REPLACES the sibling collection
    // (vs $merge's keyed upsert); output = the replaced table read back
    Q("q69_out", run = (s, dir) => {
      val root = tmpCopy(dir, "orders", "graft-out")
      new GraftSession(s, root).db("d").c("orders").pipe(Seq(
        Map("$match" -> Map("o_orderstatus" -> "F")),
        Map("$project" -> Map("o_orderkey" -> 1, "o_totalprice" -> 1)),
        Map("$out" -> "ordsum")))
        .orderBy("o_orderkey")
    }, oracle = """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderstatus = 'F' ORDER BY o_orderkey""".stripMargin),

    // §2.4 higher-order expression operators ($map/$filter/$reduce with
    // $$var lambda binding) — all codegen'd Spark lambda functions
    Q("q70_expr_lang", run = (s, dir) => {
      coll(s, dir, "documents").pipe(Seq(
        Map("$addFields" -> Map(
          "toks" -> Map("$filter" -> Map(
            "input" -> Map("$split" -> Seq("$text", " ")), "as" -> "t",
            "cond" -> Map("$ne" -> Seq("$$t", "")))))),
        Map("$addFields" -> Map(
          "lens" -> Map("$map" -> Map("input" -> "$toks", "as" -> "t",
            "in" -> Map("$strLenCP" -> "$$t"))))),
        Map("$addFields" -> Map(
          "n_toks" -> Map("$toLong" -> Map("$size" -> "$toks")),
          "total_chars" -> Map("$toLong" -> Map("$reduce" -> Map(
            "input" -> "$lens", "initialValue" -> 0,
            "in" -> Map("$add" -> Seq("$$value", "$$this"))))),
          "long_toks" -> Map("$toLong" -> Map("$size" ->
            Map("$filter" -> Map("input" -> "$lens", "as" -> "l",
              "cond" -> Map("$gte" -> Seq("$$l", 6)))))))),
        Map("$project" -> Map("doc_id" -> 1, "n_toks" -> 1,
          "total_chars" -> 1, "long_toks" -> 1))))
        .orderBy("doc_id")
    }, oracle = """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |lens AS (
        |  SELECT doc_id, list_transform(t, x -> length(x)) AS ls FROM toks)
        |SELECT t.doc_id,
        |  CAST(len(t.t) AS BIGINT) AS n_toks,
        |  CAST(COALESCE(list_sum(l.ls), 0) AS BIGINT) AS total_chars,
        |  CAST(len(list_filter(l.ls, x -> x >= 6)) AS BIGINT) AS long_toks
        |FROM toks t JOIN lens l ON t.doc_id = l.doc_id
        |ORDER BY t.doc_id""".stripMargin),

    // §2.4 $topN accumulator + $expr query predicate: first-3
    // total-prices per status ordered by the unique order key
    Q("q71_topn_expr", run = (s, dir) => {
      coll(s, dir, "orders").pipe(Seq(
        Map("$match" -> Map("$expr" ->
          Map("$eq" -> Seq(Map("$mod" -> Seq("$o_orderkey", 2)), 0L)))),
        Map("$group" -> Map("_id" -> "$o_orderstatus",
          "top3" -> Map("$topN" -> Map("output" -> "$o_totalprice",
            "sortBy" -> Map("o_orderkey" -> 1), "n" -> 3))))))
        .select(col("_id").as("status"),
          element_at(col("top3"), 1).as("t1"),
          element_at(col("top3"), 2).as("t2"),
          element_at(col("top3"), 3).as("t3"))
        .orderBy("status")
    }, oracle = """SELECT o_orderstatus AS status,
        |  MAX(CASE WHEN rn = 1 THEN o_totalprice END) AS t1,
        |  MAX(CASE WHEN rn = 2 THEN o_totalprice END) AS t2,
        |  MAX(CASE WHEN rn = 3 THEN o_totalprice END) AS t3
        |FROM (
        |  SELECT o_orderstatus, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_orderkey) AS rn
        |  FROM orders WHERE o_orderkey % 2 = 0)
        |WHERE rn <= 3 GROUP BY o_orderstatus
        |ORDER BY status""".stripMargin),

    // exact $median/$percentile per group — integral quantities at dyadic
    // ranks make interpolation bit-exact across engines
    Q("q72_percentile", run = (s, dir) => {
      coll(s, dir, "lineitem").pipe(Seq(
        Map("$group" -> Map("_id" -> "$l_returnflag",
          "med" -> Map("$median" -> Map("input" -> "$l_quantity")),
          "ps" -> Map("$percentile" -> Map("input" -> "$l_quantity",
            "p" -> Seq(0.25, 0.75)))))))
        .select(col("_id").as("flag"), col("med"),
          element_at(col("ps"), 1).as("p25"),
          element_at(col("ps"), 2).as("p75"))
        .orderBy("flag")
    }, oracle = """SELECT l_returnflag AS flag,
        |  quantile_cont(l_quantity, 0.5) AS med,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.75) AS p75
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY flag""".stripMargin),

    // covariance + bitwise accumulators; covariance over integral-valued
    // doubles decimal-cast for cross-engine exactness
    Q("q73_covar_bits", run = (s, dir) => {
      coll(s, dir, "part").pipe(Seq(
        Map("$group" -> Map("_id" -> "$p_brand",
          "cv" -> Map("$covariancePop" -> Seq("$p_size", "$p_partkey")),
          "ba" -> Map("$bitAnd" -> "$p_size"),
          "bo" -> Map("$bitOr" -> "$p_size"),
          "bx" -> Map("$bitXor" -> "$p_size")))))
        .select(col("_id").as("brand"),
          col("cv").cast("decimal(28,6)").cast("double").as("cv"),
          col("ba"), col("bo"), col("bx"))
        .orderBy("brand")
    }, oracle = """SELECT p_brand AS brand,
        |  CAST(CAST(covar_pop(p_size, p_partkey) AS DECIMAL(28,6))
        |    AS DOUBLE) AS cv,
        |  bit_and(p_size) AS ba, bit_or(p_size) AS bo,
        |  bit_xor(p_size) AS bx
        |FROM part GROUP BY p_brand
        |ORDER BY brand""".stripMargin),

    // skew-mitigated two-stage aggregation: salted partial sums must be
    // indistinguishable from the plain aggregate (the oracle)
    Q("q67_salted_agg", run = (s, dir) =>
      graft.ops.Skew.saltedSumCount(tbl(s, dir, "lineitem"), "l_returnflag",
        "l_quantity", salt = 8)
        .select(col("l_returnflag"),
          col("sum").cast("long").as("sum_qty"), col("count").as("cnt"))
        .orderBy("l_returnflag"),
      oracle = """SELECT l_returnflag, CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
        |       COUNT(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    // §2.4 $bucketAuto: ~equal-count buckets via cumulative counts over
    // DISTINCT values (window over |distinct| rows, data never
    // single-partition-sorted); oracle mirrors the same construction
    Q("q63_bucket_auto", run = (s, dir) => {
      coll(s, dir, "orders").pipe(Seq(
        Map("$bucketAuto" -> Map("groupBy" -> "$o_totalprice",
          "buckets" -> 5))))
        .select(col("_id.min").as("bucket_min"),
          col("_id.max").as("bucket_max"), col("count"))
        .orderBy("bucket_min")
    }, oracle = """WITH freq AS (
        |  SELECT o_totalprice AS bv, COUNT(*) AS f FROM orders GROUP BY bv),
        |cum AS (
        |  SELECT bv, f,
        |    SUM(f) OVER (ORDER BY bv
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - f AS c,
        |    SUM(f) OVER () AS n
        |  FROM freq),
        |assigned AS (
        |  SELECT bv, f,
        |    LEAST(CAST(FLOOR(c * 5 / n) AS BIGINT), 4) AS bucket
        |  FROM cum)
        |SELECT MIN(bv) AS bucket_min, MAX(bv) AS bucket_max,
        |       CAST(SUM(f) AS BIGINT) AS count
        |FROM assigned GROUP BY bucket ORDER BY bucket_min""".stripMargin),

    // ISO calendar + date construction/deconstruction expression ops
    Q("q76_datetime", run = (s, dir) =>
      coll(s, dir, "orders").pipe(Seq(
        Map("$match" -> Map("o_orderkey" -> Map("$lte" -> 2000))),
        Map("$addFields" -> Map(
          "dow" -> Map("$dayOfWeek" -> "$o_orderdate"),
          "idow" -> Map("$isoDayOfWeek" -> "$o_orderdate"),
          "iwk" -> Map("$isoWeek" -> "$o_orderdate"),
          "iwy" -> Map("$isoWeekYear" -> "$o_orderdate"),
          "rebuilt" -> Map("$dateFromParts" -> Map(
            "year" -> Map("$year" -> "$o_orderdate"),
            "month" -> Map("$month" -> "$o_orderdate"),
            "day" -> Map("$dayOfMonth" -> "$o_orderdate"),
            "hour" -> 12, "minute" -> 30, "second" -> 15,
            "millisecond" -> 250)))),
        Map("$addFields" -> Map(
          "ms" -> Map("$millisecond" -> "$rebuilt"),
          "parts" -> Map("$dateToParts" -> Map("date" -> "$rebuilt"))))))
        .select(col("o_orderkey"), col("dow"), col("idow"), col("iwk"),
          col("iwy"), col("rebuilt"), col("ms"),
          col("parts.second").as("psec"),
          col("parts.millisecond").as("pms"))
        .orderBy("o_orderkey"),
      oracle = """WITH b AS (
        |  SELECT o_orderkey,
        |    CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
        |    CAST(isodow(o_orderdate) AS INT) AS idow,
        |    CAST(week(o_orderdate) AS INT) AS iwk,
        |    CAST(isoyear(o_orderdate) AS BIGINT) AS iwy,
        |    make_timestamp(year(o_orderdate), month(o_orderdate),
        |      day(o_orderdate), 12, 30, 15.250) AS rebuilt
        |  FROM orders WHERE o_orderkey <= 2000)
        |SELECT o_orderkey, dow, idow, iwk, iwy, rebuilt,
        |  CAST((epoch_us(rebuilt) % 1000000) // 1000 AS INT) AS ms,
        |  CAST(second(rebuilt) AS BIGINT) AS psec,
        |  CAST((epoch_us(rebuilt) % 1000000) // 1000 AS BIGINT) AS pms
        |FROM b ORDER BY o_orderkey""".stripMargin),

    // trigonometric / logarithmic expression ops; irrational outputs
    // decimal-rounded in BOTH engines (libm last-ulp differences)
    Q("q77_trig", run = (s, dir) => {
      def r9(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        c.cast("decimal(18,9)").cast("double")
      coll(s, dir, "nation").pipe(Seq(
        Map("$addFields" -> Map(
          "x" -> Map("$divide" -> Seq("$n_nationkey", 25.0)),
          "y" -> Map("$divide" -> Seq("$n_nationkey", 10.0)))),
        Map("$addFields" -> Map(
          "vsin" -> Map("$sin" -> "$y"), "vcos" -> Map("$cos" -> "$y"),
          "vtan" -> Map("$tan" -> "$x"),
          "vasin" -> Map("$asin" -> "$x"), "vacos" -> Map("$acos" -> "$x"),
          "vatan" -> Map("$atan" -> "$y"),
          "vatan2" -> Map("$atan2" -> Seq("$y", Map("$add" -> Seq("$x", 1.0)))),
          "vsinh" -> Map("$sinh" -> "$x"), "vcosh" -> Map("$cosh" -> "$x"),
          "vtanh" -> Map("$tanh" -> "$x"),
          "vrad" -> Map("$degreesToRadians" ->
            Map("$multiply" -> Seq("$n_nationkey", 15))),
          "vdeg" -> Map("$radiansToDegrees" -> "$x"),
          "vlog" -> Map("$log" ->
            Seq(Map("$add" -> Seq("$n_nationkey", 2)), 2.0))))))
        .select(col("n_nationkey") +: Seq("vsin", "vcos", "vtan", "vasin",
          "vacos", "vatan", "vatan2", "vsinh", "vcosh", "vtanh", "vrad",
          "vdeg", "vlog").map(n => r9(col(n)).as(n)): _*)
        .orderBy("n_nationkey")
    }, oracle = {
      def r9(e: String): String = s"CAST(CAST($e AS DECIMAL(18,9)) AS DOUBLE)"
      s"""WITH b AS (SELECT n_nationkey,
         |  CAST(n_nationkey AS DOUBLE)/25.0 AS x,
         |  CAST(n_nationkey AS DOUBLE)/10.0 AS y FROM nation)
         |SELECT n_nationkey,
         |  ${r9("sin(y)")} AS vsin, ${r9("cos(y)")} AS vcos,
         |  ${r9("tan(x)")} AS vtan,
         |  ${r9("asin(x)")} AS vasin, ${r9("acos(x)")} AS vacos,
         |  ${r9("atan(y)")} AS vatan, ${r9("atan2(y, x + 1.0)")} AS vatan2,
         |  ${r9("(exp(x) - exp(-x)) / 2.0")} AS vsinh,
         |  ${r9("(exp(x) + exp(-x)) / 2.0")} AS vcosh,
         |  ${r9("(exp(x) - exp(-x)) / (exp(x) + exp(-x))")} AS vtanh,
         |  ${r9("radians(n_nationkey * 15)")} AS vrad,
         |  ${r9("degrees(x)")} AS vdeg,
         |  ${r9("ln(n_nationkey + 2) / ln(2.0)")} AS vlog
         |FROM b ORDER BY n_nationkey""".stripMargin
    }),

    // set predicates ($setEquals/$setIsSubset/$allElementsTrue/
    // $anyElementTrue), array literals, struct field surgery
    Q("q78_sets", run = (s, dir) =>
      coll(s, dir, "nation").pipe(Seq(
        Map("$addFields" -> Map(
          "a" -> Seq(Map("$mod" -> Seq("$n_nationkey", 5)),
            "$n_regionkey", 2),
          "b" -> Seq(0, 1, 2, 3, 4),
          "o" -> Map("x" -> "$n_nationkey", "y" -> "$n_name"))),
        Map("$addFields" -> Map(
          "subset" -> Map("$setIsSubset" -> Seq("$a", "$b")),
          "eq" -> Map("$setEquals" -> Seq("$a",
            Seq(2, "$n_regionkey", Map("$mod" -> Seq("$n_nationkey", 5))))),
          "anyBig" -> Map("$anyElementTrue" -> Seq(Map("$map" -> Map(
            "input" -> "$a", "as" -> "v",
            "in" -> Map("$gte" -> Seq("$$v", 3)))))),
          "allNonNeg" -> Map("$allElementsTrue" -> Seq(Map("$map" -> Map(
            "input" -> "$a", "as" -> "v",
            "in" -> Map("$gte" -> Seq("$$v", 0)))))),
          "gf" -> Map("$getField" -> Map("field" -> "y", "input" -> "$o")),
          "sf" -> Map("$setField" -> Map("field" -> "x", "input" -> "$o",
            "value" -> Map("$multiply" -> Seq("$n_nationkey", 2)))),
          "uf" -> Map("$unsetField" ->
            Map("field" -> "x", "input" -> "$o"))))))
        .select(col("n_nationkey"), col("subset"), col("eq"),
          col("anyBig"), col("allNonNeg"), col("gf"),
          col("sf.x").as("sfx"), col("uf.y").as("ufy"))
        .orderBy("n_nationkey"),
      oracle = """WITH b AS (SELECT n_nationkey, n_name, n_regionkey,
        |  [n_nationkey % 5, n_regionkey, 2] AS a,
        |  [0, 1, 2, 3, 4] AS bb FROM nation)
        |SELECT n_nationkey,
        |  len(list_filter(list_distinct(a), v -> NOT list_contains(bb, v))) = 0 AS subset,
        |  list_sort(list_distinct(a)) =
        |    list_sort(list_distinct([2, n_regionkey, n_nationkey % 5])) AS eq,
        |  len(list_filter(a, v -> v >= 3)) > 0 AS "anyBig",
        |  len(list_filter(a, v -> v >= 0)) = len(a) AS "allNonNeg",
        |  n_name AS gf,
        |  CAST(n_nationkey * 2 AS INT) AS sfx,
        |  n_name AS ufy
        |FROM b ORDER BY n_nationkey""".stripMargin),

    // regex find/findAll, checked $convert, $dateFromString, byte-level
    // string ops — all codegen'd scalar expressions, zero shuffles
    Q("q83_string_convert", run = (s, dir) => {
      val rf = Map("$regexFind" ->
        Map("input" -> "$p_brand", "regex" -> "#([0-9]+)"))
      coll(s, dir, "part").pipe(Seq(
        Map("$match" -> Map("p_partkey" -> Map("$lte" -> 500))),
        Map("$addFields" -> Map(
          "rf_match" -> Map("$getField" ->
            Map("field" -> "match", "input" -> rf)),
          "cap" -> Map("$arrayElemAt" -> Seq(Map("$getField" ->
            Map("field" -> "captures", "input" -> rf)), 0)),
          "rfa" -> Map("$regexFindAll" ->
            Map("input" -> "$p_name", "regex" -> "[a-z]{4,}")),
          "bnum" -> Map("$convert" -> Map(
            "input" -> Map("$arrayElemAt" -> Seq(Map("$getField" ->
              Map("field" -> "captures", "input" -> rf)), 0)),
            "to" -> "int")),
          "conv_err" -> Map("$convert" -> Map("input" -> "$p_type",
            "to" -> "int", "onError" -> -1)),
          "parsed" -> Map("$dateFromString" -> Map(
            "dateString" -> Map("$concat" -> Seq("2024-0", Map("$toString" ->
              Map("$add" -> Seq(Map("$mod" -> Seq("$p_size", 9)), 1))),
              "-15")),
            "format" -> "%Y-%m-%d")),
          "blen" -> Map("$strLenBytes" -> "$p_name"),
          "bsub" -> Map("$substrBytes" -> Seq("$p_name", 2, 6))))))
        .select(col("p_partkey"), col("rf_match"), col("cap"),
          // stringified: driver comparator can't sort/hash raw arrays
          concat_ws(",", col("rfa")).as("rfa"),
          col("bnum"), col("conv_err"), col("parsed"),
          col("blen").cast("long").as("blen"), col("bsub"))
        .orderBy("p_partkey")
    }, oracle = """SELECT p_partkey,
        |  regexp_extract(p_brand, '#([0-9]+)', 0) AS rf_match,
        |  regexp_extract(p_brand, '#([0-9]+)', 1) AS cap,
        |  COALESCE(
        |    array_to_string(regexp_extract_all(p_name, '[a-z]{4,}'), ','),
        |    '') AS rfa,
        |  CAST(regexp_extract(p_brand, '#([0-9]+)', 1) AS INT) AS bnum,
        |  COALESCE(TRY_CAST(p_type AS INT), -1) AS conv_err,
        |  strptime('2024-0' || CAST(p_size % 9 + 1 AS VARCHAR) || '-15',
        |    '%Y-%m-%d') AS parsed,
        |  strlen(p_name) AS blen,
        |  substr(p_name, 3, 6) AS bsub
        |FROM part WHERE p_partkey <= 500 ORDER BY p_partkey""".stripMargin),

    // document-shape surgery: build maps from entry arrays, merge with
    // last-wins override, explode back to sorted entries — all Column math
    Q("q86_object_surgery", run = (s, dir) =>
      coll(s, dir, "nation").pipe(Seq(
        Map("$addFields" -> Map(
          "m1" -> Map("$arrayToObject" -> Seq(Seq(
            Map("k" -> "a", "v" -> Map("$toLong" -> "$n_nationkey")),
            Map("k" -> "b", "v" -> Map("$toLong" -> "$n_regionkey"))))),
          "m2" -> Map("$arrayToObject" -> Seq(Seq(
            Map("k" -> "b", "v" -> Map("$multiply" ->
              Seq(Map("$toLong" -> "$n_regionkey"), 2L))),
            Map("k" -> "c", "v" -> 7L)))))),
        Map("$addFields" -> Map(
          "ents" -> Map("$sortArray" -> Map(
            "input" -> Map("$objectToArray" ->
              Map("$mergeObjects" -> Seq("$m1", "$m2"))),
            "sortBy" -> 1))))))
        .select(col("n_nationkey"),
          // stringified k:v entries — driver comparator can't hash
          // array<struct> columns
          concat_ws(",", transform(col("ents"),
            e => concat(e.getField("k"), lit(":"),
              e.getField("v").cast("string")))).as("ents"))
        .orderBy("n_nationkey"),
      oracle = """SELECT n_nationkey,
        |  'a:' || CAST(n_nationkey AS BIGINT)
        |    || ',b:' || (CAST(n_regionkey AS BIGINT) * 2)
        |    || ',c:7' AS ents
        |FROM nation ORDER BY n_nationkey""".stripMargin),
  )
}
