package graft.queries

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Decontaminate, Similarity, TextFunctions, Multimodal,
  Chunking, Redaction, LanguageModel, Dsir, Classifier, Sampling}
import graft.sources.Tables.storeWrite

import Fixtures._
import Oracles._

/** LLM-data curation: language ID, quality scoring, decontamination,
  * redaction, sampling and mixing, chunking, bitext mining and the
  * curation presets. */
private[queries] object CurationQueries {

  /** The q243/q254 crawl fixture: synthetic (url, html) over the
    * documents table — 8 URL variants per residue class (case, port,
    * www, tracking params, session ids, fragments) and HTML with
    * script/style/comment/entity traps. Shared by the one-shot and
    * incremental crawl-preset queries so their SHARED oracle replays
    * one construction. */
  private def webCurateFixture(s: SparkSession, dir: String): DataFrame = {
    val pre = Seq(
      "https://Example.com/p", "https://example.com/p",
      "https://example.com:443/p", "https://www.example.com/p",
      "https://example.com/p", "https://example.com/p",
      "https://example.com/p", "https://other.org/p")
    val suf = Seq(
      "/b?utm_source=x&id=7&z=2", "/b?z=2&id=7", "/b?id=7&z=2#frag",
      "/b/?id=7&z=2", "/b?jsessionid=A9F3&id=7&z=2", "/b?id=8&z=2",
      "/b?ref=main&id=7&z=2", "/c")
    tbl(s, dir, "documents").where(col("doc_id") < 360)
      .withColumn("url", concat(
        element_at(typedlit(pre), (col("doc_id") % 8 + 1).cast("int")),
        (col("doc_id") / 8).cast("long").cast("string"),
        element_at(typedlit(suf), (col("doc_id") % 8 + 1).cast("int"))))
      .withColumn("html", concat(
        lit("<html><head><style>p{color:red}</style>" +
          "<script type=\"text/javascript\">var x=1 && 2;</script>" +
          "</head><body><h1>Doc "),
        col("doc_id").cast("string"),
        lit("</h1><!-- hidden --><p>"), col("text"),
        lit(" &amp; more &lt;tags&gt;&nbsp;&#39;quoted&#39;" +
          "</p></body></html>")))
  }

  /** The q243 crawl-preset replay (URL chain, HTML chain, first-fetch
    * window, marker scores, quality formula, content-dedup window),
    * shared verbatim by q254: the incremental chain must equal the
    * one-shot preset on the union. */
  private def webCurateOracle: String = {
      val scores = TextFunctions.LangMarkers.map { case (lang, ms) =>
        val lst = ms.map(m => s"'$m'").mkString(", ")
        s"len(list_filter(t, x -> list_contains([$lst], x))) AS s_$lang"
      }.mkString(",\n  ")
      val langs = TextFunctions.LangMarkers.map(_._1)
      val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
      val total = langs.map("s_" + _).mkString(" + ")
      val cases = langs.map(l =>
        s"WHEN ($total) > 0 AND s_$l = $best THEN '$l'").mkString("\n    ")
      val stop = TextFunctions.Stopwords.map(m => s"'$m'").mkString(", ")
      s"""WITH d0 AS (SELECT doc_id, text,
         |  CASE doc_id % 8
         |    WHEN 0 THEN 'https://Example.com/p' || (doc_id // 8)
         |      || '/b?utm_source=x&id=7&z=2'
         |    WHEN 1 THEN 'https://example.com/p' || (doc_id // 8)
         |      || '/b?z=2&id=7'
         |    WHEN 2 THEN 'https://example.com:443/p' || (doc_id // 8)
         |      || '/b?id=7&z=2#frag'
         |    WHEN 3 THEN 'https://www.example.com/p' || (doc_id // 8)
         |      || '/b/?id=7&z=2'
         |    WHEN 4 THEN 'https://example.com/p' || (doc_id // 8)
         |      || '/b?jsessionid=A9F3&id=7&z=2'
         |    WHEN 5 THEN 'https://example.com/p' || (doc_id // 8)
         |      || '/b?id=8&z=2'
         |    WHEN 6 THEN 'https://example.com/p' || (doc_id // 8)
         |      || '/b?ref=main&id=7&z=2'
         |    ELSE 'https://other.org/p' || (doc_id // 8) || '/c'
         |  END AS url,
         |  '<html><head><style>p{color:red}</style>' ||
         |  '<script type="text/javascript">var x=1 && 2;</script>' ||
         |  '</head><body><h1>Doc ' || doc_id ||
         |  '</h1><!-- hidden --><p>' || text ||
         |  ' &amp; more &lt;tags&gt;&nbsp;&#39;quoted&#39;' ||
         |  '</p></body></html>' AS html
         |  FROM documents WHERE doc_id < 360),
         |u1 AS (SELECT doc_id, html,
         |  regexp_replace(url, '#.*', '') AS u FROM d0),
         |usp AS (SELECT doc_id, html,
         |  regexp_extract(u, '^([^?]*)', 1) AS p,
         |  regexp_replace(u, '^[^?]*', '') AS q FROM u1),
         |u2a AS (SELECT doc_id, html, p, regexp_replace(regexp_replace(
         |  regexp_replace(regexp_replace(q,
         |    '([?&])(?i:utm_[a-z0-9_]+|fbclid|gclid|jsessionid|phpsessid)=[^&]*',
         |    '\\1', 'g'), '&&+', '&', 'g'), '^\\?&', '?'), '[?&]$$', '')
         |  AS q FROM usp),
         |u2 AS (SELECT doc_id, html, p,
         |  CASE WHEN qb = '' THEN '' ELSE '?' ||
         |    array_to_string(list_sort(string_split(qb, '&')), '&') END
         |  AS q
         |  FROM (SELECT doc_id, html, p,
         |        regexp_replace(q, '^\\?', '') AS qb FROM u2a)),
         |u3 AS (SELECT doc_id, html,
         |  regexp_replace(p, '/+$$', '') AS p, q FROM u2),
         |u4 AS (SELECT doc_id, html,
         |  lower(regexp_extract(p,
         |    '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)) ||
         |  regexp_replace(p, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', '')
         |  AS p, q FROM u3),
         |u5 AS (SELECT doc_id, html, regexp_replace(regexp_replace(p,
         |  '^(http://[^/?#]*):80([/?#]|$$)', '\\1\\2'),
         |  '^(https://[^/?#]*):443([/?#]|$$)', '\\1\\2') AS p, q FROM u4),
         |u6 AS (SELECT doc_id, html,
         |  regexp_replace(p, '^(https?://)www\\.', '\\1') || q AS canon
         |  FROM u5),
         |h1 AS (SELECT doc_id, canon, regexp_replace(html,
         |  '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS c FROM u6),
         |h2 AS (SELECT doc_id, canon, regexp_replace(c,
         |  '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS c FROM h1),
         |h3 AS (SELECT doc_id, canon, regexp_replace(c,
         |  '(?s)<!--.*?-->', ' ', 'g') AS c FROM h2),
         |h4 AS (SELECT doc_id, canon, regexp_replace(c,
         |  '<[^>]*>', ' ', 'g') AS c FROM h3),
         |h5 AS (SELECT doc_id, canon, regexp_replace(regexp_replace(
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |  c, '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
         |  '&#39;', CHR(39), 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&',
         |  'g') AS c FROM h4),
         |ex AS (SELECT doc_id, canon,
         |  trim(regexp_replace(c, '\\s+', ' ', 'g')) AS ct FROM h5),
         |ud AS (SELECT doc_id, canon, ct, row_number() OVER (
         |  PARTITION BY canon ORDER BY doc_id) AS urn FROM ex),
         |tk AS (SELECT doc_id, canon, ct,
         |  list_filter(string_split(ct, ' '), x -> x <> '') AS t
         |  FROM ud WHERE urn = 1),
         |sc AS (SELECT doc_id, canon, ct, t, $scores FROM tk),
         |lg AS (SELECT doc_id, canon, ct, t,
         |  CASE $cases ELSE 'und' END AS predicted FROM sc),
         |ql AS (SELECT doc_id, canon, ct, predicted,
         |  CAST(len(list_filter(t, x -> list_contains([$stop], x)))
         |    AS DOUBLE) / greatest(CAST(len(t) AS DOUBLE), 1.0) * 0.4
         |  + CAST(length(regexp_replace(ct, '[^A-Za-z]', '', 'g'))
         |    AS DOUBLE) / greatest(CAST(length(ct) AS DOUBLE), 1.0)
         |    * 0.4
         |  + least(CAST(len(t) AS DOUBLE) / 100.0, 1.0) * 0.2
         |  AS quality FROM lg),
         |g AS (SELECT * FROM ql
         |  WHERE predicted = 'en' AND quality >= 0.3),
         |dd AS (SELECT *, row_number() OVER (
         |  PARTITION BY md5(ct) ORDER BY doc_id) AS rn FROM g)
         |SELECT doc_id, canon AS url_canonical,
         |  predicted AS predicted_lang, quality
         |FROM dd WHERE rn = 1 ORDER BY doc_id""".stripMargin
    }

  /** q231 fixture: one unambiguous sentence per LangMarkers language
    * (>= 7 of its own markers, <= 3 of any other language's), shared
    * by the Spark query and the DuckDB oracle so both classify the
    * identical text. */
  private val LangIdSentences: Seq[(String, String)] = Seq(
    "en" -> "the cat is in the garden and it is quiet",
    "es" -> "el perro de la casa que veo en un parque",
    "de" -> "der hund und die katze ist nicht ein problem zu haben",
    "fr" -> "le chien et les chats dans un jardin est une joie",
    "zh" -> "我 在 人 的 有 是 不 了",
    "it" -> "il libro di storia che non leggo per una sera sono anche qui",
    "pt" -> "não vejo uma casa mais bonita como também são dos meus",
    "nl" -> "het huis een boom van hout dat niet zijn voor maar",
    "sv" -> "och huset som är för stort med inte på taket",
    "da" -> "og huset af træ det skal til ikke hvad også være der",
    "no" -> "og huset av tre det står på ikke hva fra eller her",
    "ru" -> "и я не знаю на что это как его для меня",
    "tr" -> "bir ev ve bu bahçe için ile olarak daha çok güzel",
    "cs" -> "je se na to že ale jsem tady jako pro tebe",
    "pl" -> "nie wiem się to jest że do domu jak ale przez okno")

  /** Shared oracle for the exact (q108) and Bloom-prefiltered (q151)
    * decontamination paths — the Bloom sketch only prunes rows the exact
    * join would drop anyway, so both must produce THIS answer. */
  private val decontamSql =
    """WITH ct AS (SELECT doc_id, list_filter(string_split(text, ' '),
      |    x -> x <> '') AS t FROM documents WHERE doc_id % 2 = 1),
      |bt AS (SELECT doc_id, list_filter(string_split(text, ' '),
      |    x -> x <> '') AS t FROM documents WHERE doc_id % 2 = 0),
      |cs AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
      |  FROM ct, UNNEST(range(1, len(t)-1)) AS u(i) WHERE len(t) >= 3),
      |bs0 AS (SELECT DISTINCT doc_id AS b_id,
      |    array_to_string(t[i:i+2], ' ') AS sh
      |  FROM bt, UNNEST(range(1, len(t)-1)) AS u(i) WHERE len(t) >= 3),
      |-- the engine's maxBenchDf=100 stop-shingle cap, applied on the
      |-- benchmark side BEFORE the join (rows are distinct (doc, sh))
      |kept AS (SELECT sh FROM bs0 GROUP BY sh HAVING COUNT(*) <= 100),
      |bs AS (SELECT bs0.b_id, bs0.sh FROM bs0 JOIN kept USING (sh))
      |SELECT cs.doc_id AS doc_id,
      |  CAST(COUNT(DISTINCT cs.sh) AS BIGINT) AS hits,
      |  CAST(COUNT(DISTINCT bs.b_id) AS BIGINT) AS bench_docs,
      |  MIN(bs.b_id) AS first_bench
      |FROM cs JOIN bs USING (sh)
      |GROUP BY 1 HAVING COUNT(DISTINCT cs.sh) >= 3
      |ORDER BY doc_id""".stripMargin

  // the data-card replay: q25's langId argmax per doc -> per-source
  // top-lang window; quantile_cont for the exact percentile (the
  // q226 parity); md5 distinct for the dup rate — shared by q259
  // (one-shot) and q263 (sidecar-derived on the union)
  private lazy val corpusReportOracle: String = {
    val scores = TextFunctions.LangMarkers.map { case (lang, ms) =>
      val lst = ms.map(m => s"'$m'").mkString(", ")
      s"len(list_filter(t, x -> list_contains([$lst], x))) AS s_$lang"
    }.mkString(",\n  ")
    val langs = TextFunctions.LangMarkers.map(_._1)
    val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
    val total = langs.map("s_" + _).mkString(" + ")
    val cases = langs.map(l =>
      s"WHEN ($total) > 0 AND s_$l = $best THEN '$l'").mkString("\n    ")
    s"""WITH $toksCte,
       |s AS (SELECT doc_id, $scores FROM toks),
       |pl AS (
       |  SELECT d.doc_id, d.source,
       |    CASE $cases ELSE 'und' END AS lang
       |  FROM documents d JOIN s ON s.doc_id = d.doc_id
       |  WHERE d.text IS NOT NULL),
       |lc AS (SELECT source, lang, COUNT(*) AS n
       |  FROM pl GROUP BY source, lang),
       |tl AS (SELECT source, lang AS top_lang, n,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY n DESC, lang) AS r
       |  FROM lc),
       |st AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    COUNT(CASE WHEN text IS NULL OR text = '' THEN 1 END)
       |      AS n_empty,
       |    COALESCE(CAST(SUM(len(text)) AS BIGINT), 0) AS total_chars,
       |    quantile_cont(len(text), 0.25) AS chars_p25,
       |    quantile_cont(len(text), 0.5) AS chars_p50,
       |    quantile_cont(len(text), 0.75) AS chars_p75,
       |    COUNT(DISTINCT md5(text)) AS distinct_texts
       |  FROM documents GROUP BY source)
       |SELECT st.source, st.n_docs, st.n_empty, st.total_chars,
       |  CAST(CAST(st.chars_p25 AS DECIMAL(18,6)) AS DOUBLE) AS chars_p25,
       |  CAST(CAST(st.chars_p50 AS DECIMAL(18,6)) AS DOUBLE) AS chars_p50,
       |  CAST(CAST(st.chars_p75 AS DECIMAL(18,6)) AS DOUBLE) AS chars_p75,
       |  st.distinct_texts,
       |  CAST(CAST(1.0 - CAST(st.distinct_texts AS DOUBLE) / st.n_docs
       |    AS DECIMAL(18,9)) AS DOUBLE) AS dup_rate,
       |  tl.top_lang,
       |  CAST(CAST(CAST(tl.n AS DOUBLE) / st.n_docs
       |    AS DECIMAL(18,9)) AS DOUBLE) AS top_lang_share
       |FROM st LEFT JOIN tl
       |  ON tl.source IS NOT DISTINCT FROM st.source AND tl.r = 1
       |ORDER BY st.source""".stripMargin
  }

  /** The q242 bitext-LSH replay, shared verbatim by q251: the store
    * path must produce EXACTLY what the recompute path produces, so
    * the two queries check against one oracle text — bucket replay
    * via bit-exact sign tests, candidate equi-join, then the q240
    * margin windows over candidates only. */
  private def bitextLshOracle: String = {
    def buckets(cte: String): String =
      (0 until 8).map { t =>
        s"SELECT vec_id, $t AS t, " +
          s"${hyperBucketSql("embedding", t, 8, 64)} AS bkt FROM $cte"
      }.mkString("\nUNION ALL\n")
    s"""WITH a AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id < 40),
       |b AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id >= 40 AND vec_id < 80),
       |ba AS (${buckets("a")}),
       |bb AS (${buckets("b")}),
       |cand AS (SELECT DISTINCT ba.vec_id AS ia, bb.vec_id AS ib
       |  FROM ba JOIN bb ON ba.t = bb.t AND ba.bkt = bb.bkt),
       |p AS (SELECT cand.ia, cand.ib,
       |  a.embedding AS ea, b.embedding AS eb
       |  FROM cand JOIN a ON a.vec_id = cand.ia
       |  JOIN b ON b.vec_id = cand.ib),
       |${cosineCtes("p")},
       |s AS (SELECT ia AS a_id, ib AS b_id,
       |  dot / (sqrt(na) * sqrt(nb)) AS cos FROM d),
       |r AS (SELECT a_id, b_id, cos,
       |  row_number() OVER (PARTITION BY a_id
       |    ORDER BY cos DESC, b_id) AS rab,
       |  row_number() OVER (PARTITION BY b_id
       |    ORDER BY cos DESC, a_id) AS rba FROM s),
       |av AS (SELECT a_id, b_id, cos, rab, rba,
       |  avg(CASE WHEN rab <= 4 THEN cos END)
       |    OVER (PARTITION BY a_id) AS avga,
       |  avg(CASE WHEN rba <= 4 THEN cos END)
       |    OVER (PARTITION BY b_id) AS avgb FROM r),
       |m AS (SELECT a_id, b_id, cos,
       |  cos / (avga / 2 + avgb / 2) AS margin
       |  FROM av WHERE rab = 1 AND rba = 1)
       |SELECT a_id, b_id,
       |  CAST(CAST(cos AS DECIMAL(18,9)) AS DOUBLE) AS cos,
       |  CAST(CAST(margin AS DECIMAL(18,9)) AS DOUBLE) AS margin
       |FROM m WHERE margin >= 1.0 ORDER BY a_id""".stripMargin
  }

  /** The q249 whole-preset replay (pinned-plane buckets, exact-cosine
    * pairs, recursive CC, keep-best window, brute decon, hash-sample
    * arithmetic), shared verbatim by q253: the incremental chain must
    * produce EXACTLY the one-shot preset's output on the union. */
  private def embedCurateOracle: String =
    s"""WITH RECURSIVE raw AS (
         |${lshBucketsCte(4, 8, 64)}),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
         |  FROM raw a JOIN raw b
         |    ON a.t = b.t AND a.bkt = b.bkt AND a.vec_id < b.vec_id),
         |pp AS (
         |  SELECT ia, ib, x.embedding AS ea, y.embedding AS eb FROM cand
         |  JOIN embeddings x ON x.vec_id = ia
         |  JOIN embeddings y ON y.vec_id = ib),
         |${cosineCtes("pp")},
         |p AS (SELECT ia AS id_a, ib AS id_b FROM d
         |  WHERE dot / (sqrt(na) * sqrt(nb)) >= 0.3),
         |und AS (SELECT id_a AS a, id_b AS b FROM p
         |        UNION SELECT id_b, id_a FROM p),
         |reach(a, b) AS (
         |  SELECT a, b FROM und
         |  UNION
         |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
         |comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS component
         |         FROM reach GROUP BY a),
         |lab AS (
         |  SELECT e.vec_id,
         |    COALESCE(c.component, e.vec_id) AS component,
         |    (e.vec_id * 37) % 101 AS q
         |  FROM embeddings e LEFT JOIN comp c ON c.id = e.vec_id),
         |r AS (
         |  SELECT vec_id, component,
         |    count(*) OVER (PARTITION BY component) AS cluster_size,
         |    row_number() OVER (PARTITION BY component
         |      ORDER BY q DESC, vec_id) AS rn
         |  FROM lab),
         |kept AS (SELECT vec_id, component, cluster_size FROM r
         |  WHERE rn = 1),
         |bp AS (
         |  SELECT c.vec_id AS ia, b.vec_id AS ib,
         |    c.embedding AS ea, b.embedding AS eb
         |  FROM embeddings c, embeddings b WHERE b.vec_id < 8),
         |d2 AS (SELECT ia, ib,
         |  SUM(CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS dot,
         |  SUM(CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE)) AS na,
         |  SUM(CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS nb
         |  FROM bp, UNNEST(range(1, len(ea) + 1)) AS u(i)
         |  GROUP BY ia, ib),
         |flag AS (SELECT DISTINCT ia AS vec_id FROM d2
         |  WHERE dot / (sqrt(na) * sqrt(nb)) >= 0.5)
         |SELECT k.vec_id, k.component, k.cluster_size FROM kept k
         |WHERE k.vec_id NOT IN (SELECT vec_id FROM flag)
         |  AND ('0x' || substr(md5(k.vec_id::VARCHAR), 1, 15))::BIGINT
         |      % 1000000 < 800000
         |ORDER BY k.vec_id""".stripMargin

  val all: Seq[Q] = Seq(

    Q("q243_web_curate", run = (s, dir) =>
      graft.ops.Curation.webCurate(webCurateFixture(s, dir),
        "doc_id", "url", "html", targetLang = "en", minQuality = 0.3)
        .select("doc_id", "url_canonical", "predicted_lang", "quality")
        .orderBy("doc_id"),
      oracle = webCurateOracle),

    // the INCREMENTAL crawl chain: bootstrap on the first half of the
    // q243 fixture (ids monotone across batches), persist the two key
    // stores, fold the second half through the store anti-joins, and
    // the UNION of the two curated batches must equal the one-shot
    // q243 preset on the whole fixture (SHARED oracle)
    Q("q254_web_curate_incremental", run = (s, dir) => {
      val df = webCurateFixture(s, dir)
      val boot = graft.ops.Curation.webCurateBootstrap(
        df.where(col("doc_id") < 180), "doc_id", "url", "html",
        targetLang = "en", minQuality = 0.3)
      val urlKeys = scratchDir("graft-urlkeys").toString
      val contentKeys = scratchDir("graft-contentkeys").toString
      // two independent key-store writes overlapped (guide §2.6)
      concurrently(
        () => boot.newUrlKeys.write.mode("overwrite").parquet(urlKeys),
        () => boot.newContentKeys.write.mode("overwrite")
          .parquet(contentKeys))
      val incr = graft.ops.Curation.webCurateIncremental(
        df.where(col("doc_id") >= 180), s.read.parquet(urlKeys),
        s.read.parquet(contentKeys), "doc_id", "url", "html",
        targetLang = "en", minQuality = 0.3)
      boot.curated.unionByName(incr.curated)
        .select("doc_id", "url_canonical", "predicted_lang", "quality")
        .orderBy("doc_id")
    },
    // the incremental crawl chain must equal the one-shot preset on
    // the union — SAME oracle text as q243 (shared helper)
    oracle = webCurateOracle),

    // language-ID confidence: best-minus-second marker margin next to
    // the label — the ambiguous Scandinavian slot (og det ikke) lands
    // margin 0 where its label alone reads as a confident "da"
    Q("q237_langid_margin", run = (s, dir) => {
      val sents = LangIdSentences.map(_._2) :+ "og det ikke"
      tbl(s, dir, "documents").where(col("doc_id") < 480)
        .withColumn("mtext", element_at(typedlit(sents),
          (col("doc_id") % 16 + 1).cast("int")))
        .select(col("doc_id"),
          TextFunctions.langId(col("mtext")).as("predicted"),
          TextFunctions.langIdMargin(col("mtext")).cast("long")
            .as("margin"))
        .orderBy("doc_id")
    },
    // the q231 score replay plus the sorted-scores margin
    oracle = {
      val sents = LangIdSentences.map(_._2) :+ "og det ikke"
      val textCase = sents.zipWithIndex.map { case (t, i) =>
        s"WHEN $i THEN '$t'" }.mkString("\n    ")
      val scores = TextFunctions.LangMarkers.map { case (lang, ms) =>
        val lst = ms.map(m => s"'$m'").mkString(", ")
        s"len(list_filter(t, x -> list_contains([$lst], x))) AS s_$lang"
      }.mkString(",\n  ")
      val langs = TextFunctions.LangMarkers.map(_._1)
      val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
      val total = langs.map("s_" + _).mkString(" + ")
      val cases = langs.map(l =>
        s"WHEN ($total) > 0 AND s_$l = $best THEN '$l'").mkString("\n    ")
      val lst = langs.map("s_" + _).mkString(", ")
      s"""WITH f AS (SELECT doc_id,
         |  CASE doc_id % 16
         |    $textCase
         |  END AS mtext
         |  FROM documents WHERE doc_id < 480),
         |s AS (SELECT doc_id,
         |  list_filter(string_split(mtext, ' '), x -> x <> '') AS t
         |  FROM f),
         |sc AS (SELECT doc_id, $scores FROM s),
         |m AS (SELECT doc_id, $total AS total,
         |  CASE $cases ELSE 'und' END AS predicted,
         |  list_sort([$lst], 'DESC') AS l FROM sc)
         |SELECT doc_id, predicted,
         |  CAST(l[1] - l[2] AS BIGINT) AS margin
         |FROM m ORDER BY doc_id""".stripMargin
    }),

    // language ID over the FULL locale surface the engine analyzes/
    // collates (15 languages incl. the da/no classic discriminators
    // af/av, hvad/hva) — every language Curation.curate can gate now
    // has markers, so no locale silently classifies "und"
    Q("q231_langid_multilingual", run = (s, dir) => {
      val sents = LangIdSentences.map(_._2)
      val expect = LangIdSentences.map(_._1)
      tbl(s, dir, "documents").where(col("doc_id") < 450)
        .withColumn("expected", element_at(typedlit(expect),
          (col("doc_id") % 15 + 1).cast("int")))
        .withColumn("mtext", element_at(typedlit(sents),
          (col("doc_id") % 15 + 1).cast("int")))
        .select(col("doc_id"), col("expected"),
          TextFunctions.langId(col("mtext")).as("predicted"))
        .orderBy("doc_id")
    }, oracle = {
      val textCase = LangIdSentences.zipWithIndex.map { case ((_, t), i) =>
        s"WHEN $i THEN '$t'" }.mkString("\n    ")
      val expCase = LangIdSentences.zipWithIndex.map { case ((l, _), i) =>
        s"WHEN $i THEN '$l'" }.mkString(" ")
      val scores = TextFunctions.LangMarkers.map { case (lang, ms) =>
        val lst = ms.map(m => s"'$m'").mkString(", ")
        s"len(list_filter(t, x -> list_contains([$lst], x))) AS s_$lang"
      }.mkString(",\n  ")
      val langs = TextFunctions.LangMarkers.map(_._1)
      val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
      val total = langs.map("s_" + _).mkString(" + ")
      val cases = langs.map(l =>
        s"WHEN ($total) > 0 AND s_$l = $best THEN '$l'").mkString("\n    ")
      s"""WITH f AS (SELECT doc_id,
         |  CASE doc_id % 15 $expCase END AS expected,
         |  CASE doc_id % 15
         |    $textCase
         |  END AS mtext
         |  FROM documents WHERE doc_id < 450),
         |s AS (SELECT doc_id, expected,
         |  list_filter(string_split(mtext, ' '), x -> x <> '') AS t
         |  FROM f),
         |sc AS (SELECT doc_id, expected, $scores FROM s)
         |SELECT doc_id, expected,
         |  CASE $cases ELSE 'und' END AS predicted
         |FROM sc ORDER BY doc_id""".stripMargin
    }),

    // Bloom-prefiltered decontamination: same answer as q108's exact
    // path (false positives only waste shuffle rows), with the
    // benchmark-shingle sketch built by catalyst BloomFilterAggregate
    // and might_contain evaluated scan-side before the join
    Q("q151_bloom_decontam", run = (s, dir) => {
      val docs = tbl(s, dir, "documents")
      Decontaminate.contaminationBloom(
        docs.where(col("doc_id") % 2 === 1), "doc_id", "text",
        docs.where(col("doc_id") % 2 === 0), "doc_id", "text",
        n = 3, minHits = 3L, maxBenchDf = 100L,
        expectedBenchShingles = 1L << 20)
        .select(col("doc_id"), col("hits"), col("bench_docs"),
          col("first_bench"))
        .orderBy("doc_id")
    },
    // Bloom pre-filter never changes the answer (the exact join runs on
    // the survivors), so the oracle IS q108's exact-path SQL
    oracle = decontamSql),

    // benchmark decontamination: odd doc_ids are the "corpus", even ones
    // the "benchmark"; corpus docs sharing >= 3 distinct 3-gram windows
    // with any benchmark doc are flagged. Shingle equi-join (bench side
    // broadcast-able) + one agg — no pairwise corpus work.
    Q("q108_decontaminate", run = (s, dir) => {
      val docs = tbl(s, dir, "documents")
      Decontaminate.contamination(
        docs.where(col("doc_id") % 2 === 1), "doc_id", "text",
        docs.where(col("doc_id") % 2 === 0), "doc_id", "text",
        n = 3, minHits = 3L, maxBenchDf = 100L)
        .select(col("doc_id"), col("hits"), col("bench_docs"),
          col("first_bench"))
        .orderBy("doc_id")
    }, oracle = decontamSql),

    // corpus data card: per-source counts, exact length quantiles,
    // content-dup rate, dominant predicted language + share — two
    // keyed aggregates + one window argmax, nothing corpus-collected
    Q("q259_corpus_report", run = (s, dir) =>
      graft.ops.Curation.corpusReport(tbl(s, dir, "documents"),
        "doc_id", "text", "source")
        .select(col("source"), col("n_docs"), col("n_empty"),
          col("total_chars"),
          col("chars_p25").cast("decimal(18,6)").cast("double")
            .as("chars_p25"),
          col("chars_p50").cast("decimal(18,6)").cast("double")
            .as("chars_p50"),
          col("chars_p75").cast("decimal(18,6)").cast("double")
            .as("chars_p75"),
          col("distinct_texts"),
          col("dup_rate").cast("decimal(18,9)").cast("double")
            .as("dup_rate"),
          col("top_lang"),
          col("top_lang_share").cast("decimal(18,9)").cast("double")
            .as("top_lang_share"))
        .orderBy("source"),
      // the data card replayed: q25's langId argmax per doc -> per-
      // source top-lang window; quantile_cont for the exact percentile
      // (the q226 parity); md5 distinct for the dup rate
      oracle = corpusReportOracle),

    // the data card WITHOUT re-reading the corpus: prior batches live
    // as three mergeable sidecars (length histogram, lang counts,
    // distinct content hashes — persisted), the delta merges in, and
    // the card derives from counts alone — equal to the one-shot
    // q259 report on the union (same oracle)
    Q("q263_report_incremental", run = (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val store = scratchDir("graft-reportstore").toString
      val s1 = graft.ops.Curation.corpusReportSidecars(
        docs.where(col("doc_id") < 300), "doc_id", "text", "source")
      // three independent sidecar writes overlapped (guide §2.6)
      concurrently(
        () => s1.lenHist.write.mode("overwrite").parquet(s"$store/len"),
        () => s1.langCounts.write.mode("overwrite")
          .parquet(s"$store/lang"),
        () => s1.hashes.write.mode("overwrite").parquet(s"$store/hash"))
      val prior = graft.ops.Curation.CorpusReportState(
        s.read.parquet(s"$store/len"), s.read.parquet(s"$store/lang"),
        s.read.parquet(s"$store/hash"))
      graft.ops.Curation.corpusReportIncremental(
        docs.where(col("doc_id") >= 300), prior, "doc_id", "text",
        "source")._1
        .select(col("source"), col("n_docs"), col("n_empty"),
          col("total_chars"),
          col("chars_p25").cast("decimal(18,6)").cast("double")
            .as("chars_p25"),
          col("chars_p50").cast("decimal(18,6)").cast("double")
            .as("chars_p50"),
          col("chars_p75").cast("decimal(18,6)").cast("double")
            .as("chars_p75"),
          col("distinct_texts"),
          col("dup_rate").cast("decimal(18,9)").cast("double")
            .as("dup_rate"),
          col("top_lang"),
          col("top_lang_share").cast("decimal(18,9)").cast("double")
            .as("top_lang_share"))
        .orderBy("source")
    },
    // sidecar-derived card == one-shot card on the union — SAME
    // replay as q259 (shared helper)
    oracle = corpusReportOracle),

    // the bitext SCALE path, oracle-verified: shared-plane LSH bucket
    // candidates (the q24 machinery), then the same mutual-rank +
    // ratio-margin math — the oracle replays buckets, candidates, and
    // windows bit-for-bit
    Q("q242_bitext_lsh", run = (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.bitextMineLsh(
        e.where(col("vec_id") < 40),
        e.where(col("vec_id") >= 40 && col("vec_id") < 80),
        "vec_id", "embedding", k = 4, minMargin = 1.0,
        nPlanes = 8, tables = 8, dim = 64)
        .orderBy("a_id")
    },
    // bucket replay via hyperBucketSql (bit-exact sign tests, the q24
    // pattern), candidate equi-join, then the q240 margin windows
    // over candidates only
    oracle = bitextLshOracle),

    // bitext mining against a PRECOMPUTED indexed side: the fixed
    // corpus's hyperplane buckets are the SAME saved
    // vectorBucketSignatures store q244 uses (one store format for
    // dedup, decon, and bitext), the crawl batch hashes here, and the
    // margin math runs over candidates only — must equal q242's
    // recompute path bit for bit (shared oracle)
    Q("q251_bitext_store", run = (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val store = scratchDir("graft-bitextstore").toString
      val indexed = e.where(col("vec_id") >= 40 && col("vec_id") < 80)
      storeWrite(Dedup.vectorBucketSignatures(indexed, "vec_id",
        "embedding", blockTables = 8, blockPlanes = 8, dim = 64),
        "t", store)
      Similarity.bitextMineLshPrecomputed(
        e.where(col("vec_id") < 40), s.read.parquet(store), indexed,
        "vec_id", "embedding", k = 4, minMargin = 1.0,
        nPlanes = 8, tables = 8, dim = 64)
        .orderBy("a_id")
    },
    // the store path is bit-identical to the recompute path by
    // construction — SAME oracle text as q242 (shared helper)
    oracle = bitextLshOracle),

    // the EMBEDDED-corpus curation preset, one call: LSH near-dup
    // pairs (pinned 8-plane/4-table space) -> duplicate clusters ->
    // keep best quality per cluster -> semantic decon vs the first 8
    // vectors as benchmark -> deterministic 80% hash sample; the
    // oracle replays every stage (buckets, cosine, recursive CC,
    // keep-best window, brute decon, hash-sample arithmetic)
    Q("q249_embed_curate", run = (s, dir) => {
      val e = tbl(s, dir, "embeddings")
        .withColumn("quality", (col("vec_id") * 37 % 101).cast("long"))
      graft.ops.Curation.embedCurate(e, "vec_id", "embedding",
        "quality", dupThreshold = 0.3,
        bench = Some((e.where(col("vec_id") < 8), "vec_id",
          "embedding")),
        deconThreshold = 0.5, blockTables = 4, blockPlanes = 8,
        dim = 64, sampleFraction = 0.8)
        .select("vec_id", "component", "cluster_size")
        .orderBy("vec_id")
    },
    // every preset stage replayed: pinned-plane buckets (q22/q244
    // machinery), exact-cosine pair verify, q50's recursive CC,
    // q225's keep-best window, brute-cosine decon vs the bench slice
    // (the broadcast path IS exact), q39's hash-sample arithmetic
    oracle = embedCurateOracle),

    // the INCREMENTAL embed-curation chain end-to-end, exactly as a
    // production batch runs it: bootstrap on the ref slice (pinned
    // planes), persist the bucket store + label/resolved state to
    // parquet, then fold the delta batch through store-fed pairs ->
    // mergeClusters -> incremental keep-best -> fresh-only decon ->
    // sample. The output must equal the ONE-SHOT q249 preset on the
    // union (shared oracle) — the equality the whole chain exists for
    Q("q253_embed_curate_incremental", run = (s, dir) => {
      val e = tbl(s, dir, "embeddings")
        .withColumn("quality", (col("vec_id") * 37 % 101).cast("long"))
      val bench = Some((e.where(col("vec_id") < 8), "vec_id",
        "embedding"))
      val ref = e.where(col("vec_id") < 400)
      val delta = e.where(col("vec_id") >= 400)
      val boot = graft.ops.Curation.embedCurateBootstrap(ref,
        "vec_id", "embedding", "quality", dupThreshold = 0.3,
        bench = bench, deconThreshold = 0.5, blockTables = 4,
        blockPlanes = 8, dim = 64, sampleFraction = 0.8)
      val store = scratchDir("graft-curstore").toString
      // r16: the bootstrap state carries the ref bucket frame it
      // already hashed (and persisted) for its own pair join — write
      // that instead of re-hashing the ref vectors (VERDICT r15 next-1)
      val labelsPath = scratchDir("graft-curlabels").toString
      val resolvedPath = scratchDir("graft-curresolved").toString
      // three independent store writes overlapped (guide §2.6)
      concurrently(
        () => storeWrite(boot.buckets, "t", store),
        () => boot.labels.write.mode("overwrite").parquet(labelsPath),
        () => boot.resolved.write.mode("overwrite").parquet(resolvedPath))
      graft.ops.Curation.embedCurateIncremental(delta, ref,
        s.read.parquet(store), s.read.parquet(labelsPath),
        s.read.parquet(resolvedPath), "vec_id", "embedding",
        "quality", dupThreshold = 0.3, bench = bench,
        deconThreshold = 0.5, blockTables = 4, blockPlanes = 8,
        dim = 64, sampleFraction = 0.8)
        .curated
        .select("vec_id", "component", "cluster_size")
        .orderBy("vec_id")
    },
    // the incremental chain (bootstrap on ref + one delta batch) must
    // equal the one-shot preset on the union — SAME oracle as q249
    oracle = embedCurateOracle),

    // URL/domain extraction + per-domain rollup (web-corpus curation:
    // domain quality lists, per-domain caps) — scan-fused regex, one
    // explode, one hash aggregate
    Q("q128_url_domains", run = (s, dir) => {
      val injected = concat(col("text"),
        lit(" see https://site"), (col("doc_id") % 7).cast("string"),
        lit(".example.com/p/"), col("doc_id").cast("string"),
        lit(" and http://other"), (col("doc_id") % 3).cast("string"),
        lit(".org/x"))
      tbl(s, dir, "documents").where(col("doc_id") < 400)
        .select(col("doc_id"),
          explode(TextFunctions.urlDomains(injected)).as("domain"))
        .groupBy("domain").agg(count(lit(1)).as("n"))
        .orderBy("domain")
    }, oracle = """WITH u AS (
        |  SELECT unnest(regexp_extract_all(
        |    text || ' see https://site' || (doc_id % 7)
        |      || '.example.com/p/' || doc_id
        |      || ' and http://other' || (doc_id % 3) || '.org/x',
        |    'https?://([^/\s]+)', 1)) AS domain
        |  FROM documents WHERE doc_id < 400)
        |SELECT domain, COUNT(*) AS n FROM u
        |GROUP BY domain ORDER BY domain""".stripMargin),

    // bigram-LM perplexity quality scoring (CCNet-style filter signal):
    // model = two distributed count tables, scoring = bucketed equi-joins
    // of doc bigrams against them — no collect, no quadratic work
    Q("q127_lm_perplexity", run = (s, dir) => {
      val docs = tbl(s, dir, "documents").where(col("doc_id") < 300)
      LanguageModel.perplexity(docs, "doc_id", "text", docs, "text")
        .select(col("doc_id"),
          col("bits_per_token").cast("decimal(18,9)").cast("double")
            .as("bits_per_token"),
          col("n_bigrams"))
        .orderBy("doc_id")
    }, oracle = """WITH tk AS (
        |  SELECT doc_id, list_prepend('<s>',
        |    list_filter(string_split(text, ' '), x -> x <> '')) AS t
        |  FROM documents WHERE doc_id < 300),
        |bg AS (
        |  SELECT doc_id, z.w1 AS w1, z.w2 AS w2 FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |      i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS z
        |    FROM tk)),
        |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT w2) AS vv FROM c12),
        |sc AS (
        |  SELECT doc_id,
        |    CAST(SUM(CAST(-log2((c12.c12 + 0.5) / (c1.c1 + 0.5 * vv))
        |      AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS bits,
        |    COUNT(*) AS n_bigrams
        |  FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1), v
        |  GROUP BY doc_id)
        |SELECT doc_id,
        |  CAST(CAST(bits AS DECIMAL(18,9)) AS DOUBLE) AS bits_per_token,
        |  n_bigrams
        |FROM sc ORDER BY doc_id""".stripMargin),

    // sequence packing (pack-then-chunk pretraining batcher): per-source
    // prefix sum assigns each doc the fixed-size token window its first
    // token lands in — one window exchange, group-parallel
    Q("q145_pack_sequences", run = (s, dir) =>
      graft.ops.Packing.packSequences(tbl(s, dir, "documents"),
        "doc_id", "n_chars", 5000L, "source")
        .select(col("doc_id"), col("source"), col("start_tok"),
          col("seq_id"))
        .orderBy("doc_id"),
      oracle = """SELECT doc_id, source,
        |  CAST(SUM(n_chars) OVER w - n_chars AS BIGINT) AS start_tok,
        |  CAST(floor((SUM(n_chars) OVER w - n_chars) / 5000.0) AS BIGINT)
        |    AS seq_id
        |FROM documents
        |WINDOW w AS (PARTITION BY source ORDER BY doc_id
        |  ROWS UNBOUNDED PRECEDING)
        |ORDER BY doc_id""".stripMargin),

    // DSIR (arXiv:2302.03169): select raw docs whose hashed
    // unigram+bigram profile looks like the src0 slice — two tiny model
    // aggregations, a broadcast ≤buckets-row log-ratio table, one
    // doc-keyed scoring shuffle, deterministic hashed-Gumbel top-k
    Q("q150_dsir", run = (s, dir) => {
      val docs = tbl(s, dir, "documents")
      Dsir.select(docs, "doc_id", "text",
        docs.where(col("source") === "src0"),
        k = 50, buckets = 1000, gumbel = true, salt = "dsir")
        .select(col("doc_id"), col("source"),
          col("log_weight").cast("decimal(18,9)").cast("double")
            .as("log_weight"))
        .orderBy("doc_id")
    },
    // the n-gram bucket reproduces the engine's code-point FNV-1a 64
    // fold in integer SQL: the xor touches only the low 21 bits (every
    // code point < 2^21), so h XOR c = (h - h%2^21) + xor(h%2^21, c),
    // and the multiply wraps mod 2^64 through a HUGEINT intermediate;
    // the 60-bit mask is a modulo (validated char-exact vs the JVM,
    // including non-ASCII)
    oracle = """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(t) AS g FROM toks
        |  UNION ALL
        |  SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g
        |  FROM toks, UNNEST(range(1, len(t))) AS u(i) WHERE len(t) >= 2),
        |gb AS (SELECT doc_id,
        |    CAST(list_reduce(
        |      [CAST(14695981039346656037 AS HUGEINT)] ||
        |      list_transform(range(1, length(g) + 1),
        |        i -> CAST(ord(substr(g, i, 1)) AS HUGEINT)),
        |      (h, c) -> ((h // 2097152 * 2097152 +
        |         xor(CAST(h % 2097152 AS BIGINT), CAST(c AS BIGINT)))
        |        * 1099511628211)
        |        % CAST(18446744073709551616 AS HUGEINT))
        |     % 1152921504606846976 % 1000 AS BIGINT) AS bucket FROM g),
        |tc AS (SELECT bucket, COUNT(*) AS c FROM gb
        |  JOIN documents USING (doc_id) WHERE source = 'src0' GROUP BY 1),
        |rc AS (SELECT bucket, COUNT(*) AS c FROM gb GROUP BY 1),
        |ratio AS (SELECT sp.bucket,
        |    ln((coalesce(tc.c, 0) + 1.0)
        |       / ((SELECT SUM(c) FROM tc) + 1000.0))
        |  - ln((coalesce(rc.c, 0) + 1.0)
        |       / ((SELECT SUM(c) FROM rc) + 1000.0)) AS lr
        |  FROM (SELECT unnest(range(0, 1000)) AS bucket) sp
        |  LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket)),
        |-- quantized-long sum (the engine's partitioning-invariant form)
        |w AS (SELECT gb.doc_id,
        |    SUM(CAST(floor(r.lr * 1000000000.0 + 0.5) AS BIGINT))
        |      / 1000000000.0 AS lw
        |  FROM gb JOIN ratio r USING (bucket) GROUP BY 1),
        |sel AS (SELECT d.doc_id, d.source, coalesce(w.lw, 0.0) AS lw
        |  FROM documents d LEFT JOIN w USING (doc_id)
        |  ORDER BY coalesce(w.lw, 0.0)
        |    - ln(-ln((('0x'||substr(md5(d.doc_id::VARCHAR || 'dsir'),
        |        1,15))::BIGINT % 1000000 + 0.5) / 1000000.0)) DESC,
        |    d.doc_id
        |  LIMIT 50)
        |SELECT doc_id, source,
        |  CAST(CAST(lw AS DECIMAL(18,9)) AS DOUBLE) AS log_weight
        |FROM sel ORDER BY doc_id""".stripMargin),

    // Deterministic k-fold assignment: fold = pure hash of the id —
    // cross-validation splits stable across runs/engines/growth
    Q("q178_kfold", run = (s, dir) =>
      graft.ops.Sampling.kFold(tbl(s, dir, "documents"), "doc_id", 5)
        .select("doc_id", "fold").orderBy("doc_id"),
      oracle = """SELECT doc_id,
        |  CAST(('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT
        |    % 1000000 % 5 AS INT) AS fold
        |FROM documents ORDER BY doc_id""".stripMargin),

    // unigram entropy in nats per document — the low-entropy
    // repetitive/spam screen; per-term contributions quantize to 1e-6
    // (micro-nat) longs so the sum is partitioning-invariant and
    // engine-exact
    Q("q196_token_entropy", run = (s, dir) =>
      tbl(s, dir, "documents")
        .where(col("doc_id") < 500)
        .select(col("doc_id"),
          TextFunctions.tokenEntropy(col("text")).as("entropy"))
        .orderBy("doc_id"),
      oracle = """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents WHERE doc_id < 500),
        |tok AS (SELECT doc_id, len(t) AS n, unnest(t) AS w FROM tk),
        |cnt AS (SELECT doc_id, n, w, COUNT(*) AS c FROM tok
        |  GROUP BY 1, 2, 3),
        |e AS (SELECT doc_id,
        |    CAST(SUM(CAST(floor((c / CAST(n AS DOUBLE)) *
        |      ln(c / CAST(n AS DOUBLE)) * 1e6 + 0.5) AS BIGINT))
        |      AS DOUBLE) / -1e6 AS entropy
        |  FROM cnt GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(e.entropy, 0.0) AS entropy
        |FROM (SELECT doc_id FROM documents WHERE doc_id < 500) d
        |LEFT JOIN e USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // per-key cap: at most 10 documents per source, deterministically
    // hash-ranked — the per-domain cap of web-corpus curation
    Q("q195_cap_per_key", run = (s, dir) =>
      Sampling.capPerKey(tbl(s, dir, "documents"), "doc_id", "source", 10)
        .select("doc_id", "source").orderBy("doc_id"),
      oracle = """WITH r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY
        |      ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT
        |        % 1000000,
        |      doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, source FROM r WHERE rn <= 10
        |ORDER BY doc_id""".stripMargin),

    // SEMANTIC decontamination: embedding-cosine leak detection against
    // a benchmark set (the paraphrase complement of the n-gram q108 /
    // bloom q151 decontamination) — benchmark side broadcast-small, one
    // corpus scan, partial-agg before the exchange
    Q("q224_semantic_decontamination", run = (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      graft.ops.Decontaminate.semantic(
        e.where(col("vec_id") >= 32), "vec_id", "embedding",
        e.where(col("vec_id") < 32), "vec_id", "embedding",
        threshold = 0.3)
        .orderBy("vec_id")
    },
    // brute-force cosine over the full bench×corpus product (the
    // broadcast path IS exact, so the oracle is the plain definition)
    oracle = s"""WITH b AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 32),
         |c AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 32),
         |p AS (
         |  SELECT c.vec_id AS ia, b.vec_id AS ib,
         |    c.embedding AS ea, b.embedding AS eb FROM c, b),
         |${cosineCtes("p")}
         |SELECT ia AS vec_id, count(*) AS matches, min(ib) AS first_bench
         |FROM d WHERE dot / (sqrt(na) * sqrt(nb)) >= 0.3
         |GROUP BY ia ORDER BY vec_id""".stripMargin),

    // per-domain quality percentile gate: each source keeps its own
    // >= p50 rows (a global floor over-prunes clean domains); one
    // aggregate broadcast back, the corpus never shuffles
    Q("q226_domain_quality_filter", run = (s, dir) =>
      graft.ops.Curation.domainPercentileFilter(
        tbl(s, dir, "documents"), "source", "n_chars", quantile = 0.5,
        exact = true) // exact parity vs quantile_cont; library default
                      // is the bounded-memory approx sketch
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id"),
      // quantile_cont IS Spark's exact interpolated percentile (both
      // evaluate at rank (n-1)*q with linear interpolation; integer
      // scores make the midpoint exactly representable)
      oracle = """WITH th AS (
        |  SELECT source, quantile_cont(n_chars, 0.5) AS th
        |  FROM documents GROUP BY source)
        |SELECT d.doc_id, d.source, d.n_chars
        |FROM documents d JOIN th ON th.source IS NOT DISTINCT FROM d.source
        |WHERE CAST(d.n_chars AS DOUBLE) >= th.th
        |ORDER BY d.doc_id""".stripMargin),

    // INCREMENTAL per-domain quality gate: the prior corpus's exact
    // per-(source, score) histogram is a saved mergeable sidecar; the
    // delta batch merges its own counts in and gates itself under the
    // UNION's exact percentile thresholds — equal to the one-shot
    // q226 gate on the union restricted to the delta, with the prior
    // corpus never re-read (thresholds come from histogram rows)
    Q("q256_domain_gate_incremental", run = (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val store = scratchDir("graft-histstore").toString
      graft.ops.Curation.domainScoreHistogram(
          docs.where(col("doc_id") < 300), "source", "n_chars")
        .write.mode("overwrite").parquet(store)
      graft.ops.Curation.domainPercentileFilterIncremental(
        docs.where(col("doc_id") >= 300), s.read.parquet(store),
        "source", "n_chars", quantile = 0.5)
        .kept
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    },
    // UNION thresholds (the full corpus), delta rows only — the
    // incremental gate's contract; q226's replay plus the doc_id gate
    oracle = """WITH th AS (
        |  SELECT source, quantile_cont(n_chars, 0.5) AS th
        |  FROM documents GROUP BY source)
        |SELECT d.doc_id, d.source, d.n_chars
        |FROM documents d JOIN th ON th.source IS NOT DISTINCT FROM d.source
        |WHERE d.doc_id >= 300 AND CAST(d.n_chars AS DOUBLE) >= th.th
        |ORDER BY d.doc_id""".stripMargin),

    // graded n-gram contamination: the share of each corpus doc's
    // distinct 3-grams appearing anywhere in the benchmark split — the
    // GPT-3/PaLM "dirty document" fraction (q108 gives the binary
    // form); bench shingle set dedups once and broadcasts, corpus
    // scans once
    Q("q232_overlap_fraction", run = (s, dir) => {
      val docs = tbl(s, dir, "documents")
      graft.ops.Decontaminate.overlapFraction(
        docs.where(col("doc_id") >= 100), "doc_id", "text",
        docs.where(col("doc_id") < 100), "text", n = 3)
        .orderBy("doc_id")
    },
    // independent replay: distinct corpus 3-grams LEFT join the
    // deduped benchmark shingle set, fraction per doc
    oracle = s"""WITH $toksCte,
         |$shingleCte,
         |b AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 100),
         |c AS (SELECT doc_id, sh FROM sh WHERE doc_id >= 100)
         |SELECT c.doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |  CAST(SUM(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_matched,
         |  CAST(CAST(SUM(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END)
         |    / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE)
         |    AS overlap_frac
         |FROM c LEFT JOIN b ON b.sh = c.sh
         |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin),

    // margin-based mutual-NN bitext mining (the LASER/CCMatrix
    // recipe): pairs that are each other's nearest neighbor in BOTH
    // directions and beat their own neighborhoods' average cosine —
    // the ratio margin filters the hubs a plain threshold keeps
    Q("q240_bitext_mining", run = (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.bitextMine(
        e.where(col("vec_id") < 40),
        e.where(col("vec_id") >= 40 && col("vec_id") < 80),
        "vec_id", "embedding", k = 4, minMargin = 1.0)
        .orderBy("a_id")
    },
    // independent replay: brute cross cosines, both rank directions,
    // neighborhood averages, ratio margin — all in SQL windows
    oracle = s"""WITH a AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id < 40),
         |b AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id >= 40 AND vec_id < 80),
         |p AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
         |  a.embedding AS ea, b.embedding AS eb FROM a, b),
         |${cosineCtes("p")},
         |s AS (SELECT ia AS a_id, ib AS b_id,
         |  dot / (sqrt(na) * sqrt(nb)) AS cos FROM d),
         |r AS (SELECT a_id, b_id, cos,
         |  row_number() OVER (PARTITION BY a_id
         |    ORDER BY cos DESC, b_id) AS rab,
         |  row_number() OVER (PARTITION BY b_id
         |    ORDER BY cos DESC, a_id) AS rba FROM s),
         |av AS (SELECT a_id, b_id, cos, rab, rba,
         |  avg(CASE WHEN rab <= 4 THEN cos END)
         |    OVER (PARTITION BY a_id) AS avga,
         |  avg(CASE WHEN rba <= 4 THEN cos END)
         |    OVER (PARTITION BY b_id) AS avgb FROM r),
         |m AS (SELECT a_id, b_id, cos,
         |  cos / (avga / 2 + avgb / 2) AS margin
         |  FROM av WHERE rab = 1 AND rba = 1)
         |SELECT a_id, b_id,
         |  CAST(CAST(cos AS DECIMAL(18,9)) AS DOUBLE) AS cos,
         |  CAST(CAST(margin AS DECIMAL(18,9)) AS DOUBLE) AS margin
         |FROM m WHERE margin >= 1.0 ORDER BY a_id""".stripMargin),

    // the crawl preset's STRUCTURED entry point, hooks ON: within-doc
    // line dedup (repeated nav menu) runs BEFORE cross-corpus
    // paragraph dedup (shared footer survives once per residue class)
    // which runs BEFORE the language/quality gates and content dedup
    // — the one ordering the webCurate docstring warns users not to
    // hand-compose; the oracle replays every stage in sequence
    Q("q248_web_curate_structured", run = (s, dir) => {
      val shared = Seq("follow us on social media",
        "all rights reserved worldwide", "contact support for help")
      val df = tbl(s, dir, "documents").where(col("doc_id") < 240)
        .withColumn("url", concat(lit("https://Example.com/s/"),
          col("doc_id").cast("string"), lit("?utm_source=x&page=1")))
        .withColumn("mtext", concat(
          lit("site navigation menu\n"), col("text"),
          lit("\nsite navigation menu\n\n"),
          element_at(typedlit(shared), (col("doc_id") % 3 + 1).cast("int"))))
      graft.ops.Curation.webCurateStructured(df, "doc_id", "url",
        "mtext", targetLang = "en", minQuality = 0.3,
        dedupLinesWithinDoc = true, dedupParagraphs = true)
        .select("doc_id", "clean_text", "predicted_lang", "quality")
        .orderBy("doc_id")
    },
    // every hook stage replayed in the engine's order: line dedup
    // (q239 chain) -> paragraph dedup (q236 chain) -> langId ->
    // quality -> content dedup. The URL canon stage is a no-op on
    // this fixture (all urls distinct) and not part of the output,
    // so the oracle does not repeat the q227/q243 chain replay.
    oracle = {
      val scores = TextFunctions.LangMarkers.map { case (lang, ms) =>
        val lst = ms.map(m => s"'$m'").mkString(", ")
        s"len(list_filter(t, x -> list_contains([$lst], x))) AS s_$lang"
      }.mkString(",\n  ")
      val langs = TextFunctions.LangMarkers.map(_._1)
      val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
      val total = langs.map("s_" + _).mkString(" + ")
      val cases = langs.map(l =>
        s"WHEN ($total) > 0 AND s_$l = $best THEN '$l'").mkString("\n    ")
      val stop = TextFunctions.Stopwords.map(m => s"'$m'").mkString(", ")
      s"""WITH d0 AS (SELECT doc_id, text,
         |  'site navigation menu' || chr(10) || text || chr(10) ||
         |  'site navigation menu' || chr(10) || chr(10) ||
         |  CASE doc_id % 3 WHEN 0 THEN 'follow us on social media'
         |    WHEN 1 THEN 'all rights reserved worldwide'
         |    ELSE 'contact support for help' END AS mtext
         |  FROM documents WHERE doc_id < 240),
         |ld AS (SELECT doc_id, array_to_string(list_filter(
         |    string_split(mtext, chr(10)),
         |    (x, i) -> x = '' OR NOT list_contains(
         |      string_split(mtext, chr(10))[1:i-1], x)), chr(10)) AS lt
         |  FROM d0),
         |sp AS (SELECT doc_id,
         |  string_split(lt, chr(10) || chr(10)) AS parts FROM ld),
         |p AS (SELECT doc_id, i AS pos, parts[i] AS para
         |  FROM sp, UNNEST(range(1, len(parts) + 1)) AS u(i)
         |  WHERE trim(parts[i]) <> ''),
         |k AS (SELECT doc_id, pos, para, row_number() OVER (
         |    PARTITION BY md5(para) ORDER BY doc_id, pos) AS rk FROM p),
         |cl AS (SELECT doc_id,
         |  string_agg(para, chr(10) || chr(10) ORDER BY pos) AS ct
         |  FROM k WHERE rk = 1 GROUP BY doc_id),
         |tk AS (SELECT doc_id, ct,
         |  list_filter(string_split(ct, ' '), x -> x <> '') AS t
         |  FROM cl),
         |sc AS (SELECT doc_id, ct, t, $scores FROM tk),
         |lg AS (SELECT doc_id, ct, t,
         |  CASE $cases ELSE 'und' END AS predicted FROM sc),
         |ql AS (SELECT doc_id, ct, predicted,
         |  CAST(len(list_filter(t, x -> list_contains([$stop], x)))
         |    AS DOUBLE) / greatest(CAST(len(t) AS DOUBLE), 1.0) * 0.4
         |  + CAST(length(regexp_replace(ct, '[^A-Za-z]', '', 'g'))
         |    AS DOUBLE) / greatest(CAST(length(ct) AS DOUBLE), 1.0)
         |    * 0.4
         |  + least(CAST(len(t) AS DOUBLE) / 100.0, 1.0) * 0.2
         |  AS quality FROM lg),
         |g AS (SELECT * FROM ql
         |  WHERE predicted = 'en' AND quality >= 0.3),
         |dd AS (SELECT *, row_number() OVER (
         |  PARTITION BY md5(ct) ORDER BY doc_id) AS rn FROM g)
         |SELECT doc_id, ct AS clean_text,
         |  predicted AS predicted_lang, quality
         |FROM dd WHERE rn = 1 ORDER BY doc_id""".stripMargin
    }),

    // SURGICAL decontamination: leaked 3-gram windows cut out of the
    // doc, clean tokens rejoin in order — fully-leaked docs come back
    // as empty husks with n_tokens_kept = 0
    Q("q238_redact_contaminated", run = (s, dir) => {
      val docs = tbl(s, dir, "documents")
      graft.ops.Decontaminate.redactContaminated(
        docs.where(col("doc_id") >= 100), "doc_id", "text",
        docs.where(col("doc_id") < 100), "text", n = 3)
        .orderBy("doc_id")
    },
    // positional window replay: 1-based starts, covered = [j, j+2],
    // anti-join on (doc, pos), ordered reassembly, husks filled empty
    oracle = s"""WITH $toksCte,
         |w AS (SELECT doc_id, i AS j, array_to_string(t[i:i+2], ' ')
         |    AS sh
         |  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
         |  WHERE len(t) >= 3),
         |b AS (SELECT DISTINCT sh FROM w WHERE doc_id < 100),
         |cw AS (SELECT doc_id, j FROM w
         |  WHERE doc_id >= 100 AND sh IN (SELECT sh FROM b)),
         |cov AS (SELECT DISTINCT doc_id, j + o AS pos
         |  FROM cw, UNNEST(range(0, 3)) AS v(o)),
         |tp AS (SELECT doc_id, i AS pos, t[i] AS tok
         |  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
         |  WHERE doc_id >= 100),
         |k AS (SELECT tp.doc_id, tp.pos, tp.tok FROM tp
         |  LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.pos = tp.pos
         |  WHERE cov.pos IS NULL),
         |agg AS (SELECT doc_id,
         |  string_agg(tok, ' ' ORDER BY pos) AS clean,
         |  CAST(count(*) AS BIGINT) AS n_tokens_kept
         |  FROM k GROUP BY doc_id)
         |SELECT d.doc_id, COALESCE(agg.clean, '') AS clean,
         |  CAST(COALESCE(agg.n_tokens_kept, 0) AS BIGINT)
         |    AS n_tokens_kept
         |FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
         |WHERE d.doc_id >= 100 ORDER BY d.doc_id""".stripMargin),

    // Johnson-Lindenstrauss random projection 64 -> 16 dims: the
    // zero-fit distance-preserving reduction (deterministic +-1 sign
    // matrix folded to codegen literals; the oracle regenerates the
    // identical matrix from the same seed recipe)
    Q("q234_random_projection", run = (s, dir) =>
      graft.ops.RandomProjection.project(
        tbl(s, dir, "embeddings"), "embedding", "proj",
        outDim = 16, dim = 64)
        .select(col("vec_id"), posexplode(transform(col("proj"), x =>
          x.cast("decimal(14,6)").cast("double"))).as(Seq("j", "coord")))
        .orderBy("vec_id", "j"),
      // the oracle regenerates the +-1 sign matrix from the same md5
      // parity recipe (driver-folded literals on the Spark side) and
      // sums in the identical index order
      oracle = {
        val scale = 1.0 / math.sqrt(16.0)
        val legs = (0 until 16).map { j =>
          val row = graft.ops.RandomProjection.signRow(0, j, 64)
          val dot = row.zipWithIndex.map { case (sgn, i) =>
            s"CAST(embedding[${i + 1}] AS DOUBLE)*($sgn)" }.mkString(" + ")
          s"SELECT vec_id, $j AS j, CAST(CAST(($dot) * $scale " +
            s"AS DECIMAL(14,6)) AS DOUBLE) AS coord FROM embeddings"
        }.mkString("\nUNION ALL\n")
        s"""SELECT vec_id, j, coord FROM (
           |$legs
           |) ORDER BY vec_id, j""".stripMargin
      }),

    // WET-style HTML -> text extraction: script/style/comment blocks
    // drop, tags strip, the six common entities decode (&amp; last),
    // whitespace collapses — a lookaround-free regexp chain the RE2
    // oracle replays verbatim
    Q("q235_html_strip", run = (s, dir) => {
      val df = tbl(s, dir, "documents").where(col("doc_id") < 400)
        .withColumn("html", concat(
          lit("<html><head><style>p{color:red}</style>" +
            "<script type=\"text/javascript\">var x=1 && 2;</script>" +
            "</head><body><h1>Doc "),
          col("doc_id").cast("string"),
          lit("</h1><!-- hidden --><p>"), col("text"),
          lit(" &amp; more &lt;tags&gt;&nbsp;&#39;quoted&#39;" +
            "</p></body></html>")))
      df.select(col("doc_id"),
          TextFunctions.stripHtml(col("html")).as("clean"))
        .orderBy("doc_id")
    },
    // identical lookaround-free chain in RE2: script/style/comment
    // blocks, tag strip, entity decode (&amp; last), whitespace fold
    oracle = """WITH h AS (SELECT doc_id,
        |  '<html><head><style>p{color:red}</style>' ||
        |  '<script type="text/javascript">var x=1 && 2;</script>' ||
        |  '</head><body><h1>Doc ' || doc_id ||
        |  '</h1><!-- hidden --><p>' || text ||
        |  ' &amp; more &lt;tags&gt;&nbsp;&#39;quoted&#39;' ||
        |  '</p></body></html>' AS html
        |  FROM documents WHERE doc_id < 400),
        |s1 AS (SELECT doc_id, regexp_replace(html,
        |  '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS c FROM h),
        |s2 AS (SELECT doc_id, regexp_replace(c,
        |  '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS c FROM s1),
        |s3 AS (SELECT doc_id, regexp_replace(c,
        |  '(?s)<!--.*?-->', ' ', 'g') AS c FROM s2),
        |s4 AS (SELECT doc_id, regexp_replace(c,
        |  '<[^>]*>', ' ', 'g') AS c FROM s3),
        |s5 AS (SELECT doc_id, regexp_replace(regexp_replace(
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |  c, '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
        |  '&#39;', CHR(39), 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&',
        |  'g') AS c FROM s4)
        |SELECT doc_id,
        |  trim(regexp_replace(c, '\s+', ' ', 'g')) AS clean
        |FROM s5 ORDER BY doc_id""".stripMargin),

    // Standard curation cascade in ONE call: langid gate → quality floor
    // → exact dedup (first-id survivor per content hash) → deterministic
    // hash-sample — one shuffle end-to-end, every gate scan-fused
    Q("q174_curation", run = (s, dir) =>
      graft.ops.Curation.curate(tbl(s, dir, "documents"), "doc_id",
          "text", targetLang = "en", minQuality = 0.5,
          sampleFraction = 0.5)
        .select("doc_id", "predicted_lang", "quality")
        .orderBy("doc_id"),
      oracle = {
        val scores = TextFunctions.LangMarkers.map { case (lang, ms) =>
          val lst = ms.map(m => s"'$m'").mkString(", ")
          s"len(list_filter(t, x -> list_contains([$lst], x))) AS s_$lang"
        }.mkString(",\n  ")
        val langs = TextFunctions.LangMarkers.map(_._1)
        val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
        val total = langs.map("s_" + _).mkString(" + ")
        val cases = langs.map(l =>
          s"WHEN ($total) > 0 AND s_$l = $best THEN '$l'").mkString("\n    ")
        val stop = TextFunctions.Stopwords.map(m => s"'$m'").mkString(", ")
        s"""WITH $toksCte,
           |s AS (SELECT doc_id, $scores FROM toks),
           |lid AS (SELECT doc_id,
           |  CASE $cases ELSE 'und' END AS predicted_lang FROM s),
           |q AS (SELECT d.doc_id,
           |  CAST(len(list_filter(t, x -> list_contains([$stop], x)))
           |    AS DOUBLE) / greatest(CAST(len(t) AS DOUBLE), 1.0) * 0.4
           |  + CAST(length(regexp_replace(d.text, '[^A-Za-z]', '', 'g'))
           |    AS DOUBLE) / greatest(CAST(length(d.text) AS DOUBLE), 1.0)
           |    * 0.4
           |  + least(CAST(len(t) AS DOUBLE) / 100.0, 1.0) * 0.2 AS quality
           |  FROM documents d JOIN toks ON toks.doc_id = d.doc_id),
           |gated AS (SELECT d.doc_id, lid.predicted_lang, q.quality, d.text
           |  FROM documents d
           |  JOIN lid ON lid.doc_id = d.doc_id
           |  JOIN q ON q.doc_id = d.doc_id
           |  WHERE lid.predicted_lang = 'en' AND q.quality >= 0.5),
           |dd AS (SELECT *, row_number() OVER (
           |    PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM gated)
           |SELECT doc_id, predicted_lang, quality FROM dd
           |WHERE rn = 1
           |  AND ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 1000000
           |    < 500000
           |ORDER BY doc_id""".stripMargin
      }),

    // Hard-negative mining for contrastive training: top-k most-similar
    // non-near-duplicates (cos < ceiling, fused before the ranking
    // window) — informative negatives with positives excluded
    Q("q173_hard_negatives", run = (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Similarity.hardNegatives(emb, emb.where(col("vec_id") < 8),
          "vec_id", "embedding", k = 10, dupCeiling = 0.35)
        .orderBy("query_id", "rank")
    }, oracle = s"""WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
         |p AS (
         |  SELECT q.vec_id AS ia, c.vec_id AS ib, q.embedding AS ea, c.embedding AS eb
         |  FROM q, embeddings c WHERE c.vec_id <> q.vec_id),
         |${cosineCtes("p")},
         |r AS (
         |  SELECT ia AS query_id, ib AS neighbor_id,
         |    CAST(row_number() OVER (
         |      PARTITION BY ia ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, ib) AS INT) AS rank
         |  FROM d WHERE dot / (sqrt(na) * sqrt(nb)) < 0.35)
         |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin),

    // Temperature-based mixture sampling (p_s ∝ n_s^α, α = 0.5): shares
    // derived from measured per-source token mass, small sources
    // up-weighted — one |sources|-row agg + scan-fused hash-sample
    Q("q172_temperature_mix", run = (s, dir) =>
      graft.ops.Sampling.temperatureMix(tbl(s, dir, "documents"), "doc_id",
          "source", "n_chars", tokenBudget = 50000L, alpha = 0.5)
        .select("doc_id", "source")
        .orderBy("doc_id"),
      oracle = """WITH totals AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS tok
        |  FROM documents GROUP BY 1 HAVING SUM(n_chars) > 0),
        |p AS (SELECT source, tok,
        |    pow(CAST(tok AS DOUBLE), 0.5) AS w FROM totals),
        |n AS (SELECT SUM(w) AS norm FROM p),
        |fr AS (SELECT source, CAST(floor(least(1.0,
        |    (50000.0 * (w / norm)) / CAST(tok AS DOUBLE)) * 1000000)
        |    AS BIGINT) AS cutoff FROM p, n)
        |SELECT d.doc_id, d.source FROM documents d JOIN fr USING (source)
        |WHERE ('0x'||substr(md5(d.doc_id::VARCHAR),1,15))::BIGINT % 1000000
        |  < fr.cutoff
        |ORDER BY d.doc_id""".stripMargin),

    // Distributed PCA: partition-local Gram accumulation + driver-side
    // Jacobi on the d×d covariance + scan-fused projection. The oracle
    // checks the full-basis norm identity ‖P(x−μ)‖² = ‖x−μ‖² — SQL can
    // compute the right side, so orthonormality and the projection are
    // verified through the hash gate end-to-end.
    Q("q164_pca_norm", run = (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val model = graft.ops.Pca.fit(emb, "embedding")
      graft.ops.Pca.project(emb, "embedding", model, "pc")
        .select(col("vec_id"),
          aggregate(col("pc"), lit(0.0), (a, e) => a + e * e)
            .cast("decimal(14,5)").cast("double").as("norm2"))
        .orderBy("vec_id")
    }, oracle = """WITH e AS (SELECT vec_id,
        |    unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |m AS (SELECT i, AVG(CAST(v AS DOUBLE)) AS mu FROM e GROUP BY i)
        |SELECT vec_id,
        |  CAST(CAST(SUM((CAST(v AS DOUBLE) - mu) * (CAST(v AS DOUBLE) - mu))
        |    AS DECIMAL(14,5)) AS DOUBLE) AS norm2
        |FROM e JOIN m USING (i)
        |GROUP BY vec_id ORDER BY vec_id""".stripMargin),

    // Naive-Bayes quality classifier (the fastText-classifier role in
    // CCNet-style curation): self-trained on a heuristic label
    // (lang = 'en'), one distributed token log-odds table + broadcast
    // prior, token-join scoring — nothing collected
    Q("q163_nb_quality", run = (s, dir) =>
      Classifier.naiveBayes(tbl(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en")
        .select(col("doc_id"), col("n_tokens"),
          col("score").cast("decimal(18,9)").cast("double").as("score"),
          col("predicted"))
        .orderBy("doc_id"),
      oracle = """WITH tk AS (SELECT doc_id, lang = 'en' AS pos,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |tok AS (SELECT doc_id, pos, unnest(t) AS w FROM tk),
        |voc AS (SELECT w,
        |    SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS cp,
        |    SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS cn
        |  FROM tok GROUP BY w),
        |pri AS (SELECT ln(
        |    (SUM(CASE WHEN pos THEN 1 ELSE 0 END) + 1.0) /
        |    (SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) + 1.0)) AS prior
        |  FROM tk),
        |sc AS (SELECT doc_id, COUNT(*) AS n,
        |    CAST(SUM(CAST(ln((cp + 1.0) / (cn + 1.0))
        |      AS DECIMAL(28,12))) AS DOUBLE) AS s
        |  FROM tok JOIN voc USING (w) GROUP BY doc_id)
        |SELECT doc_id, n AS n_tokens,
        |  CAST(CAST(s + prior AS DECIMAL(18,9)) AS DOUBLE) AS score,
        |  (s + prior) > 0 AS predicted
        |FROM sc, pri ORDER BY doc_id""".stripMargin),

    // token-budget source mixing: sample each source to its share of a
    // token budget — one tiny count agg + a scan-fused deterministic
    // hash-sample; sources outside the mix drop
    Q("q115_token_mix", run = (s, dir) =>
      graft.ops.Sampling.tokenBudgetMix(
        tbl(s, dir, "documents"), "doc_id", "source",
        "n_chars", 10000L,
        Map("src0" -> 2.0, "src1" -> 1.0, "src2" -> 1.0))
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id"),
      oracle = """WITH totals AS (SELECT source, CAST(SUM(n_chars) AS DOUBLE) AS tok
        |  FROM documents GROUP BY 1),
        |fr AS (SELECT source, CAST(floor(least(1.0,
        |    (10000.0 * (CASE source WHEN 'src0' THEN 2.0/4.0
        |                            WHEN 'src1' THEN 1.0/4.0
        |                            WHEN 'src2' THEN 1.0/4.0 END)) / tok)
        |    * 1000000) AS BIGINT) AS cutoff
        |  FROM totals WHERE source IN ('src0', 'src1', 'src2'))
        |SELECT d.doc_id, d.source FROM documents d JOIN fr USING (source)
        |WHERE ('0x'||substr(md5(d.doc_id::VARCHAR),1,15))::BIGINT % 1000000
        |  < fr.cutoff
        |ORDER BY d.doc_id""".stripMargin),

    // Gopher repetition signals: duplicate-line fractions (scan-fused
    // array exprs) + most-repeated-2-gram character coverage (one explode
    // + per-doc agg, a single shuffle)
    Q("q109_repetition", run = (s, dir) =>
      graft.ops.TextFunctions.repetitionSignals(
        tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      oracle = s"""WITH $toksCte,
        |lines AS (SELECT doc_id, string_split(text, chr(10)) AS l,
        |    length(text) AS chars FROM documents),
        |base AS (SELECT doc_id, chars,
        |  CASE WHEN len(l) > 0 THEN (len(l) - len(list_distinct(l)))
        |    / CAST(len(l) AS DOUBLE) ELSE 0.0 END AS dup_line_frac,
        |  CASE WHEN list_sum(list_transform(l, x -> length(x))) > 0 THEN
        |    (list_sum(list_transform(l, x -> length(x)))
        |     - list_sum(list_transform(list_distinct(l), x -> length(x))))
        |    / CAST(list_sum(list_transform(l, x -> length(x))) AS DOUBLE)
        |    ELSE 0.0 END AS dup_line_char_frac
        |  FROM lines),
        |g AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g
        |  FROM toks, UNNEST(range(1, len(t))) AS u(i) WHERE len(t) >= 2),
        |cnts AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY 1, 2),
        |top AS (SELECT doc_id, MAX(c * length(g)) AS cover FROM cnts
        |  GROUP BY 1)
        |SELECT b.doc_id, b.dup_line_frac, b.dup_line_char_frac,
        |  CASE WHEN b.chars > 0
        |    THEN COALESCE(t.cover, 0) / CAST(b.chars AS DOUBLE)
        |    ELSE 0.0 END AS top_2gram_char_frac
        |FROM base b LEFT JOIN top t USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin),

    // language ID (stopword-marker heuristic)
    Q("q25_langid", run = (s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextFunctions.langId(col("text")).as("predicted"))
        .orderBy("doc_id"),
      oracle = {
        val scores = TextFunctions.LangMarkers.map { case (lang, ms) =>
          val lst = ms.map(m => s"'$m'").mkString(", ")
          s"len(list_filter(t, x -> list_contains([$lst], x))) AS s_$lang"
        }.mkString(",\n  ")
        val langs = TextFunctions.LangMarkers.map(_._1)
        val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
        val total = langs.map("s_" + _).mkString(" + ")
        val cases = langs.map(l =>
          s"WHEN ($total) > 0 AND s_$l = $best THEN '$l'").mkString("\n    ")
        s"""WITH $toksCte,
           |s AS (SELECT doc_id, $scores FROM toks)
           |SELECT d.doc_id, d.lang,
           |  CASE $cases ELSE 'und' END AS predicted
           |FROM documents d JOIN s ON s.doc_id = d.doc_id
           |ORDER BY d.doc_id""".stripMargin
      }),

    // quality scoring components + composite score
    Q("q26_quality", run = (s, dir) => {
      val comps = TextFunctions.qualityComponents(col("text"))
        .map { case (n, c) => c.as(n) }
      tbl(s, dir, "documents")
        .select(col("doc_id") +: comps :+
          TextFunctions.qualityScore(col("text")).as("score"): _*)
        .orderBy("doc_id")
    }, oracle = {
      val stop = TextFunctions.Stopwords.map(m => s"'$m'").mkString(", ")
      s"""WITH $toksCte,
         |c AS (SELECT d.doc_id,
         |  CAST(length(d.text) AS BIGINT) AS n_chars,
         |  CAST(len(t) AS BIGINT) AS n_tokens,
         |  CAST(length(regexp_replace(d.text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS n_punct,
         |  CAST(len(list_filter(t, x -> list_contains([$stop], x))) AS BIGINT) AS n_stopword,
         |  CAST(length(regexp_replace(d.text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha
         |  FROM documents d JOIN toks ON toks.doc_id = d.doc_id)
         |SELECT doc_id, n_chars, n_tokens, n_punct, n_stopword, n_alpha,
         |  CAST(n_stopword AS DOUBLE) / greatest(CAST(n_tokens AS DOUBLE), 1.0) * 0.4
         |  + CAST(n_alpha AS DOUBLE) / greatest(CAST(n_chars AS DOUBLE), 1.0) * 0.4
         |  + least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.2 AS score
         |FROM c ORDER BY doc_id""".stripMargin
    }),

    // token counting: whitespace + BPE-ish regex
    Q("q27_tokens", run = (s, dir) =>
      tbl(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_ws"),
        TextFunctions.bpeishTokenCount(col("text")).cast("long").as("n_bpeish"))
        .orderBy("doc_id"),
      oracle = """SELECT doc_id,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_ws,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpeish
        |FROM documents ORDER BY doc_id""".stripMargin),

    // deterministic hash sampling: stable 10% sample by doc_id
    Q("q39_hash_sample", run = (s, dir) =>
      graft.ops.Sampling.hashSample(tbl(s, dir, "documents"), "doc_id", 0.1)
        .select("doc_id").orderBy("doc_id"),
      oracle = """SELECT doc_id FROM documents
        |WHERE ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 1000000 < 100000
        |ORDER BY doc_id""".stripMargin),

    // stratified per-language sampling with a default fraction
    Q("q40_stratified_sample", run = (s, dir) =>
      graft.ops.Sampling.stratifiedHashSample(
        tbl(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.5, "zh" -> 0.25), defaultFraction = 1.0)
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang"),
      oracle = """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents
        |WHERE ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 1000000 <
        |  CASE WHEN lang = 'en' THEN 500000
        |       WHEN lang = 'zh' THEN 250000 ELSE 1000000 END
        |GROUP BY lang ORDER BY lang""".stripMargin),

    // multimodal plumbing: binary column -> batched partition decode (stub)
    Q("q28_multimodal", run = (s, dir) => {
      val media = Multimodal.asMedia(tbl(s, dir, "documents"), "doc_id", "text")
      Multimodal.extractFeatures(media, dim = 3)
        .select(col("media_id"),
          element_at(col("features"), 1).as("f0"),
          element_at(col("features"), 2).as("f1"),
          element_at(col("features"), 3).as("f2"))
        .orderBy("media_id")
    }, oracle = """SELECT doc_id AS media_id,
        |  ('0x'||substr(md5(text), 1, 8))::BIGINT / 4294967295.0 AS f0,
        |  ('0x'||substr(md5(text), 9, 8))::BIGINT / 4294967295.0 AS f1,
        |  ('0x'||substr(md5(text), 17, 8))::BIGINT / 4294967295.0 AS f2
        |FROM documents ORDER BY media_id""".stripMargin),

    // Gopher-rule quality filtering: the published heuristics as one
    // scan-fused projection (word count, mean word length, alpha ratio,
    // stopword presence) + the composite keep decision
    Q("q94_gopher_quality", run = (s, dir) => {
      val flags = TextFunctions.gopherQualityFlags(col("text"))
        .map { case (n, c) => c.as(n) }
      tbl(s, dir, "documents")
        .select(col("doc_id") +: flags :+
          TextFunctions.gopherKeep(col("text")).as("keep"): _*)
        .orderBy("doc_id")
    }, oracle = {
      val stops = TextFunctions.Stopwords.map(s => s"'$s'").mkString(", ")
      s"""WITH tk AS (
         |  SELECT doc_id,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS t
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, len(t) AS nw,
         |    CASE WHEN len(t) > 0 THEN
         |      CAST(list_sum(list_transform(t, w -> strlen(w))) AS DOUBLE)
         |        / len(t) ELSE 0.0 END AS meanlen,
         |    CASE WHEN len(t) > 0 THEN
         |      CAST(len(list_filter(t, w -> regexp_matches(w, '[A-Za-z]')))
         |        AS DOUBLE) / len(t) ELSE 0.0 END AS alpharatio,
         |    len(list_intersect(t, [$stops])) AS stophits
         |  FROM tk)
         |SELECT doc_id,
         |  nw >= 50 AND nw <= 100000 AS flag_word_count,
         |  meanlen >= 3.0 AND meanlen <= 10.0 AS flag_mean_word_len,
         |  alpharatio > 0.8 AS flag_alpha_ratio,
         |  stophits >= 2 AS flag_stopwords,
         |  (nw >= 50 AND nw <= 100000) AND (meanlen >= 3.0 AND meanlen <= 10.0)
         |    AND alpharatio > 0.8 AND stophits >= 2 AS keep
         |FROM m ORDER BY doc_id""".stripMargin
    }),

    // vocabulary pruning (min-count): tokens below global corpus frequency
    // 500 removed, order preserved; hash-keyed vocab join, never collected
    Q("q92_prune_rare", run = (s, dir) =>
      TextFunctions.pruneRareTokens(tbl(s, dir, "documents"), "doc_id",
        "text", minCount = 500)
        .orderBy("doc_id"),
      oracle = {
        s"""WITH base AS (
           |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
           |    AS t
           |  FROM documents),
           |toks AS (
           |  SELECT doc_id, u.i - 1 AS pos, t[u.i] AS tok,
           |    ${sqlHash("t[u.i]")} AS th
           |  FROM base, UNNEST(range(1, len(t) + 1)) u(i)),
           |freq AS (SELECT th, COUNT(*) AS freq FROM toks GROUP BY th),
           |kept AS (
           |  SELECT doc_id, array_to_string(list(tok ORDER BY pos), ' ')
           |    AS pruned
           |  FROM toks JOIN freq USING (th) WHERE freq >= 500
           |  GROUP BY doc_id)
           |SELECT d.doc_id, COALESCE(k.pruned, '') AS pruned
           |FROM documents d LEFT JOIN kept k USING (doc_id)
           |ORDER BY d.doc_id""".stripMargin
      }),

    // training-pipeline chunking: fixed-size token windows with overlap —
    // one posexplode fused into the scan, zero shuffles
    Q("q79_chunking", run = (s, dir) =>
      Chunking.tokenChunks(
        tbl(s, dir, "documents").where(col("doc_id") < 40),
        "doc_id", "text", chunkSize = 8, overlap = 2)
        .orderBy("doc_id", "chunk_idx"),
      oracle = """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents WHERE doc_id < 40),
        |st AS (
        |  SELECT doc_id, t, u.s
        |  FROM toks, UNNEST(range(1, greatest(len(t) - 2, 1) + 1, 6)) AS u(s)
        |  WHERE len(t) > 0)
        |SELECT doc_id, (s - 1) // 6 AS chunk_idx,
        |  array_to_string(t[s : s + 7], ' ') AS chunk_text,
        |  least(8, len(t) - s + 1) AS n_tokens
        |FROM st ORDER BY doc_id, chunk_idx""".stripMargin),

    // PII redaction: deterministic pii injected into the text (the corpus
    // itself is synthetic), then redacted + counted per category — one
    // codegen'd regex pass, zero shuffles
    Q("q81_pii_redact", run = (s, dir) => {
      val injected = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or 555-123-4567 ssn 123-45-6789 at 10.0.0."),
        ((col("doc_id") % 250) + 1).cast("string"))
      tbl(s, dir, "documents").where(col("doc_id") < 50)
        .select(col("doc_id"),
          Redaction.redactPii(injected).as("clean"),
          Redaction.piiCount(injected, "email").cast("long").as("n_email"),
          Redaction.piiCount(injected, "ssn").cast("long").as("n_ssn"),
          Redaction.piiCount(injected, "phone").cast("long").as("n_phone"),
          Redaction.piiCount(injected, "ip").cast("long").as("n_ip"))
        .orderBy("doc_id")
    }, oracle = {
      val Seq(email, ssn, phone, ip) = Redaction.Rules.map(_._2)
      // DuckDB string literals are standard-conforming: '\.' IS backslash-dot
      def esc(p: String) = p
      s"""WITH b AS (
         |  SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)
         |    || '@example.com or 555-123-4567 ssn 123-45-6789 at 10.0.0.'
         |    || CAST(doc_id % 250 + 1 AS VARCHAR) AS t
         |  FROM documents WHERE doc_id < 50),
         |r1 AS (SELECT doc_id, t,
         |  regexp_replace(t, '${esc(email)}', '<EMAIL>', 'g') AS s1 FROM b),
         |r2 AS (SELECT doc_id, t, s1,
         |  regexp_replace(s1, '${esc(ssn)}', '<SSN>', 'g') AS s2 FROM r1),
         |r3 AS (SELECT doc_id, t, s1, s2,
         |  regexp_replace(s2, '${esc(phone)}', '<PHONE>', 'g') AS s3 FROM r2)
         |SELECT doc_id,
         |  regexp_replace(s3, '${esc(ip)}', '<IP>', 'g') AS clean,
         |  len(regexp_extract_all(t, '${esc(email)}')) AS n_email,
         |  len(regexp_extract_all(s1, '${esc(ssn)}')) AS n_ssn,
         |  len(regexp_extract_all(s2, '${esc(phone)}')) AS n_phone,
         |  len(regexp_extract_all(s3, '${esc(ip)}')) AS n_ip
         |FROM r3 ORDER BY doc_id""".stripMargin
    }),
  )
}
