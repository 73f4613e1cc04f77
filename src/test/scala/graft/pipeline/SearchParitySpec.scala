package graft.pipeline

import graft.SparkSpec
import graft.ops.{Hybrid, TextSearch}
import org.apache.spark.sql.{DataFrame, Row}

/** Bit-exact parity pins for the ranked-retrieval stages and ops: one
  * small pipeline per scoring path (Atlas `$search` leaves, facets,
  * fusion, `$score`, `$vectorSearch`, BM25 and hybrid retrieval). Each
  * result is rendered row by row, every double as its raw IEEE-754 bits,
  * and the sorted rows are compared with literals, so a refactor that
  * moves one rounding step changes a pin. */
class SearchParitySpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", 10, "x",
      Seq(("a", 10), ("b", 40)), Array(1.0f, 0.0f, 0.5f, -0.2f)),
    (2L, "Streams filter quickly; the brown dogs run", 20, "y",
      Seq(("b", 10)), Array(0.9f, 0.1f, 0.4f, 0.0f)),
    (3L, "a slow brown snail crawls past the stream", 30, "x",
      Seq(("a", 5), ("a", 50)), Array(0.0f, 1.0f, -0.3f, 0.7f)),
    (4L, "quick quick data query spark engine", 40, "z",
      Seq(("c", 1)), Array(-1.0f, 0.0f, 0.2f, 0.1f)),
    (5L, "filtering streams with spark and data", 50, "y",
      Seq.empty[(String, Int)], Array(0.3f, 0.3f, 0.3f, 0.3f)),
    (6L, "the lazy dogs sleep; brown foxes run quickly", 60, "x",
      Seq(("b", 70)), Array(0.5f, -0.5f, 0.5f, -0.5f))
  ).toDF("id", "txt", "n", "cat", "items", "vec")

  /** One value, doubles and floats as raw bits. */
  private def show(v: Any): String = v match {
    case null => "null"
    case d: Double => s"d${java.lang.Double.doubleToRawLongBits(d)}"
    case f: Float => s"f${java.lang.Float.floatToRawIntBits(f)}"
    case r: Row => r.toSeq.map(show).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(show).mkString("[", ",", "]")
    case other => other.toString
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(show).sorted

  private def pipe(stages: Map[String, Any]*): DataFrame =
    PipelineCompiler.compile(stages)(docs)

  /** `$search` on `op`, projected to id + the search score meta. */
  private def searched(op: Map[String, Any]*): DataFrame =
    pipe(Map("$search" -> op.reduce(_ ++ _)),
      Map("$project" -> Map("id" -> 1,
        "s" -> Map("$meta" -> "searchScore"))))

  private def pin(df: DataFrame, want: Seq[String]): Unit = {
    val got = rows(df)
    assert(got == want, got.mkString("\n  \"", "\",\n  \"", "\""))
  }

  test("text with fuzzy and with synonyms") {
    pin(searched(Map("text" -> Map("query" -> "quik brwn",
      "path" -> "txt", "fuzzy" -> Map("maxEdits" -> 1)))), Seq(
        "{1,d4608741931493939986}",
        "{2,d4601781779952984636}",
        "{3,d4601345576126396736}",
        "{4,d4609398294962462595}",
        "{6,d4601345576126396736}"))
    val syn = Seq(Tuple1(Seq("fast", "quick", "slow"))).toDF("synonyms")
    pin(PipelineCompiler.compile(Seq(
      Map("$search" -> Map("text" -> Map("query" -> "fast stream",
        "path" -> "txt", "synonyms" -> "syn"))),
      Map("$project" -> Map("id" -> 1,
        "s" -> Map("$meta" -> "searchScore")))),
      tables = { case "syn" => syn })(docs), Seq(
        "{1,d4603887439484391792}",
        "{3,d4612031677033777230}",
        "{4,d4607202418495688879}"))
  }

  test("compound of two text legs with scoreDetails") {
    pin(pipe(
      Map("$search" -> Map("compound" -> Map(
        "must" -> Seq(Map("text" -> Map("query" -> "brown",
          "path" -> "txt"))),
        "should" -> Seq(Map("text" -> Map("query" -> "lazy dogs",
          "path" -> "txt", "score" -> Map("boost" ->
            Map("value" -> 2.5))))),
        "mustNot" -> Map("text" -> Map("query" -> "snail",
          "path" -> "txt"))),
        "scoreDetails" -> true)),
      Map("$project" -> Map("id" -> 1,
        "s" -> Map("$meta" -> "searchScore"),
        "d" -> Map("$meta" -> "searchScoreDetails")))), Seq(
          "{1,d4613395881738260974,{d4613395881738260974,compound,[{d4600" +
            "953899722560722,must.text},{d4612485596762679124,should.text}]" +
            "}}",
          "{2,d4614102254367029716,{d4614102254367029716,compound,[{d4601" +
            "781779952984636,must.text},{d4613088484362644877,should.text}]" +
            "}}",
          "{6,d4617754049340315088,{d4617754049340315088,compound,[{d4601" +
            "345576126396736,must.text},{d4617274427077284412,should.text}]" +
            "}}"))
  }

  test("embeddedDocument with an inner compound") {
    pin(searched(Map("embeddedDocument" -> Map("path" -> "items",
      "score" -> Map("embedded" -> Map("aggregate" -> "maximum")),
      "operator" -> Map("compound" -> Map(
        "should" -> Seq(
          Map("equals" -> Map("path" -> "items._1", "value" -> "a",
            "score" -> Map("boost" -> Map("value" -> 3.0)))),
          Map("in" -> Map("path" -> "items._1", "value" -> Seq("b", "c"))),
          Map("wildcard" -> Map("path" -> "items._1", "query" -> "?"))),
        "filter" -> Map("range" -> Map("path" -> "items._2",
          "gte" -> 5, "lt" -> 60)),
        "minimumShouldMatch" -> 1))))), Seq(
          "{1,d4616189618054758400}",
          "{2,d4611686018427387904}",
          "{3,d4616189618054758400}"))
  }

  test("wildcard, regex and queryString") {
    pin(searched(Map("wildcard" -> Map("path" -> "txt",
      "query" -> "*brown f?x*"))), Seq(
        "{1,d4607182418800017408}",
        "{6,d4607182418800017408}"))
    pin(searched(Map("regex" -> Map("path" -> "txt",
      "query" -> "qu.*|stream"))), Seq(
        "{1,d4607182418800017408}",
        "{2,d4607182418800017408}",
        "{3,d4607182418800017408}",
        "{4,d4607182418800017408}",
        "{6,d4607182418800017408}"))
    pin(searched(Map("queryString" -> Map("defaultPath" -> "txt",
      "query" -> "(quick OR slow) AND NOT lazy OR stre*"))), Seq(
        "{3,d4607182418800017408}",
        "{4,d4607182418800017408}",
        "{5,d4607182418800017408}"))
  }

  test("phrase under lucene.english; highlight under the default analyzer") {
    pin(searched(Map("phrase" -> Map("path" -> "txt",
      "query" -> "brown foxes run", "slop" -> 1)),
      Map("analyzer" -> "lucene.english")), Seq(
        "{6,d4607182418800017408}"))
    pin(pipe(
      Map("$search" -> Map(
        "text" -> Map("query" -> "brown lazy", "path" -> "txt"),
        "highlight" -> Map("path" -> "txt", "maxNumPassages" -> 2))),
      Map("$project" -> Map("id" -> 1,
        "s" -> Map("$meta" -> "searchScore"),
        "h" -> Map("$meta" -> "searchHighlights")))), Seq(
          "{1,d4608741931493939986,[{txt,[{the quick,text},{brown,hit},{f" +
            "ox jumps,text}],d4607182418800017408},{txt,[{over the,text},{l" +
            "azy,hit},{dog,text}],d4607182418800017408}]}",
          "{2,d4601781779952984636,[{txt,[{quickly; the,text},{brown,hit}" +
            ",{dogs run,text}],d4607182418800017408}]}",
          "{3,d4601345576126396736,[{txt,[{a slow,text},{brown,hit},{snai" +
            "l crawls,text}],d4607182418800017408}]}",
          "{6,d4609068035144686822,[{txt,[{the,text},{lazy,hit},{dogs sle" +
            "ep;,text}],d4607182418800017408},{txt,[{dogs sleep;,text},{bro" +
            "wn,hit},{foxes run,text}],d4607182418800017408}]}"))
  }

  test("$searchMeta facets") {
    pin(pipe(Map("$searchMeta" -> Map("facet" -> Map(
      "operator" -> Map("text" -> Map("query" -> "brown spark",
        "path" -> "txt")),
      "facets" -> Map(
        "byCat" -> Map("type" -> "string", "path" -> "cat",
          "numBuckets" -> 2),
        "byN" -> Map("type" -> "number", "path" -> "n",
          "boundaries" -> Seq(0, 25, 45, 100))))))), Seq(
            "{{6},{{[{x,3},{y,2}]},{[{d0,2},{d4627730092099895296,2},{d4631" +
              "530004285489152,2}]}}}"))
  }

  private val ranked = Map(
    "lex" -> Seq(
      Map("$search" -> Map("text" -> Map("query" -> "brown quick data",
        "path" -> "txt"))),
      Map("$limit" -> 4)),
    "vec" -> Seq(
      Map("$vectorSearch" -> Map("path" -> "vec",
        "queryVector" -> Seq(0.8, 0.2, 0.4, 0.1), "limit" -> 4,
        "tieBreak" -> "id"))))

  test("$rankFusion with weights and scoreDetails") {
    pin(pipe(
      Map("$rankFusion" -> Map("key" -> "id",
        "input" -> Map("pipelines" -> ranked),
        "combination" -> Map("weights" -> Map("lex" -> 2, "vec" -> 0.5)),
        "scoreDetails" -> true)),
      Map("$project" -> Map("id" -> 1,
        "s" -> Map("$meta" -> "searchScore"),
        "d" -> Map("$meta" -> "scoreDetails")))), Seq(
          "{1,d4585971917329152473,[{lex,2,d4611686018427387904,d45848096" +
            "98070499460},{vec,2,d4602678819172646912,d4575802498815758468}" +
            "]}",
          "{2,d4585845692696505069,[{lex,4,d4611686018427387904,d45846644" +
            "20663164928},{vec,1,d4602678819172646912,d4575878709914688059}" +
            "]}",
          "{4,d4584885909169443226,[{lex,1,d4611686018427387904,d45848859" +
            "09169429051}]}",
          "{5,d4585879677705537591,[{lex,3,d4611686018427387904,d45847359" +
            "06371535888},{vec,3,d4602678819172646912,d4575728707116794896}" +
            "]}",
          "{6,d4575657221408423936,[{vec,4,d4602678819172646912,d45756572" +
            "21408423936}]}"))
  }

  test("$scoreFusion under each normalization and method") {
    for (((norm, method), want) <- Seq(
        ("none", "avg") -> Seq(
          "{1,d4607290941930645310,[{lex,d4608741931493939986,d4607182418" +
            "800017408,d4608741931493939986},{vec,d4606604908064478966,d460" +
            "4930618986332160,d4604497485934678328}]}",
          "{2,d4603533501965755416,[{lex,d4601781779952984636,d4607182418" +
            "800017408,d4601781779952984636},{vec,d4607057199309833977,d460" +
            "4930618986332160,d4604836704368694587}]}",
          "{4,d4608543361658847633,[{lex,d4613046961286218150,d4607182418" +
            "800017408,d4613046961286218150}]}",
          "{5,d4605932551028167239,[{lex,d4607688428355232712,d4607182418" +
            "800017408,d4607688428355232712},{vec,d4605502479012756997,d460" +
            "4930618986332160,d4603670664145886852}]}",
          "{6,d4595762553811268268,[{vec,d4602464331278882618,d4604930618" +
            "986332160,d4600266153438638444}]}"),
        ("sigmoid", "sum") -> Seq(
          "{1,d4608678611644775639,[{lex,d4608741931493939986,d4607182418" +
            "800017408,d4605322621434476472},{vec,d4606604908064478966,d460" +
            "4930618986332160,d4603027402600332781}]}",
          "{2,d4607889146961586488,[{lex,d4601781779952984636,d4607182418" +
            "800017408,d4603675806348719522},{vec,d4607057199309833977,d460" +
            "4930618986332160,d4603095288319714435}]}",
          "{4,d4606562209541177292,[{lex,d4613046961286218150,d4607182418" +
            "800017408,d4606562209541181780}]}",
          "{5,d4608408332903825087,[{lex,d4607688428355232712,d4607182418" +
            "800017408,d4604953751370240394},{vec,d4605502479012756997,d460" +
            "4930618986332160,d4602855715182668766}]}",
          "{6,d4602043683912469727,[{vec,d4602464331278882618,d4604930618" +
            "986332160,d4602043683912476080}]}"),
        ("minMaxScaler", "avg") -> Seq(
          "{1,d4603085713383810044,[{lex,d4608741931493939986,d4607182418" +
            "800017408,d4601165107617458191},{vec,d4606604908064478966,d460" +
            "4930618986332160,d4604249463372575538}]}",
          "{2,d4600427019358961664,[{lex,d4601781779952984636,d4607182418" +
            "800017408,d0},{vec,d4607057199309833977,d4604930618986332160,d" +
            "4604930618986332160}]}",
          "{4,d4602678819172646912,[{lex,d4613046961286218150,d4607182418" +
            "800017408,d4607182418800017408}]}",
          "{5,d4600854234007423975,[{lex,d4607688428355232712,d4607182418" +
            "800017408,d4599208901111916382},{vec,d4605502479012756997,d460" +
            "4930618986332160,d4602499566902921256}]}",
          "{6,d0,[{vec,d4602464331278882618,d4604930618986332160,d0}]}"),
        ("minMaxScaler", "sum") -> Seq(
          "{1,d4607589313011180540,[{lex,d4608741931493939986,d4607182418" +
            "800017408,d4601165107617458191},{vec,d4606604908064478966,d460" +
            "4930618986332160,d4604249463372575538}]}",
          "{2,d4604930618986332160,[{lex,d4601781779952984636,d4607182418" +
            "800017408,d0},{vec,d4607057199309833977,d4604930618986332160,d" +
            "4604930618986332160}]}",
          "{4,d4607182418800017408,[{lex,d4613046961286218150,d4607182418" +
            "800017408,d4607182418800017408}]}",
          "{5,d4605357833634794471,[{lex,d4607688428355232712,d4607182418" +
            "800017408,d4599208901111916382},{vec,d4605502479012756997,d460" +
            "4930618986332160,d4602499566902921256}]}",
          "{6,d0,[{vec,d4602464331278882618,d4604930618986332160,d0}]}")))
      pin(pipe(
        Map("$scoreFusion" -> Map("key" -> "id",
          "input" -> Map("pipelines" -> ranked, "normalization" -> norm),
          "combination" -> Map("method" -> method,
            "weights" -> Map("vec" -> 0.75)),
          "scoreDetails" -> true)),
        Map("$project" -> Map("id" -> 1,
          "s" -> Map("$meta" -> "searchScore"),
          "d" -> Map("$meta" -> "scoreDetails")))), want)
  }

  test("$score") {
    for ((norm, want) <- Seq(
        "none" -> Seq(
          "{1,d4601392076421969627}",
          "{2,d4605895676049340123}",
          "{3,d4608469161550694692}",
          "{4,d4610399275676710619}",
          "{5,d4612007704115057225}",
          "{6,d4612972761178065188}"),
        "sigmoid" -> Seq(
          "{1,d4597887118478613978}",
          "{2,d4598782413224611033}",
          "{3,d4599002565473044090}",
          "{4,d4599058171898039379}",
          "{5,d4599071670782797463}",
          "{6,d4599074915860504876}"),
        "minMaxScaler" -> Seq(
          "{1,d0}",
          "{2,d4588807732320345784}",
          "{3,d4593311331947716279}",
          "{4,d4595653203753948938}",
          "{5,d4597814931575086776}",
          "{6,d4599075939470750515}")))
      pin(pipe(
        Map("$score" -> Map("score" ->
          Map("$divide" -> Seq("$n", 7)), "normalization" -> norm,
          "weight" -> 0.3)),
        Map("$project" -> Map("id" -> 1,
          "s" -> Map("$meta" -> "score")))), want)
  }

  test("$vectorSearch scalar and binary") {
    for ((q, want) <- Seq(
        "none" -> Seq(
          "{1,d4606129694609366113,d4606129694609366113}",
          "{2,d4606429553501940139,d4606429553501940139}",
          "{5,d4604792881343436202,d4604792881343436202}"),
        "scalar" -> Seq(
          "{1,d4606129694609366113,d4606129694609366113}",
          "{2,d4606429553501940139,d4606429553501940139}",
          "{5,d4604792881343436202,d4604792881343436202}"),
        "binary" -> Seq(
          "{1,d4606129694609366113,d4606129694609366113}",
          "{2,d4606429553501940139,d4606429553501940139}",
          "{5,d4604792881343436202,d4604792881343436202}")))
      pin(pipe(
        Map("$vectorSearch" -> Map("path" -> "vec",
          "queryVector" -> Seq(0.6, -0.1, 0.45, 0.2), "limit" -> 3,
          "numCandidates" -> 5, "quantization" -> q, "tieBreak" -> "id",
          "scoreField" -> "cos")),
        Map("$project" -> Map("id" -> 1, "cos" -> 1,
          "s" -> Map("$meta" -> "vectorSearchScore")))), want)
  }

  private val terms = Seq("brown", "quick", "data", "stream")

  test("bm25 and bm25Precomputed") {
    pin(TextSearch.bm25(docs, "id", "txt", terms), Seq(
      "{1,d4608741931493941742,2}",
      "{2,d4601781779952985395,1}",
      "{3,d4611286099246284713,2}",
      "{4,d4613046961286218129,2}",
      "{5,d4607688428355232383,1}",
      "{6,d4601345576126404237,1}"))
    pin(TextSearch.bm25(docs, "id", "txt", terms, k = 2), Seq(
      "{3,d4611286099246284713,2}",
      "{4,d4613046961286218129,2}"))
    val idx = TextSearch.bm25Index(docs, "id", "txt", buckets = 8)
    pin(TextSearch.bm25Precomputed(idx, "id", terms, buckets = 8), Seq(
      "{1,d4608741931493941742,2}",
      "{2,d4601781779952985395,1}",
      "{3,d4611286099246284713,2}",
      "{4,d4613046961286218129,2}",
      "{5,d4607688428355232383,1}",
      "{6,d4601345576126404237,1}"))
  }

  test("hybridSearch") {
    val vecs = docs.select($"id".as("vec_id"), $"vec".as("embedding"))
    val idx = TextSearch.bm25Index(docs, "id", "txt", buckets = 8)
    pin(Hybrid.hybridSearch(idx, "id", terms, vecs, "vec_id",
      "embedding", Seq(0.8, 0.2, 0.4, 0.1), k = 4, buckets = 8), Seq(
        "{1,d4584772802221006089,1}",
        "{2,d4584740521842302810,2}",
        "{3,d4584702416292821629,4}",
        "{4,d4584706928558383489,3}"))
  }
}
