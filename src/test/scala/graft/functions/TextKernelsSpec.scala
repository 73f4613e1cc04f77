package graft.functions

import graft.SparkSpec
import graft.ops.{Dedup, TextFunctions}
import graft.ops.TextFunctions.{HashMod, LangMarkers, Stopwords}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The Column forms the native text kernels replaced, kept only as the
  * reference the kernels must match bit for bit. */
object ColumnForms {
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= lit(""))

  def hash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  def markerScore(text: Column, markers: Seq[String]): Column =
    size(filter(tokens(text), t => markers.map(m => t === lit(m))
      .reduce(_ || _)))

  private def scores(toks: Column): Column =
    array(LangMarkers.map { case (_, ms) =>
      size(filter(toks, t => t.isin(ms.map(m => m: Any): _*)))
    }: _*)

  def langId(text: Column): Column = {
    val codes = LangMarkers.map(_._1)
    element_at(transform(array(tokens(text)), toks => {
      element_at(transform(array(scores(toks)), sc =>
        when(aggregate(sc, lit(0), (a, e) => a + e) > 0,
          element_at(typedlit(codes),
            array_position(sc, array_max(sc)).cast("int")))
          .otherwise(lit("und"))), 1)
    }), 1)
  }

  def langIdMargin(text: Column): Column =
    element_at(transform(array(tokens(text)), toks =>
      element_at(transform(array(sort_array(scores(toks), asc = false)),
        sc => element_at(sc, 1) - element_at(sc, 2)), 1)), 1)

  def qualityScore(text: Column): Column = {
    val nTok = size(tokens(text)).cast("long").cast("double")
    val stopRatio = markerScore(text, Stopwords).cast("long")
      .cast("double") / greatest(nTok, lit(1.0))
    val alphaRatio =
      length(regexp_replace(text, "[^A-Za-z]", "")).cast("long")
        .cast("double") /
        greatest(length(text).cast("long").cast("double"), lit(1.0))
    val lenScore = least(nTok / lit(100.0), lit(1.0))
    stopRatio * lit(0.4) + alphaRatio * lit(0.4) + lenScore * lit(0.2)
  }

  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      k: Int, numPerms: Int): DataFrame = {
    val sh = df
      .select(col(idCol).as("id"), tokens(col(textCol)).as("__toks"))
      .select(col("id"), explode(array_distinct(
        TextFunctions.shinglesOfTokens(col("__toks"), k))).as("sh"))
      .withColumn("h", hash60(col("sh")) % HashMod)
    val mins = (0 until numPerms).map { i =>
      min((col("h") * lit(2L * i + 3) + lit(1L * i * i + 1)) % lit(HashMod))
        .as(s"mh$i")
    }
    sh.groupBy("id").agg(mins.head, mins.tail: _*)
  }
}

class TextKernelsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** Strings at the edges of the tokenizer and marker contracts. */
  private val edges: Seq[String] = Seq(
    null, "", " ", "     ", "a  b   c", "  the cat sat  ", "the\tcat and\tdog",
    "\tthe\t", "的 是 不 了 在", "的是不了", "não uma são também", "nao uma",
    "og af det hvad", "og av det hva", "og det ikke", "og ikke det på",
    "one two", "one two three", "x", "ÀÉ naïve The AND the and",
    "der die und das the of", "и не на что это", "bir ve bu için",
    "je se na že ale", "nie się jest że", "\u0000the the", "a b a b a b a b",
    "the. And, of! to? a; in: is it", ("the cat " * 40).trim)

  /** Malformed UTF-8, which `split` repairs through a Java string. */
  private def malformed(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((900001L, "61FF20746865206361C3"), (900002L, "C3A320C3A3206F6720FE"))
      .toDF("doc_id", "hex")
      .select($"doc_id", unhex($"hex").cast("string").as("text"))
  }

  private def corpus(s: SparkSession): DataFrame = {
    import s.implicits._
    val docs = graft.sources.Tables.table(s, sf, "documents")
      .select($"doc_id", $"text")
    val extra = edges.zipWithIndex.map { case (t, i) => (800000L + i, t) }
      .toDF("doc_id", "text")
    // repartitioned so no projection folds into a local relation
    docs.unionByName(extra).unionByName(malformed(s)).repartition(3)
  }

  private val scalars: Seq[(String, Column => Column, Column => Column)] =
    Seq(
      ("hash60", ColumnForms.hash60, TextFunctions.hash60),
      ("tokenHash", c => ColumnForms.hash60(c) % HashMod,
        TextFunctions.tokenHash),
      ("langId", ColumnForms.langId, TextFunctions.langId),
      ("langIdMargin", ColumnForms.langIdMargin, TextFunctions.langIdMargin),
      ("markerScore(stopwords)", ColumnForms.markerScore(_, Stopwords),
        TextFunctions.markerScore(_, Stopwords)),
      ("markerScore(pt)", ColumnForms.markerScore(_, LangMarkers(6)._2),
        TextFunctions.markerScore(_, LangMarkers(6)._2)),
      ("qualityScore", ColumnForms.qualityScore, TextFunctions.qualityScore))

  /** Rows of (id, reference, native) that differ, over every kernel. */
  private def scalarDiffs(df: DataFrame): Seq[String] = {
    val cols = scalars.flatMap { case (n, ref, nat) =>
      Seq(ref(col("text")).as(s"ref_$n"), nat(col("text")).as(s"nat_$n"))
    }
    val rows = df.select(col("doc_id") +: cols: _*).collect()
    assert(rows.nonEmpty)
    rows.toSeq.flatMap { r =>
      scalars.indices.flatMap { i =>
        val (a, b) = (r.get(1 + 2 * i), r.get(2 + 2 * i))
        // Objects.equals: doubles compare bit for bit
        if (java.util.Objects.equals(a, b)) None
        else Some(s"${scalars(i)._1} id=${r.getLong(0)}: $a vs $b")
      }
    }
  }

  private def sigMap(df: DataFrame, numPerms: Int): Map[Any, Seq[Long]] =
    df.collect().map { r =>
      r.get(0) -> (1 to numPerms).map(r.getLong)
    }.toMap

  private def withInterpreted[T](body: SparkSession => T): T = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    body(s)
  }

  test("text kernels match their Column forms on sf0.001 documents and " +
    "edge strings (generated code)") {
    assert(scalarDiffs(corpus(spark)).isEmpty)
  }

  test("text kernels match their Column forms when interpreted") {
    withInterpreted(s => assert(scalarDiffs(corpus(s)).isEmpty))
  }

  test("null, empty and whitespace-only texts keep the Column results") {
    val df = Seq[(Long, String)]((1L, null), (2L, ""), (3L, "   "))
      .toDF("doc_id", "text").repartition(2)
    val r = df.orderBy("doc_id").select(TextFunctions.langId($"text"),
      TextFunctions.langIdMargin($"text"),
      TextFunctions.markerScore($"text", Stopwords),
      TextFunctions.qualityScore($"text"), TextFunctions.hash60($"text"))
      .collect().toSeq
    assert(r == Seq(Row("und", null, null, null, null),
      Row("und", 0, 0, 0.0, TextKernels.md5Prefix60("")),
      Row("und", 0, 0, 0.0, TextKernels.md5Prefix60("   "))))
  }

  test("minhash_signature signatures equal the shingle-explode form, " +
    "duplicate ids merged") {
    val docs = corpus(spark)
    // duplicate ids: texts under one id merge by per-coordinate min (7
    // is also a document id of the corpus)
    val dup = Seq((7L, "the quick brown fox jumps"),
      (900007L, "the quick brown fox jumps"),
      (900007L, "over the lazy dog again and again"),
      (900008L, "too short")).toDF("doc_id", "text")
    val in = docs.unionByName(dup)
    for ((k, perms) <- Seq((3, 12), (1, 4), (5, 16))) {
      val ref = sigMap(ColumnForms.minhashSignatures(in, "doc_id", "text",
        k, perms), perms)
      val nat = sigMap(Dedup.minhashSignatures(in, "doc_id", "text", k,
        perms), perms)
      val bad = (nat.keySet ++ ref.keySet).filter(i => nat.get(i) != ref.get(i))
      assert(bad.isEmpty, s"k=$k numPerms=$perms: " +
        bad.take(3).map(i => s"$i: ${nat.get(i)} vs ${ref.get(i)}"))
      assert(nat.contains(900007L) && nat.contains(900008L) == (k <= 2))
    }
    val sch = Dedup.minhashSignatures(in, "doc_id", "text", 3, 12).schema
    assert(sch == ColumnForms.minhashSignatures(in, "doc_id", "text", 3, 12)
      .schema)
  }

  test("minhash_signature interpreted equals generated code") {
    val gen = sigMap(Dedup.minhashSignatures(corpus(spark), "doc_id",
      "text", 3, 12), 12)
    val interp = withInterpreted(s => sigMap(Dedup.minhashSignatures(
      corpus(s), "doc_id", "text", 3, 12), 12))
    assert(gen == interp && gen.size > 400)
  }

  test("property: kernels match the Column forms over a marker-heavy " +
    "vocabulary") {
    val vocab = (LangMarkers.flatMap(_._2).distinct ++ Stopwords ++
      Seq("cat", "dog", "spark", "naïve", "Über", "x", "ab", "The", "AND",
        "data.", "yes!")).distinct
    val sep = Gen.frequency(8 -> Gen.const(" "), 1 -> Gen.const("  "),
      1 -> Gen.const("\t"), 1 -> Gen.const(" \t "))
    val doc: Gen[String] = for {
      n <- Gen.choose(0, 30)
      ws <- Gen.listOfN(n, Gen.oneOf(vocab))
      ss <- Gen.listOfN(n, sep)
      lead <- Gen.oneOf("", " ", "  ")
    } yield lead + ws.zip(ss).map { case (w, s) => w + s }.mkString
    val texts = (0 until 300).flatMap(i =>
      doc(Gen.Parameters.default, Seed(7000L + i)))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").repartition(3)
    assert(scalarDiffs(df).isEmpty)
    val ref = sigMap(ColumnForms.minhashSignatures(df, "doc_id", "text", 2,
      8), 8)
    assert(sigMap(Dedup.minhashSignatures(df, "doc_id", "text", 2, 8), 8) ==
      ref)
  }

  test("hash60 of binary hashes the bytes, like md5 of the binary") {
    val df = Seq(Tuple1(Array[Byte](0, 1, 2, -1))).toDF("b").repartition(1)
    val got = df.select(TextFunctions.hash60($"b"),
      ColumnForms.hash60($"b")).head()
    assert(got.getLong(0) == got.getLong(1))
  }

  test("the text kernels reject non-string input") {
    val s2 = spark.newSession()
    import s2.implicits._
    val df = Seq(1L).toDF("n")
    intercept[Exception](df.select(TextFunctions.langId($"n")).schema)
    intercept[Exception](df.select(TextFunctions.hash60($"n")).schema)
  }

  test("planeVector is unchanged: md5 hex digits parsed as before") {
    def old(j: Int, dim: Int): Array[Double] = Array.tabulate(dim) { i =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"plane$j-$i".getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(15)
      (java.lang.Long.parseLong(hex, 16) % 2001L - 1000L).toDouble
    }
    for (j <- 0 until 100)
      assert(graft.functions.VectorKernels.planeVector(j, 64).toSeq ==
        old(j, 64).toSeq, s"plane $j")
  }
}
