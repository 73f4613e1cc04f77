package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Curation, Dedup}

/** The LLM-data-pipeline face: a text corpus goes through the curation
  * gate, MinHash LSH pairs, duplicate clusters and keep-best resolution,
  * and a vector corpus through the embedded-curation preset. The inputs
  * carry planted near-duplicates, so the outputs can be checked. One
  * operation is one repetition of all five stages, each materialized in
  * memory. */
final class Curate(ctx: Ctx) extends Workload(ctx) {
  import Curate._
  private val spark = ctx.spark
  import spark.implicits._

  private var inputs: Path = _
  private var texts: Map[Long, String] = Map.empty
  private var planted: Seq[(Long, Long)] = Nil
  private var englishDocs = 0L
  private var vecCopies = 0L
  private var firstSums: Option[(String, String)] = None
  /** Seconds of (text stages, vector stage) per measured operation,
    * traced and untraced apart. */
  private val stageS = Map(true -> mutable.ArrayBuffer.empty[(Double, Double)],
    false -> mutable.ArrayBuffer.empty[(Double, Double)])
  private val precision = mutable.ArrayBuffer.empty[Double]
  private val recall = mutable.ArrayBuffer.empty[Double]
  private val candidates = mutable.ArrayBuffer.empty[Double]
  private val vecRecall = mutable.ArrayBuffer.empty[Double]

  /** Text docs and planted pairs, built on the driver from the seed. */
  private def corpus(): (Seq[(Long, String)], Seq[(Long, Long)], Long) = {
    val rnd = new scala.util.Random(ctx.seed)
    def words(vocab: IndexedSeq[String], stop: IndexedSeq[String],
        n: Int): Vector[String] =
      Vector.fill(n)(if (rnd.nextDouble() < 0.3) stop(rnd.nextInt(stop.size))
        else vocab(rnd.nextInt(vocab.size)))
    val docs = mutable.ArrayBuffer.empty[(Long, Vector[String])]
    val originals = mutable.ArrayBuffer.empty[Int]
    val pairs = mutable.ArrayBuffer.empty[(Long, Long)]
    var german = 0L
    for (id <- 0 until Docs) {
      if (id % 20 == 19) {
        // a near-duplicate: an earlier original with 5% of words replaced
        val src = originals(rnd.nextInt(originals.size))
        val w = docs(src)._2
        val k = math.max(1, math.round(w.size * 0.05).toInt)
        val at = rnd.shuffle(w.indices.toVector).take(k)
        val mutated = at.foldLeft(w) { (acc, j) =>
          var r = Words(rnd.nextInt(Words.size))
          while (r == acc(j)) r = Words(rnd.nextInt(Words.size))
          acc.updated(j, r)
        }
        docs += id.toLong -> mutated
        pairs += src.toLong -> id.toLong
      } else if (id % 25 == 7) {
        docs += id.toLong -> words(Words, GermanStop, 40 + rnd.nextInt(40))
        german += 1
      } else {
        docs += id.toLong -> words(Words, EnglishStop, 40 + rnd.nextInt(40))
        originals += id
      }
    }
    (docs.map { case (i, w) => i -> w.mkString(" ") }.toSeq, pairs.toSeq,
      Docs - german)
  }

  def generate(dir: Path): String = {
    val (docs, _, _) = corpus()
    Gen.write(docs.toDF("doc_id", "text").repartition(ctx.cores, $"doc_id"),
      dir.resolve("docs.parquet"))
    val rnd = new scala.util.Random(ctx.seed * 31 + 7)
    val base = mutable.ArrayBuffer.empty[Array[Float]]
    val vecs = (0 until Vecs).map { id =>
      val v =
        if (id % 10 == 9) {
          val src = base(rnd.nextInt(base.size))
          src.map(x => x + (rnd.nextGaussian() * 0.05).toFloat)
        } else {
          val b = Array.fill(Dim)(rnd.nextGaussian().toFloat)
          base += b
          b
        }
      (id.toLong, v.toSeq, rnd.nextInt(100).toLong)
    }
    Gen.write(vecs.toDF("vec_id", "embedding", "quality")
      .repartition(ctx.cores, $"vec_id"), dir.resolve("vecs.parquet"))
    Gen.checksum(Gen.read(spark, dir.resolve("docs.parquet"))) + "/" +
      Gen.checksum(Gen.read(spark, dir.resolve("vecs.parquet")))
  }

  override def prepare(dir: Path): Unit = {
    inputs = dir
    val (docs, pairs, english) = corpus()
    texts = docs.toMap
    planted = pairs
    englishDocs = english
    vecCopies = (0 until Vecs).count(_ % 10 == 9).toLong
  }

  def op(i: Int, timed: Timed): Unit = {
    // each stage is materialized in memory before the next one starts, so
    // every stage is timed on its own; the frames are released at the end
    val outs = mutable.LinkedHashMap.empty[String, DataFrame]
    def stage(span: String, name: String)(df: => DataFrame): DataFrame =
      ctx.span(span) {
        val d = df.persist()
        d.count()
        outs(name) = d
        d
      }
    try {
      val docs = Gen.read(spark, inputs.resolve("docs.parquet"))
      val vecs = Gen.read(spark, inputs.resolve("vecs.parquet"))
      timed("rep") {
        val t0 = System.nanoTime()
        val curated = stage("ops.text_gate", "curated")(
          Curation.curate(docs, "doc_id", "text", targetLang = "en"))
        val pairs = stage("ops.minhash_pairs", "pairs")(
          Dedup.minhashLshPairs(curated, "doc_id", "text"))
        val clusters = stage("ops.clusters", "clusters")(
          Dedup.duplicateClusters(pairs))
        stage("ops.resolve", "resolved")(
          Dedup.resolveClusters(curated, clusters, "doc_id", "quality"))
        val t1 = System.nanoTime()
        stage("ops.embed_curate", "embed")(
          Curation.embedCurate(vecs, "vec_id", "embedding", "quality",
            dupThreshold = VecThreshold, dim = Dim))
        if (i >= 0) stageS(ctx.traced).append(
          ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9))
      }
      Dedup.releaseCaches()
      checkRep(outs)
    } finally {
      outs.values.foreach(_.unpersist(blocking = true))
      Dedup.releaseCaches()
    }
  }

  private def checkRep(outs: collection.Map[String, DataFrame]): Unit = {
    def read(name: String) = outs(name)
    val curatedIds = read("curated").select("doc_id").as[Long].collect().toSet
    ctx.check("curate keeps exactly the English docs",
      curatedIds.size == englishDocs, s"${curatedIds.size} vs $englishDocs")
    val pairs = read("pairs").select("id_a", "id_b").as[(Long, Long)].collect()
    val found = pairs.toSet
    val reachable = planted.filter { case (a, b) =>
      curatedIds(a) && curatedIds(b) }
    val rec = reachable.count(p => found(p)).toDouble / math.max(1, reachable.size)
    val truePairs = pairs.count { case (a, b) =>
      jaccard(texts(a), texts(b)) >= TrueJaccard }
    recall += rec
    candidates += pairs.length
    precision += (if (pairs.isEmpty) 0.0 else truePairs.toDouble / pairs.length)
    ctx.check(s"planted pair recall >= $RecallFloor", rec >= RecallFloor, f"$rec%.4f")
    val survivors = read("embed").count()
    val vr = (Vecs - survivors).toDouble / vecCopies
    vecRecall += vr
    ctx.check(s"planted vector duplicates merged >= $RecallFloor",
      vr >= RecallFloor && survivors >= Vecs - vecCopies, s"$survivors survivors")
    val sums = (Gen.checksum(read("resolved").select("doc_id", "component",
      "cluster_size")), Gen.checksum(read("embed").select("vec_id",
      "component", "cluster_size")))
    firstSums match {
      case None => firstSums = Some(sums)
      case Some(s) => ctx.check("survivor checksum identical across repetitions",
        s == sums, s"$sums vs $s")
    }
  }

  override def layerMetrics(samples: Seq[OpSample]): Map[String, Double] = {
    def med(name: String): Double = {
      val xs = ctx.tracer.named(name).map(_.ms / 1000.0)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def m(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val traced = stageS(true).toSeq
    Map(
      "ops.text_gate_s" -> med("ops.text_gate"),
      "ops.minhash_pairs_s" -> med("ops.minhash_pairs"),
      "ops.clusters_s" -> med("ops.clusters"),
      "ops.resolve_s" -> med("ops.resolve"),
      "ops.embed_curate_s" -> med("ops.embed_curate"),
      "ops.candidate_pairs" -> m(candidates.toSeq),
      "ops.pair_precision" -> m(precision.toSeq),
      "ops.planted_pair_recall" -> m(recall.toSeq),
      "ops.vec_dup_recall" -> m(vecRecall.toSeq),
      "ops.docs_per_s" -> (if (traced.isEmpty) 0.0 else Docs / m(traced.map(_._1))),
      "ops.vecs_per_s" -> (if (traced.isEmpty) 0.0 else Vecs / m(traced.map(_._2))))
  }

  def throughput(samples: Seq[OpSample]): Double =
    (Docs + Vecs) / (Stats.median(samples.map(_.ms)) / 1000.0)

  def summary(samples: Seq[OpSample]): Seq[(String, Double, String)] = {
    val st = stageS(samples.headOption.exists(_.traced)).toSeq
    if (samples.isEmpty || st.isEmpty) Nil
    else Seq(
      ("curate_docs_per_s", Docs / Stats.median(st.map(_._1)), "docs/s"),
      ("curate_vecs_per_s", Vecs / Stats.median(st.map(_._2)), "vecs/s"),
      ("curate_rep_p50_ms", Stats.median(samples.map(_.ms)), "ms"))
  }

  private def shingles(text: String): Set[String] =
    text.split(" ").filter(_.nonEmpty).sliding(3).filter(_.length == 3)
      .map(_.mkString(" ")).toSet

  private def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val u = (x ++ y).size
    if (u == 0) 0.0 else x.intersect(y).size.toDouble / u
  }
}

object Curate {
  val Docs = 6000
  val Vecs = 2000
  val Dim = 64
  /** Cosine above which two vectors are duplicates. */
  val VecThreshold = 0.95
  /** Word-3-shingle Jaccard at or above which a returned pair counts as
    * a true near-duplicate for `ops.pair_precision`. */
  val TrueJaccard = 0.5
  /** Lowest acceptable share of planted duplicates found. A planted text
    * pair has a shingle Jaccard near 0.73, where MinHash LSH with 12
    * permutations in 4 bands finds a pair with probability
    * 1 - (1 - 0.73^3)^4 = 0.86; the floor leaves room for the spread of
    * that estimate over a few hundred pairs. */
  val RecallFloor = 0.75

  /** Synthetic content words: three syllables each, so none is a
    * language marker of any locale the language gate knows. */
  val Words: IndexedSeq[String] = {
    val syl = Seq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "pe",
      "zu", "ba", "do", "fi", "go", "hu")
    (for (a <- syl; b <- syl; c <- syl.take(2)) yield a + b + c).toIndexedSeq
  }
  val EnglishStop = IndexedSeq("the", "and", "of", "to", "a", "in", "is", "it")
  val GermanStop = IndexedSeq("der", "die", "und", "das", "ist", "nicht", "ein", "zu")
}
