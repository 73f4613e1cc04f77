package graft.ops

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.DataFrame

/** The band-join faces of [[Dedup]]: MinHash bands, SimHash/perceptual
  * chunk keys and the embedding bucket store, all on one core with one
  * candidate-volume valve. */
class BandJoinSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  /** `df` written as a partitioned store in `batches` appends through
    * the store writer, then read back. */
  private def store(tag: String, part: String, batches: DataFrame*)
      : DataFrame = {
    val dir = tmpDir(tag)
    batches.zipWithIndex.foreach { case (b, i) =>
      graft.sources.Tables.storeWrite(b, part, s"$dir/batch=$i")
    }
    spark.read.parquet(dir).drop("batch")
  }

  test("Hamming faces emit one row per id pair, hamming = the minimum " +
      "over the pair's fingerprints") {
    // id 1 carries two fingerprints, 1 and 2 bits from id 2's
    val fp = Seq((1L, 0L), (1L, 7L), (2L, 1L)).toDF("id", "h")
    val self = Dedup.hammingNearDup(fp, "id", "h", 16, 3)
      .as[(Long, Long, Int)].collect().toSeq
    assert(self == Seq((1L, 2L, 1)), self.mkString(" "))
    // a store appended twice holds ref id 20 with two fingerprints
    val refs = store("hamdup", "chunk",
      Dedup.hammingChunkSignatures(Seq((20L, 3L)).toDF("id", "h"),
        "id", "h", 16, 3),
      Dedup.hammingChunkSignatures(Seq((20L, 1L)).toDF("id", "h"),
        "id", "h", 16, 3))
    val cross = Dedup.hammingNearDupBetweenPrecomputed(
      Seq((5L, 0L)).toDF("id", "h"), refs, "id", "h", 16, 3)
      .as[(Long, Long, Int)].collect().toSeq
    assert(cross == Seq((5L, 20L, 1)), cross.mkString(" "))
    Dedup.releaseCaches()
  }

  // new ids 11..14 and ref ids 1..4 are disjoint; ids 11 and 2 carry
  // two texts each, and the store holds every ref row once plus a
  // second append of ids 1 and 2
  private lazy val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "spark joins shuffle rows by key hash across the cluster nodes"),
    (2L, "a second text of id two about columnar parquet storage files"),
    (3L, "an entirely different document about gardening and tomatoes"),
    (4L, "one more unrelated piece of text with its own distinct words"),
    (11L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (11L, "the quick brown fox jumps over the lazy dog near the river bend"),
    (12L, "spark joins shuffle rows by key hash across the cluster nodes"),
    (13L, "completely novel words nobody else in this corpus ever uses"),
    (14L, "an entirely different document about gardening and tomatoes")
  ).toDF("doc_id", "text")
  private def newDocs = corpus.where($"doc_id" >= 10)
  private def refDocs = corpus.where($"doc_id" < 10)
  private def reAppended = refDocs.where($"doc_id" <= 2)

  /** The self face's (id_a, id_b) pairs across the split, as
    * (new_id, ref_id); each must appear once. */
  private def crossPairs(self: DataFrame): Seq[(Long, Long)] = {
    val pairs = self.select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(pairs.distinct.size == pairs.size, "a self pair appears twice")
    pairs.map { case (a, b) => if (a >= 10) (a, b) else (b, a) }
      .filter { case (n, r) => n >= 10 && r < 10 }.sorted
  }

  private def sorted(df: DataFrame): Seq[(Long, Long)] = {
    val got = df.select("new_id", "ref_id").as[(Long, Long)].collect().toSeq
    assert(got.distinct.size == got.size, "a face emits an id pair twice")
    got.sorted
  }

  test("MinHash faces agree on duplicate ids and an appended store: " +
      "self across the split == Between == Precomputed") {
    val refStore = store("mhstore", "band",
      Dedup.minhashBandSignatures(refDocs, "doc_id", "text"),
      Dedup.minhashBandSignatures(reAppended, "doc_id", "text"))
    val self = crossPairs(Dedup.minhashLshPairs(corpus, "doc_id", "text"))
    val between = sorted(Dedup.minhashLshPairsBetween(newDocs, refDocs,
      "doc_id", "text"))
    val viaStore = sorted(Dedup.minhashLshPairsBetweenPrecomputed(newDocs,
      refStore, "doc_id", "text"))
    assert(self.contains((12L, 2L)) && self.contains((14L, 3L)), self)
    assert(between == self && viaStore == self,
      s"self $self, between $between, store $viaStore")
    Dedup.releaseCaches()
  }

  test("SimHash faces agree on duplicate ids and an appended store: " +
      "self across the split == Between == Precomputed == brute force") {
    val refStore = store("simstore", "chunk",
      Dedup.simhashChunkSignatures(refDocs, "doc_id", "text"),
      Dedup.simhashChunkSignatures(reAppended, "doc_id", "text"))
    val selfDf = Dedup.simhashNearDup(corpus, "doc_id", "text")
    val self = crossPairs(selfDf)
    val between = sorted(Dedup.simhashNearDupBetween(newDocs, refDocs,
      "doc_id", "text"))
    val viaStore = sorted(Dedup.simhashNearDupBetweenPrecomputed(newDocs,
      refStore, "doc_id", "text"))
    // per side, an id's texts merge into one fingerprint
    def prints(df: DataFrame) = TextFunctions.simhash(df, "doc_id",
      "text", 60).as[(Long, Long)].collect().toMap
    val (fn, fr) = (prints(newDocs), prints(refDocs))
    val brute = (for ((n, a) <- fn.toSeq; (r, b) <- fr.toSeq
      if java.lang.Long.bitCount(a ^ b) <= 3) yield (n, r)).sorted
    assert(brute.contains((14L, 3L)), brute)
    assert(self == brute && between == brute && viaStore == brute,
      s"brute $brute, self $self, between $between, store $viaStore")
    Dedup.releaseCaches()
  }

  private val jaccardKey = "spark.graft.jaccard.maxCandidatePairs"
  private val embedKey = "spark.graft.embed.maxCandidatePairs"

  /** Every band-join face on 30 "new" and 30 "ref" rows whose keys all
    * collide (identical boilerplate text, all-zero fingerprints,
    * identical vectors): (face, valve key, remedy substring, build). */
  private def hotFaces: Seq[(String, String, String, () => DataFrame)] = {
    val text = "cookie banner accept all cookies to continue reading"
    val docs = (0 until 60).map(i => (i.toLong, text)).toDF("doc_id", "text")
    val (nd, rd) = (docs.where($"doc_id" < 30), docs.where($"doc_id" >= 30))
    val fp = (0 until 60).map(i => (i.toLong, 0L)).toDF("id", "h")
    val (nf, rf) = (fp.where($"id" < 30), fp.where($"id" >= 30))
    val vecs = (0 until 60).map(i => (i.toLong, Array(1.0, 0.5)))
      .toDF("vec_id", "embedding")
    val (nv, rv) = (vecs.where($"vec_id" < 30), vecs.where($"vec_id" >= 30))
    Seq(
      ("minhashLshPairs", jaccardKey, "boilerplate",
        () => Dedup.minhashLshPairs(nd, "doc_id", "text")),
      ("minhashJaccardEstimate", jaccardKey, "boilerplate",
        () => Dedup.minhashJaccardEstimate(nd, "doc_id", "text")),
      ("minhashLshPairsBetweenPrecomputed", jaccardKey, "boilerplate",
        () => Dedup.minhashLshPairsBetweenPrecomputed(nd,
          Dedup.minhashBandSignatures(rd, "doc_id", "text"),
          "doc_id", "text")),
      ("hammingNearDup", jaccardKey, "degenerate fingerprints",
        () => Dedup.hammingNearDup(nf, "id", "h", 16, 3)),
      ("simhashNearDupBetweenPrecomputed", jaccardKey,
        "degenerate fingerprints",
        () => Dedup.simhashNearDupBetweenPrecomputed(nd,
          Dedup.simhashChunkSignatures(rd, "doc_id", "text"),
          "doc_id", "text")),
      ("hammingNearDupBetweenPrecomputed", jaccardKey,
        "degenerate fingerprints",
        () => Dedup.hammingNearDupBetweenPrecomputed(nf,
          Dedup.hammingChunkSignatures(rf, "id", "h", 16, 3),
          "id", "h", 16, 3)),
      ("embeddingNearDupBetweenPrecomputed", embedKey, "more blockPlanes",
        () => Dedup.embeddingNearDupBetweenPrecomputed(nv,
          Dedup.vectorBucketSignatures(rv, "vec_id", "embedding",
            blockTables = 4, blockPlanes = 8, dim = 2),
          rv, "vec_id", "embedding", 0.9, blockTables = 4,
          blockPlanes = 8, dim = 2)))
  }

  private def withKey[T](key: String, value: String)(body: => T): T = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  test("a hot band key fails every band-join face at plan build, naming " +
      "the face, the key and the remedy; 0 disables the valve") {
    for ((face, key, remedy, build) <- hotFaces) {
      // the throw comes from building the frame: no action ran on it
      val e = withKey(key, "100")(intercept[IllegalStateException](build()))
      assert(e.getMessage.startsWith(s"$face: candidate volume") &&
        e.getMessage.contains(s"$key=100") && e.getMessage.contains(remedy),
        e.getMessage)
      // every new row pairs with every ref row (and, self, with each other)
      assert(withKey(key, "0")(build().count()) > 0, face)
    }
    Dedup.releaseCaches()
  }

  test("band-join plan build at the default valve runs the bounded " +
      "probes only: the 30-row sides are provably small") {
    // plan-build jobs on these inputs at the default valve. With the
    // valve off, the self faces build without a job and the store faces
    // read one store row (two jobs where the store is a computed frame,
    // as here); the probes add the rest. A reference that is a computed
    // frame, not a saved store, is recomputed by its probe.
    val budgets = Map(
      "minhashLshPairs" -> 4, "minhashJaccardEstimate" -> 4,
      "minhashLshPairsBetweenPrecomputed" -> 9, "hammingNearDup" -> 3,
      "simhashNearDupBetweenPrecomputed" -> 9,
      "hammingNearDupBetweenPrecomputed" -> 6,
      "embeddingNearDupBetweenPrecomputed" -> 6)
    for ((face, key, _, build) <- hotFaces) {
      val (_, small) = jobsIn(build())
      val (_, off) = withKey(key, "0")(jobsIn(build()))
      assert(small <= budgets(face) && small > off,
        s"$face: $small plan-build jobs, $off with the valve off")
    }
    Dedup.releaseCaches()
  }
}
