package graft

import org.scalatest.funsuite.AnyFunSuite

/** Census of the `spark.graft.*` configuration keys the library reads:
  * every distinct literal key under `src/main/scala`. A new knob (or a
  * removed one) changes this set, so it shows up as a diff of the
  * pinned list below. */
class KnobCensusSpec extends AnyFunSuite {

  test("the spark.graft.* key set under src/main/scala is pinned") {
    val key = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r
    val found = SourceCensus.files.flatMap { f =>
      key.findAllMatchIn(SourceCensus.lines(f).mkString("\n"))
        .map(_.group(1))
    }.toSet
    val pinned = Set(
      "spark.graft.binaryann.broadcastQueryLimit",
      "spark.graft.bitext.broadcastLimit",
      "spark.graft.checkpointDir",
      "spark.graft.clusters.driverEdgeLimit",
      "spark.graft.editdist.maxCandidatePairs",
      "spark.graft.editdist.shortBucketLimit",
      "spark.graft.embed.maxCandidatePairs",
      "spark.graft.embed.targetBucket",
      "spark.graft.jaccard.maxCandidatePairs",
      "spark.graft.kmeans.twoLevelAssignMinK",
      "spark.graft.semdecon.broadcastLimit",
      "spark.graft.semdedup.maxCellRows",
      "spark.graft.semdedup.maxGroupPairs",
      "spark.graft.semdedup.targetCell",
      "spark.graft.skewSalt",
      "spark.graft.streaming.statePartitions",
      "spark.graft.strictMongo",
      "spark.graft.strictScale")
    assert(found == pinned,
      s"added: ${(found -- pinned).toSeq.sorted.mkString(", ")}; " +
        s"removed: ${(pinned -- found).toSeq.sorted.mkString(", ")}")
    assert(pinned.size == 18)
  }
}
