package graft

import org.scalatest.funsuite.AnyFunSuite

/** Census of the `spark.graft.*` configuration keys the library reads:
  * every distinct literal key under `src/main/scala`. A new knob (or a
  * removed one) changes this set, so it shows up as a diff of the
  * pinned list below. Runs from the project root (sbt's forked test
  * working directory). */
class KnobCensusSpec extends AnyFunSuite {

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  test("the spark.graft.* key set under src/main/scala is pinned") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: $root missing")
    val key = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r
    val found = scalaFiles(root).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try key.findAllMatchIn(src.mkString).map(_.group(1)).toList
      finally src.close()
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
