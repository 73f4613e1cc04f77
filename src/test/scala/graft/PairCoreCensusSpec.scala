package graft

import org.scalatest.funsuite.AnyFunSuite

/** Census of the pair-join copies under `src/main/scala`: the
  * candidate-volume throw and the band/chunk/bucket-keyed equi-joins
  * live in one place each (`Dedup.candidateValve`, `Dedup.bandJoin`),
  * so a hand-written copy shows up here as a count change. Comment
  * lines are skipped ([[SourceCensus]]). */
class PairCoreCensusSpec extends AnyFunSuite {

  import SourceCensus.{census, code}

  test("one candidate-volume throw; no message spells out a valve key") {
    assert(census("\"[^\"\\n]*candidate volume") == Map("Dedup.scala" -> 1))
    val literals = code.flatMap { case (_, c) =>
      "\"([^\"\\n]*maxCandidatePairs[^\"\\n]*)\"".r.findAllMatchIn(c)
        .map(_.group(1))
    }
    val keys = "spark\\.graft\\.(jaccard|embed|editdist)\\.maxCandidatePairs"
    assert(literals.nonEmpty && literals.forall(_.matches(keys)),
      literals.filterNot(_.matches(keys)).mkString("; "))
  }

  test("band, chunk and bucket keys join in bandJoin only") {
    // each key list is spelled once, as Dedup's constant
    for (keys <- Seq("\"band\", \"sig\"", "\"chunk\", \"key\"",
        "\"t\", \"bkt\""))
      assert(census(s"= Seq\\($keys\\)") == Map("Dedup.scala" -> 1), keys)
    // no column-equality join on a band, chunk or bucket column
    assert(census("col\\(\"\\w+\\.(band|sig|chunk|key|bkt)\"\\)\\s*===")
      .isEmpty)
    // no join keyed by a literal band or chunk key list; the literal
    // (t, bkt) joins left are bitext mining and ANN candidates
    // (Similarity) and semantic decontamination, outside the dedup faces
    assert(census(",\\s*Seq\\(\"(band|chunk)\", \"(sig|key)\"\\)").isEmpty)
    assert(census(",\\s*Seq\\(\"t\", \"bkt\"\\)") ==
      Map("Similarity.scala" -> 3, "Decontaminate.scala" -> 2))
  }
}
