package graft

import org.scalatest.funsuite.AnyFunSuite

/** Census of the pair-join copies under `src/main/scala`: the
  * candidate-volume throw and the band/chunk/bucket-keyed equi-joins
  * live in one place each (`Dedup.candidateValve`, `Dedup.bandJoin`),
  * so a hand-written copy shows up here as a count change. Comment
  * lines are skipped; runs from the project root. */
class PairCoreCensusSpec extends AnyFunSuite {

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  /** (file name, code lines joined) for every main source file. */
  private lazy val code: Seq[(String, String)] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: $root missing")
    scalaFiles(root).map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try f.getName -> src.getLines().filterNot { l =>
        val t = l.trim
        t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
      }.mkString("\n")
      finally src.close()
    }
  }

  /** Matches of `re` per file, files without one left out. */
  private def census(re: String): Map[String, Int] =
    code.map { case (f, c) => f -> re.r.findAllIn(c).size }
      .filter(_._2 > 0).toMap

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
