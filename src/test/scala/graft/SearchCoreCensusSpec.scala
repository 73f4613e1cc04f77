package graft

import org.scalatest.funsuite.AnyFunSuite

/** Census of the ranked-retrieval math and parsing under
  * `src/main/scala`: the BM25 weight, the RRF term, the glob
  * translation and the score normalization live in one place each, and
  * the search stages live in `SearchStages`, not in
  * `PipelineCompiler.stage`. A hand-written copy shows up here as a
  * count change; comment lines are skipped ([[SourceCensus]]). */
class SearchCoreCensusSpec extends AnyFunSuite {
  import SourceCensus.census

  test("the BM25 k1 + 1 term is spelled once") {
    assert(census("(?i)\\bk1\\s*\\+\\s*1\\b") == Map("TextSearch.scala" -> 1))
  }

  test("the RRF damping constant 60 is spelled once in the engine") {
    // the oracle SQL strings (graft.queries) spell `rank + 60` on their
    // own; the engine's ranked-retrieval files name 60 once, and no
    // engine file adds a literal 60 or k0 to a rank
    val retrieval = Set("Hybrid.scala", "TextSearch.scala",
      "SearchStages.scala", "PipelineCompiler.scala", "Similarity.scala",
      "Quantize.scala")
    assert(census("(?<![\\w.])60(?![\\w.])").filter(e => retrieval(e._1)) ==
      Map("Hybrid.scala" -> 1))
    assert(census("\\+\\s*lit\\(\\s*(60|k0)\\s*\\)").isEmpty)
  }

  test("one glob translation, one minMaxScaler normalization") {
    val glob = java.util.regex.Pattern.quote("\"\\\\.[]{}()+-^$|\"")
    assert(census(glob) == Map("SearchStages.scala" -> 1))
    assert(census("case \"minMaxScaler\"") ==
      Map("SearchStages.scala" -> 1))
  }

  test("PipelineCompiler.stage holds no search, fusion or score arm") {
    val arms = "case \"\\$(search|searchMeta|vectorSearch|rankFusion|" +
      "score|scoreFusion)\""
    assert(census(arms) == Map("SearchStages.scala" -> 5))
  }
}
