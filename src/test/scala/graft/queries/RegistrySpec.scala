package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, Verify}

/** Invariants of the query registry and of the `SparkEntry` maps read
  * off it. No query runs here, so no Spark session is started. */
class RegistrySpec extends AnyFunSuite {

  test("query names are unique") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.size == names.size)
    assert(Registry.byName.size == Registry.all.size)
  }

  test("bench short keys are unique") {
    val keys = Registry.all.map(q => Registry.shortKey(q.name))
    assert(keys.distinct.size == keys.size)
  }

  test("construction rejects a repeated name or a repeated bench key") {
    val q = Registry.all.head
    val dupName = intercept[IllegalArgumentException](Registry.checked(Seq(q, q)))
    assert(dupName.getMessage.contains(q.name))
    val sameKey = q.copy(name = Registry.shortKey(q.name) + "_other")
    val dupKey = intercept[IllegalArgumentException](
      Registry.checked(Seq(q, sameKey)))
    assert(dupKey.getMessage.contains(Registry.shortKey(q.name)))
  }

  test("every oracle is non-empty") {
    assert(Registry.all.filter(_.oracle.trim.isEmpty).map(_.name).isEmpty)
  }

  test("only the two re-declared workloads carry a revision") {
    assert(Registry.all.filter(_.rev != 1).map(q => q.name -> q.rev).toMap ==
      Map("q130_semdedup" -> 2, "q22_embed_neardup" -> 2))
  }

  test("SparkEntry.queries and oracleSql cover the same names") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == Registry.byName.keySet)
  }

  test("Verify rejects unknown query names and missing directories") {
    assert(Verify.parseArgs(Array("sf", "out", "q01_find,q99_nope,q0_x")) ==
      Left("unknown queries: q0_x, q99_nope"))
    assert(Verify.parseArgs(Array("sf")) == Left(Verify.Usage))
    assert(Verify.parseArgs(Array("sf", "out", "q01_find")) ==
      Right(("sf", "out", Some(Set("q01_find")))))
    assert(Verify.parseArgs(Array("sf", "out")) == Right(("sf", "out", None)))
  }
}
