package graft.queries

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

class FixturesSpec extends AnyFunSuite {

  test("concurrently rethrows a failure only after every action finished") {
    val slowDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Fixtures.concurrently(
        () => throw new IllegalStateException("write 0 failed"),
        () => { Thread.sleep(500); slowDone.set(true) })
    }
    assert(e.getMessage == "write 0 failed")
    // the later write must not still be in flight behind the failure
    assert(slowDone.get)
  }

  test("concurrently runs every action when none fails") {
    val done = Array.fill(3)(new AtomicBoolean(false))
    Fixtures.concurrently(done.toSeq.map(d => () => d.set(true)): _*)
    assert(done.forall(_.get))
  }
}
