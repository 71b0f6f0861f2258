package graft.operators

import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._

import graft.SparkSpecBase

/** `Adaptive.overlap` returns what its body returns and rethrows what it
  * throws, fatal errors included, instead of leaving the caller waiting.
  */
class AdaptiveSpec extends SparkSpecBase with TimeLimits {

  // interrupt the test thread if the thunk blocks past the bound
  private implicit val signaler: Signaler = ThreadSignaler

  test("overlap: the thunk returns the body's value") {
    val r = Adaptive.overlap(41 + 1)
    assert(failAfter(30.seconds)(r()) === 42)
  }

  test("overlap: a fatal error in the body is rethrown, not a hang") {
    val r = Adaptive.overlap[Int](throw new LinkageError("injected"))
    val e = failAfter(30.seconds)(intercept[LinkageError](r()))
    assert(e.getMessage === "injected")
  }

  test("overlap: a non-fatal failure in the body is rethrown") {
    val r = Adaptive.overlap[Int](throw new IllegalStateException("boom"))
    intercept[IllegalStateException](failAfter(30.seconds)(r()))
  }
}
