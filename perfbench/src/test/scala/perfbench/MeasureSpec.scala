package perfbench

import org.scalatest.funsuite.AnyFunSuite

class MeasureSpec extends AnyFunSuite {

  test("a call that throws is recorded as failed and the loop goes on") {
    val recs = Measure.loop(seconds = 0, minIters = 4) { i =>
      Measure.once("job", "timed") {
        if (i == 1) throw new IllegalStateException("broken job")
      }(None)
    }
    assert(recs.size == 4)
    assert(recs.map(_.ok) == Seq(true, false, true, true))
    assert(recs(1).error.exists(_.contains("broken job")))
  }

  test("a failed output check fails the call; a thrown call skips its check") {
    var checked = 0
    val bad = Measure.once("job", "timed")(())({ checked += 1; Some("3 rows, want 4") })
    val threw = Measure.once("job", "timed")(throw new RuntimeException("x"))({ checked += 1; None })
    val checkThrew = Measure.once("job", "timed")(())(throw new RuntimeException("y"))
    assert(bad.error.contains("check failed: 3 rows, want 4"))
    assert(threw.error.exists(_.contains("x")))
    assert(checkThrew.error.exists(_.startsWith("check threw")))
    assert(checked == 1)
  }

  test("loop runs at least minIters calls and stops after the deadline") {
    assert(Measure.loop(seconds = 0, minIters = 3)(identity) == Seq(0, 1, 2))
    val t0 = System.nanoTime()
    val n = Measure.loop(seconds = 0.05, minIters = 1) { _ => Thread.sleep(5) }.size
    assert(n >= 2 && (System.nanoTime() - t0) / 1e9 < 1)
  }
}
