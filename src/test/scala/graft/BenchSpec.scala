package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench harness fails loudly: a broken measured query is an error,
  * never a sentinel time left out of the total, and the compact summary
  * parses as JSON under any default locale. */
class BenchSpec extends AnyFunSuite {

  test("a failing measured query is reported, not replaced by a sentinel") {
    var calls = 0
    val broken = Bench.measure(3) { () =>
      calls += 1
      if (calls == 2) throw new IllegalStateException("broken query")
      1.0
    }(identity)
    assert(broken.left.toOption.map(_.getMessage) === Some("broken query"))
    assert(Bench.measure(3)(() => 2.0)(identity) === Right(Seq(2.0, 2.0, 2.0)))
  }

  test("compact line is locale-independent") {
    val prior = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      val line = Bench.compactLine(1.234567, Seq("q1" -> 0.5), "/sf")
      assert(line ===
        """{"metric":"total","value":1.23457,"unit":"sec","queries":{"q1":0.50000},"sf":"/sf"}""")
    } finally java.util.Locale.setDefault(prior)
  }
}
