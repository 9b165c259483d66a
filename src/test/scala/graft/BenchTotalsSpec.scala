package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's rollups over per-row samples: a row that never succeeded
  * is named as failed and must not make any total read faster.
  */
class BenchTotalsSpec extends AnyFunSuite {
  private val samples = Map(
    "h_ok" -> Seq(3.0, 1.0, 2.0), "h_bad" -> Seq.empty[Double],
    "f_ok" -> Seq(0.5, 0.25), "f_bad" -> Seq.empty[Double],
    "g1_ok" -> Seq(4.0, 5.0), "g2_bad" -> Seq.empty[Double])

  test("a row with no sample is failed and adds nothing to any total") {
    val t = Bench.totals(samples, Seq("h_ok", "h_bad"), Seq("f_ok", "f_bad"),
      Seq("g1_ok", "g2_bad"))
    assert(t.failed.toSet == Set("h_bad", "f_bad", "g2_bad"))
    assert(t.headline == Seq("h_ok" -> Some(2.0), "h_bad" -> None))
    assert(t.loaders == Seq("g1_ok" -> Some(4.0), "g2_bad" -> None))
    assert(t.scaledTotal == 2.0)
    assert(t.fixturesBucket == 0.25)
    assert(t.loadersBucket == 4.0)
    assert(t.fixtureTotal == 4.25)
    assert(t.total == 6.25)
    // the same run without its failed rows reads the same totals
    val ok = Bench.totals(samples, Seq("h_ok"), Seq("f_ok"), Seq("g1_ok"))
    assert(ok.failed.isEmpty)
    assert((ok.scaledTotal, ok.fixtureTotal, ok.total) ==
      ((t.scaledTotal, t.fixtureTotal, t.total)))
  }

  test("an even sample count takes the mean of the two middle samples") {
    assert(Bench.median(Seq(3.0, 1.0)) == 2.0)
    assert(Bench.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    val t = Bench.totals(Map("h" -> Seq(3.0, 1.0)), Seq("h"), Nil, Nil)
    assert(t.headline == Seq("h" -> Some(2.0)))
    assert(t.scaledTotal == 2.0)
  }
}
