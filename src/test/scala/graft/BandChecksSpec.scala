package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins every rows-only query's error band green at the correctness-gate
  * scale (sf0.01 — the same data the driver's Verify runs against), so the
  * band verdicts in band_checks.json are themselves test-guarded: a sketch
  * regression (changed rsd, broken merge, LSH recall collapse) fails the
  * suite, not just a JSON field nobody reads.
  */
class BandChecksSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.01"

  private lazy val bands = BandChecks.run(spark, sf)

  test("all 10 band checks pass at sf0.01 (9 rows-only queries + the approx-topk quality/library cross-check)") {
    assert(bands.size == 10, s"expected 10 band checks, got ${bands.size}")
    val failed = bands.filterNot(_.ok)
    assert(failed.isEmpty,
      failed.map(b => s"${b.query}: ${b.detail}").mkString("; "))
  }

  test("Verify's [band] lines are pure ASCII for every check's ok and FAIL verdicts and a crash text") {
    val crashed = BandChecks.Band("q_x", ok = false, "check crashed: na\u00efve \u2014 \u03c3 \uD83D\uDE00")
    val lines = (bands ++ bands.map(_.copy(ok = false)) :+ crashed).map(BandChecks.line)
    assert(lines.size == 21)
    lines.foreach(l => assert(l.forall(_ < 0x80), s"non-ASCII line: $l"))
    assert(BandChecks.line(BandChecks.Band("q_x", ok = true, "a \u2264 b")) ==
      "[band] q_x: ok - a \\u2264 b")
  }

  test("band JSON renders one entry per check with boolean verdicts") {
    val json = BandChecks.toJson(Seq(
      BandChecks.Band("q_x", ok = true, "detail a"),
      BandChecks.Band("q_y", ok = false, "detail b")))
    assert(json == """{"q_x":{"band_ok":true,"detail":"detail a"},""" +
      """"q_y":{"band_ok":false,"detail":"detail b"}}""")
  }

  test("band checks detect a broken estimate (the harness is falsifiable)") {
    // a band harness that can never fail is no harness: run the REAL
    // verdict function the overlap check uses, once with the true values
    // and once with a corrupted estimate — the corrupted one must fail
    val row = SparkEntry.queries("q_sketch_overlap")(spark, sf).head()
    val est = row.getAs[Long]("overlap_est").toDouble
    val exact = row.getAs[Long]("overlap_exact").toDouble
    val union = row.getAs[Long]("n_union_est").toDouble
    val (okTrue, _, bound) = BandChecks.overlapVerdict(est, exact, union)
    assert(okTrue, "true estimate must pass its own band")
    val (okBroken, errBroken, _) =
      BandChecks.overlapVerdict(exact + 10 * bound + 1, exact, union)
    assert(!okBroken && errBroken > bound,
      "an estimate 10x outside the bound must FAIL the verdict")
  }
}
