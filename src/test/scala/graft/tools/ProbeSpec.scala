package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** Probe rejects bad arguments before it builds a session: `main` parses
  * first, so these cases never start Spark.
  *
  * No Spark session: argument parsing only.
  */
class ProbeSpec extends AnyFunSuite {

  private val sf = "testdata/sf0.001"

  test("reps below 1 and an unknown mode are rejected while parsing") {
    val zero = intercept[IllegalArgumentException](
      Probe.parse(Array("time", sf, "c6_user_spend_trend", "0")))
    assert(zero.getMessage.contains("reps must be at least 1"))
    val mode = intercept[IllegalArgumentException](
      Probe.parse(Array("tiem", sf, "c6_user_spend_trend")))
    assert(mode.getMessage.contains("unknown mode 'tiem'"))
  }

  test("valid arguments parse to the selected queries and reps") {
    val (mode, dir, selected, reps) =
      Probe.parse(Array("time", sf, "c6_user_spend_trend,c27_collusion_pairs", "2"))
    assert((mode, dir, reps) === (("time", sf, 2)))
    assert(selected.map(_._1) === Seq("c6_user_spend_trend", "c27_collusion_pairs"))
    assert(Probe.parse(Array("plansize", sf, "--all"))._4 === 3, "reps defaults to 3")
  }
}
