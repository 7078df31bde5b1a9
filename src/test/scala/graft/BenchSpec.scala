package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for the bench harness's pure decision logic — no Spark
  * session. The stall guard's rules have driver-budget consequences
  * (round 10: an uncapped >2×-mover re-ran a genuinely-regressed
  * multi-minute query 3 extra times and the driver killed the bench at
  * its timeout, rc=124, no artifact of record), so the decision
  * function is pinned here rather than living only inside the loop.
  */
class BenchSpec extends AnyFunSuite {

  test("stall guard: no committed prior means no re-runs (new queries run unguarded)") {
    assert(Bench.stallGuard(None, 100.0) === ((0, false)))
    assert(Bench.stallGuard(Some(0.0), 100.0) === ((0, false)))
    assert(Bench.stallGuard(Some(-1.0), 100.0) === ((0, false)))
  }

  test("stall guard: readings within 2x of the prior are normal") {
    assert(Bench.stallGuard(Some(1.0), 1.9) === ((0, false)))
    assert(Bench.stallGuard(Some(1.0), 2.0) === ((0, false)))
  }

  test("stall guard: sub-0.5s jitter never burns reps even when >2x") {
    assert(Bench.stallGuard(Some(0.1), 0.4) === ((0, false)))
  }

  test("stall guard: a >2x mover under the ceiling re-runs min-of-3") {
    assert(Bench.stallGuard(Some(1.0), 3.0) === ((3, false)))
    assert(Bench.stallGuard(Some(20.0), 55.0) === ((3, false)))
  }

  test("stall guard: past the absolute ceiling it records once as suspect — never re-runs") {
    // the round-10 failure shape: prior 5.96s, exploded plan runs in
    // minutes; the old guard burned 3 more multi-minute reps
    assert(Bench.stallGuard(Some(5.96), 400.0) === ((0, true)))
    assert(Bench.stallGuard(Some(1.0), 61.0) === ((0, true)))
    // the ceiling binds only when the reading is ALSO a >2x mover: a
    // query whose committed prior is already slow stays unguarded
    assert(Bench.stallGuard(Some(50.0), 70.0) === ((0, false)))
  }

  test("artifact-of-record path: sf0.1 is the record, other scales are side files") {
    assert(Bench.artifactFor("/root/testdata/sf0.1") === "BENCH_FULL.json")
    assert(Bench.artifactFor("/root/testdata/sf0.01") === "BENCH_FULL_sf0.01.json")
    assert(Bench.artifactFor("/root/testdata/sf0.001") === "BENCH_FULL_sf0.001.json")
    // round-11 advice: the rule is path-NORMALIZED — a trailing slash
    // or a sibling dir merely ENDING in "sf0.1" must not misroute the
    // committed record
    assert(Bench.artifactFor("/root/testdata/sf0.1/") === "BENCH_FULL.json")
    assert(Bench.artifactFor("/root/testdata/mysf0.1") === "BENCH_FULL_mysf0.1.json")
  }

  test("bench-record policy: a noisy committed capture cannot loosen the stall-guard prior") {
    // the round-11 shape: the driver committed a host-contended 275.7s
    // capture over the quiet-host 232.5s record; min-merging with the
    // last round artifacts keeps each prior at its best recent reading
    val noisyFull = Map("q1" -> 4.0, "q2" -> 0.8, "q_new" -> 1.0)
    val quietRound = Map("q1" -> 1.9, "q2" -> 0.3)
    val merged = Bench.mergedPriors(Seq(noisyFull, quietRound))
    assert(merged === Map("q1" -> 1.9, "q2" -> 0.3, "q_new" -> 1.0))
    // with the quiet prior, a fresh 4.1s on q1 is a >2x mover (re-runs);
    // against the noisy prior alone it would have read as normal
    assert(Bench.stallGuard(merged.get("q1"), 4.1) === ((3, false)))
    assert(Bench.stallGuard(noisyFull.get("q1"), 4.1) === ((0, false)))
  }

  test("bench-record policy: failed (-1) and rounded-to-zero readings never become priors") {
    val merged = Bench.mergedPriors(Seq(
      Map("q1" -> 0.181, "q2" -> 2.0), Map("q1" -> 0.0, "q2" -> -1.0)))
    assert(merged === Map("q1" -> 0.181, "q2" -> 2.0))
  }

  test("prior parser reads both record shapes: flat artifact and pretty-printed round wrapper") {
    def parse(content: String): Map[String, Double] = {
      val f = java.nio.file.Files.createTempFile("graft_bench_prior", ".json")
      java.nio.file.Files.writeString(f, content)
      try Bench.priorReadings(f.toString)
      finally java.nio.file.Files.deleteIfExists(f)
    }
    val flat = """{"metric":"total","value":1.0,"unit":"sec","queries":{"a":0.5,"b":2.25},"sf":"x"}"""
    assert(parse(flat) === Map("a" -> 0.5, "b" -> 2.25))
    // the driver's round wrapper: pretty-printed "parsed" object, plus
    // an escaped "tail" string that must NOT false-match the key
    val wrapper =
      """{
        |  "n": 11,
        |  "tail": "{\"metric\":\"total\",\"queries\":{\"a\":9.9}}",
        |  "parsed": {
        |    "metric": "total",
        |    "queries": {
        |      "a": 0.2,
        |      "b": 3.0
        |    }
        |  }
        |}""".stripMargin
    assert(parse(wrapper) === Map("a" -> 0.2, "b" -> 3.0))
  }

  test("prior record paths: the driver scale min-merges the last two round artifacts") {
    val paths = Bench.priorRecordPaths("/root/testdata/sf0.1")
    assert(paths.head === "BENCH_FULL.json")
    // the repo carries BENCH_r01..rNN — the two most recent win, in
    // descending round order (property, not names: rounds keep coming)
    val rx = """BENCH_r(\d+)\.json""".r
    val nums = paths.tail.map { case rx(n) => n.toInt }
    val all = new java.io.File(".").list().toSeq.collect {
      case rx(n) => n.toInt }
    assert(nums === all.sorted.reverse.take(2),
      s"expected the two most recent round artifacts, got $paths")
    // other scales read only their own side file: a round artifact is
    // always an sf0.1 capture and must not gate a small-SF iteration
    assert(Bench.priorRecordPaths("/root/testdata/sf0.01") ===
      Seq("BENCH_FULL_sf0.01.json"))
  }

  test("study suspect: a >2x study mover flags (no re-run), jitter and new studies never flag") {
    // the r12 hole: h1_trend_vol_x4 read 21.1 s vs a 6.6 s prior and
    // nothing flagged it — volume studies feed the fixed/marginal fit
    assert(Bench.studySuspect(Some(6.6), 21.1))
    assert(!Bench.studySuspect(Some(6.6), 12.0), "under 2x is a normal reading")
    assert(!Bench.studySuspect(None, 100.0), "no prior = unguarded first reading")
    assert(!Bench.studySuspect(Some(0.1), 0.4), "sub-0.5s jitter never flags")
    assert(!Bench.studySuspect(Some(-1.0), 50.0), "a failed prior guards nothing")
  }

  test("volume split: marginal requires real separation — near-ties and inversions report -1") {
    // clean separation: t = 4*fixed + rows*marginal with fixed=0.5s,
    // marginal=1e5 rows/s over 1e6 rows: t1 = 2+10=12, t4 = 2+40=42
    val (fix, marg) = Bench.volumeSplit(12.0, 42.0, 1e6, 4.0)
    assert(math.abs(marg - 1e5) < 1e-6 && math.abs(fix - 0.5) < 1e-9)
    // the r12 advice hole: t4 a hair above t1 fabricated a huge
    // marginal from jitter — sub-10% separation now refuses the fit
    val (fixTie, margTie) = Bench.volumeSplit(10.0, 10.4, 1e6, 4.0)
    assert(margTie === -1.0 && fixTie === 2.5)
    // inversion keeps its r11 behavior
    assert(Bench.volumeSplit(10.0, 9.0, 1e6, 4.0) === ((2.5, -1.0)))
    // a failed run on either volume never becomes a fixed-cost reading
    assert(Bench.volumeSplit(-1.0, 9.0, 1e6, 4.0) === ((-1.0, -1.0)))
    assert(Bench.volumeSplit(10.0, -1.0, 1e6, 4.0) === ((-1.0, -1.0)))
  }

  test("scaling carry-forward: decades the fresh capture lacks survive the artifact rewrite") {
    val prev = """{"metric":"total","value":220.7,"queries":{"a":1.0},""" +
      """"scaling":{"q1":{"t_sf001":0.5,"t_sf01":1.2,"exp":0.4,"t_sf1":3.0,"exp_sf1":0.42},""" +
      """"gone":{"t_sf01":9.9,"t_sf1":8.8}},"sf":"x"}"""
    val fresh = """{"q1":{"t_sf001":0.6,"t_sf01":1.4,"exp":0.38},"q2":{"t_sf001":0.1,"exp":0.2}}"""
    val merged = Bench.carryForwardScaling(fresh, prev)
    val entries = Bench.parseScalingBlock("\"scaling\":" + merged).toMap
    // fresh values win on shared keys; the sf1 decade carries forward
    assert(entries("q1").toMap === Map("t_sf001" -> "0.6", "t_sf01" -> "1.4",
      "exp" -> "0.38", "t_sf1" -> "3.0", "exp_sf1" -> "0.42"))
    // a brand-new entry passes through untouched
    assert(entries("q2").toMap === Map("t_sf001" -> "0.1", "exp" -> "0.2"))
    // retired entries do not linger
    assert(!entries.contains("gone"))
    // no previous artifact (or none parseable): fresh passes through
    assert(Bench.carryForwardScaling(fresh, "") ===
      """{"q1":{"t_sf001":0.6,"t_sf01":1.4,"exp":0.38},"q2":{"t_sf001":0.1,"exp":0.2}}""")
    // the round-trip is stable: merging twice changes nothing
    val again = Bench.carryForwardScaling(merged,
      s"""{"metric":"total","scaling":$merged,"sf":"x"}""")
    assert(again === merged)
  }

  test("corpus fingerprint gate: priors never straddle testdata generations") {
    // the r13 lesson: a regeneration alone moved the pair family 2× on
    // zero code change — a record must be datable to its generation,
    // and a foreign-generation record must not feed the MIN prior
    val flat = """{"metric":"total","value":1.0,"queries":{"a":1.0},""" +
      """"corpus":"ab12cd34ef56","sf":"x"}"""
    assert(Bench.parseCorpus(flat) === Some("ab12cd34ef56"))
    // the driver's round wrapper escapes the stdout capture — the
    // fingerprint must still parse from the backslash-escaped tail
    val wrapper = """{"n": 14, "tail": "{\"metric\":\"total\",""" +
      """\"corpus\":\"ab12cd34ef56\",\"sf\":\"x\"}"}"""
    assert(Bench.parseCorpus(wrapper) === Some("ab12cd34ef56"))
    // a pre-fingerprint record parses to None and stays eligible
    // (ages out of the lookback rather than being discarded)
    assert(Bench.parseCorpus("""{"queries":{"a":1.0}}""") === None)
    assert(Bench.corpusMatches(None, "ab12cd34ef56"))
    assert(Bench.corpusMatches(Some("ab12cd34ef56"), "ab12cd34ef56"))
    assert(!Bench.corpusMatches(Some("000000000000"), "ab12cd34ef56"),
      "a foreign-generation record must be excluded from the prior")
  }

  test("re-run arm: a persistently-slow reading is recorded once but FLAGGED suspect") {
    // the r14 hole: e3_ann_ivf recorded 17.1 s vs the 0.967 s committed
    // same-corpus prior, re-runs all slow, and the artifact carried it
    // UNFLAGGED — indistinguishable from a plan regression to a reader.
    // The exact shape: stallGuard routes to 3 re-runs, the post-re-run
    // min is still >2x the prior => suspect.
    assert(Bench.stallGuard(Some(0.967), 17.147) === ((3, false)))
    assert(Bench.rerunStillSuspect(Some(0.967), 17.0),
      "re-runs all >=17 s against a 0.967 s prior must flag")
    // a re-run that DID absorb the stall stays clean
    assert(!Bench.rerunStillSuspect(Some(0.967), 1.1))
    // same jitter floor and prior rules as the study predicate
    assert(!Bench.rerunStillSuspect(Some(0.1), 0.4))
    assert(!Bench.rerunStillSuspect(None, 50.0))
  }

  test("contamination verdict: a capture with >5 suspects is marked and never feeds priors or scaling") {
    // r14: the driver capture carried 11 suspect entries (quiet capture:
    // 1) — merging its per-query MINs would poison next round's prior
    assert(Bench.contaminated(11))
    assert(Bench.contaminated(6))
    assert(!Bench.contaminated(5), "at the threshold the capture stays clean")
    assert(!Bench.contaminated(0))
    // the marker parses from both record shapes (flat artifact and the
    // driver wrapper's backslash-escaped tail), absent = clean
    assert(Bench.parseContaminated("""{"suspect":["a"],"contaminated":true,"sf":"x"}"""))
    assert(Bench.parseContaminated(
      """{"n": 14, "tail": "{\"metric\":\"total\",\"contaminated\":true,\"sf\":\"x\"}"}"""))
    assert(!Bench.parseContaminated("""{"suspect":[],"contaminated":false,"sf":"x"}"""))
    assert(!Bench.parseContaminated("""{"queries":{"a":1.0}}"""),
      "records predating the mechanism stay eligible")
  }

  test("corpus fingerprint is a content hash: stable across re-listing, moved by any row/byte change") {
    // the one BenchSpec test that needs a session (footer reads) —
    // the suite-shared one, never stopped here
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_fp").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val fp1 = Bench.corpusFingerprint(spark, dir)
    val fp2 = Bench.corpusFingerprint(spark, dir)
    assert(fp1 === fp2 && fp1.matches("[0-9a-f]{12}"))
    // a content change (one more row) must move the fingerprint
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val fp3 = Bench.corpusFingerprint(spark, dir)
    assert(fp3 !== fp1)
    // round-14 advice: one corrupt/partially-written parquet file must
    // not abort the capture — the bad file fingerprints name:len only
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/t.parquet/zz-corrupt.parquet"),
      "not a parquet footer".getBytes)
    val fpCorrupt = Bench.corpusFingerprint(spark, dir)
    assert(fpCorrupt.matches("[0-9a-f]{12}") && (fpCorrupt !== fp3),
      "a corrupt file still contributes name:len, never an abort")
    // an unlistable dir degrades to the sentinel instead of throwing
    assert(Bench.corpusFingerprint(spark, s"$dir/no_such_subdir") === "unreadable")
  }

  test("study scaffold: a body that throws reads -1 on every declared name and leaves no scratch dir") {
    import Bench.Metric
    val declared = Bench.secs("s_cost") ++ Bench.units("s_scan_mb") ++ Bench.secs("s_scan")
    var seen = ""
    val out = Bench.study("benchspec_throws", declared) { dir =>
      seen = dir
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir, "written"))
      // an in-run answer check fails the same way
      require(1 == 2, "answers disagree")
      Seq(Metric("s_cost", 1.0))
    }
    assert(out === Seq(Metric("s_cost", -1.0), Metric("s_scan_mb", -1.0, seconds = false),
      Metric("s_scan", -1.0)))
    assert(seen === Bench.scratchDir("benchspec_throws").getPath)
    assert(!new java.io.File(seen).exists, "a failed study must not leave its scratch dir")
  }

  test("study scaffold: a body that succeeds reads in declared shape and leaves no scratch dir") {
    import Bench.Metric
    val declared = Bench.secs("s_cost") ++ Bench.units("s_scan_mb") ++ Bench.secs("s_scan")
    val out = Bench.study("benchspec_ok", declared) { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir, "written"))
      // the body reports by name; the declaration owns the seconds flag
      // and a name the body did not reach reads -1
      Seq(Metric("s_scan_mb", 2.5), Metric("s_cost", 1.0))
    }
    assert(out === Seq(Metric("s_cost", 1.0), Metric("s_scan_mb", 2.5, seconds = false),
      Metric("s_scan", -1.0)))
    assert(!Bench.scratchDir("benchspec_ok").exists, "a study must not leave its scratch dir")
    // an undeclared name is a study bug: the whole study reads -1
    assert(Bench.study("benchspec_undeclared", Bench.secs("s_a"))(_ =>
      Seq(Metric("s_a", 1.0), Metric("s_b", 1.0))) === Seq(Metric("s_a", -1.0)))
  }

  test("study scaffold: a stale scratch dir from an earlier run is cleared before the body runs") {
    val dir = Bench.scratchDir("benchspec_stale")
    java.nio.file.Files.createDirectories(dir.toPath.resolve("from_a_killed_run"))
    assert(dir.exists)
    val out = Bench.study("benchspec_stale", Bench.units("s_stale")) { d =>
      Seq(Bench.Metric("s_stale", if (new java.io.File(d).exists) 1.0 else 0.0))
    }
    assert(out === Seq(Bench.Metric("s_stale", 0.0, seconds = false)))
    assert(!dir.exists)
  }

  test("min-of-n ignores a failed rep and reads -1 only when every rep fails") {
    assert(Bench.minOf(3)(i => Seq(2.0, -1.0, 1.5)(i - 1)) === 1.5)
    assert(Bench.minOf(2)(i => if (i == 1) -1.0 else 0.75) === 0.75)
    assert(Bench.minOf(4)(_ => -1.0) === -1.0)
    // every rep runs, numbered from 1 (a rep may key its own checkpoint)
    val reps = scala.collection.mutable.ArrayBuffer.empty[Int]
    Bench.minOf(4) { i => reps += i; 1.0 }
    assert(reps.toSeq === Seq(1, 2, 3, 4))
    // the timer behind every rep: a throw reads -1 under its label
    assert(Bench.time("t_fails")(throw new IllegalStateException("x")) ===
      Bench.Metric("t_fails", -1.0))
  }
}
