package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Fraud

/** Rule-scoring semantics on hand-built rows (SURVEY §2 C2–C5): the
  * reference's exact null/flag behavior (src/spark/jobs/spark.py).
  */
class FraudSpec extends AnyFunSuite with SparkTestBase {

  private def scoredOf(userCountry: String, productCountry: String,
                       amount: Double, basePrice: java.lang.Double,
                       discount: java.lang.Double) = {
    import spark.implicits._
    val df = Seq((userCountry, productCountry, amount, basePrice, discount))
      .toDF("user_country", "product_country", "amount", "base_price", "discount")
    Fraud.score(df).collect()(0)
  }

  test("C16 EWMA: hand-computed dyadic fold, per-user isolation") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("graft_ewma")
    // events.ts rides as TIMESTAMP(NANOS) in the testdata; Tables.table
    // divides by 1000, so the fixture stores nanos longs the same way
    def nanos(s: String): Long = java.sql.Timestamp.valueOf(s).getTime * 1000000L
    // user 1: 4, 2, 6 -> s = 2, 2, 4 exactly (all dyadic); user 2 isolated
    Seq(
      (1L, 101L, nanos("2024-01-01 10:00:00"), 4.0),
      (2L, 101L, nanos("2024-01-01 10:01:00"), 2.0),
      (3L, 101L, nanos("2024-01-01 10:02:00"), 6.0),
      (4L, 202L, nanos("2024-01-01 10:00:30"), 8.0))
      .toDF("event_id", "user_id", "ts", "value")
      .withColumn("event_type", org.apache.spark.sql.functions.lit("purchase"))
      .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = Fraud.queries("c16_ewma_spend")(spark, dir).collect()
      .map(x => x.getAs[Long]("event_id") -> x.getAs[Double]("ewma_value")).toMap
    assert(r(1L) === 2.0)  // (0+4)/2
    assert(r(2L) === 2.0)  // (2+2)/2
    assert(r(3L) === 4.0)  // (2+6)/2
    assert(r(4L) === 4.0, "users must not leak into each other's trail")
  }

  test("C17 rule table drives behavior: edited threshold rescored, unknown kind rejected") {
    import spark.implicits._
    val rows = Seq(
      ("FRANCE", "FRANCE", 60000.0, null.asInstanceOf[java.lang.Double],
        null.asInstanceOf[java.lang.Double]),
      ("FRANCE", "KENYA", 400.0, null.asInstanceOf[java.lang.Double],
        null.asInstanceOf[java.lang.Double]))
      .toDF("user_country", "product_country", "amount", "base_price", "discount")
    // reference rules: row 1 fires high_value only, row 2 mismatch only
    val ref = Fraud.ruleTableScore(rows, Fraud.referenceRules(spark))
      .collect().map(r => r.getAs[Double]("amount") -> r.getAs[Double]("fraud_score")).toMap
    assert(ref(60000.0) === 0.5 && ref(400.0) === 0.5)
    // EDITING a rule row changes scoring without touching code: lower
    // the amount threshold to 300 and triple its weight
    val edited = Seq(("country_mismatch", "country_mismatch", 0.0, 0.5, 1),
        ("high_value_flag", "amount_gt", 300.0, 1.5, 2))
      .toDF("rule_id", "kind", "threshold", "weight", "priority")
    val re = Fraud.ruleTableScore(rows, edited)
      .collect().map(r => r.getAs[Double]("amount") -> r.getAs[Double]("fraud_score")).toMap
    assert(re(60000.0) === 1.5, "threshold 300 must fire on 60000 at weight 1.5")
    assert(re(400.0) === 2.0, "mismatch 0.5 + amount_gt 1.5 must both fire")
    // bad rule tables fail at plan-BUILD time, not silently at runtime:
    // unknown kind, duplicate rule_id, data-column shadowing, empty set
    val bad = Seq(("x", "no_such_kind", 0.0, 1.0, 1))
      .toDF("rule_id", "kind", "threshold", "weight", "priority")
    assertThrows[IllegalArgumentException](Fraud.ruleTableScore(rows, bad))
    val dup = Seq(("r1", "amount_gt", 100.0, 0.5, 1), ("r1", "amount_gt", 999.0, 0.7, 2))
      .toDF("rule_id", "kind", "threshold", "weight", "priority")
    assertThrows[IllegalArgumentException](Fraud.ruleTableScore(rows, dup))
    val shadow = Seq(("amount", "amount_gt", 100.0, 0.5, 1))
      .toDF("rule_id", "kind", "threshold", "weight", "priority")
    assertThrows[IllegalArgumentException](Fraud.ruleTableScore(rows, shadow))
    assertThrows[IllegalArgumentException](
      Fraud.ruleTableScore(rows, edited.limit(0)))
  }

  test("C2 country mismatch flags only differing countries") {
    assert(scoredOf("FRANCE", "KENYA", 1.0, 1.0, 0.0).getAs[Int]("country_mismatch") === 1)
    assert(scoredOf("FRANCE", "FRANCE", 1.0, 1.0, 0.0).getAs[Int]("country_mismatch") === 0)
  }

  test("C2 null country does NOT flag (reference otherwise(0) semantics)") {
    assert(scoredOf(null, "KENYA", 1.0, 1.0, 0.0).getAs[Int]("country_mismatch") === 0)
  }

  test("C3/C4 high value flag and weighted score") {
    val r = scoredOf("FRANCE", "KENYA", Fraud.HighValueThreshold + 1, 1.0, 0.0)
    assert(r.getAs[Int]("high_value_flag") === 1)
    assert(r.getAs[Double]("fraud_score") === 1.0)
    val r2 = scoredOf("FRANCE", "FRANCE", 1.0, 1.0, 0.0)
    assert(r2.getAs[Double]("fraud_score") === 0.0)
  }

  test("C5 discounted price null-guards like the reference") {
    assert(scoredOf("A", "B", 1.0, 100.0, 0.1).getAs[Double]("discounted_price") === 90.0)
    assert(scoredOf("A", "B", 1.0, null, 0.1).isNullAt(
      scoredOf("A", "B", 1.0, null, 0.1).fieldIndex("discounted_price")))
  }

  test("C1 enrichment keeps every transaction (left outer)") {
    val tx = Fraud.transactions(spark, SF).count()
    val enriched = Fraud.queries("c1_fraud_enrich")(spark, SF).count()
    assert(tx === enriched)
  }

  test("C1 enrichment plan broadcasts the dimensions") {
    val plan = Fraud.queries("c1_fraud_enrich")(spark, SF)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("C18 CUSUM: closed form equals the sequential recurrence exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val dir = tmpDir("graft_cusum")
    def nanos(s: String): Long = java.sql.Timestamp.valueOf(s).getTime * 1000000L
    // user 1 never dips below zero; user 2 exercises the max(0, .) clamp
    // (P goes negative) and the h=200 flag on its final two points
    Seq(
      (1L, 1L, nanos("2024-01-01 10:00:00"), 60.0),
      (2L, 1L, nanos("2024-01-01 10:01:00"), 40.0),
      (3L, 1L, nanos("2024-01-01 10:02:00"), 120.0),
      (4L, 1L, nanos("2024-01-01 10:03:00"), 30.0),
      (5L, 2L, nanos("2024-01-01 10:00:00"), 10.0),
      (6L, 2L, nanos("2024-01-01 10:01:00"), 10.0),
      (7L, 2L, nanos("2024-01-01 10:02:00"), 200.0),
      (8L, 2L, nanos("2024-01-01 10:03:00"), 300.0))
      .toDF("event_id", "user_id", "ts", "value")
      .withColumn("event_type", lit("purchase"))
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = Fraud.queries("c18_cusum_shift")(spark, dir).collect()
      .map(x => x.getAs[Long]("event_id") ->
        ((x.getAs[Double]("cusum"), x.getAs[Boolean]("shift_flag")))).toMap
    // sequential S_t = max(0, S_{t-1} + (x - 50)):
    // user 1: 10, 0, 70, 50; user 2: 0, 0, 150, 400
    assert(r(1L) === ((10.0, false)) && r(2L) === ((0.0, false)))
    assert(r(3L) === ((70.0, false)) && r(4L) === ((50.0, false)))
    assert(r(5L) === ((0.0, false)) && r(6L) === ((0.0, false)))
    assert(r(7L) === ((150.0, false)) && r(8L) === ((400.0, true)))
  }

  test("C19 cohort retention: week zero is the cohort itself; actives never exceed it") {
    val rows = Fraud.queries("c19_cohort_retention")(spark, SF).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (wk, na, nc) = (r.getAs[Long]("week_no"), r.getAs[Long]("n_active"),
        r.getAs[Long]("n_cohort"))
      val ret = r.getAs[Double]("retention")
      assert(na <= nc, s"actives $na exceed cohort $nc at week $wk")
      assert(ret > 0.0 && ret <= 1.0)
      if (wk == 0L) assert(na == nc && ret == 1.0,
        "week 0 must be the defining cohort")
    }
    assert(rows.exists(_.getAs[Long]("week_no") > 0L), "matrix must have depth")
  }

  test("C20 transitions: each row of the matrix normalizes to 1; counts cover every non-head event") {
    val rows = Fraud.queries("c20_event_transitions")(spark, SF).collect()
    rows.groupBy(_.getAs[String]("prev_type")).foreach { case (pt, g) =>
      val s = g.map(_.getAs[Double]("p_trans")).sum
      assert(math.abs(s - 1.0) < 1e-6, s"row $pt sums to $s")
    }
    val ev = graft.sources.Tables.table(spark, SF, "events")
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n_trans")).sum === expected,
      "every event except each user's first contributes exactly one transition")
  }

  test("C28 rings: transitive closure of qualifying pairs; below-threshold edges and small components drop") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit, to_timestamp}
    // six days of co-presence: {1,2,3} share device 7 (a triangle),
    // {10,11} share device 8 (a pair); {20,21} share device 9 on only
    // FIVE days — below the minShared=6 edge threshold, never an edge
    val rows = for {
      d <- 1 to 6
      (u, k) <- Seq(1L -> 7, 2L -> 7, 3L -> 7, 10L -> 8, 11L -> 8) ++
        (if (d <= 5) Seq(20L -> 9, 21L -> 9) else Seq())
    } yield (u * 100 + d, u, f"2024-01-$d%02d 09:00:00", k)
    val ev = rows.toDF("event_id", "user_id", "ts", "k")
      .select(col("event_id"), col("user_id"),
        to_timestamp(col("ts")).as("ts"),
        concat(lit("{\"k\":"), col("k"), lit("}")).as("props"))
    val rings3 = Fraud.collusionRings(ev).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("ring_id"), r.getAs[Long]("ring_size")))).toMap
    assert(rings3 === Map(1L -> ((1L, 3L)), 2L -> ((1L, 3L)), 3L -> ((1L, 3L))),
      s"only the triangle is a ring at minRing=3, got $rings3")
    val rings2 = Fraud.collusionRings(ev, minRing = 2).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("ring_id")).toMap
    assert(rings2.keySet === Set(1L, 2L, 3L, 10L, 11L))
    assert(rings2(10L) === 10L && rings2(11L) === 10L,
      "the pair component keeps its own min-member ring id")
  }

  test("C26 reactivation: dormancy gap + burst over the account's own prior mean; first events and quiet returns never flag") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, to_timestamp}
    val ev = Seq(
      // user 1: two quiet days (mean 10), 3-day silence, 40 on return
      (1L, 1L, "2024-01-01 09:00:00", 10.0),
      (2L, 1L, "2024-01-02 09:00:00", 10.0),
      (3L, 1L, "2024-01-05 09:00:00", 40.0), // gap 3, 40 >= 1.5*10 → flag
      (4L, 1L, "2024-01-06 09:00:00", 5.0),  // gap 1 → never
      // user 2: long gap but the return spend is ordinary → no flag
      (10L, 2L, "2024-01-01 09:00:00", 100.0),
      (11L, 2L, "2024-01-10 09:00:00", 120.0),
      // user 3: single event — no history, no flag
      (20L, 3L, "2024-01-01 09:00:00", 999.0))
      .toDF("event_id", "user_id", "ts", "value")
      .select(col("event_id"), col("user_id"),
        to_timestamp(col("ts")).as("ts"), col("value"))
    val out = Fraud.reactivationBursts(ev).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("event_id") === 3L)
    assert(r.getAs[Long]("gap_days") === 3L)
    assert(r.getAs[Double]("prior_mean") === 10.0)
    assert(r.getAs[Double]("value") === 40.0)
    // real corpus: flags exist, every flagged row satisfies both rules
    val corpus = Fraud.queries("c26_reactivation")(spark, SF).collect()
    assert(corpus.nonEmpty)
    corpus.foreach { x =>
      assert(x.getAs[Long]("gap_days") >= 2L)
      assert(x.getAs[Double]("value") >= 1.5 * x.getAs[Double]("prior_mean"))
    }
  }

  test("C37 Benford screen: uniform digits flag, a Benford-shaped segment passes, sub-1 amounts carry no digit") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // "uniform": 10 amounts per leading digit (n=90) — chi2 ≈ 36, the
    // classic fabricated-amounts signature; "benford": the rounded
    // Benford counts [30,18,12,10,8,7,6,5,4] (n=100) — chi2 < 2; one
    // 0.5 amount rides along and must not enter either count
    val uniform = for (d <- 1 to 9; k <- 1 to 10)
      yield ("uniform", d * 10.0 + k * 0.25)
    val benford = Seq(30, 18, 12, 10, 8, 7, 6, 5, 4).zipWithIndex.flatMap {
      case (cnt, i) => Seq.fill(cnt)(("benford", (i + 1) * 10.0 + 3.0))
    }
    val ev = (uniform ++ benford :+ (("benford", 0.5)))
      .toDF("event_type", "value")
    val out = Fraud.benfordScreen(ev).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_amounts"), r.getAs[Double]("chi2"),
          r.getAs[Boolean]("benford_flag")))).toMap
    assert(out("uniform")._1 === 90L && out("benford")._1 === 100L,
      "the 0.5 amount must be excluded from the counts")
    assert(out("uniform")._3, s"uniform digits must flag (chi2 ${out("uniform")._2})")
    assert(out("uniform")._2 > 30.0 && out("uniform")._2 < 45.0)
    assert(!out("benford")._3,
      s"the Benford-shaped segment must pass (chi2 ${out("benford")._2})")
    assert(out("benford")._2 >= 0.0 && out("benford")._2 < 2.0)
    // real corpus: every segment scores a finite non-negative chi2
    val corpus = Fraud.queries("c37_benford_screen")(spark, SF).collect()
    assert(corpus.length === 5)
    corpus.foreach { x =>
      assert(x.getAs[Long]("n_amounts") > 0L)
      assert(x.getAs[Double]("chi2") >= 0.0 &&
        !x.getAs[Double]("chi2").isNaN)
    }
  }

  test("C39 structuring screen: the third in-band amount flags, band and window edges are exact") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // u1: three in-band within 7 days — only the THIRD event flags
      (1L, 1L, ts("2024-01-01 00:00:00"), 95.0),
      (1L, 2L, ts("2024-01-03 00:00:00"), 92.0),
      (1L, 3L, ts("2024-01-06 00:00:00"), 99.0),
      // u2: the band is half-open [90, 100) — edges must be exact
      (2L, 4L, ts("2024-01-01 00:00:00"), 100.0), // hi edge OUT
      (2L, 5L, ts("2024-01-01 06:00:00"), 89.999), // below lo OUT
      (2L, 6L, ts("2024-01-02 00:00:00"), 90.0), // lo edge IN
      (2L, 7L, ts("2024-01-03 00:00:00"), 99.999), // just under hi IN — n=2, no flag
      // u3: the trailing window is the half-open (ts−7d, ts] — an
      // event EXACTLY 7 days earlier is outside the frame
      (3L, 8L, ts("2024-01-01 00:00:00"), 95.0),
      (3L, 9L, ts("2024-01-08 00:00:00"), 95.0), // frame excludes e8 — n=1
      // u4: 1 μs inside the edge still counts
      (4L, 10L, ts("2024-01-01 00:00:00"), 95.0),
      (4L, 11L, ts("2024-01-07 23:59:59"), 95.0)) // n=2, no flag
      .toDF("user_id", "event_id", "ts", "value")
    val out = Fraud.structuringScreen(ev).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("n_band")).toMap
    assert(out === Map(3L -> 3L),
      s"only u1's third in-band event reaches minCount=3 (got $out)")
    // real corpus: the flag set is non-empty and every row satisfies
    // the rule it was sized to straddle
    val corpus = Fraud.queries("c39_structuring")(spark, SF).collect()
    assert(corpus.nonEmpty)
    corpus.foreach { x =>
      assert(x.getAs[Long]("n_band") >= 3L)
      assert(x.getAs[Double]("value") >= 90.0 && x.getAs[Double]("value") < 100.0)
    }
  }

  test("C21 burstiness: metronome scores near -1, burst-silence scores positive, all in (-1,1)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val dir = tmpDir("graft_burst")
    def nanos(s: String): Long = java.sql.Timestamp.valueOf(s).getTime * 1000000L
    // user 1: near-metronome (60s gaps, one 61s) -> sigma << mu -> B near -1
    // user 2: three 1s gaps then a day of silence -> sigma >> mu -> B > 0
    val base = "2024-01-01 10:00:00"
    val t0 = java.sql.Timestamp.valueOf(base).getTime
    def at(offsetSec: Long) = new java.sql.Timestamp(t0 + offsetSec * 1000L).toString.stripSuffix(".0")
    val rows =
      Seq(0L, 60L, 120L, 180L, 241L).zipWithIndex.map { case (o, i) => (i.toLong + 1, 1L, at(o)) } ++
      Seq(0L, 1L, 2L, 3L, 86403L).zipWithIndex.map { case (o, i) => (i.toLong + 10, 2L, at(o)) }
    rows.map { case (e, u, t) => (e, u, nanos(t), 1.0) }
      .toDF("event_id", "user_id", "ts", "value")
      .withColumn("event_type", lit("purchase"))
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = Fraud.queries("c21_burstiness")(spark, dir).collect()
      .map(x => x.getAs[Long]("user_id") -> x.getAs[Double]("burstiness")).toMap
    assert(r(1L) < -0.9, s"near-metronome must score near -1, got ${r(1L)}")
    assert(r(2L) > 0.2, s"burst-silence must score positive, got ${r(2L)}")
    // corpus-wide bounds (B is mathematically confined to (-1, 1) once
    // sigma > 0 and mu > 0)
    val corpus = Fraud.queries("c21_burstiness")(spark, SF).collect()
    assert(corpus.nonEmpty)
    corpus.foreach { x =>
      val b = x.getAs[Double]("burstiness")
      assert(b > -1.0 && b < 1.0, s"user ${x.getAs[Long]("user_id")}: B=$b")
      assert(x.getAs[Long]("n_gaps") >= 2L)
    }
  }

  test("C22 MAD anomaly: robust to the outlier z-scores hide; exact order-statistic medians") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val dir = tmpDir("graft_mad")
    def nanos(s: String): Long = java.sql.Timestamp.valueOf(s).getTime * 1000000L
    // user 1: nine routine ~10 amounts with natural spread and one
    // 1000. Lower median of the sorted values
    // [8, 9, 9.5, 10, 10, 10.5, 11, 11.5, 12, 1000] is the 5th = 10;
    // devs sorted [0, 0, .5, .5, 1, 1, 1.5, 2, 2, 990] give MAD
    // (5th) = 1, so the outlier's modified z = 0.6745*990 = 667.755
    // while every routine amount stays <= 1.349 — only the 1000
    // flags. The plain z-score is DEFLATED by the outlier itself
    // (sigma ~ 312 puts the 1000 at z ~ 2.9, under c11's own 2.0 only
    // barely and under 3.5 comfortably), which is the point of the
    // robust form.
    val vals = Seq(8.0, 9.0, 10.0, 10.0, 11.0, 12.0, 9.5, 10.5, 11.5, 1000.0)
    val rows = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong + 1, 1L, nanos(f"2024-01-01 10:${i}%02d:00"), v) }
    rows.toDF("event_id", "user_id", "ts", "value")
      .withColumn("event_type", lit("purchase")).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = Fraud.queries("c22_mad_anomaly")(spark, dir).collect()
    assert(r.length === 1, s"only the 1000 must flag, got ${r.length}")
    assert(r(0).getAs[Long]("event_id") === 10L)
    assert(r(0).getAs[Double]("med") === 10.0)
    assert(r(0).getAs[Double]("mad") === 1.0)
    assert(r(0).getAs[Double]("mz") === 0.6745 * 990.0 / 1.0)
  }

  test("C23 KS drift: identical slices score zero; a shifted slice is detected") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    def write(dir: String, rows: Seq[(Long, Double)]): Unit =
      rows.map { case (e, v) => (e, 1L, 1704100000000000000L + e * 60000000000L, v) }
        .toDF("event_id", "user_id", "ts", "value")
        .withColumn("event_type", lit("purchase")).withColumn("props", lit("{}"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // identical distributions in both parity slices -> D = 0
    val same = tmpDir("graft_ks_same")
    write(same, (0L until 40L).map(i => i -> (10.0 + (i / 2 % 10))))
    val d0 = Fraud.queries("c23_ks_drift")(spark, same).collect()(0)
    assert(d0.getAs[Double]("ks_stat") === 0.0,
      s"identical slices must give D=0, got $d0")
    // even ids ~10, odd ids ~1000 -> D = 1 (complete separation)
    val shifted = tmpDir("graft_ks_shift")
    write(shifted, (0L until 40L).map(i =>
      i -> (if (i % 2 == 0) 10.0 + i else 1000.0 + i)))
    val d1 = Fraud.queries("c23_ks_drift")(spark, shifted).collect()(0)
    assert(d1.getAs[Double]("ks_stat") === 1.0,
      s"disjoint slices must give D=1, got $d1")
    // the real corpus: D in [0, 1], both slices populated
    val r = Fraud.queries("c23_ks_drift")(spark, SF).collect()(0)
    assert(r.getAs[Double]("ks_stat") >= 0.0 && r.getAs[Double]("ks_stat") <= 1.0)
    assert(r.getAs[Long]("n0") > 0L && r.getAs[Long]("n1") > 0L)
  }

  test("C24 PSI: zero on identical slices, large under a shift, non-negative everywhere") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    def write(dir: String, rows: Seq[(Long, Double)]): Unit =
      rows.map { case (e, v) => (e, 1L, 1704100000000000000L + e * 60000000000L, v) }
        .toDF("event_id", "user_id", "ts", "value")
        .withColumn("event_type", lit("purchase")).withColumn("props", lit("{}"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val same = tmpDir("graft_psi_same")
    write(same, (0L until 40L).map(i => i -> (10.0 + (i / 2 % 10))))
    val p0 = Fraud.queries("c24_psi_drift")(spark, same).collect()(0)
    assert(p0.getAs[Double]("psi") === 0.0, s"identical slices: $p0")
    // a partial mass shift (not disjoint — disjoint cells are skipped by
    // the no-smoothing variant): slice 0 spreads over ten even values,
    // slice 1 piles onto the {10, 12} subset of that same support, so
    // the used cells stay two-sided while the masses diverge hard
    val shift = tmpDir("graft_psi_shift")
    write(shift, (0L until 40L).map { i =>
      if (i % 2 == 0) i -> (10.0 + (i % 20)) else i -> (10.0 + (i % 4) - 1) })
    val p1 = Fraud.queries("c24_psi_drift")(spark, shift).collect()(0)
    assert(p1.getAs[Double]("psi") > 0.1, s"shifted slices: $p1")
    // PSI is a sum of (p-q)ln(p/q) terms, each non-negative
    val r = Fraud.queries("c24_psi_drift")(spark, SF).collect()(0)
    assert(r.getAs[Double]("psi") >= 0.0)
    assert(r.getAs[Long]("n_cells_used") > 0L)
  }

  test("C24/H17 psiFromCells: exact-decimal parity on UNBALANCED cells (n0 != n1, odd counts)") {
    import spark.implicits._
    // The §6b adjusted-scale trap regression: a naive mass×(4-ln-sum)
    // product is (26,0)×(13,8) → precision 40, which Spark rounds to
    // scale 6 — lossless only on balanced fixtures (n0 = n1 multiples
    // of 1000 cancel the ln(n) terms). This fixture is deliberately
    // unbalanced and odd-count so any 6dp truncation WOULD surface;
    // the oracle here is the same arithmetic in exact BigDecimal.
    val cells = Seq(
      (0L, 29L, 13L), (1L, 7L, 5L), (2L, 11L, 0L), (3L, 0L, 3L),
      (4L, 1000L, 1L), (5L, 3L, 977L), (6L, 123L, 456L))
      .toDF("bucket", "c0", "c1")
    val n0 = 29L + 7 + 11 + 0 + 1000 + 3 + 123   // 1173
    val n1 = 13L + 5 + 0 + 3 + 1 + 977 + 456     // 1455
    // ln8 mimics Spark's chain exactly: Round(HALF_UP on the
    // Double.toString decimal) to a double, then cast to decimal(10,8)
    import scala.math.BigDecimal.RoundingMode.HALF_UP
    def ln8(x: Long): BigDecimal = {
      val rounded = BigDecimal(math.log(x.toDouble)).setScale(8, HALF_UP).toDouble
      BigDecimal(rounded).setScale(8, HALF_UP)
    }
    val used = Seq((29L, 13L), (7L, 5L), (1000L, 1L), (3L, 977L), (123L, 456L))
    val sExact = used.map { case (c0, c1) =>
      val mass = BigDecimal(c0 * n1 - c1 * n0)
      mass * (ln8(c0) - ln8(n0)) + mass * (ln8(n1) - ln8(c1))
    }.sum
    // fixture probativeness: the exact sum must NOT be a 6dp multiple,
    // or this spec couldn't distinguish exact-scale-8 from the trap
    assert((sExact * BigDecimal(1000000)) % 1 != 0,
      s"fixture lossless at 6dp — not probative: $sExact")
    val expected = sExact.toDouble / (n0.toDouble * n1.toDouble)
    val row = Fraud.psiFromCells(cells).collect()(0)
    assert(row.getAs[Long]("n0") === n0)
    assert(row.getAs[Long]("n1") === n1)
    assert(row.getAs[Long]("n_cells_used") === used.size.toLong)
    assert(java.lang.Double.doubleToLongBits(row.getAs[Double]("psi")) ===
      java.lang.Double.doubleToLongBits(expected),
      s"Spark psi ${row.getAs[Double]("psi")} != exact-decimal $expected")
  }

  test("C25 Gini: equal spenders score exactly 0, one-account concentration scores (n-1)/n") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val dir = tmpDir("graft_gini")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime * 1000000L
    // 'flat': four users spending 5.0 each (as 2.5 + 2.5, so per-user
    // totals are genuinely aggregated); 'conc': three zero-spend users
    // and one carrying all 10.0 → sorted coefs (-3,-1,1,3), G = 30/40
    val rows =
      (1 to 4).flatMap(u => Seq(
        (u * 10L, u.toLong, t0 + u * 1000000L, 2.5, "flat"),
        (u * 10L + 1, u.toLong, t0 + u * 2000000L, 2.5, "flat"))) ++
      (1 to 3).map(u => (100L + u, u.toLong, t0 + u * 3000000L, 0.0, "conc")) :+
      (200L, 4L, t0 + 9000000L, 10.0, "conc")
    rows.toDF("event_id", "user_id", "ts", "value", "event_type")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Fraud.queries("c25_gini_concentration")(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_users"), r.getAs[Double]("total_value"),
          r.getAs[Double]("gini")))).toMap
    assert(out("flat") === ((4L, 20.0, 0.0)))
    assert(out("conc") === ((4L, 10.0, 0.75)))
    // the histogram-Lorenz twin is exact on both hand shapes: 'flat'
    // degenerates to one cell (lo=hi → G=0) and 'conc' puts the two
    // distinct values in separate cells
    val approx = Fraud.queries("c25_gini_approx")(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_users"), r.getAs[Double]("total_value"),
          r.getAs[Double]("gini")))).toMap
    assert(approx === out)
  }

  test("C27 collusion: repeated co-presence pairs, in-day dedup, hub cells excluded") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val day0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    def ts(day: Int, sec: Int) =
      new java.sql.Timestamp(day0 + day * 86400000L + sec * 1000L)
    def ev(id: Long, u: Long, t: java.sql.Timestamp, k: Int) =
      (id, u, t, s"""{"k": $k}""")
    val rows = Seq(
      // users 1,2 share k=5 on days 0,1,2 (day 0 TWICE for user 1 —
      // in-day repeats must count once) → n_shared = 3
      ev(1, 1, ts(0, 0), 5), ev(2, 1, ts(0, 60), 5), ev(3, 2, ts(0, 30), 5),
      ev(4, 1, ts(1, 0), 5), ev(5, 2, ts(1, 0), 5),
      ev(6, 1, ts(2, 0), 5), ev(7, 2, ts(2, 0), 5),
      // users 3,4 share k=9 on only 2 days → below minShared
      ev(8, 3, ts(0, 0), 9), ev(9, 4, ts(0, 0), 9),
      ev(10, 3, ts(1, 0), 9), ev(11, 4, ts(1, 0), 9),
      // a hub: users 10..14 all on k=77 day 0 — excluded at maxBucket=4
      ev(20, 10, ts(0, 0), 77), ev(21, 11, ts(0, 0), 77), ev(22, 12, ts(0, 0), 77),
      ev(23, 13, ts(0, 0), 77), ev(24, 14, ts(0, 0), 77))
    val events = rows.toDF("event_id", "user_id", "ts", "props")
      .withColumn("event_type", lit("purchase"))
      .withColumn("value", lit(1.0))
    val out = Fraud.collusionPairs(events, minShared = 3, maxBucket = 4)
      .collect().map(r => (r.getAs[Long]("user_a"), r.getAs[Long]("user_b")) ->
        r.getAs[Long]("n_shared")).toMap
    assert(out === Map((1L, 2L) -> 3L),
      s"only the 3-day pair survives (got $out)")
    // raising the cap back in admits the hub's 10 pairs at n_shared=1,
    // still below minShared → same report; dropping minShared shows them
    val loose = Fraud.collusionPairs(events, minShared = 1, maxBucket = 64)
      .collect()
    assert(loose.length === 1 + 1 + 10, "pair(1,2) + pair(3,4) + C(5,2) hub pairs")
  }

  test("C29 cohesion: a triangle's corners score 1.0, the apex with a pendant 1/3, leaves 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val day0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    def ts(day: Int) = new java.sql.Timestamp(day0 + day * 86400000L)
    def ev(id: Long, u: Long, day: Int, k: Int) = (id, u, ts(day), s"""{"k": $k}""")
    // triangle {1,2,3} from one shared cell; pendant 4 attached to 1
    // only — degree(1)=3 with ONE closed wedge of its three
    val rows = Seq(
      ev(1, 1, 0, 5), ev(2, 2, 0, 5), ev(3, 3, 0, 5),
      ev(4, 1, 1, 9), ev(5, 4, 1, 9))
    val events = rows.toDF("event_id", "user_id", "ts", "props")
      .withColumn("event_type", lit("purchase"))
      .withColumn("value", lit(1.0))
    val out = Fraud.collusionGraphMetrics(events, minShared = 1).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("degree"), r.getAs[Long]("n_triangles"),
          r.getAs[Double]("clustering")))).toMap
    assert(out(1L) === ((3L, 1L, 1.0 / 3.0)),
      s"apex: 3 partners, one closed of three wedges (got ${out(1L)})")
    assert(out(2L) === ((2L, 1L, 1.0)) && out(3L) === ((2L, 1L, 1.0)),
      "pure triangle corners are fully clustered")
    assert(out(4L) === ((1L, 0L, 0.0)), "a leaf has no wedge to close")
    // the degree cap: with maxDegree=2 the apex (degree 3) reports NULL
    // metrics and hub_capped, never expands its wedges; the triangle
    // corners keep their own exact counts (their wedges still close
    // through the hub as an ENDPOINT)
    val capped = Fraud.collusionGraphMetrics(events, minShared = 1, maxDegree = 2)
      .collect().map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(capped(1L).getAs[Boolean]("hub_capped"))
    assert(capped(1L).isNullAt(capped(1L).fieldIndex("n_triangles")))
    assert(capped(1L).isNullAt(capped(1L).fieldIndex("clustering")))
    assert(!capped(2L).getAs[Boolean]("hub_capped") &&
      capped(2L).getAs[Long]("n_triangles") === 1L &&
      capped(2L).getAs[Double]("clustering") === 1.0,
      "uncapped corners keep exact metrics — the hub is only excluded as a CENTER")
  }

  test("C30 fixed-point PageRank: bit-exact against the integer recurrence; center outranks leaves") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("user_a", "user_b")
    val ranked = Fraud.pageRankFromPairs(pairs, iters = 8)
    // no conf narrows the loop: AQE coalesces the node-sized rounds to
    // one partition at the suite's width of 4
    assert(ranked.rdd.getNumPartitions === 1)
    val out = ranked.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: the SAME integer recurrence folded directly — any
    // arithmetic drift in the distributed form (division order, float
    // creep, a lost floor) breaks equality exactly
    val scale = 1000000000000L
    val deg = Map(1L -> 1L, 2L -> 2L, 3L -> 1L)
    val nbrs = Map(1L -> Seq(2L), 2L -> Seq(1L, 3L), 3L -> Seq(2L))
    val base = scale / 3
    var pr = Map(1L -> base, 2L -> base, 3L -> base)
    for (_ <- 1 to 8)
      pr = pr.keys.map(v => v ->
        (15L * base + 85L * nbrs(v).map(u => pr(u) / deg(u)).sum) / 100L).toMap
    assert(out === pr)
    assert(out(2L) > out(1L), "the path's center must outrank its leaves")
    assert(out(1L) === out(3L), "symmetric leaves must tie exactly")
    // the double column is one division of the exact long
    val withD = Fraud.pageRankFromPairs(pairs, iters = 8).collect()
      .map(r => r.getLong(1) -> r.getDouble(2))
    withD.foreach { case (fp, d) =>
      assert(java.lang.Double.doubleToLongBits(d) ===
        java.lang.Double.doubleToLongBits(fp.toDouble / 1.0e12))
    }
  }

  test("C36 attribution: the 7-day window, the before-relation tie, and the equal split all bind") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    import spark.implicits._
    val ev = Seq(
      (30L, 1L, "2024-01-10 12:00:00", "purchase"),
      (1L, 1L, "2024-01-09 10:00:00", "view"),   // in window
      (2L, 1L, "2024-01-10 11:00:00", "click"),  // in window
      (3L, 1L, "2024-01-03 12:00:00", "view"),   // EXACTLY 7 days → in
      (4L, 1L, "2024-01-01 00:00:00", "view"),   // too old → out
      (5L, 1L, "2024-01-10 12:00:00", "click"),  // same ts, id 5 < 30 → in (and latest)
      (99L, 1L, "2024-01-10 12:00:00", "view"),  // same ts, id 99 > 30 → out
      (50L, 1L, "2024-01-11 09:00:00", "view"),  // after → out
      (60L, 2L, "2024-01-09 10:00:00", "view"))  // other user → out
      .toDF("event_id", "user_id", "ts", "event_type")
      .select(col("event_id"), col("user_id"),
        to_timestamp(col("ts")).as("ts"), col("event_type"))
    val out = Fraud.touchAttribution(ev).collect()
      .map(r => r.getAs[Long]("touch_id") ->
        ((r.getAs[Long]("n_touches"), r.getAs[Double]("weight"),
          r.getAs[Boolean]("is_last_touch")))).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 5L))
    out.values.foreach { case (n, w, _) => assert(n === 4L && w === 0.25) }
    assert(out.filter(_._2._3).keySet === Set(5L),
      "the same-timestamp earlier-id touch is the last touch")
  }

  test("C35 Holt forecast: the dyadic recurrence matches by hand; the 40-frame truncates history") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    import spark.implicits._
    // user 1: 4, 8, 12 → init (4, 0); then s=(8+4)/2=6, b=((6−4)+0)/2=1;
    // then s=(12+7)/2=9.5, b=((9.5−6)+1)/2=2.25 → forecast 11.75 — a
    // ramp produces a POSITIVE trend (the signal EWMA's level misses).
    // user 2: two huge values then forty 2.0s — the frame drops the
    // history, the fold sees only 2.0s → level 2, trend 0.
    val rows = Seq(
      (1L, 1L, "2024-01-01 09:00:00", 4.0),
      (2L, 1L, "2024-01-01 09:01:00", 8.0),
      (3L, 1L, "2024-01-01 09:02:00", 12.0)) ++
      (1 to 42).map(i => (100L + i, 2L, f"2024-01-01 10:$i%02d:00",
        if (i <= 2) 1000.0 else 2.0))
    val ev = rows.toDF("event_id", "user_id", "ts", "value")
      .select(col("event_id"), col("user_id"),
        to_timestamp(col("ts")).as("ts"), col("value"))
    val out = Fraud.holtForecast(ev).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_events"), r.getAs[Double]("level"),
          r.getAs[Double]("trend"), r.getAs[Double]("forecast")))).toMap
    assert(out(1L) === ((3L, 9.5, 2.25, 11.75)))
    assert(out(2L) === ((42L, 2.0, 0.0, 2.0)))
  }

  test("C40 Holt-Winters: the seasonal recurrence matches a driver fold bit-exactly; the spike slot carries the forecast") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    import spark.implicits._
    // 22 consecutive days, one event per day: 8.0 baseline with a 64.0
    // spike every 7th day (offsets 1, 8, 15). The NEXT day (offset 22)
    // lands on the spike slot, so the one-step forecast must carry the
    // learned positive season component — the signal Holt's
    // level+trend structurally cannot see.
    val start = java.time.LocalDate.parse("2024-01-01")
    val rows = (0 to 21).map { i =>
      val v = if (i % 7 == 1) 64.0 else 8.0
      (100L + i, 1L, start.plusDays(i).toString + " 09:00:00", v)
    }
    val ev = rows.toDF("event_id", "user_id", "ts", "value")
      .select(col("event_id"), col("user_id"),
        to_timestamp(col("ts")).as("ts"), col("value"),
        org.apache.spark.sql.functions.lit("purchase").as("event_type"))
    // reference: the identical recurrence folded driver-side
    var s = 0.0; var b = 0.0; val c = Array.fill(7)(0.0); var n = 0.0
    rows.foreach { case (_, _, ts, v) =>
      val dn = java.time.LocalDate.parse(ts.take(10)).toEpochDay
      val j = (dn % 7).toInt
      if (n == 0.0) { s = v; n = 1.0 }
      else {
        val sN = ((v - c(j)) + (s + b)) / 2.0
        val bN = ((sN - s) + b) / 2.0
        c(j) = ((v - sN) + c(j)) / 2.0
        s = sN; b = bN; n += 1.0
      }
    }
    val nextSlot = ((start.plusDays(22).toEpochDay) % 7).toInt
    val want = s + b + c(nextSlot)
    val out = Fraud.holtWintersForecast(ev).collect()
    assert(out.length === 1)
    val r = out.head
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    assert(r.getAs[Long]("n_days") === 22L)
    assert(bits(r.getAs[Double]("level")) === bits(s))
    assert(bits(r.getAs[Double]("trend")) === bits(b))
    assert(bits(r.getAs[Double]("forecast")) === bits(want))
    // the seasonal component is doing real work: the spike-slot bump
    // is large and positive, and the forecast sits far above level+trend
    assert(c(nextSlot) > 10.0, s"spike slot learned ${c(nextSlot)}")
    assert(r.getAs[Double]("forecast") - (r.getAs[Double]("level") +
      r.getAs[Double]("trend")) > 10.0)
  }

  test("C41 backtest: holdout forecasts come from the FROZEN train state, bit-exact; the spike day tops the horizon") {
    import org.apache.spark.sql.functions.{col, lit, to_timestamp}
    import spark.implicits._
    // 29 days of the C40 spiked series: the backtest trains on the
    // first 22 and forecasts offsets 22..28; offset 22 is the spike
    // slot, so its forecast must dominate the holdout horizon
    val start = java.time.LocalDate.parse("2024-01-01")
    val rows = (0 to 28).map { i =>
      val v = if (i % 7 == 1) 64.0 else 8.0
      (100L + i, 1L, start.plusDays(i).toString + " 09:00:00", v)
    }
    val ev = rows.toDF("event_id", "user_id", "ts", "value")
      .select(col("event_id"), col("user_id"),
        to_timestamp(col("ts")).as("ts"), col("value"),
        lit("purchase").as("event_type"))
    // driver fold over the 22 train days only
    var s = 0.0; var b = 0.0; val c = Array.fill(7)(0.0); var n = 0.0
    rows.take(22).foreach { case (_, _, ts, v) =>
      val dn = java.time.LocalDate.parse(ts.take(10)).toEpochDay
      val j = (dn % 7).toInt
      if (n == 0.0) { s = v; n = 1.0 }
      else {
        val sN = ((v - c(j)) + (s + b)) / 2.0
        val bN = ((sN - s) + b) / 2.0
        c(j) = ((v - sN) + c(j)) / 2.0
        s = sN; b = bN; n += 1.0
      }
    }
    val lastTrain = start.plusDays(21).toEpochDay
    val out = Fraud.hwBacktest(ev).collect()
      .map(r => r.getAs[Long]("h") ->
        ((r.getAs[Double]("actual"), r.getAs[Double]("forecast")))).toMap
    assert(out.keySet === (1L to 7L).toSet)
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    (1 to 7).foreach { h =>
      val dn = lastTrain + h
      val want = (s + h.toDouble * b) + c((dn % 7).toInt)
      assert(bits(out(h.toLong)._2) === bits(want), s"h=$h forecast drifted")
      assert(out(h.toLong)._1 === (if ((lastTrain + h - start.toEpochDay) % 7 == 1) 64.0 else 8.0))
    }
    val spikeH = (1 to 7).find(h => (lastTrain + h - start.toEpochDay) % 7 == 1).get
    assert(out(spikeH.toLong)._2 === (1 to 7).map(h => out(h.toLong)._2).max,
      "the spike-slot forecast must top the holdout horizon")
  }

  test("C34 decayed spend: dyadic half-life weights are exact; beyond-horizon events drop") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, "2024-03-10 09:00:00", 10.0), // age 0 → ×1
      (2L, 1L, "2024-03-09 09:00:00", 20.0), // age 1 → ×1/2
      (3L, 1L, "2024-03-08 09:00:00", 40.0), // age 2 → ×1/4
      (10L, 2L, "2024-03-10 09:00:00", 7.25), // age 0 (dyadic value)
      (11L, 2L, "2024-02-10 09:00:00", 999.0)) // age 29 > 20 → dropped
      .toDF("event_id", "user_id", "ts", "value")
      .select(col("event_id"), col("user_id"),
        to_timestamp(col("ts")).as("ts"), col("value"))
    val out = Fraud.decayedSpend(ev).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_recent"), r.getAs[Double]("decayed_spend")))).toMap
    // every weight is a power of two and every product exact, so the
    // decayed totals are EXACT doubles, not approximations
    assert(out(1L) === ((3L, 30.0)), "10 + 20/2 + 40/4 must be exactly 30")
    assert(out(2L) === ((1L, 7.25)), "the beyond-horizon event must buy nothing")
  }

  test("C32 motifs: composed flow outlifts the first-order chain; low-count tail fenced") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    // 5 users each run the x→y→z flow once; 10 users run y→w, which
    // dilutes p(z|y) to 5/15 without adding any trigram. The chain
    // model therefore expects c(xy)·p(z|y) = 5/3 occurrences of x y z;
    // observed is 5 → lift exactly 3.0. Every other trigram count is
    // zero, so minCount=5 leaves exactly one motif.
    val rows = (1 to 5).flatMap { u =>
      Seq((u * 10L + 1, u.toLong, f"2024-01-01 09:$u%02d:01", "x"),
        (u * 10L + 2, u.toLong, f"2024-01-01 09:$u%02d:02", "y"),
        (u * 10L + 3, u.toLong, f"2024-01-01 09:$u%02d:03", "z"))
    } ++ (6 to 15).flatMap { u =>
      Seq((u * 10L + 1, u.toLong, f"2024-01-01 10:$u%02d:01", "y"),
        (u * 10L + 2, u.toLong, f"2024-01-01 10:$u%02d:02", "w"))
    }
    import spark.implicits._
    val ev = rows.toDF("event_id", "user_id", "ts", "event_type")
      .select(col("event_id"), col("user_id"),
        to_timestamp(col("ts")).as("ts"), col("event_type"))
    val out = Fraud.sequenceMotifs(ev).collect()
    assert(out.length === 1, "only the engineered motif clears the count floor")
    val r = out.head
    assert((r.getAs[String]("t1"), r.getAs[String]("t2"), r.getAs[String]("t3"))
      === (("x", "y", "z")))
    assert(r.getAs[Long]("c3") === 5L)
    assert(r.getAs[Double]("lift") === 3.0)
    // real corpus: non-empty, ranked by lift desc
    val corpus = Fraud.queries("c32_sequence_motifs")(spark, SF).collect()
      .map(_.getAs[Double]("lift"))
    assert(corpus.nonEmpty)
    assert(corpus.sliding(2).forall(p => p.head >= p.last), "lift ranking broken")
  }

  test("C31 peer anomaly: leave-one-out unmasks what the self-inclusive z dilutes") {
    import spark.implicits._
    // peers of 100 are {10, 11, 9, 10}: LOO mean 10, LOO var 2/3 →
    // z ≈ 110. Self-INCLUSIVE z on the same group is (100−28)/σ₅ ≈ 1.8
    // — the outlier drags the group mean toward itself and hides. The
    // default gate (|z| > 3) must flag it via LOO and nothing else.
    val ev = Seq(
      (1L, "t", 1L, 10.0), (2L, "t", 2L, 11.0), (3L, "t", 3L, 9.0),
      (4L, "t", 4L, 10.0), (5L, "t", 5L, 100.0),
      (6L, "u", 1L, 5.0), (7L, "u", 2L, 5.0))      // n < 3 → no stats row
      .toDF("event_id", "event_type", "user_id", "value")
    val out = Fraud.peerAnomaly(ev).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("z_peer")).toMap
    assert(out.keySet === Set(5L), "only the LOO outlier fires; small groups drop")
    // driver recompute with the identical spelled op order
    val sv = 10.0 + 11.0 + 9.0 + 10.0 + 100.0
    val sv2 = 100.0 + 121.0 + 81.0 + 100.0 + 10000.0
    val v = 100.0; val n = 5.0
    val meanLoo = (sv - v) / (n - 1)
    val varLoo = ((sv2 - v * v) - (sv - v) * (sv - v) / (n - 1)) / (n - 2)
    val want = BigDecimal((v - meanLoo) / math.sqrt(varLoo))
      .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(5L) === want)
    // the masking claim itself: the self-inclusive z stays under the gate
    val mean5 = sv / n
    val var5 = (sv2 - sv * sv / n) / (n - 1)
    assert(math.abs((v - mean5) / math.sqrt(var5)) < 2.0)
    // an exact-uniform group (LOO variance 0 for every row) emits nothing
    val flat = Seq((1L, "t", 1L, 5.0), (2L, "t", 2L, 5.0), (3L, "t", 3L, 5.0))
      .toDF("event_id", "event_type", "user_id", "value")
    assert(Fraud.peerAnomaly(flat).collect().isEmpty)
  }

  test("C25b approx Gini tracks exact within one cell's dispersion on the real corpus") {
    def keyed(name: String) = Fraud.queries(name)(spark, SF).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Double]("gini")).toMap
    val exact = keyed("c25_gini_concentration")
    val approx = keyed("c25_gini_approx")
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (t, g) =>
      assert(math.abs(approx(t) - g) <= 0.02,
        s"type $t: approx ${approx(t)} vs exact $g drifted beyond a cell width")
    }
  }
}
