package graft

import org.scalatest.funsuite.AnyFunSuite

/** Native expression semantics + SQL registration (graft.functions). */
class FunctionsSpec extends AnyFunSuite with SparkTestBase {

  test("md5_prefix60 equals the portable conv(substr(md5)) formulation") {
    graft.functions.GraftFunctions.register(spark)
    val rows = spark.sql(
      """SELECT md5_prefix60(s) AS native,
        |       CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT) AS portable
        |FROM VALUES ('abc'), (''), ('key agg row scan'), ('日本語テキスト') AS t(s)""".stripMargin)
      .collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1), r))
    // known value, cross-checked against DuckDB's
    // CAST('0x'||substr(md5('abc'),1,15) AS BIGINT)
    val abc = spark.sql("SELECT md5_prefix60('abc')").collect()(0).getLong(0)
    assert(abc === 648541476951500027L)
  }

  test("hll_rho52 equals the portable bin/ltrim bitlength form on random and edge longs") {
    graft.functions.GraftFunctions.register(spark)
    val rng = new scala.util.Random(7)
    val edges = Seq(0L, 1L, 2L, (1L << 52) - 1, 1L << 52, Long.MaxValue, -1L, Long.MinValue)
    val values = (edges ++ Seq.fill(200)(rng.nextLong() >>> rng.nextInt(64)))
      .map(v => s"(CAST($v AS BIGINT))").mkString(", ")
    val rows = spark.sql(
      s"""SELECT hll_rho52(w) AS native,
         |       53 - length(trim(LEADING '0' FROM bin(w))) AS portable
         |FROM VALUES $values AS t(w)""".stripMargin).collect()
    rows.foreach(r => assert(r.getInt(0) === r.getInt(1), r))
  }

  test("float_vec_dot is SQL-callable and matches the fold bit-for-bit") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT float_vec_dot(a, b) AS native,
        |       aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)),
        |                 0d, (acc, v) -> acc + v) AS folded
        |FROM VALUES (array(CAST(0.1 AS FLOAT), CAST(-2.5 AS FLOAT), CAST(3.25 AS FLOAT)),
        |             array(CAST(7.5 AS FLOAT), CAST(0.3 AS FLOAT), CAST(-1.125 AS FLOAT))) AS t(a, b)""".stripMargin)
      .collect()(0)
    assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
           java.lang.Double.doubleToLongBits(r.getDouble(1)))
  }

  test("minhash_sig equals the composable shingleHashes∘minhashes form") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "key agg row scan slow fast table value part hash merge batch"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "a b c"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), graft.operators.Dedup.shingles(
        graft.operators.Dedup.tokens(col("text"))).as("sh"))
    val native = docs.select(col("doc_id"),
      graft.functions.MinHashFunctions.minhashSig(col("sh")).as("mh")).collect()
    val composable = docs
      .select(col("doc_id"), graft.operators.Dedup.shingleHashes(col("sh")).as("hs"))
      .select(col("doc_id"), graft.operators.Dedup.minhashes(col("hs")).as("mh")).collect()
    val n = native.map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val c = composable.map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(n === c)
    assert(n(1L).length === 16)
  }

  test("null inputs propagate") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT md5_prefix60(CAST(NULL AS STRING)),
        |       float_vec_dot(CAST(NULL AS ARRAY<FLOAT>), CAST(NULL AS ARRAY<FLOAT>))""".stripMargin)
      .collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("pair_expand equals the retired nested-HOF expansion: longs, strings, structs") {
    // round-16: PairExpand replaced the interpreted
    // flatten(transform(sequence..., transform(sequence..., struct)))
    // tree at every grouped-bucket pair site (c27/d2/d22/g11-frames/
    // annCandidates). The retired HOF form stays HERE as the reference
    // arm: same pairs, same (i, j)-lexicographic ORDER (compared as
    // sequences, not sets), over sizes spanning the callers' guards.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def hof(c: String, a: String, b: String) = expr(
      s"""flatten(transform(sequence(1, size($c) - 1),
         |  i -> transform(sequence(i + 1, size($c)),
         |    j -> struct(element_at($c, i) AS $a, element_at($c, j) AS $b))))
         |""".stripMargin)
    // repartition defeats ConvertToLocalRelation (which would evaluate
    // the projection driver-side through the INTERPRETED path), and
    // codegen.fallback=false makes a generated-code compile failure
    // THROW instead of silently falling back — both arms below really
    // exercise doGenCode
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      // longs (c27's user ids), sizes 2..64 incl. the callers' maxBucket
      val longs = Seq(Seq(3L, 7L), Seq(1L, 2L, 5L, 9L, 11L),
        (1L to 64L).toSeq).toDF("ids").repartition(1)
      val lRows = longs.select(
        graft.functions.PairFunctions.pairExpand(col("ids"), "ua", "ub").as("n"),
        hof("ids", "ua", "ub").as("h")).collect()
      lRows.foreach { r =>
        assert(r.getSeq[org.apache.spark.sql.Row](0) === r.getSeq[org.apache.spark.sql.Row](1))
      }
      assert(lRows.map(_.getSeq[org.apache.spark.sql.Row](0).length).sorted
        === Seq(1, 10, 64 * 63 / 2))
      // strings (d2's doc ids)
      val strs = Seq(Seq("d1", "d2", "d3", "d4")).toDF("ids").repartition(1)
      val sRow = strs.select(
        graft.functions.PairFunctions.pairExpand(col("ids"), "doc_a", "doc_b").as("n"),
        hof("ids", "doc_a", "doc_b").as("h")).collect()(0)
      assert(sRow.getSeq[org.apache.spark.sql.Row](0) === sRow.getSeq[org.apache.spark.sql.Row](1))
      // structs (d22's (doc_id, pos) occurrences) — elements pass intact
      val occ = Seq(Seq(("a", 1L), ("b", 2L), ("c", 3L))).toDF("raw").repartition(1)
        .select(expr("transform(raw, x -> struct(x._1 AS doc_id, x._2 AS pos))").as("occ"))
      val oRow = occ.select(
        graft.functions.PairFunctions.pairExpand(col("occ"), "a", "b").as("n"),
        hof("occ", "a", "b").as("h")).collect()(0)
      assert(oRow.getSeq[org.apache.spark.sql.Row](0) === oRow.getSeq[org.apache.spark.sql.Row](1))
      // n < 2 yields EMPTY (never a counted-down sequence), null propagates
      val edge = Seq((Seq(42L), false), (Seq.empty[Long], false), (null, true))
        .toDF("ids", "isnull").repartition(1)
      val eRows = edge.select(
        graft.functions.PairFunctions.pairExpand(col("ids"), "a", "b").as("n"),
        col("isnull")).collect()
      eRows.foreach { r =>
        if (r.getBoolean(1)) assert(r.isNullAt(0))
        else assert(r.getSeq[org.apache.spark.sql.Row](0).isEmpty)
      }
    } finally spark.conf.set("spark.sql.codegen.fallback", prevFallback)
  }

  test("pair_expand past one array's capacity fails with a named error, codegen and interpreted") {
    // n = 65,537 is the first bucket whose n(n-1)/2 pairs exceed one
    // Spark array. The Int count wrapped from n = 46,342 on: negative
    // sizes threw NegativeArraySizeException, and here it wraps to 32,768
    // and overran the array. The stack trace proves each arm ran the
    // path it forces: nullSafeEval only when interpreted.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val n = 65537
    // repartition defeats ConvertToLocalRelation, as above
    val bucket = Seq((1L to n.toLong).toSeq).toDF("ids").repartition(1)
    def failure(conf: Map[String, String]): Throwable = {
      val prev = conf.keys.map(k => k -> spark.conf.getOption(k))
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try intercept[Exception](bucket.select(size(
        graft.functions.PairFunctions.pairExpand(col("ids"), "a", "b"))).collect())
      finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    def named(e: Throwable): IllegalArgumentException =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
        case iae: IllegalArgumentException
          if iae.getMessage.startsWith(s"bucket too large for pair expansion (n = $n)") => iae
      }.getOrElse(fail(s"no named pair-expansion error in $e"))
    def interpreted(e: Throwable): Boolean = e.getStackTrace.exists(f =>
      f.getClassName == classOf[graft.functions.PairExpand].getName &&
        f.getMethodName == "nullSafeEval")
    val codegen = named(failure(Map(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")))
    assert(!interpreted(codegen) &&
      codegen.getStackTrace.exists(_.getClassName.contains("GeneratedClass")))
    val interp = named(failure(Map(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")))
    assert(interpreted(interp))
  }
}
