package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Cols._
import graft.sources.Tables

/** Fraud-domain pipeline — the reference's analytics core re-expressed on
  * the TPC-H-ish testdata (mapping in SURVEY.md §3):
  * transactions = lineitem⋈orders, users = customer⋈nation,
  * products = part, product origin country = lineitem's supplier⋈nation.
  *
  * Reference semantics: src/spark/jobs/spark.py process_stream():
  * rename-conflict handling, left-outer enrichment joins, rule-based
  * fraud scoring (country_mismatch / high_value_flag / fraud_score /
  * discounted_price), tumbling-window user-spend and category trends.
  *
  * Scale: the fact side (lineitem at ~100 TB) is scanned once and never
  * shuffled for enrichment — nation/supplier/part are broadcast; customer
  * is left to Catalyst/AQE (broadcast below the threshold, shuffle-hash
  * above). Trend aggregations shuffle on (window, key) only with map-side
  * partials.
  */
object Fraud {

  /** The full scored-transaction relation in DuckDB SQL — c1's oracle,
    * shared by c5 (adds the threshold filter) and FraudModel's c13b
    * oracle (builds GD features on top). `private[operators]` so the
    * scoring arithmetic exists in exactly one string.
    */
  private[operators] val scoredSql: String =
    """SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS transaction_id,
      |       o_custkey AS user_id, l_partkey AS product_id, l_extendedprice AS amount,
      |       un.n_name AS user_country, sn.n_name AS product_country, p_type AS category,
      |       CASE WHEN un.n_name <> sn.n_name THEN 1 ELSE 0 END AS country_mismatch,
      |       CASE WHEN l_extendedprice > 50000.0 THEN 1 ELSE 0 END AS high_value_flag,
      |       CASE WHEN un.n_name <> sn.n_name THEN 1 ELSE 0 END * CAST(0.5 AS DOUBLE)
      |         + CASE WHEN l_extendedprice > 50000.0 THEN 1 ELSE 0 END * CAST(0.5 AS DOUBLE) AS fraud_score,
      |       CASE WHEN p_retailprice IS NOT NULL AND l_discount IS NOT NULL
      |            THEN p_retailprice * (CAST(1.0 AS DOUBLE) - l_discount) ELSE NULL END AS discounted_price
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |LEFT JOIN customer ON o_custkey = c_custkey
      |LEFT JOIN nation un ON c_nationkey = un.n_nationkey
      |LEFT JOIN part ON l_partkey = p_partkey
      |LEFT JOIN supplier ON l_suppkey = s_suppkey
      |LEFT JOIN nation sn ON s_nationkey = sn.n_nationkey""".stripMargin

  /** Amount above which a transaction is flagged high-value. The reference
    * used 500 against a 0–1000 amount range (src/spark/jobs/spark.py
    * high_value_flag); l_extendedprice spans ~900–105000 with a ~53000
    * median, so 50000 keeps the same "upper half" semantics.
    */
  val HighValueThreshold = 50000.0

  private def t(s: SparkSession, d: String, name: String): DataFrame =
    Tables.table(s, d, name)

  /** The c23/c24 drift grid: 256 cells over a PINNED [lo, hi] — pinned
    * because drift is measured against a reference binning, and because
    * a streaming monitor (H17) must bucket every micro-batch on the
    * identical grid. Degenerate lo==hi is decided at plan-build time
    * (driver literals, the histBucket guard without a per-row branch).
    */
  def driftBucket(v: Column, lo: Double, hi: Double): Column =
    if (hi == lo) lit(0L)
    else least(
      floor((v - lit(lo)) / ((lit(hi) - lit(lo)) / lit(256.0))).cast("long"),
      lit(255L))

  /** Driver-side grid bounds for c23/c24: min/max of the (already
    * null-filtered) `value` column. A global agg always yields exactly
    * one row, but on an EMPTY input (no events, or all-NULL values) that
    * row holds NULLs — `getDouble` would NPE. Degrade to the (0,0)
    * degenerate grid instead: the downstream cell aggregate is empty
    * anyway, so both statistics come back as empty frames rather than a
    * driver crash. The oracle twins carry the matching `hi = lo` CASE
    * guard so engine and oracle degrade identically.
    */
  def driftBounds(ev: DataFrame): (Double, Double) = {
    val row = ev.agg(min(col("value")), max(col("value"))).head()
    if (row.isNullAt(0)) (0.0, 0.0) else (row.getDouble(0), row.getDouble(1))
  }

  /** PSI from a (bucket, c0, c1) cell table — the c24 arithmetic shared
    * VERBATIM with the H17 streaming monitor, so served-from-cells and
    * one-shot-batch scores are bit-identical by construction: exact
    * integer mass differences through DECIMAL(12,0) products (counts
    * bounded 1e12/slice), the log-ratio as four 8dp-pinned integer lns
    * in DECIMAL(10,8), one double division at the end. Totals are
    * taken over ALL cells BEFORE the both-sides-present filter (the
    * no-smoothing PSI variant, used-cell count reported).
    *
    * Decimal-width discipline (the §6b adjusted-scale trap): the naive
    * mass×(four-ln-sum) product is (26,0)×(13,8) → precision 40 > 38,
    * which Spark silently ROUNDS to scale 6 while DuckDB keeps exact
    * scale 8 — cross-engine parity then holds only when the 6dp
    * truncation happens to be lossless (balanced n0=n1 fixtures). So
    * the multiply is DISTRIBUTED over two (11,8) ln-pair differences:
    * (26,0)×(11,8) → (38,8) EXACT, each half down-cast to (37,8)
    * (true bound ≲ 1e24·ln(1e12)² ≈ 5.6e25 ≪ 1e29) so their sum is
    * (38,8) exact, and the 256-cell aggregate stays within (38,8)
    * (≤ 2.9e28 < 1e30). Every intermediate on both engines is an exact
    * multiple of 1e-8, so the final CAST-to-double agrees bitwise for
    * ANY cell table — balanced or not (PsiParitySpec).
    *
    * Scale (the round-6 verdict's one flagged scale-killer, fixed):
    * the totals n0/n1 come from a 1-ROW AGGREGATE broadcast-crossJoined
    * back onto the cells — never a `sum().over(Window.partitionBy(
    * lit(1)))` window, which would concentrate the WHOLE cell table on
    * one task. Irrelevant for c24/H17's fixed 256-cell grid, but f21/
    * H21 feed a VOCABULARY-sized cell table through this same function,
    * and a web-scale vocabulary is billions of terms. The aggregate is
    * map-side partial, and the totals branch shares the cells subplan's
    * shuffle via ReuseExchange so the upstream is not recomputed;
    * integer sums are order-independent, so the score is bit-identical
    * to the window form (PlanSpec asserts no SinglePartition window on
    * the f21 path).
    */
  def psiFromCells(cells: DataFrame): DataFrame = {
    val totals = cells.agg(sum(col("c0")).as("n0"), sum(col("c1")).as("n1"))
    def ln8(c: Column): Column = round(log(c), 8).cast("decimal(10,8)")
    def d12(c: Column): Column = c.cast("decimal(12,0)")
    def d37(c: Column): Column = c.cast("decimal(37,8)")
    cells
      .crossJoin(broadcast(totals))
      .filter(col("c0") > 0 && col("c1") > 0)
      .withColumn("mass",
        d12(col("c0")) * d12(col("n1")) - d12(col("c1")) * d12(col("n0")))
      .withColumn("contrib",
        d37(col("mass") * (ln8(col("c0")) - ln8(col("n0")))) +
          d37(col("mass") * (ln8(col("n1")) - ln8(col("c1")))))
      .groupBy(col("n0"), col("n1")).agg(
        count(lit(1)).as("n_cells_used"),
        sum(col("contrib")).as("s"))
      .select(
        (col("s").cast("double") /
          (col("n0").cast("double") * col("n1").cast("double"))).as("psi"),
        col("n_cells_used"), col("n0"), col("n1"))
  }

  /** Transactions fact: one row per lineitem, order attributes attached.
    * Key-to-key inner join on the order key; at scale both sides are
    * co-partitioned by orderkey (bucketing) so this is shuffle-free.
    */
  def transactions(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(
        concat_ws("-", col("l_orderkey"), col("l_linenumber")).as("transaction_id"),
        // the numeric halves of transaction_id ride along: distinct-counts
        // on (tx_okey, tx_lineno) equal distinct transaction_id but skip
        // per-row string building in hot aggregations; column pruning
        // drops them when unused
        col("l_orderkey").as("tx_okey"),
        col("l_linenumber").as("tx_lineno"),
        col("o_custkey").as("user_id"),
        col("l_partkey").as("product_id"),
        col("l_suppkey").as("supplier_id"),
        col("l_extendedprice").as("amount"),
        col("l_discount").as("discount"),
        col("o_orderpriority").as("payment_method"),
        col("o_orderdate").as("ts"))
  }

  /** User dimension with origin country (rename-conflict handling as in
    * the reference: users country → user_country, name → user_name).
    */
  def users(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .join(broadcast(t(s, d, "nation")),
            col("c_nationkey") === col("n_nationkey"), "left")
      .select(col("c_custkey").as("user_id"),
              col("c_name").as("user_name"),
              col("n_name").as("user_country"),
              col("c_mktsegment").as("segment"))

  /** Product dimension (category/base price). */
  def products(s: SparkSession, d: String): DataFrame =
    t(s, d, "part")
      .select(col("p_partkey").as("product_id"),
              col("p_name").as("product_name"),
              col("p_type").as("category"),
              col("p_retailprice").as("base_price"))

  /** Product origin country comes from the shipping supplier's nation. */
  def supplierCountries(s: SparkSession, d: String): DataFrame =
    t(s, d, "supplier")
      .join(broadcast(t(s, d, "nation")),
            col("s_nationkey") === col("n_nationkey"), "left")
      .select(col("s_suppkey").as("supplier_id"),
              col("n_name").as("product_country"))

  /** Left-outer enrichment of the transaction stream/batch against the
    * dimensions (reference: tx ⋈ users ⋈ products left-outer).
    */
  def enrich(tx: DataFrame, users: DataFrame, products: DataFrame,
             supplierCountries: DataFrame): DataFrame =
    tx.join(users, Seq("user_id"), "left")
      .join(broadcast(products), Seq("product_id"), "left")
      .join(broadcast(supplierCountries), Seq("supplier_id"), "left")

  /** Rule-based fraud scoring (reference: src/spark/jobs/spark.py
    * country_mismatch / high_value_flag / fraud_score / discounted_price).
    * Pure codegen'd expressions — no UDFs, stays inside WholeStageCodegen.
    */
  def score(enriched: DataFrame): DataFrame =
    enriched
      .withColumn("country_mismatch",
        when(col("user_country") =!= col("product_country"), 1).otherwise(0))
      .withColumn("high_value_flag",
        when(col("amount") > HighValueThreshold, 1).otherwise(0))
      .withColumn("fraud_score",
        col("country_mismatch") * 0.5 + col("high_value_flag") * 0.5)
      .withColumn("discounted_price", discountedPrice)

  /** The reference's discounted_price: NULL unless both inputs are set. */
  private def discountedPrice: Column =
    when(col("base_price").isNotNull && col("discount").isNotNull,
      col("base_price") * (lit(1.0) - col("discount"))).otherwise(lit(null))

  /** The scored projection's 11 columns, shared by c1/c5 and c17. */
  private def scoredColumns(scored: DataFrame): DataFrame =
    scored.select("transaction_id", "user_id", "product_id", "amount",
      "user_country", "product_country", "category",
      "country_mismatch", "high_value_flag", "fraud_score", "discounted_price")

  /** Full scored enrichment — the pipeline's flagship projection. */
  def scoredTransactions(s: SparkSession, d: String): DataFrame =
    scoredColumns(score(
      enrich(transactions(s, d), users(s, d), products(s, d), supplierCountries(s, d))))

  /** C17: rules as DATA — the reference's hardcoded scoring predicates
    * (score() above) driven from a rule TABLE (rule_id, kind, threshold,
    * weight, priority), so fraud analysts ship rule changes as rows, not
    * code. The bounded rule set (dozens) is collected driver-side — the
    * IVF-centroid rule — and COMPILED into the projection: one indicator
    * column per rule_id plus the weighted sum folded in priority order.
    * The plan is identical to the hardcoded form (pure codegen'd
    * projection, zero shuffles — a cross-join + re-group evaluator was
    * rejected: it shuffles the whole fact on the carry columns to
    * recover per-tx rows), which is what lets c17 hash-match c1's
    * oracle with the reference's own two rules as table rows. Unknown
    * rule kinds fail at plan-build time, not silently at runtime.
    */
  def ruleTableScore(enriched: DataFrame, rules: DataFrame): DataFrame = {
    val rs = rules.orderBy(col("priority"), col("rule_id")).collect()
    // bad rule TABLES fail at plan-build time like bad rule kinds do: an
    // empty set is a truncated config, a duplicate rule_id would silently
    // overwrite its twin's indicator (and double its weight), and an id
    // shadowing a data column would clobber that column for downstream
    // consumers
    require(rs.nonEmpty, "rule table is empty — refusing to score with no rules")
    val ids = rs.map(_.getAs[String]("rule_id"))
    require(ids.distinct.length == ids.length,
      s"duplicate rule_id(s): ${ids.diff(ids.distinct).distinct.mkString(", ")}")
    val clashes = ids.toSet.intersect(enriched.columns.toSet)
    require(clashes.isEmpty,
      s"rule_id(s) shadow input column(s): ${clashes.mkString(", ")}")
    def fired(kind: String, threshold: Double): Column = kind match {
      case "amount_gt" => when(col("amount") > threshold, 1).otherwise(0)
      case "country_mismatch" =>
        when(col("user_country") =!= col("product_country"), 1).otherwise(0)
      case other => throw new IllegalArgumentException(s"unknown rule kind: $other")
    }
    val withFlags = rs.foldLeft(enriched) { (df, r) =>
      df.withColumn(r.getAs[String]("rule_id"),
        fired(r.getAs[String]("kind"), r.getAs[Double]("threshold")))
    }
    withFlags.withColumn("fraud_score",
      rs.map(r => col(r.getAs[String]("rule_id")) * lit(r.getAs[Double]("weight")))
        .reduceLeft(_ + _))
  }

  /** The reference's two rules as table rows (c17's input; the same
    * constants score() hardcodes).
    */
  def referenceRules(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(("country_mismatch", "country_mismatch", 0.0, 0.5, 1),
        ("high_value_flag", "amount_gt", HighValueThreshold, 0.5, 2))
      .toDF("rule_id", "kind", "threshold", "weight", "priority")
  }

  /** C27: collusion-pair detection — pairs of users repeatedly
    * co-present on the same (day, device/attribute) cell: the
    * relay/mule-ring signal ("these two accounts keep showing up on
    * the same device on the same days"). Candidate pairs come from
    * GROUPED-BUCKET expansion on the (day, k) cell — d2's shape: one
    * distinct pass, one cell-keyed shuffle, pairs expanded inside
    * each cell, NEVER a fact self-join. Hub attributes (cells above
    * `maxBucket` distinct users) are excluded before expansion — a
    * device shared by thousands carries no collusion signal and would
    * otherwise be the quadratic blowup; this is the standard
    * frequency cap, mirrored in the oracle so the cut is part of the
    * checked semantics. In-day repeat events collapse in the distinct
    * (co-presence is counted once per day). Output is pairs with ≥
    * `minShared` shared cells — output-sized, the collusion report.
    *
    * NULL attributes are dropped BEFORE grouping: a missing device id
    * is no evidence of co-presence, and Spark's groupBy would otherwise
    * pool every NULL-k row into one giant pseudo-cell while the
    * oracle's equality self-join silently drops them — the explicit
    * filter makes both engines agree by construction (round-6 advice).
    */
  def collusionPairs(events: DataFrame, minShared: Int = 3,
                     maxBucket: Int = 64): DataFrame = {
    val uk = events
      .select(to_date(col("ts")).as("day"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").as("k"),
        col("user_id"))
      .filter(col("k").isNotNull)
      .distinct()
    uk.groupBy(col("day"), col("k"))
      .agg(array_sort(collect_list(col("user_id"))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      // _outer: non-empty by the size guard; a plain explode's inferred
      // filter re-expands every cell a second time (§6b round-15).
      // pair_expand is the r16 native form of the nested-HOF expansion
      // (same pairs, same order — see PairExpand's parity contract)
      .select(explode_outer(graft.functions.PairFunctions.pairExpand(
        col("ids"), "user_a", "user_b")).as("p"))
      .select(col("p.user_a"), col("p.user_b"))
      .groupBy(col("user_a"), col("user_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** C26: dormancy-reactivation detection — accounts that go quiet and
    * come back SPENDING: an event after >= `dormantDays` of per-user
    * silence whose value is >= `burstFactor` x the account's own prior
    * mean (classic account-takeover shape: the fraudster inherits a
    * stale account and immediately monetizes it; the account's own
    * history is the baseline, so whales and minnows self-calibrate).
    *
    * One exchange on user_id carries the whole chain (the c22
    * discipline): the gap is a lag() of the event DATE (integer day
    * arithmetic — exact on both engines), and the prior mean is a
    * RUNNING DECIMAL(18,6) sum over preceding rows divided once into
    * double — decimal addition is associative, so DuckDB's segment-tree
    * window accumulation and Spark's running frame agree bit-for-bit
    * (the 6b analytic-fold rule applied to a window). First events
    * (no history) never flag. Output is flagged rows only —
    * output-sized, like c27's report.
    */
  def reactivationBursts(events: DataFrame, dormantDays: Int = 2,
                         burstFactor: Double = 1.5): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val wo = W.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val prior = wo.rowsBetween(Window.unboundedPreceding, -1)
    events
      .filter(col("value").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .repartition(col("user_id"))
      .select(col("event_id"), col("user_id"), col("value"),
        datediff(to_date(col("ts")), lag(to_date(col("ts")), 1).over(wo))
          .cast("long").as("gap_days"),
        (sum(col("value").cast("decimal(18,6)")).over(prior).cast("double")
          / count(lit(1)).over(prior).cast("double")).as("prior_mean"))
      .filter(col("gap_days") >= dormantDays &&
        col("value") >= lit(burstFactor) * col("prior_mean"))
      .select(col("event_id"), col("user_id"), col("gap_days"),
        col("prior_mean"), col("value"))
  }

  /** C28: collusion RINGS — the c27 pair graph resolved into connected
    * components: "these ACCOUNTS form one mule ring", not just "these
    * two keep co-occurring". Reuses [[Dedup.clustersFromPairsOnly]] (d8's
    * pointer-jumping label propagation, O(log diameter) rounds)
    * verbatim on the pair graph, which is OUTPUT-sized — the fact
    * table never enters the loop, so ring resolution costs what the
    * report costs, not what the corpus costs. `minShared` should sit
    * ABOVE c27's default here: ring membership is transitive, so a
    * loose edge threshold fuses everything into one giant component
    * (measured on the testdata: >=3 gives one 150-user blob, >=6
    * gives 12 rings of 3–6) — the ring id is the smallest member id,
    * deterministic across runs and engines.
    */
  def collusionRings(events: DataFrame, minShared: Int = 6,
                     maxBucket: Int = 64, minRing: Int = 3): DataFrame =
    Dedup.clustersFromPairsOnly(
      collusionPairs(events, minShared, maxBucket)
        .select(col("user_a").as("doc_a"), col("user_b").as("doc_b")))
      .filter(col("cluster_size") >= minRing)
      .select(col("doc_id").as("user_id"), col("cluster_id").as("ring_id"),
        col("cluster_size").as("ring_size"))

  /** C29: collusion-graph cohesion metrics — per-user degree, triangle
    * count, and local clustering coefficient 2T/(deg·(deg−1)) over the
    * c27 pair graph. The metric c28's components cannot provide: a
    * component says WHO is connected, the clustering coefficient says
    * HOW — a tight mule ring (everyone co-occurs with everyone,
    * coefficient → 1) vs a hub-and-spoke pattern around a shared
    * public attribute (coefficient → 0) — the standard triage signal
    * on fraud graphs.
    *
    * Scale: every join touches only the OUTPUT-sized pair graph
    * (materialized once via localCheckpoint — three consumers would
    * otherwise re-derive the fact-table pass each). The wedge
    * expansion is quadratic in per-user DEGREE, which nothing upstream
    * bounds — the c27 cell cap bounds per-cell pairs, but a user
    * co-present in many cells accrues degree across all of them
    * (measured: the loose minShared=3 graph on the sf0.1 corpus is
    * near-complete — 1500 users, avg degree ≈ 270, 57M wedges). Two
    * guards, both part of the checked semantics: cohesion is scored on
    * the STRONG-edge graph (the c28 argument — minShared=6 here; at
    * loose thresholds the graph fuses toward completeness and every
    * coefficient → 1, signal-free), and wedge CENTERS above
    * `maxDegree` report NULL triangles/clustering with `hub_capped` =
    * true — for a genuine hub the coefficient is the uninteresting
    * → 0 tail, and the cap turns the worst case into
    * users × maxDegree², linear in users (DOULION-style sampling is
    * the refinement if capped hubs ever need scores). Portability:
    * counts are exact longs; the coefficient is ONE double division of
    * exact integer casts (2T and deg·(deg−1)), so both engines
    * hash-match bitwise.
    */
  def collusionGraphMetrics(events: DataFrame, minShared: Int = 6,
                            maxBucket: Int = 64,
                            maxDegree: Int = 256): DataFrame = {
    val edges = collusionPairs(events, minShared, maxBucket)
      .select(col("user_a"), col("user_b"))
      .localCheckpoint(true)
    val und = edges.select(col("user_a").as("u"), col("user_b").as("v"))
      .union(edges.select(col("user_b").as("u"), col("user_a").as("v")))
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("degree"))
    // wedges centered at u (two neighbors, canonically ordered), closed
    // iff the outer pair is itself an edge — each triangle closes one
    // wedge at each of its three corners, so the per-user count is
    // exact without a /3 correction; capped centers never expand.
    // r16: the wedge candidates come from pair_expand over each
    // center's sorted neighbor list (≤ maxDegree elements by the cap)
    // instead of the centers self-join — same (x < y) wedge set, one
    // exchange on u instead of the join's two sorted sides, and the
    // expansion rides the c27 native generator (guide §2.3/§2.4)
    val centers = und.join(
      deg.filter(col("degree") <= maxDegree).select(col("u")), Seq("u"))
    val tri = centers
      .groupBy(col("u")).agg(array_sort(collect_list(col("v"))).as("vs"))
      .filter(size(col("vs")) > 1)
      // _outer: non-empty by the size guard (the §6b round-15 rule)
      .select(col("u"), explode_outer(graft.functions.PairFunctions
        .pairExpand(col("vs"), "x", "y")).as("p"))
      .select(col("u"), col("p.x").as("x"), col("p.y").as("y"))
      .join(edges.select(col("user_a").as("x"), col("user_b").as("y")),
        Seq("x", "y"))
      .groupBy(col("u")).agg(count(lit(1)).as("n_triangles"))
    deg.join(tri, Seq("u"), "left")
      .select(col("u").as("user_id"), col("degree"),
        (col("degree") > maxDegree).as("hub_capped"),
        when(col("degree") > maxDegree, lit(null).cast("bigint"))
          .otherwise(coalesce(col("n_triangles"), lit(0L))).as("n_triangles"),
        when(col("degree") > maxDegree, lit(null).cast("double"))
          .when(col("degree") >= 2,
            (lit(2L) * coalesce(col("n_triangles"), lit(0L))).cast("double")
              / (col("degree") * (col("degree") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("clustering"))
  }

  /** C30: PageRank centrality on the collusion graph — the influence
    * ranking degree (c29) misses: a user tied to OTHER well-connected
    * users outranks one with the same degree tied to leaves, which is
    * exactly the "who anchors the ring" question once c28 has resolved
    * membership. Runs on the same strong-edge pair graph as c28/c29.
    *
    * Engine-portable determinism (the §6b recipe extended to an
    * iterative algorithm): ranks are FIXED-POINT longs scaled by 1e12 —
    * integer sums are order-independent, so no float fold ever happens
    * inside a shuffle. Each step is
    *   pr' = (15·base + 85·Σ_{u→v} (pr(u) div deg(u))) div 100
    * with `div` truncating integer division (== floor for these
    * positive values, and == DuckDB's `//`), base = SCALE div N. The
    * double `pagerank` column is ONE division of the exact long at the
    * end. The oracle unrolls the identical `iters` steps as chained
    * CTEs — no convergence test, so the two engines cannot disagree on
    * when to stop.
    *
    * Scale: the iteration count is FIXED, so the whole iteration is
    * one plan, materialized once — `iters` shuffle stages on the
    * OUTPUT-sized pair graph with ZERO per-round driver round-trips
    * (contrast the component loop, which must check convergence per
    * round; power iteration needs no such check). Every node has
    * degree ≥ 1 by construction (nodes exist only as edge endpoints),
    * so there is no dangling-mass correction term. The edge list and
    * degree table are checkpointed once; per-iteration cost is two
    * small-side joins (AQE broadcasts the rank table while it is small)
    * plus one aggregate.
    */
  def collusionPageRank(events: DataFrame, minShared: Int = 6,
                        maxBucket: Int = 64, iters: Int = 8): DataFrame =
    pageRankFromPairs(
      collusionPairs(events, minShared, maxBucket)
        .select(col("user_a"), col("user_b")), iters)

  /** Power iteration over an undirected pair list — see
    * [[collusionPageRank]] for the arithmetic and portability contract.
    *
    * EAGER: the power iteration executes inside this call (the
    * checkpoint of the converged fixed point below) — the returned
    * frame is a projection over that table, not a lazy 3·iters plan.
    * Callers that only inspect the plan shape still pay the full run;
    * the empty-graph early return is the one lazy path.
    */
  def pageRankFromPairs(pairs: DataFrame, iters: Int = 8): DataFrame = {
    val scale = 1000000000000L
    val edges = pairs.localCheckpoint(true)
    val deg = edges
      .select(col("user_a").as("u"), col("user_b").as("v"))
      .union(edges.select(col("user_b").as("u"), col("user_a").as("v")))
      .groupBy(col("u")).agg(count(lit(1)).as("degree"))
      .localCheckpoint(true)
    // node count: one scalar from the (output-sized, checkpointed)
    // degree table — a bounded model value, like the centroid tables
    val n = deg.count()
    if (n == 0) {
      return deg.select(col("u").as("user_id"), lit(0L).as("pr_fp"),
        lit(0.0).as("pagerank")).limit(0)
    }
    val base = scale / n
    // The `iters` stages run over NODE-sized tables (ranks/deg); AQE's
    // partition coalescing sizes their shuffles from what they measure,
    // so no width is set here.
    val und = edges.select(col("user_a").as("u"), col("user_b").as("v"))
      .union(edges.select(col("user_b").as("u"), col("user_a").as("v")))
    var ranks = deg.select(col("u"), lit(base).as("fp"))
    for (_ <- 1 to iters) {
      ranks = und.join(ranks, Seq("u")).join(deg, Seq("u"))
        .select(col("v").as("u"), expr("fp div degree").as("c"))
        .groupBy(col("u")).agg(sum(col("c")).as("contrib"))
        .select(col("u"),
          expr(s"(${15L * base} + 85 * contrib) div 100").as("fp"))
    }
    // Materialize the fixed point here: the barrier cuts the 3·iters-deep
    // plan to a `Scan ExistingRDD` leaf and resets its stats, so no
    // downstream plan re-plans (or re-estimates) the whole iteration.
    // The arithmetic is exact fixed-point longs; the materialization
    // changes no value.
    val converged = Stage.checkpointFresh(ranks)
    converged.select(col("u").as("user_id"), col("fp").as("pr_fp"),
      (col("fp").cast("double") / lit(scale).cast("double")).as("pagerank"))
  }

  /** C31's logic (see the queries-map comment for the full design
    * note): leave-one-out peer z against same-event_type moments,
    * c11's decimal-sum recipe, |event_type| stats rows.
    */
  def peerAnomaly(ev: DataFrame, minZ: Double = 3.0): DataFrame = {
    val stats = ev.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sv"),
        sum((col("value") * col("value")).cast("decimal(28,10)"))
          .cast("double").as("sv2"))
      .filter(col("n") >= 3)
    val nl = col("n") - 1
    val meanLoo = (col("sv") - col("value")) / nl
    val varLoo = ((col("sv2") - col("value") * col("value")) -
      (col("sv") - col("value")) * (col("sv") - col("value")) / nl) /
      (col("n") - 2)
    val z = round((col("value") - meanLoo) / sqrt(varLoo), 8)
    ev.join(stats, Seq("event_type"))
      .filter(varLoo > 0)
      .withColumn("z_peer", z)
      .filter(abs(col("z_peer")) > minZ)
      .select(col("event_id"), col("event_type"), col("user_id"),
        col("value"), col("z_peer"))
  }

  /** C32's logic (see the queries-map comment for the design note):
    * trigram motif lift against the first-order transition model.
    */
  def sequenceMotifs(ev: DataFrame, minCount: Long = 5, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val lagged = ev
      .select(col("user_id"), col("event_type").as("t3"), col("ts"), col("event_id"))
      .withColumn("t2", lag(col("t3"), 1).over(w))
      .withColumn("t1", lag(col("t3"), 2).over(w))
    // ONE fact aggregate for BOTH gram orders: each event row emits its
    // trigram and bigram cells together (nulls filtered in-row), so the
    // fact is scanned and user-shuffled exactly once — two separate
    // window branches would column-prune into two canonically different
    // plans and re-scan (the §6b round-8 pruning/reuse trap). The cell
    // table is ≤ |types|³ + |types|² rows; checkpointing it (i23's
    // idiom) pins every downstream join to the tiny table.
    val cells = lagged
      // _outer + null post-filter: the filtered 2-struct array CAN be
      // empty (a user's first event has neither gram), and a plain
      // explode's inferred filter re-runs the array filter per row
      // (§6b round-15) — outer emits one null row instead, dropped by
      // the cheap generated-column filter below (identical cells)
      .select(explode_outer(filter(array(
        struct(lit("tri").as("kind"), col("t1"), col("t2"), col("t3")),
        struct(lit("bi").as("kind"), lit(null).cast("string").as("t1"),
          col("t2"), col("t3"))),
        c => when(c.getField("kind") === "tri", col("t1").isNotNull)
          .otherwise(col("t2").isNotNull))).as("g"))
      .filter(col("g").isNotNull)
      .select(col("g.kind").as("kind"), col("g.t1").as("t1"),
        col("g.t2").as("t2"), col("g.t3").as("t3"))
      .groupBy(col("kind"), col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val tri = cells.filter(col("kind") === "tri")
      .select(col("t1"), col("t2"), col("t3"), col("c").as("c3"))
    val bi = cells.filter(col("kind") === "bi")
      .select(col("t2").as("a"), col("t3").as("b"), col("c").as("c2"))
    val mid = bi.groupBy(col("a")).agg(sum(col("c2")).as("cb"))
    // the checkpointed LogicalRDD carries default (huge) stats, so AQE
    // won't pick broadcast on its own — hint all three |types|²-bounded
    // sides: the close is three BroadcastHashJoins with no exchange
    tri.filter(col("c3") >= minCount)
      .join(broadcast(bi.select(col("a").as("t1"), col("b").as("t2"),
        col("c2").as("cab"))), Seq("t1", "t2"))
      .join(broadcast(bi.select(col("a").as("t2"), col("b").as("t3"),
        col("c2").as("cbc"))), Seq("t2", "t3"))
      .join(broadcast(mid.select(col("a").as("t2"), col("cb"))), Seq("t2"))
      .select(col("t1"), col("t2"), col("t3"), col("c3"),
        (col("c3").cast("double") * col("cb") /
          (col("cab").cast("double") * col("cbc"))).as("lift"))
      .orderBy(col("lift").desc, col("t1"), col("t2"), col("t3"))
      .limit(k)
  }

  /** C33's logic: the DEPLOYMENT half of the motif story — flag every
    * event that COMPLETES one of the given high-lift motifs (the list
    * is [[sequenceMotifs]]'s output, a bounded driver model like C17's
    * rule table). One lag pass on the user shuffle, then a literal
    * three-way predicate per motif — join-free, so the screen runs at
    * fact-scan cost with the mined model folded into the plan.
    */
  def motifOccurrences(ev: DataFrame,
                       motifs: Seq[(String, String, String)]): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.select(col("user_id"), col("event_id"), col("event_type").as("t3"),
        col("ts"))
      .withColumn("t2", lag(col("t3"), 1).over(w))
      .withColumn("t1", lag(col("t3"), 2).over(w))
      .filter(motifs.map { case (a, b, c) =>
        col("t1") === a && col("t2") === b && col("t3") === c
      }.reduceOption(_ || _).getOrElse(lit(false)))
      .select(col("event_id"), col("user_id"), col("t1"), col("t2"), col("t3"))
  }

  /** C34's logic: recency-weighted (half-life-decayed) spend with
    * EXACT dyadic arithmetic — see the queries-map comment.
    */
  def decayedSpend(ev: DataFrame, maxAge: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val scale = math.pow(2.0, maxAge) // exact: power-of-two double
    ev.select(col("user_id"), to_date(col("ts")).as("d"), col("value"))
      .withColumn("last_d", max(col("d")).over(w))
      .withColumn("age", datediff(col("last_d"), col("d")))
      .filter(col("age") <= maxAge)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_recent"),
        max(col("d")).as("as_of_day"),
        (sum(col("value").cast("decimal(18,6)") *
          expr(s"CAST(shiftleft(CAST(1 AS BIGINT), $maxAge - age) AS DECIMAL(7,0))"))
          .cast("double") / lit(scale)).as("decayed_spend"))
  }

  /** C35's logic: Holt's linear-trend state over each user's last
    * ≤`frame` values — see the queries-map comment.
    */
  def holtForecast(ev: DataFrame, frame: Int = 40): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val recent = ev
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_events", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .filter(col("rn") <= frame)
    val step = (acc: Column, x: Column) => {
      val sPrev = acc.getField("s")
      val bPrev = acc.getField("b")
      val sNew = (x + (sPrev + bPrev)) / 2.0
      when(acc.getField("n") === 0.0,
        struct(x.as("s"), lit(0.0).as("b"), lit(1.0).as("n")))
        .otherwise(struct(sNew.as("s"),
          ((sNew - sPrev) + bPrev) / 2.0 as "b",
          (acc.getField("n") + 1.0).as("n")))
    }
    recent
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"),
        array_sort(collect_list(struct(col("ts"), col("event_id"),
          col("value")))).as("es"))
      .select(col("user_id"), col("n_events"),
        transform(col("es"), e => e.getField("value")).as("vs"))
      .select(col("user_id"), col("n_events"),
        aggregate(col("vs"),
          struct(lit(0.0).as("s"), lit(0.0).as("b"), lit(0.0).as("n")),
          step).as("st"))
      .select(col("user_id"), col("n_events"),
        col("st.s").as("level"), col("st.b").as("trend"),
        (col("st.s") + col("st.b")).as("forecast"))
  }

  /** C40's logic: Holt-Winters ADDITIVE SEASONAL smoothing over each
    * event type's daily-total series — the seasonal member closing the
    * smoothing family (C16 EWMA → C35 Holt → this). The §6b dyadic
    * recipe extended to three-component state: α=β=γ=½ makes every
    * update a subtract/add/halve chain (IEEE-exact given a pinned op
    * order), the daily totals enter as order-independent DECIMAL sums
    * cast to double once, and the season slot is the CALENDAR day
    * number mod 7 (not sequence position — a missing day must not
    * rotate the seasonality), so gaps in a sparse series leave the
    * slot assignment intact. State: level s, trend b, seven additive
    * season components c₀..c₆, count n. Update at value v in slot j:
    *   s' = ((v − c_j) + (s + b)) / 2
    *   b' = ((s' − s) + b) / 2
    *   c_j' = ((v − s') + c_j) / 2
    * first value: s = v, b = 0, c = 0⃗. Forecast one day ahead:
    * s + b + c_{(last_day+1) mod 7}. The DuckDB twin folds the same
    * recurrence with a 10-element LIST accumulator [s, b, c₁..c₇, n]
    * (c35's list_reduce technique), s' spelled identically in every
    * position it appears. Scale: the fold runs over ≤|types| groups of
    * ≤|days| cells — the fact collapses in the one daily aggregate.
    */
  def holtWintersForecast(ev: DataFrame): DataFrame = {
    val st = hwState(hwDaily(ev))
    st.select(col("event_type"),
      col("st.n").cast("long").as("n_days"),
      col("st.s").as("level"), col("st.b").as("trend"),
      (col("st.s") + col("st.b") +
        element_at(col("st.cs"),
          ((col("last_day") + 1) % 7).cast("int") + 1)).as("forecast"))
  }

  /** C40/C41 shared: the per-type daily decimal-exact total series. */
  private def hwDaily(ev: DataFrame): DataFrame =
    ev.filter(col("value").isNotNull)
      .select(col("event_type"), to_date(col("ts")).as("d"), col("value"))
      .groupBy(col("event_type"), col("d"))
      .agg(sum(col("value").cast("decimal(18,6)")).cast("double").as("v"))
      .select(col("event_type"),
        datediff(col("d"), lit("1970-01-01")).cast("long").as("day_num"),
        col("v"))

  /** C40/C41 shared: the Holt-Winters fold over a daily series —
    * (event_type, last_day, st{s, b, cs[7], n}).
    */
  private def hwState(daily: DataFrame): DataFrame = {
    val zeros = array((0 until 7).map(_ => lit(0.0)): _*)
    val init = struct(lit(0.0).as("s"), lit(0.0).as("b"),
      zeros.as("cs"), lit(0.0).as("n"))
    val step = (acc: Column, x: Column) => {
      val j = (x.getField("day_num") % 7).cast("int")
      val v = x.getField("v")
      val cj = element_at(acc.getField("cs"), j + 1)
      val sPrev = acc.getField("s")
      val bPrev = acc.getField("b")
      val sNew = ((v - cj) + (sPrev + bPrev)) / 2.0
      when(acc.getField("n") === 0.0,
        struct(v.as("s"), lit(0.0).as("b"), acc.getField("cs").as("cs"),
          lit(1.0).as("n")))
        .otherwise(struct(
          sNew.as("s"),
          (((sNew - sPrev)) + bPrev) / 2.0 as "b",
          transform(acc.getField("cs"),
            (c, i) => when(i === j, ((v - sNew) + cj) / 2.0).otherwise(c))
            .as("cs"),
          (acc.getField("n") + 1.0).as("n")))
    }
    daily.groupBy(col("event_type"))
      .agg(max(col("day_num")).as("last_day"),
        array_sort(collect_list(struct(col("day_num"), col("v")))).as("es"))
      .select(col("event_type"), col("last_day"),
        aggregate(col("es"), init, step).as("st"))
  }

  /** C41's logic: the Holt-Winters BACKTEST — the forecasting family's
    * evaluation harness (what e14's recall@k is to the ANN family).
    * The fold trains on every day up to max_day − holdout (the cutoff
    * is a one-row scalar read back as a literal — the histStats
    * bounded-model pattern; at 100 TB it's footer-servable); each
    * holdout day is then forecast h = day − train_last_day steps ahead
    * from the FROZEN state, f = (s + h·b) + c_{day mod 7}, and the
    * report is the per-day actual/forecast/abs-error table — per-row
    * arithmetic only, NO float error sum anywhere (a SUM over double
    * errors would be fold-order-dependent; the per-day table is what a
    * monitoring screen consumes anyway, and c18's CUSUM composes on
    * top if a scalar drift statistic is wanted). The daily cell table
    * localCheckpoints (two consumers with different column sets — the
    * round-8 pruning/reuse trap); the state side is |types| rows and
    * broadcast-joins to the 7·|types|-row holdout.
    */
  def hwBacktest(ev: DataFrame, holdout: Int = 7): DataFrame = {
    val daily = hwDaily(ev).localCheckpoint(true)
    val maxRow = daily.agg(max(col("day_num"))).head()
    // Empty input still flows through the normal projection (every
    // stage is empty-safe) so the caller sees the REAL 6-column
    // schema, not a zero-column emptyDataFrame a downstream select
    // would throw on.
    val cutoff = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0) - holdout
    val state = hwState(daily.filter(col("day_num") <= cutoff))
      .select(col("event_type"), col("last_day"),
        col("st.s").as("s"), col("st.b").as("b"), col("st.cs").as("cs"))
    daily.filter(col("day_num") > cutoff)
      .join(broadcast(state), Seq("event_type"))
      .select(col("event_type"), col("day_num"),
        (col("day_num") - col("last_day")).as("h"), col("v").as("actual"),
        ((col("s") + (col("day_num") - col("last_day")).cast("double") * col("b"))
          + element_at(col("cs"), (col("day_num") % 7).cast("int") + 1))
          .as("forecast"))
      .withColumn("abs_err", abs(col("actual") - col("forecast")))
  }

  /** C36's logic: linear multi-touch attribution — see the queries-map
    * comment.
    */
  def touchAttribution(ev: DataFrame, windowDays: Int = 7): DataFrame = {
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
    val touch = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_id").as("touch_id"),
        col("event_type").as("touch_type"), col("ts").as("t_ts"))
    val pairs = conv.join(touch, Seq("user_id"))
      .filter((col("t_ts") < col("p_ts") ||
        (col("t_ts") === col("p_ts") && col("touch_id") < col("purchase_id"))) &&
        col("t_ts") >= col("p_ts") - expr(s"INTERVAL $windowDays DAYS"))
    val w = Window.partitionBy(col("purchase_id"))
    pairs
      .withColumn("n_touches", count(lit(1)).over(w))
      .withColumn("weight", lit(1.0) / col("n_touches"))
      .withColumn("is_last_touch", row_number().over(
        w.orderBy(col("t_ts").desc, col("touch_id").desc)) === 1)
      .select(col("purchase_id"), col("touch_id"), col("touch_type"),
        col("n_touches"), col("weight"), col("is_last_touch"))
  }

  /** C40/C41 shared oracle core: the daily CTE + the Holt-Winters
    * list_reduce fold; `trainWhere` filters the fold's input (c41's
    * holdout cut). s' is generated ONCE and interpolated into every
    * position so the IEEE op order cannot drift.
    */
  private def hwFoldSql(trainWhere: String): String = {
    val sNew = "((x[2] - a[3 + CAST(CAST(x[1] AS BIGINT) % 7 AS INT)]) + (a[1] + a[2])) / 2.0"
    val seasonArms = (0 to 6).map(k =>
      s"CASE WHEN CAST(x[1] AS BIGINT) % 7 = $k THEN ((x[2] - ($sNew)) + a[${3 + k}]) / 2.0 ELSE a[${3 + k}] END")
      .mkString(",\n               ")
    s"""daily AS (
       |  SELECT event_type,
       |         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num,
       |         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
       |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
       |folded AS (
       |  SELECT event_type, max(day_num) AS last_day,
       |         list_reduce(
       |           list_prepend([${Seq.fill(10)("CAST(0 AS DOUBLE)").mkString(", ")}],
       |             list([CAST(day_num AS DOUBLE), v] ORDER BY day_num)),
       |           (a, x) -> CASE WHEN a[10] = 0
       |             THEN [x[2], ${Seq.fill(8)("CAST(0 AS DOUBLE)").mkString(", ")}, CAST(1 AS DOUBLE)]
       |             ELSE [$sNew,
       |               ((($sNew) - a[1]) + a[2]) / 2.0,
       |               $seasonArms,
       |               a[10] + 1] END) AS st
       |  FROM daily $trainWhere GROUP BY event_type)""".stripMargin
  }

  /** The nine Benford expectations, spelled identically in every
    * oracle (§6b: never derive constants) — b39's literals. Shared
    * with the H31 streaming screen so the two serve paths cannot
    * drift (the psiFromCells rule).
    */
  private[graft] val benfordP = Seq(0.30103, 0.17609, 0.12494, 0.09691,
    0.07918, 0.06695, 0.05799, 0.05115, 0.04576)

  /** C37's logic: per-event-type Benford chi-square screen — see the
    * queries-map comment.
    */
  def benfordScreen(ev: DataFrame, critical: Double = 15.507): DataFrame = {
    val digits = ev.filter(col("value") >= 1)
      .select(col("event_type"),
        substring(floor(col("value")).cast("string"), 1, 1)
          .cast("long").as("digit"))
    // conditional aggregation straight to the 9-column pivot: the
    // map-side partial is 10 longs per type per partition, ONE
    // exchange total (a (type, digit) intermediate would add a second)
    val obsCols = (1 to 9).map(i =>
      sum(when(col("digit") === i, 1L).otherwise(0L))
        .cast("double").as(s"o$i"))
    val wide = digits.groupBy(col("event_type"))
      .agg(obsCols.head, (obsCols.tail :+ count(lit(1)).as("n_amounts")): _*)
    def term(i: Int): Column = {
      val e = col("n_amounts").cast("double") * lit(benfordP(i - 1))
      (col(s"o$i") - e) * (col(s"o$i") - e) / e
    }
    val chi2 = (1 to 9).map(term).reduceLeft(_ + _)
    wide.select(col("event_type"), col("n_amounts"),
      chi2.as("chi2"), (chi2 > lit(critical)).as("benford_flag"))
  }

  /** C39: structuring ("smurfing") screen — users repeatedly placing
    * amounts JUST UNDER a reporting threshold inside a short window:
    * the classic layering pattern where one large transfer is split
    * into several sub-threshold ones (the AML staple that Benford
    * can't see — each amount alone is unremarkable; the signal is the
    * repetition of the band). An event flags when its user has ≥
    * `minCount` in-band amounts in the trailing `windowDays` ending
    * at it.
    *
    * Knobs sized against the corpus (the round-8 rule, DuckDB first):
    * band [90,100) is ~3% of the exponential-ish amounts, and with
    * minCount=3 over 7 days the flag set straddles at every SF
    * (2 of 32 in-band events at sf0.001, 25/295 at sf0.01, 210/2987
    * at sf0.1) — both branches corpus-exercised, nothing degenerate.
    *
    * Determinism: the trailing count is a pure integer over a frame
    * whose membership is decided in integer MICROSECONDS — the frame
    * lower bound is `ts − 7d + 1 μs`, i.e. the half-open (ts−7d, ts],
    * spelled as the same RANGE frame in both engines (epoch_us ↔
    * unix_micros, the c21 pair); same-microsecond peers are in the
    * frame on both (RANGE includes peers). Band literals compare
    * exactly (90/100 are representable).
    *
    * Plan: the band filter pushes to the parquet scan (~3% of rows
    * ever leave it), then ONE user-keyed exchange carries the range
    * window — no join, no self-pairing; at 100 TB this is a pushed
    * scan plus a window over a few percent of the fact.
    */
  def structuringScreen(ev: DataFrame, lo: Double = 90.0, hi: Double = 100.0,
                        windowDays: Int = 7, minCount: Int = 3): DataFrame = {
    val frameLo = -(windowDays * 86400000000L - 1)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(frameLo, 0)
    ev.filter(col("value") >= lo && col("value") < hi)
      .select(col("user_id"), col("event_id"), col("value"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("n_band", count(lit(1)).over(w))
      .filter(col("n_band") >= minCount)
      .select(col("user_id"), col("event_id"), col("value"), col("n_band"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // C39: structuring screen — see structuringScreen's doc: band
    // filter pushed to the scan, one user exchange, integer range
    // frame in microseconds; flag set straddles at every SF.
    "c39_structuring" -> ((s, d) => structuringScreen(t(s, d, "events"))),

    // C37: grouped Benford chi-square screen — b39's forensic
    // first-digit test taken from "one global distribution" to the
    // per-segment question auditors actually ask: WHICH event type's
    // amounts look fabricated. Per type, the nine observed digit
    // counts test against n·p_d via the classic chi-square
    // Σ (obs−exp)²/exp, flagged at the df=8 α=0.05 critical value
    // 15.507 — on the generated corpus the statistic STRADDLES the
    // threshold (8.9…26.5, two types pass, three flag), so both
    // branches are corpus-exercised (sized in DuckDB before building,
    // the round-8 rule). Sub-1 amounts are excluded: they carry no
    // leading digit at integer precision (178 rows at sf0.01).
    // Portability: digit via bigint-to-string (b39 — no log10);
    // expectations as the nine shared literals; exp/term/chi2 are
    // single IEEE ops on identical inputs folded in explicit
    // left-to-right order; n through an exact long sum (oracle casts
    // DuckDB's HUGEINT back). Plan: one scan → ONE conditional-pivot
    // aggregate (map-side partial = 10 longs per type per partition);
    // no window, no join — scan-bound at any scale.
    "c37_benford_screen" -> ((s, d) => benfordScreen(t(s, d, "events"))),

    // C36: linear multi-touch attribution — which views/clicks get
    // credit for a purchase: every touch by the same user in the 7
    // days before the conversion splits the credit equally (1/n), with
    // the last-touch flag carried so last-click attribution reads from
    // the same table. Determinism: the "before" relation totals on
    // (ts, event_id) so a same-microsecond touch/purchase pair cannot
    // flap; the weight is an identical-input 1/n division; interval
    // arithmetic is exact at microsecond precision on both engines.
    // Plan: a user-keyed equi join bounds candidates to per-user
    // activity (b23's range-join class — never a global time join);
    // the two attribution windows share one purchase_id exchange.
    "c36_touch_attribution" -> ((s, d) => touchAttribution(t(s, d, "events"))),

    // C35: Holt linear-trend forecast per user — c16's dyadic family
    // extended to a SECOND-ORDER recurrence: level s' = (x+(s+b))/2,
    // trend b' = ((s'−s)+b)/2 (α=β=1/2, so every step is a halving),
    // folded over the user's last ≤40 values in exact (ts, event_id)
    // order; forecast = s + b is the "what should the NEXT amount be"
    // baseline whose residual screens trend-aware anomalies that the
    // level-only EWMA misses (a steadily-ramping card test tracks the
    // EWMA but runs ahead of zero-trend expectations). The frame is
    // the feature's DEFINITION (c16's move), so state is bounded and
    // the fold reproduces anywhere. Plan: one user exchange carries
    // the ranking window, the total count, and the bounded collect;
    // the fold runs in-row. The oracle folds the identical op order
    // through list_reduce with a LIST-typed [s, b, n] accumulator —
    // the struct-state fold technique, new to the oracle toolbox.
    "c35_holt_forecast" -> ((s, d) => holtForecast(t(s, d, "events"))),

    // C40: Holt-Winters additive seasonal forecast per event type —
    // the smoothing family's seasonal close (see holtWintersForecast:
    // dyadic α=β=γ=1/2, calendar-mod-7 season slots, a 9-component
    // struct state folded over ≤|days| daily decimal totals). The
    // corpus is sized for it: every type has a dense 30-day series at
    // both verify SFs, so all seven slots update 4+ times.
    "c40_holt_winters" -> ((s, d) => holtWintersForecast(t(s, d, "events"))),

    // C41: the Holt-Winters BACKTEST — train on all but the last 7
    // days, forecast each holdout day h steps ahead from the frozen
    // state, report per-day actual/forecast/abs-error (see hwBacktest:
    // no float error sum anywhere — the per-day table is the
    // monitoring surface, and c18 composes on top for drift).
    "c41_hw_backtest" -> ((s, d) => hwBacktest(t(s, d, "events"))),

    // C34: recency-weighted spend — the feature-store staple "how much
    // does this user spend NOW": each event's value decays by a 1-day
    // half-life relative to the user's last active day, and events
    // older than `maxAge` days drop (their weight is sub-measurable
    // anyway). The WHOLE computation is exact: the weight is an
    // integer 2^(maxAge−age) via a shift (never pow() — §6b), the
    // per-event term is DECIMAL(18,6)×DECIMAL(7,0) = (26,6) ≤ 38, the
    // per-user sum is an order-independent decimal, and the single
    // closing division by 2^maxAge is an exact power-of-two double
    // scaling — so the "approximate-looking" decay feature carries a
    // full bit-exact oracle. maxAge=20 against the 30-day corpus
    // exercises BOTH branches (median age 14, max 29 → real drops).
    // One user-keyed exchange serves the window and the aggregate.
    "c34_decayed_spend" -> ((s, d) => decayedSpend(t(s, d, "events"))),

    // C33: motif screen — mining → deployment, both halves checked:
    // c32 mines the top-3 lift motifs (a 3-row driver model, C17's
    // rules-as-data class), and the screen flags every event completing
    // one. The oracle recomputes the SAME top-3 from c32's composed SQL
    // and joins, so the mined model and the deployed predicate can
    // never drift. The streaming twin (H27) serves the identical
    // screen from 2-types-per-user state.
    "c33_motif_screen" -> ((s, d) => {
      val ev = t(s, d, "events")
      val motifs = sequenceMotifs(ev, k = 3).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
      motifOccurrences(ev, motifs)
    }),

    // C32: event-sequence motif mining — which 3-step flows happen
    // MORE than the user base's step-to-step habits predict: lift =
    // c(abc)·c(b·) / (c(ab)·c(bc)), the observed trigram count over
    // its expectation under c20's first-order transition model (a
    // card-testing or account-takeover flow shows up as a high-lift
    // motif long before any single event looks odd). All counts are
    // exact integers from one fact pass; the lift ratio is the
    // identical double op sequence on identical inputs on both
    // engines (no rounding needed, §6b); minCount fences the
    // divergent low-count tail; TakeOrderedAndProject close.
    "c32_sequence_motifs" -> ((s, d) => sequenceMotifs(t(s, d, "events"))),

    // C30: fixed-point PageRank on the strong-edge collusion graph.
    "c30_collusion_pagerank" -> ((s, d) =>
      collusionPageRank(t(s, d, "events"))),

    // C28: collusion rings (minRing=2 so the tiny sf0.001 graph still
    // emits its one pair-component; sf0.01 yields a dozen multi-user
    // rings at minShared=6).
    "c28_collusion_rings" -> ((s, d) =>
      collusionRings(t(s, d, "events"), minRing = 2)),

    // C26: dormancy-reactivation burst report.
    "c26_reactivation" -> ((s, d) => reactivationBursts(t(s, d, "events"))),

    // C29: per-user degree/triangles/clustering on the c27 pair graph.
    "c29_collusion_cohesion" -> ((s, d) =>
      collusionGraphMetrics(t(s, d, "events"))),

    // C1–C4: enrichment join + rule scoring, full projection.
    "c1_fraud_enrich" -> ((s, d) => scoredTransactions(s, d)),

    // C5: fraud-records extract (both rules fired) — what the reference
    // ships to its fraud sink (fraud_score >= 1 ⇒ both flags set).
    "c5_fraud_score" -> ((s, d) =>
      scoredTransactions(s, d).filter(col("fraud_score") >= 1.0)),

    // C17: the rule-TABLE twin of c1 — the same two rules as data rows,
    // compiled into the identical shuffle-free projection; hash-matches
    // c1's oracle (rule-table ≡ hardcoded equivalence, checked exactly).
    "c17_rule_table_score" -> ((s, d) =>
      scoredColumns(ruleTableScore(
        enrich(transactions(s, d), users(s, d), products(s, d), supplierCountries(s, d)),
        referenceRules(s))
        .withColumn("discounted_price", discountedPrice))),

    // C6: per-user spend trend, tumbling 1-hour event-time windows
    // (reference: 1-minute windows over the live stream; the batch twin
    // uses 1 hour over the events table). Exact count distinct for the
    // oracle; the streaming path uses approx_count_distinct like the
    // reference.
    "c6_user_spend_trend" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour"), col("user_id"))
        .agg(dsum6(col("value")).as("total_spent"),
             countDistinct(col("event_id")).as("num_events"))
        .select(fmtTs(col("window.start")).as("window_start"),
                fmtTs(col("window.end")).as("window_end"),
                col("user_id"), col("total_spent"), col("num_events"))),

    // C7: per-category sales trend, tumbling 1-day windows over the
    // transaction fact (reference: category trend aggregation).
    "c7_category_trend" -> ((s, d) => {
      val tx = transactions(s, d)
      tx.join(broadcast(products(s, d)), Seq("product_id"), "left")
        .groupBy(window(col("ts"), "1 day"), col("category"))
        .agg(dsum2(col("amount")).as("total_sales"),
             countDistinct(col("tx_okey"), col("tx_lineno")).as("num_transactions"))
        .select(fmtTs(col("window.start")).as("window_start"),
                fmtTs(col("window.end")).as("window_end"),
                col("category"), col("total_sales"), col("num_transactions"))
    }),

    // C7b: the 100 TB form of the category trend — approx_count_distinct
    // (HLL++) instead of exact two-column countDistinct, mirroring the
    // reference's own choice (src/spark/jobs/spark.py:195
    // approx_count_distinct). The exact form expands every row per
    // distinct key and shuffles the full fact twice (distinct-expand +
    // final agg); the sketch is ONE aggregation pass with fixed-size
    // state per (window, category) group — the plan that survives 100×.
    // Sketch input is xxhash64 of the two key halves (no per-row string
    // concat). Rows-only: estimates are engine-specific; exact C7 stays
    // as the oracle twin.
    "c7_category_trend_approx" -> ((s, d) => {
      val tx = transactions(s, d)
      tx.join(broadcast(products(s, d)), Seq("product_id"), "left")
        .groupBy(window(col("ts"), "1 day"), col("category"))
        .agg(dsum2(col("amount")).as("total_sales"),
             approx_count_distinct(xxhash64(col("tx_okey"), col("tx_lineno")))
               .as("num_transactions"))
        .select(fmtTs(col("window.start")).as("window_start"),
                fmtTs(col("window.end")).as("window_end"),
                col("category"), col("total_sales"), col("num_transactions"))
    }),

    // C10: velocity check — events per user per sliding window; windows
    // with an elevated count are flagged. Burst detection at scale:
    // shuffle on (window,user) only.
    "c10_velocity" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .filter(col("n_events") >= 2)
        .select(fmtTs(col("window.start")).as("window_start"),
                fmtTs(col("window.end")).as("window_end"),
                col("user_id"), col("n_events"),
                (col("n_events") >= 4).as("is_burst"))),

    // C31: PEER-group anomaly — c11's dual: c11 asks "is this unusual
    // for THIS USER", c31 asks "is this unusual among its PEERS" (all
    // events of the same type), which is the screen that catches a
    // user whose every transaction is abnormal — their own history is
    // consistently wrong, so the self-referential z never fires. The
    // comparison is LEAVE-ONE-OUT: each event scores against the peer
    // moments with ITSELF removed (at small n an outlier drags the
    // group mean toward itself and masks its own deviation; the LOO
    // algebra derives the peer-only mean/variance from the group sums
    // in O(1) per row — no second pass). Moments are c11's exact
    // decimal sums (order-independent), the LOO algebra then runs on
    // exactly-reproducible doubles in a SPELLED order the oracle
    // mirrors op-for-op, and z pins to 8dp so row membership is
    // engine-identical. |event_type| stats rows — the join-back is a
    // broadcast at any corpus size.
    "c31_peer_anomaly" -> ((s, d) => peerAnomaly(t(s, d, "events"))),

    // C11: per-user amount z-score anomaly flag. Moments are computed with
    // exact decimal sums (order-independent ⇒ cluster-size-independent);
    // the z formula then runs on exactly-reproducible doubles, so the
    // oracle matches bit-for-bit. The stats join-back is UNHINTED: stats
    // has one row per user, so a forced broadcast is user-cardinality-
    // sized (round-4 verdict) — AQE broadcasts while small, and at 10^9
    // users the shuffle join on user_id is the only plan that fits;
    // the fact side is already partitioned by user for the join.
    "c11_zscore" -> ((s, d) => {
      val ev = t(s, d, "events")
      val stats = ev.groupBy(col("user_id")).agg(
          count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("s"),
          sum((col("value") * col("value")).cast("decimal(28,10)")).cast("double").as("s2"))
        .filter(col("n") >= 2)
      val mean = col("s") / col("n")
      val variance = (col("s2") - (col("s") * col("s")) / col("n")) / (col("n") - 1)
      // z pinned to 8dp: at large n the decimal moments exceed double's
      // exact range and engines' decimal→double conversions differ in
      // the last ulp (observed at sf0.1); filtering on the pinned value
      // keeps row membership engine-identical too
      val z = round((col("value") - mean) / sqrt(variance), 8)
      ev.join(stats, Seq("user_id"))
        .filter(variance > 0)
        .withColumn("z", z)
        .filter(abs(col("z")) > 2.0)
        .select("event_id", "user_id", "value", "z")
    }),

    // C15: trailing-interval window features — per event, the user's
    // spend over the PRECEDING 7 days (RANGE frame on event time, not
    // row count): the classic fraud feature "how much has this user
    // spent recently". One shuffle on user_id; the frame is defined on
    // epoch seconds so row membership is engine-identical.
    "c15_trailing_window" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("secs"))
        .rangeBetween(-604800L, 0L)
      t(s, d, "events")
        .withColumn("secs", col("ts").cast("long"))
        .select(col("event_id"), col("user_id"),
          fmtTs(col("ts")).as("event_ts"), col("value"),
          sum(col("value").cast("decimal(18,6)")).over(w).cast("double").as("t7_sum"),
          count(lit(1)).over(w).as("t7_n"))
    }),

    // C16: EWMA spend smoothing — the exponential-decay twin of C15's
    // boxcar: recent spend weighted 2^-1, 2^-2, ... per event back.
    // α = 1/2 EXACTLY so every weight is a dyadic rational and the
    // recursive fold s_i = (s_{i-1} + x_i)/2 stays inside exact IEEE
    // halving — the smoothed series reproduces bit-for-bit in any
    // engine (pow() with an arbitrary α would be libm-dependent; this
    // extends the §6b portable-estimator recipe list). The frame is
    // ROWS 39 PRECEDING: weights beyond 2^-40 are below double
    // precision relative to the head, so the truncation is the
    // documented semantics AND the fixed-memory bound — O(40) per row,
    // one shuffle on user_id, no O(history²).
    "c16_ewma_spend" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(-39, 0)
      t(s, d, "events")
        // pin one NULL semantics: Spark's collect_list silently drops
        // nulls while DuckDB's list() keeps them (poisoning the fold) —
        // null spend simply isn't an observation in either engine
        .filter(col("value").isNotNull)
        .select(col("event_id"), col("user_id"),
          fmtTs(col("ts")).as("event_ts"), col("value"),
          collect_list(col("value")).over(w).as("trail"))
        .select(col("event_id"), col("user_id"), col("event_ts"), col("value"),
          aggregate(col("trail"), lit(0.0), (a, x) => (a + x) / lit(2.0))
            .as("ewma_value"))
    }),

    // C18: one-sided CUSUM change-point detection — "has this user's
    // spend level SHIFTED upward" (Page 1954), the sequential test that
    // catches slow drifts z-scores miss. The textbook recurrence
    // S_t = max(0, S_{t-1} + (x_t − k)) looks iterative, but it solves
    // in closed form as S_t = P_t − min(0, min_{i≤t} P_i) where P is
    // the running sum of deviations — two window passes over ONE
    // shuffle on user_id, no recursion, no driver loop. All arithmetic
    // rides DECIMAL (running sums of doubles are segment-tree-ordered
    // in DuckDB — associativity is NOT engine-portable; decimal is),
    // cast to double only at the edge. k=50, h=200 as matched literals.
    "c18_cusum_shift" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events")
        .filter(col("value").isNotNull)
        .withColumn("dev",
          col("value").cast("decimal(18,6)") - lit(50.0).cast("decimal(18,6)"))
        .withColumn("p", sum(col("dev")).over(w))
        .withColumn("m", least(min(col("p")).over(w), lit(0).cast("decimal(28,6)")))
        .select(col("event_id"), col("user_id"),
          (col("p") - col("m")).cast("double").as("cusum"),
          ((col("p") - col("m")) > lit(200.0).cast("decimal(28,6)")).as("shift_flag"))
    }),

    // C19: cohort retention matrix — users bucketed by first-seen week,
    // then "what fraction of each cohort is still active N weeks later".
    // Three keyed aggregates: first-seen per user, exact distinct
    // actives per (cohort, week) (two-phase under AQE), and the tiny
    // week-0 base joined back UNHINTED (one row per cohort — AQE
    // broadcasts while small, shuffle-joins past threshold; the c11
    // verdict lesson). Week arithmetic stays integral (both engines
    // truncate weeks to Monday; day-deltas between truncated weeks are
    // exact multiples of 7), so the only double is the final ratio.
    "c19_cohort_retention" -> ((s, d) => {
      val ev = t(s, d, "events")
      val firsts = ev.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
      val weekly = ev.join(firsts, Seq("user_id"))
        .select(col("user_id"), col("cohort_week"),
          (datediff(date_trunc("week", col("ts")), col("cohort_week")) / 7)
            .cast("long").as("week_no"))
      val active = weekly.groupBy(col("cohort_week"), col("week_no"))
        .agg(countDistinct(col("user_id")).as("n_active"))
      // week-0 base via first() over the ordered cohort window, NOT a
      // self-join back to a filter of `active`: the self-join re-executes
      // the whole scan+join+distinct subtree (measured: 9 exchanges →
      // 5), while the window runs over the tiny |cohorts|×|weeks|
      // matrix. Week 0 always exists per cohort (every user's first
      // event lands in it), so first() over (order by week_no) IS the
      // cohort size.
      val wBase = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cohort_week")).orderBy(col("week_no"))
      active
        .withColumn("n_cohort", first(col("n_active")).over(wBase))
        // ratio of exact longs: left unrounded — the raw IEEE quotient
        // is bit-identical in both engines, and rounding an integer
        // ratio can land on a true decimal tie (§6b, the f13 lesson)
        .select(fmtTs(col("cohort_week")).as("cohort_week"), col("week_no"),
          col("n_active"), col("n_cohort"),
          (col("n_active").cast("double") / col("n_cohort")).as("retention"))
    }),

    // C20: event-type transition matrix (first-order Markov counts +
    // row-normalized probabilities) — "what does this user do NEXT",
    // the sequence feature behind session-flow anomaly scoring. One
    // lag() pass on the user shuffle, then a tiny (type×type) aggregate;
    // the normalizing window runs over ≤|types|² rows, never the fact.
    "c20_event_transitions" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("n_trans"))
        .withColumn("p_trans", col("n_trans").cast("double") /
          sum(col("n_trans")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("prev_type")))
            .cast("double"))
        .select(col("prev_type"), col("event_type").as("next_type"),
          col("n_trans"), col("p_trans"))
    }),

    // C21: burstiness score (Goh–Barabási B = (σ−μ)/(σ+μ) over
    // inter-event gaps) — the bot/burst discriminator: B → −1 is a
    // metronome (scripted traffic), B → +1 is extreme burst-silence
    // cycling, B ≈ 0 is Poisson (human-ish). One lag() pass on the
    // user shuffle (b33's exact-microsecond gap), then per-user DECIMAL
    // moments over integer gaps — order-independent, cluster-size-
    // independent — and the σ/μ algebra on exactly-reproducible
    // doubles; B ships unrounded (§6b: ratios of identical doubles are
    // bit-identical, terminal rounds are the hazard). Squares go
    // through DECIMAL(19,0)×DECIMAL(19,0): a raw long*long on µs gaps
    // overflows (ANSI would throw) and decimal×decimal is exact.
    "c21_burstiness" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gaps = t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("gap_us",
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
        .filter(col("gap_us").isNotNull)
      val dec = col("gap_us").cast("decimal(19,0)")
      val stats = gaps.groupBy(col("user_id")).agg(
        count(lit(1)).as("n_gaps"),
        sum(dec).cast("double").as("sg"),
        sum(dec * dec).cast("double").as("sg2"))
        .filter(col("n_gaps") >= 2)
      val mean = col("sg") / col("n_gaps")
      val variance = (col("sg2") - col("sg") * col("sg") / col("n_gaps")) /
        (col("n_gaps") - 1)
      stats
        .withColumn("sigma", sqrt(variance))
        .filter(col("sigma") > 0)
        .select(col("user_id"), col("n_gaps"),
          mean.as("mean_gap_us"),
          ((col("sigma") - mean) / (col("sigma") + mean)).as("burstiness"))
    }),

    // C27: collusion-pair detection — see [[collusionPairs]].
    "c27_collusion_pairs" -> ((s, d) => collusionPairs(t(s, d, "events"))),

    // C25: Gini spend-concentration per event type — the inequality
    // statistic fraud teams watch per segment ("is this category's
    // volume suddenly carried by a handful of accounts?"): G =
    // Σ(2i−n−1)·x_(i) / (n·Σx) over per-user totals sorted ascending.
    // All sums are exact DECIMAL — per-user totals (18,6) through the
    // proven value-sum recipe, the (2i−n−1) coefficient capped at
    // (12,0) so the product stays (31,6) ≤ 38 (the c24 width lesson) —
    // and only the final ratio is double. Ties sort (x, user_id):
    // deterministic rank, engine-identical. The per-type ordered
    // window is b43's |groups|-partition concentration class — at
    // 100 TB the b43_approx histogram-Lorenz rewrite is the escape
    // hatch; groups here = |event types|.
    "c25_gini_concentration" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val perUser = t(s, d, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum(col("value").cast("decimal(18,6)")).cast("decimal(18,6)").as("x"))
      val wr = W.partitionBy(col("event_type")).orderBy(col("x"), col("user_id"))
      perUser
        .select(col("event_type"), col("x"), col("user_id"),
          row_number().over(wr).cast("long").as("i"),
          count(lit(1)).over(W.partitionBy(col("event_type"))).as("n"))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n_users"),
          sum(col("x")).as("sx"),
          sum((col("i") * 2 - col("n") - 1).cast("decimal(12,0)") * col("x")).as("num"))
        .select(col("event_type"), col("n_users"),
          col("sx").cast("double").as("total_value"),
          when(col("sx") =!= 0,
            col("num").cast("double") /
              (col("n_users").cast("double") * col("sx").cast("double")))
            .otherwise(0.0).as("gini"))
    }),

    // C25b: the 100 TB escape hatch shipped (the b43_approx pattern):
    // Gini from a 128-cell equal-width histogram of per-user totals —
    // grouped-data Gini with each cell's users treated as equal
    // spenders: num = Σ_c mass_c·(2·N_prev + n_c − n), all coefficients
    // integers and every product (24,6)×(12,0) = (37,6) ≤ 38 exact.
    // NO per-group ordered window over users exists anywhere — the
    // rank window runs over ≤128 cell rows per type; the per-user pass
    // is one keyed aggregate + a row-local floor bucket. The floor
    // bucketing rule is engine-portable (c23's recipe), so unlike a
    // percentile sketch the approximation carries a FULL oracle.
    "c25_gini_approx" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val perUser = t(s, d, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum(col("value").cast("decimal(18,6)")).cast("decimal(18,6)").as("x"))
      val bounds = perUser.groupBy(col("event_type"))
        .agg(min(col("x").cast("double")).as("lo"), max(col("x").cast("double")).as("hi"))
      val cells = perUser.join(bounds, Seq("event_type"))
        .withColumn("bucket",
          when(col("hi") > col("lo"),
            least(lit(127L), floor((col("x").cast("double") - col("lo"))
              / (col("hi") - col("lo")) * 128)))
            .otherwise(lit(0L)))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n_c"),
          sum(col("x")).cast("decimal(24,6)").as("mass_c"))
      val wOrd = W.partitionBy(col("event_type")).orderBy(col("bucket"))
        .rowsBetween(W.unboundedPreceding, -1)
      val wAll = W.partitionBy(col("event_type"))
      cells
        .select(col("event_type"), col("bucket"), col("n_c"), col("mass_c"),
          coalesce(sum(col("n_c")).over(wOrd), lit(0L)).as("n_prev"),
          sum(col("n_c")).over(wAll).as("n"),
          sum(col("mass_c")).over(wAll).as("sx"))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n_users"),
          max(col("sx")).cast("double").as("total_value"),
          sum(col("mass_c")
            * (col("n_prev") * 2 + col("n_c") - col("n")).cast("decimal(12,0)"))
            .as("num"))
        .select(col("event_type"), col("n_users"), col("total_value"),
          when(col("total_value") =!= 0.0,
            col("num").cast("double")
              / (col("n_users").cast("double") * col("total_value")))
            .otherwise(0.0).as("gini"))
    }),

    // C22: MAD-based robust anomaly score (Iglewicz–Hoaglin modified
    // z-score 0.6745·|x−med|/MAD > 3.5) — the robust twin of c11: mean
    // and σ are THEMSELVES corrupted by the outliers fraud creates
    // (one 100× amount inflates σ enough to hide itself); median and
    // MAD have a 50% breakdown point. Both medians are LOWER medians
    // (the ⌈n/2⌉-th order statistic via row_number, b41's
    // determinism), NOT interpolated percentiles — interpolation
    // arithmetic ((a+b)/2 vs a+(b−a)·t) is not spelled identically
    // across engines on arbitrary doubles, but an order statistic is a
    // SELECTED value, exact by construction. The up-front user
    // repartition clusters every window, filter, and join in the
    // chain (the b42/b44 lesson).
    "c22_mad_anomaly" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val wv = W.partitionBy(col("user_id")).orderBy(col("value"), col("event_id"))
      val wu = W.partitionBy(col("user_id"))
      val wd = W.partitionBy(col("user_id")).orderBy(col("dev"), col("event_id"))
      // the medians are windowed max(when(rn = target)) SELECTIONS, not
      // join-backs: a join back to a filter of the ranked table
      // re-executes the whole subtree per consumer (measured: 6
      // exchanges, 4 scans → 1 and 1). max over the one non-null value
      // IS that value; the aggregate windows default to the whole
      // partition frame.
      t(s, d, "events")
        .filter(col("value").isNotNull)
        .select(col("event_id"), col("user_id"), col("value"))
        .repartition(col("user_id"))
        .withColumn("rn", row_number().over(wv))
        .withColumn("n", count(lit(1)).over(wu))
        .withColumn("med",
          max(when(col("rn") === expr("(n + 1) div 2"), col("value"))).over(wu))
        .withColumn("dev", abs(col("value") - col("med")))
        .withColumn("rn2", row_number().over(wd))
        .withColumn("mad",
          max(when(col("rn2") === expr("(n + 1) div 2"), col("dev"))).over(wu))
        .filter(col("mad") > 0)
        .withColumn("mz", lit(0.6745) * col("dev") / col("mad"))
        .filter(col("mz") > lit(3.5))
        .select(col("event_id"), col("user_id"), col("value"),
          col("med"), col("mad"), col("mz"))
    }),

    // C23: two-sample Kolmogorov–Smirnov drift statistic on a fixed
    // 256-cell grid — "has the spend distribution SHIFTED between two
    // slices" (week-over-week drift, A/B split integrity, train-vs-
    // serve skew). The exact KS needs a global sorted ECDF pass — a
    // single-partition window at any scale — so the engine form
    // computes D on the histogram grid: max-cell-mass-bounded error,
    // ONE map-side-combined 256-group aggregate + a 256-row window,
    // scan-bound forever (the b37 move applied to a test statistic).
    // Slices = event_id parity (deterministic, both non-empty); counts
    // are exact longs, the ECDFs are ratio doubles (unrounded, §6b),
    // the argmax cell takes the (d desc, bucket asc) tiebreak.
    // Totals n0/n1 are a 1-row scalar aggregate broadcast-crossJoined
    // back (the psiFromCells idiom, swept here by the r7 verdict for
    // uniformity — integer sums are order-independent, so the swap is
    // oracle-neutral); the one REMAINING single-partition stage is the
    // cumulative-ECDF window, inherent to a global CDF and bounded by
    // construction at 256 cells (PlanSpec pins exactly one Window).
    "c23_ks_drift" -> ((s, d) => {
      val ev = t(s, d, "events").filter(col("value").isNotNull)
        .select(col("value"), (col("event_id") % 2).as("g"))
      val (lo, hi) = driftBounds(ev)
      val cells = ev
        .withColumn("bucket", driftBucket(col("value"), lo, hi))
        .groupBy(col("bucket")).agg(
          sum(when(col("g") === 0, 1L).otherwise(0L)).as("c0"),
          sum(when(col("g") === 1, 1L).otherwise(0L)).as("c1"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val totals = cells.agg(sum(col("c0")).as("n0"), sum(col("c1")).as("n1"))
      cells
        .withColumn("cum0", sum(col("c0")).over(w))
        .withColumn("cum1", sum(col("c1")).over(w))
        .crossJoin(broadcast(totals))
        .withColumn("d", abs(col("cum0").cast("double") / col("n0").cast("double")
          - col("cum1").cast("double") / col("n1").cast("double")))
        .orderBy(col("d").desc, col("bucket"))
        .limit(1)
        .select(
          (lit(lo) + (lit(hi) - lit(lo)) / lit(256.0)
            * (col("bucket") + lit(1)).cast("double")).as("at_value"),
          col("d").as("ks_stat"), col("n0"), col("n1"))
    }),

    // C24: PSI (population stability index) on the same 256-cell grid
    // as c23 — the industry drift score (≥0.2 = action): PSI =
    // Σ (p−q)·ln(p/q) over cells, empty-on-either-side cells skipped
    // (the standard no-smoothing variant, reported via n_cells_used).
    // Portability (the f14 machinery under a harder constraint): the
    // mass difference is EXACT integers ((c0·n1 − c1·n0) through
    // DECIMAL(12,0) products — counts bounded 1e12/slice, documented),
    // the log-ratio is four 8dp-pinned integer lns in DECIMAL(10,8)
    // applied as two PAIRED differences so every product stays ≤ (38,8)
    // exact (the psiFromCells width discipline — the naive 4-term sum
    // would push the product to precision 40 and trip the §6b
    // adjusted-scale rounding); ONE double division by n0·n1 at the
    // very end.
    "c24_psi_drift" -> ((s, d) => {
      val ev = t(s, d, "events").filter(col("value").isNotNull)
        .select(col("value"), (col("event_id") % 2).as("g"))
      val (lo, hi) = driftBounds(ev)
      psiFromCells(ev
        .withColumn("bucket", driftBucket(col("value"), lo, hi))
        .groupBy(col("bucket")).agg(
          sum(when(col("g") === 0, 1L).otherwise(0L)).as("c0"),
          sum(when(col("g") === 1, 1L).otherwise(0L)).as("c1")))
    })

    // C12 top spenders per window = b11_rank_topn (SURVEY §2 C12).
  )

  /** The c27/c28-shared raw co-presence pair rows (`pr`: one row per
    * shared (day, k) cell per user pair, hub cells capped at 64) — the
    * checked pair semantics live HERE once; c27 closes with its
    * n_shared group, c28 with the ring threshold + reachability.
    */
  private val collusionPairCte: String =
    """uk AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day,
      |         CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
      |         user_id
      |  FROM events),
      |cell AS (
      |  SELECT day, k, count(*) AS n FROM uk GROUP BY 1, 2),
      |pr AS (
      |  SELECT a.user_id AS user_a, b.user_id AS user_b
      |  FROM uk a
      |  JOIN uk b ON a.day = b.day AND a.k = b.k AND a.user_id < b.user_id
      |  JOIN cell c ON a.day = c.day AND a.k = c.k
      |  WHERE c.n <= 64)""".stripMargin

  def oracles: Map[String, String] = {
    val c32Sql =
      """WITH lagged AS (
        |  SELECT user_id, event_type AS t3,
        |         lag(event_type, 1) OVER w AS t2,
        |         lag(event_type, 2) OVER w AS t1
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |tri AS (
        |  SELECT t1, t2, t3, count(*) AS c3 FROM lagged
        |  WHERE t1 IS NOT NULL GROUP BY 1, 2, 3),
        |bi AS (
        |  SELECT t2 AS a, t3 AS b, count(*) AS c2 FROM lagged
        |  WHERE t2 IS NOT NULL GROUP BY 1, 2),
        |mid AS (SELECT a, CAST(sum(c2) AS BIGINT) AS cb FROM bi GROUP BY 1)
        |SELECT t1, t2, t3, c3,
        |       CAST(c3 AS DOUBLE) * cb / (CAST(ab.c2 AS DOUBLE) * bc.c2) AS lift
        |FROM tri
        |JOIN bi ab ON t1 = ab.a AND t2 = ab.b
        |JOIN bi bc ON t2 = bc.a AND t3 = bc.b
        |JOIN mid m ON t2 = m.a
        |WHERE c3 >= 5
        |ORDER BY lift DESC, t1, t2, t3
        |LIMIT 20""".stripMargin
    val scoredSql = Fraud.scoredSql
    Map(
      "c1_fraud_enrich" -> scoredSql,

      // C17 shares c1's oracle verbatim: the rule-table evaluator must
      // reproduce the hardcoded projection bit-for-bit.
      "c17_rule_table_score" -> scoredSql,

      "c5_fraud_score" ->
        s"""SELECT * FROM ($scoredSql) scored WHERE fraud_score >= 1.0""".stripMargin,

      "c6_user_spend_trend" ->
        """SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
          |       strftime(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour', '%Y-%m-%d %H:%M:%S') AS window_end,
          |       user_id,
          |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_spent,
          |       count(DISTINCT event_id) AS num_events
          |FROM events
          |GROUP BY time_bucket(INTERVAL '1 hour', ts), user_id""".stripMargin,

      "c7_category_trend" ->
        """SELECT strftime(time_bucket(INTERVAL '1 day', o_orderdate), '%Y-%m-%d %H:%M:%S') AS window_start,
          |       strftime(time_bucket(INTERVAL '1 day', o_orderdate) + INTERVAL '1 day', '%Y-%m-%d %H:%M:%S') AS window_end,
          |       p_type AS category,
          |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales,
          |       count(DISTINCT (l_orderkey, l_linenumber)) AS num_transactions
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |LEFT JOIN part ON l_partkey = p_partkey
          |GROUP BY time_bucket(INTERVAL '1 day', o_orderdate), p_type""".stripMargin,

      "c10_velocity" ->
        """SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
          |       strftime(ws + INTERVAL '10 minutes', '%Y-%m-%d %H:%M:%S') AS window_end,
          |       user_id, count(*) AS n_events, count(*) >= 4 AS is_burst
          |FROM (SELECT e.*, time_bucket(INTERVAL '5 minutes', ts) - k.k * INTERVAL '5 minutes' AS ws
          |      FROM events e, (SELECT unnest([0, 1]) AS k) k) t
          |GROUP BY ws, user_id
          |HAVING count(*) >= 2""".stripMargin,

      // C39: the same half-open trailing frame spelled as a RANGE
      // window over integer microseconds on both engines (epoch_us ↔
      // unix_micros, the c21 pair); band literals CAST AS DOUBLE per
      // the §6b rule; the count is a pure integer.
      "c39_structuring" ->
        """WITH b AS (
          |  SELECT user_id, event_id, value, epoch_us(ts) AS ts_us
          |  FROM events
          |  WHERE value >= CAST(90.0 AS DOUBLE) AND value < CAST(100.0 AS DOUBLE)),
          |c AS (
          |  SELECT user_id, event_id, value,
          |         count(*) OVER (PARTITION BY user_id ORDER BY ts_us
          |                        RANGE BETWEEN 604799999999 PRECEDING
          |                        AND CURRENT ROW) AS n_band
          |  FROM b)
          |SELECT user_id, event_id, value, n_band FROM c WHERE n_band >= 3""".stripMargin,

      // C37: digit via the b39 bigint-to-string spelling; the nine
      // expectations as the same literals CAST AS DOUBLE (a bare
      // n*0.30103 with double n promotes anyway, but the cast pins
      // the §6b rule visibly); chi2 as the identical left-to-right
      // + chain of single IEEE terms; SUM(cnt) cast back to BIGINT
      // (DuckDB sums BIGINT into HUGEINT).
      "c37_benford_screen" -> {
        val ps = Seq(0.30103, 0.17609, 0.12494, 0.09691,
          0.07918, 0.06695, 0.05799, 0.05115, 0.04576)
        val terms = (1 to 9).map { i =>
          val e = s"(CAST(n_amounts AS DOUBLE) * CAST(${ps(i - 1)} AS DOUBLE))"
          s"((o$i - $e) * (o$i - $e) / $e)"
        }.mkString(" + ")
        val obs = (1 to 9).map(i =>
          s"CAST(SUM(CASE WHEN digit = $i THEN cnt ELSE 0 END) AS DOUBLE) AS o$i")
          .mkString(", ")
        s"""WITH dg AS (
           |  SELECT event_type,
           |         CAST(substr(CAST(CAST(floor(value) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
           |  FROM events WHERE value >= 1),
           |c AS (SELECT event_type, digit, COUNT(*) AS cnt FROM dg GROUP BY 1, 2),
           |w AS (SELECT event_type, $obs,
           |             CAST(SUM(cnt) AS BIGINT) AS n_amounts
           |      FROM c GROUP BY event_type)
           |SELECT event_type, n_amounts, $terms AS chi2,
           |       ($terms) > CAST(15.507 AS DOUBLE) AS benford_flag
           |FROM w""".stripMargin
      },

      // C36: the before-relation and the 7-day boundary spelled
      // identically; weight = CAST(1.0 AS DOUBLE)/n (a bare 1.0/n
      // would divide as DECIMAL in DuckDB — the §6b literal rule).
      "c36_touch_attribution" ->
        """WITH conv AS (
          |  SELECT user_id, event_id AS purchase_id, ts AS p_ts
          |  FROM events WHERE event_type = 'purchase'),
          |touch AS (
          |  SELECT user_id, event_id AS touch_id, event_type AS touch_type,
          |         ts AS t_ts
          |  FROM events WHERE event_type IN ('view', 'click')),
          |pairs AS (
          |  SELECT c.purchase_id, t.touch_id, t.touch_type, c.p_ts, t.t_ts
          |  FROM conv c JOIN touch t ON c.user_id = t.user_id
          |  WHERE (t.t_ts < c.p_ts
          |         OR (t.t_ts = c.p_ts AND t.touch_id < c.purchase_id))
          |    AND t.t_ts >= c.p_ts - INTERVAL 7 DAY)
          |SELECT purchase_id, touch_id, touch_type,
          |       CAST(count(*) OVER w AS BIGINT) AS n_touches,
          |       CAST(1.0 AS DOUBLE) / count(*) OVER w AS weight,
          |       row_number() OVER (PARTITION BY purchase_id
          |                          ORDER BY t_ts DESC, touch_id DESC) = 1
          |         AS is_last_touch
          |FROM pairs
          |WINDOW w AS (PARTITION BY purchase_id)""".stripMargin,

      // C35: the fold's accumulator is a LIST [s, b, n] (list_reduce
      // needs a uniform element type, so the init and each value ride
      // as 3-lists); the CASE arms and the halving algebra are spelled
      // in the identical op order as the Spark struct fold, and the
      // rank/collect mirrors the window exactly (DESC rank ≤ 40, fold
      // ascending).
      "c35_holt_forecast" ->
        """WITH ranked AS (
          |  SELECT user_id, ts, event_id, value,
          |         row_number() OVER (PARTITION BY user_id
          |                            ORDER BY ts DESC, event_id DESC) AS rn,
          |         count(*) OVER (PARTITION BY user_id) AS n_events
          |  FROM events WHERE value IS NOT NULL),
          |recent AS (SELECT * FROM ranked WHERE rn <= 40),
          |folded AS (
          |  SELECT user_id, CAST(max(n_events) AS BIGINT) AS n_events,
          |         list_reduce(
          |           list_prepend([CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)],
          |             list_transform(list(value ORDER BY ts, event_id),
          |               v -> [CAST(v AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)])),
          |           (a, x) -> CASE WHEN a[3] = 0
          |             THEN [x[1], CAST(0 AS DOUBLE), CAST(1 AS DOUBLE)]
          |             ELSE [(x[1] + (a[1] + a[2])) / 2.0,
          |                   (((x[1] + (a[1] + a[2])) / 2.0 - a[1]) + a[2]) / 2.0,
          |                   a[3] + 1] END) AS st
          |  FROM recent GROUP BY user_id)
          |SELECT user_id, n_events, st[1] AS level, st[2] AS trend,
          |       st[1] + st[2] AS forecast
          |FROM folded""".stripMargin,

      // C40: the Holt-Winters fold — c35's list_reduce technique with
      // a 10-element accumulator [s, b, c1..c7, n] and the calendar
      // slot j = day_num % 7 indexing a[3+j]; s' is ONE interpolated
      // string reused in the level, trend and every season arm, so the
      // IEEE op order cannot drift between positions or engines
      // (hwFoldSql — shared verbatim with the c41 backtest).
      "c40_holt_winters" ->
        s"""WITH ${hwFoldSql("")}
           |SELECT event_type, CAST(st[10] AS BIGINT) AS n_days,
           |       st[1] AS level, st[2] AS trend,
           |       st[1] + st[2] + st[3 + CAST((last_day + 1) % 7 AS INT)] AS forecast
           |FROM folded""".stripMargin,

      // C41: the SAME fold CTE trained on day_num <= max-7 (the engine
      // reads the cutoff as a driver literal; the scalar subquery has
      // the same value), frozen-state projection (s + h·b) + c_slot in
      // the Spark op order, abs_err in a wrapping SELECT mirroring the
      // withColumn.
      "c41_hw_backtest" ->
        s"""WITH ${hwFoldSql("WHERE day_num <= (SELECT max(day_num) - 7 FROM daily)")}
           |SELECT *, abs(actual - forecast) AS abs_err FROM (
           |  SELECT d.event_type, d.day_num, d.day_num - f.last_day AS h,
           |         d.v AS actual,
           |         (f.st[1] + CAST(d.day_num - f.last_day AS DOUBLE) * f.st[2])
           |           + f.st[3 + CAST(d.day_num % 7 AS INT)] AS forecast
           |  FROM daily d JOIN folded f USING (event_type)
           |  WHERE d.day_num > (SELECT max(day_num) - 7 FROM daily))""".stripMargin,

      // C34: the dyadic-decay recipe — integer shift weights, exact
      // decimal products/sums, one closing power-of-two division; the
      // date algebra is the established to_date ↔ CAST(AS DATE) pair.
      "c34_decayed_spend" ->
        """WITH aged AS (
          |  SELECT user_id, CAST(ts AS DATE) AS d, value,
          |         max(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS last_d
          |  FROM events),
          |kept AS (
          |  SELECT user_id, d, value,
          |         CAST(last_d - d AS BIGINT) AS age
          |  FROM aged WHERE CAST(last_d - d AS BIGINT) <= 20)
          |SELECT user_id, count(*) AS n_recent, max(d) AS as_of_day,
          |       CAST(SUM(CAST(value AS DECIMAL(18,6)) *
          |                 CAST((CAST(1 AS BIGINT) << CAST(20 - age AS INT)) AS DECIMAL(7,0)))
          |            AS DOUBLE) / CAST(1048576 AS DOUBLE) AS decayed_spend
          |FROM kept GROUP BY user_id""".stripMargin,

      // C32: the lag pass mirrors the Spark window (PARTITION BY user,
      // ORDER BY ts, event_id); both gram orders count from the same
      // lagged relation; the lift ratio is spelled in the Spark
      // column's op order — CAST(c3) DOUBLE · cb, the cab·cbc product,
      // one division — exact-integer inputs so no rounding is needed.
      "c32_sequence_motifs" -> c32Sql,

      // C33: the mined model and the deployed screen composed in ONE
      // query — the motif list is c32's SQL verbatim cut to its top-3,
      // joined back to the lagged fact (the Spark side folds the same
      // 3 rows in as a literal predicate).
      "c33_motif_screen" ->
        s"""WITH motifs AS (
           |  SELECT t1, t2, t3 FROM ($c32Sql)
           |  ORDER BY lift DESC, t1, t2, t3 LIMIT 3),
           |lagged AS (
           |  SELECT user_id, event_id, event_type AS t3,
           |         lag(event_type, 1) OVER w AS t2,
           |         lag(event_type, 2) OVER w AS t1
           |  FROM events
           |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
           |SELECT l.event_id, l.user_id, l.t1, l.t2, l.t3
           |FROM lagged l
           |JOIN motifs m ON l.t1 = m.t1 AND l.t2 = m.t2 AND l.t3 = m.t3""".stripMargin,

      // C31: c11's decimal-moment recipe with the leave-one-out
      // algebra spelled in the identical double-op order as the Scala
      // columns — (sv−v), the squared-sum subtraction, the two
      // divisions, sqrt, round-8. The Spark filter evaluates varLoo
      // pre-round (a row filter on the unrounded double), so the WHERE
      // here mirrors the unrounded expression too.
      "c31_peer_anomaly" ->
        """WITH stats AS (
          |  SELECT event_type, count(*) AS n,
          |         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv,
          |         CAST(SUM(CAST(value * value AS DECIMAL(28,10))) AS DOUBLE) AS sv2
          |  FROM events GROUP BY event_type HAVING count(*) >= 3)
          |SELECT event_id, e.event_type, user_id, value,
          |       round((value - (sv - value) / (n - 1)) /
          |             sqrt(((sv2 - value * value)
          |                   - (sv - value) * (sv - value) / (n - 1)) / (n - 2)), 8)
          |         AS z_peer
          |FROM events e JOIN stats ON e.event_type = stats.event_type
          |WHERE ((sv2 - value * value)
          |       - (sv - value) * (sv - value) / (n - 1)) / (n - 2) > 0
          |  AND abs(round((value - (sv - value) / (n - 1)) /
          |          sqrt(((sv2 - value * value)
          |                - (sv - value) * (sv - value) / (n - 1)) / (n - 2)), 8))
          |      > CAST(3.0 AS DOUBLE)""".stripMargin,

      "c11_zscore" ->
        """WITH stats AS (
          |  SELECT user_id, count(*) AS n,
          |         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s,
          |         CAST(SUM(CAST(value * value AS DECIMAL(28,10))) AS DOUBLE) AS s2
          |  FROM events GROUP BY user_id HAVING count(*) >= 2)
          |SELECT event_id, e.user_id, value,
          |       round((value - s / n) / sqrt((s2 - (s * s) / n) / (n - 1)), 8) AS z
          |FROM events e JOIN stats ON e.user_id = stats.user_id
          |WHERE (s2 - (s * s) / n) / (n - 1) > 0
          |  AND abs(round((value - s / n) / sqrt((s2 - (s * s) / n) / (n - 1)), 8)) > CAST(2.0 AS DOUBLE)""".stripMargin,

      // floor(epoch(ts)) matches Spark's timestamp→long cast (truncation
      // toward -inf for positive epochs); DuckDB's bare CAST would round.
      "c15_trailing_window" ->
        """SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_ts, value,
          |       CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS t7_sum,
          |       count(*) OVER w AS t7_n
          |FROM (SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS secs FROM events)
          |WINDOW w AS (PARTITION BY user_id ORDER BY secs
          |             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)""".stripMargin,

      // C16: same frame, same chronological left fold; (a + x) / 2 is
      // exact IEEE halving in both engines so no decimal detour needed.
      "c16_ewma_spend" ->
        """SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_ts, value,
          |       list_reduce(list_prepend(CAST(0 AS DOUBLE), trail),
          |                   (a, x) -> (a + x) / 2) AS ewma_value
          |FROM (SELECT event_id, user_id, ts, value,
          |             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |                               ROWS BETWEEN 39 PRECEDING AND CURRENT ROW) AS trail
          |      FROM events WHERE value IS NOT NULL)""".stripMargin,

      // C18: same closed form, same DECIMAL ride (DuckDB's windowed SUM
      // over doubles is segment-tree-ordered — only decimal is
      // association-free), same k/h literals. least() over MIXED decimal
      // widths promotes to DOUBLE in DuckDB (measured: 1.7e-14 drift) —
      // the clamp is a width-stable CASE instead.
      "c18_cusum_shift" ->
        """WITH d AS (
          |  SELECT event_id, user_id, ts,
          |         CAST(value AS DECIMAL(18,6)) - CAST(50.0 AS DECIMAL(18,6)) AS dev
          |  FROM events WHERE value IS NOT NULL),
          |pp AS (
          |  SELECT event_id, user_id, ts,
          |         SUM(dev) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
          |  FROM d),
          |ss AS (
          |  SELECT event_id, user_id, p,
          |         MIN(p) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m0
          |  FROM pp),
          |mm AS (
          |  SELECT event_id, user_id, p,
          |         CASE WHEN m0 > CAST(0 AS DECIMAL(38,6))
          |              THEN CAST(0 AS DECIMAL(38,6)) ELSE m0 END AS m
          |  FROM ss)
          |SELECT event_id, user_id, CAST(p - m AS DOUBLE) AS cusum,
          |       (p - m) > CAST(200.0 AS DECIMAL(38,6)) AS shift_flag
          |FROM mm""".stripMargin,

      // C19: both engines truncate weeks to Monday; day-deltas between
      // truncated weeks are exact multiples of 7 so week_no is integral
      // in double before the BIGINT cast (no round-vs-truncate skew).
      "c19_cohort_retention" ->
        """WITH firsts AS (
          |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
          |  FROM events GROUP BY 1),
          |j AS (
          |  SELECT e.user_id, cohort_week,
          |         CAST(date_diff('day', cohort_week, date_trunc('week', e.ts)) / 7 AS BIGINT) AS week_no
          |  FROM events e JOIN firsts USING (user_id)),
          |a AS (
          |  SELECT cohort_week, week_no, count(DISTINCT user_id) AS n_active
          |  FROM j GROUP BY 1, 2),
          |b AS (SELECT cohort_week, n_active AS n_cohort FROM a WHERE week_no = 0)
          |SELECT strftime(a.cohort_week, '%Y-%m-%d %H:%M:%S') AS cohort_week,
          |       week_no, n_active, n_cohort,
          |       CAST(n_active AS DOUBLE) / n_cohort AS retention
          |FROM a JOIN b ON a.cohort_week = b.cohort_week""".stripMargin,

      "c20_event_transitions" ->
        """WITH pr AS (
          |  SELECT user_id, event_type,
          |         lag(event_type) OVER (PARTITION BY user_id
          |                               ORDER BY ts, event_id) AS prev_type
          |  FROM events),
          |c AS (
          |  SELECT prev_type, event_type AS next_type, count(*) AS n_trans
          |  FROM pr WHERE prev_type IS NOT NULL GROUP BY 1, 2)
          |SELECT prev_type, next_type, n_trans,
          |       CAST(n_trans AS DOUBLE) /
          |       CAST(sum(n_trans) OVER (PARTITION BY prev_type) AS DOUBLE) AS p_trans
          |FROM c""".stripMargin,

      // C21: identical gap derivation (epoch_us ↔ unix_micros), identical
      // decimal-squared moments, identical σ/μ expression shapes; B is a
      // ratio of identical doubles so it ships unrounded.
      "c21_burstiness" ->
        """WITH g AS (
          |  SELECT user_id,
          |         epoch_us(ts) - lag(epoch_us(ts)) OVER
          |           (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
          |  FROM events),
          |st AS (
          |  SELECT user_id, count(*) AS n_gaps,
          |         CAST(SUM(CAST(gap_us AS DECIMAL(19,0))) AS DOUBLE) AS sg,
          |         CAST(SUM(CAST(gap_us AS DECIMAL(19,0)) * CAST(gap_us AS DECIMAL(19,0))) AS DOUBLE) AS sg2
          |  FROM g WHERE gap_us IS NOT NULL
          |  GROUP BY 1 HAVING count(*) >= 2),
          |sv AS (
          |  SELECT user_id, n_gaps, sg, sg2,
          |         sqrt((sg2 - sg * sg / n_gaps) / (n_gaps - 1)) AS sigma
          |  FROM st)
          |SELECT user_id, n_gaps, sg / n_gaps AS mean_gap_us,
          |       (sigma - sg / n_gaps) / (sigma + sg / n_gaps) AS burstiness
          |FROM sv WHERE sigma > 0""".stripMargin,

      // C26: integer day-gap lag + a running DECIMAL prior sum (window
      // decimal addition is associative — DuckDB's segment tree and
      // Spark's running frame agree exactly), ONE double division, the
      // burst factor pinned with CAST AS DOUBLE (the §6b decimal-
      // literal rule).
      "c26_reactivation" ->
        """WITH g AS (
          |  SELECT event_id, user_id, value,
          |         CAST(CAST(ts AS DATE) - lag(CAST(ts AS DATE)) OVER w AS BIGINT) AS gap_days,
          |         CAST(SUM(CAST(value AS DECIMAL(18,6)))
          |                OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS DOUBLE)
          |           / count(*) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          |           AS prior_mean
          |  FROM events WHERE value IS NOT NULL
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
          |SELECT event_id, user_id, gap_days, prior_mean, value
          |FROM g
          |WHERE gap_days >= 2 AND value >= CAST(1.5 AS DOUBLE) * prior_mean""".stripMargin,

      // C28: c27's pair derivation (the SHARED collusionPairCte — one
      // place owns the checked distinct/hub-cap semantics) at the ring
      // threshold, components via a recursive reachability CTE (id
      // reaches comp) closed by a min-label group — fine for the
      // oracle engine on the output-sized pair graph; the Spark side
      // never materializes reachability, it label-propagates in
      // O(log diameter) rounds.
      "c28_collusion_rings" ->
        (s"WITH RECURSIVE $collusionPairCte," +
        """
          |p AS (
          |  SELECT user_a, user_b FROM pr GROUP BY 1, 2 HAVING count(*) >= 6),
          |e AS (
          |  SELECT user_a AS u, user_b AS v FROM p
          |  UNION ALL
          |  SELECT user_b, user_a FROM p),
          |walks(id, comp) AS (
          |  SELECT u, u FROM e
          |  UNION
          |  SELECT e.u, w.comp FROM e JOIN walks w ON e.v = w.id),
          |rings AS (
          |  SELECT id AS user_id, min(comp) AS ring_id FROM walks GROUP BY id),
          |sized AS (
          |  SELECT user_id, ring_id,
          |         count(*) OVER (PARTITION BY ring_id) AS ring_size
          |  FROM rings)
          |SELECT user_id, ring_id, ring_size FROM sized WHERE ring_size >= 2""".stripMargin),

      // C27: the same (day, k, user) distinct, the same ≤64 cell cap
      // (part of the checked semantics), pair expansion as a self-join
      // — fine for the oracle engine, never the Spark plan.
      "c27_collusion_pairs" ->
        (s"WITH $collusionPairCte" +
        """
          |SELECT user_a, user_b, CAST(count(*) AS BIGINT) AS n_shared
          |FROM pr GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin),

      // C29: the SHARED collusionPairCte at the c28 strong-edge
      // threshold, then the identical wedge-close joins — every count
      // an exact integer, the coefficient ONE double division of the
      // same integer casts; the degree cap (NULL metrics above 256,
      // part of the checked semantics) mirrors the engine's wedge-
      // center exclusion.
      "c29_collusion_cohesion" ->
        (s"WITH $collusionPairCte," +
        """
          |pe AS (
          |  SELECT user_a, user_b FROM pr GROUP BY 1, 2 HAVING count(*) >= 6),
          |und AS (
          |  SELECT user_a AS u, user_b AS v FROM pe
          |  UNION ALL
          |  SELECT user_b, user_a FROM pe),
          |deg AS (
          |  SELECT u, CAST(count(*) AS BIGINT) AS degree FROM und GROUP BY u),
          |tri AS (
          |  SELECT a.u, CAST(count(*) AS BIGINT) AS t
          |  FROM und a
          |  JOIN und b ON a.u = b.u AND a.v < b.v
          |  JOIN pe e ON e.user_a = a.v AND e.user_b = b.v
          |  GROUP BY a.u)
          |SELECT d.u AS user_id, d.degree,
          |       d.degree > 256 AS hub_capped,
          |       CASE WHEN d.degree > 256 THEN NULL
          |            ELSE coalesce(t.t, CAST(0 AS BIGINT)) END AS n_triangles,
          |       CASE WHEN d.degree > 256 THEN NULL
          |            WHEN d.degree >= 2
          |            THEN CAST(2 * coalesce(t.t, 0) AS DOUBLE)
          |                 / CAST(d.degree * (d.degree - 1) AS DOUBLE)
          |            ELSE CAST(0.0 AS DOUBLE) END AS clustering
          |FROM deg d LEFT JOIN tri t ON d.u = t.u""".stripMargin),

      // C30: the SHARED collusionPairCte at the strong-edge threshold,
      // then the identical power iteration UNROLLED as 8 chained CTEs
      // (fixed iteration count — the engines cannot disagree on when to
      // stop). All rank arithmetic is BIGINT: `//` == Spark's `div` for
      // these positive values, SUM(BIGINT)→HUGEINT cast back (§6b), and
      // the only double is the final fp/1e12 division.
      "c30_collusion_pagerank" ->
        // every generation references e/deg/b (and its predecessor), and
        // DuckDB re-INLINES plain chained CTEs per reference — 8
        // generations re-derived the whole pair builder exponentially
        // (the round-13 "generation-re-inlining-bound" sf1 exclusion).
        // AS MATERIALIZED computes each table once (round 14, the
        // jumpCloseSql lesson) — same rows, sf1-feasible.
        (s"WITH $collusionPairCte," +
        """
          |p AS MATERIALIZED (
          |  SELECT user_a, user_b FROM pr GROUP BY 1, 2 HAVING count(*) >= 6),
          |e AS MATERIALIZED (
          |  SELECT user_a AS u, user_b AS v FROM p
          |  UNION ALL
          |  SELECT user_b, user_a FROM p),
          |deg AS MATERIALIZED (
          |  SELECT u, CAST(count(*) AS BIGINT) AS degree FROM e GROUP BY u),
          |b AS MATERIALIZED (
          |  SELECT CAST(1000000000000 // count(*) AS BIGINT) AS base FROM deg),
          |p0 AS MATERIALIZED (SELECT d.u, b.base AS fp FROM deg d, b),
          |""".stripMargin +
        (1 to 8).map { i =>
          s"""p$i AS MATERIALIZED (
             |  SELECT e.v AS u,
             |         (15 * b.base +
             |          85 * CAST(SUM(p${i - 1}.fp // d.degree) AS BIGINT)) // 100 AS fp
             |  FROM p${i - 1}
             |  JOIN e ON e.u = p${i - 1}.u
             |  JOIN deg d ON d.u = p${i - 1}.u, b
             |  GROUP BY e.v, b.base)""".stripMargin
        }.mkString(",\n") +
        """
          |SELECT u AS user_id, fp AS pr_fp,
          |       CAST(fp AS DOUBLE) / 1000000000000 AS pagerank
          |FROM p8""".stripMargin),

      // C25: exact decimal Gini sums — the (12,0)×(18,6) coefficient
      // product stays (31,6), summed exact on both engines; only the
      // final ratio is double (numerator and denominator casts of the
      // same exact decimals).
      "c25_gini_concentration" ->
        """WITH pu AS (
          |  SELECT event_type, user_id,
          |         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS x
          |  FROM events GROUP BY 1, 2),
          |r AS (
          |  SELECT event_type, x,
          |         row_number() OVER (PARTITION BY event_type ORDER BY x, user_id) AS i,
          |         count(*) OVER (PARTITION BY event_type) AS n
          |  FROM pu),
          |g AS (
          |  SELECT event_type, CAST(max(n) AS BIGINT) AS n_users,
          |         SUM(x) AS sx,
          |         SUM(CAST(2 * i - n - 1 AS DECIMAL(12,0)) * x) AS num
          |  FROM r GROUP BY 1)
          |SELECT event_type, n_users,
          |       CAST(sx AS DOUBLE) AS total_value,
          |       CASE WHEN sx <> 0
          |            THEN CAST(num AS DOUBLE)
          |                 / (CAST(n_users AS DOUBLE) * CAST(sx AS DOUBLE))
          |            ELSE CAST(0.0 AS DOUBLE) END AS gini
          |FROM g""".stripMargin,

      // C25b: same floor-bucket rule (c23's recipe), same grouped-Gini
      // integer coefficients; every decimal product (24,6)×(12,0) =
      // (37,6) exact on both engines.
      "c25_gini_approx" ->
        """WITH pu AS (
          |  SELECT event_type, user_id,
          |         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS x
          |  FROM events GROUP BY 1, 2),
          |b AS (
          |  SELECT event_type, min(CAST(x AS DOUBLE)) AS lo,
          |         max(CAST(x AS DOUBLE)) AS hi
          |  FROM pu GROUP BY 1),
          |bk AS (
          |  SELECT pu.event_type, x,
          |         CASE WHEN b.hi > b.lo
          |              THEN least(127, CAST(floor((CAST(x AS DOUBLE) - b.lo)
          |                     / (b.hi - b.lo) * 128) AS BIGINT))
          |              ELSE 0 END AS bucket
          |  FROM pu JOIN b USING (event_type)),
          |cells AS (
          |  SELECT event_type, bucket, count(*) AS n_c,
          |         CAST(SUM(x) AS DECIMAL(24,6)) AS mass_c
          |  FROM bk GROUP BY 1, 2),
          |w AS (
          |  SELECT event_type, bucket, n_c, mass_c,
          |         coalesce(SUM(n_c) OVER (PARTITION BY event_type ORDER BY bucket
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_prev,
          |         SUM(n_c) OVER (PARTITION BY event_type) AS n,
          |         SUM(mass_c) OVER (PARTITION BY event_type) AS sx
          |  FROM cells),
          |g AS (
          |  SELECT event_type, CAST(max(n) AS BIGINT) AS n_users,
          |         CAST(max(sx) AS DOUBLE) AS total_value,
          |         SUM(mass_c * CAST(n_prev * 2 + n_c - n AS DECIMAL(12,0))) AS num
          |  FROM w GROUP BY 1)
          |SELECT event_type, n_users, total_value,
          |       CASE WHEN total_value <> 0
          |            THEN CAST(num AS DOUBLE)
          |                 / (CAST(n_users AS DOUBLE) * total_value)
          |            ELSE CAST(0.0 AS DOUBLE) END AS gini
          |FROM g""".stripMargin,

      // C22: same lower-median order statistics ((n+1) div 2 ↔
      // (n+1)//2), same literals; mz is a product/ratio of identical
      // doubles — unrounded.
      "c22_mad_anomaly" ->
        """WITH r AS (
          |  SELECT event_id, user_id, value,
          |         row_number() OVER (PARTITION BY user_id
          |                            ORDER BY value, event_id) AS rn,
          |         count(*) OVER (PARTITION BY user_id) AS n
          |  FROM events WHERE value IS NOT NULL),
          |m AS (
          |  SELECT *, max(CASE WHEN rn = (n + 1) // 2 THEN value END)
          |              OVER (PARTITION BY user_id) AS med
          |  FROM r),
          |d AS (SELECT *, abs(value - med) AS dev FROM m),
          |r2 AS (
          |  SELECT *, row_number() OVER (PARTITION BY user_id
          |                               ORDER BY dev, event_id) AS rn2
          |  FROM d),
          |md AS (
          |  SELECT *, max(CASE WHEN rn2 = (n + 1) // 2 THEN dev END)
          |              OVER (PARTITION BY user_id) AS mad
          |  FROM r2)
          |SELECT event_id, user_id, value, med, mad,
          |       CAST(0.6745 AS DOUBLE) * dev / mad AS mz
          |FROM md
          |WHERE mad > 0
          |  AND CAST(0.6745 AS DOUBLE) * dev / mad > CAST(3.5 AS DOUBLE)""".stripMargin,

      // C23: same grid arithmetic through floor() (the §6b cast rule),
      // same parity slices, same (d desc, bucket) argmax.
      "c23_ks_drift" ->
        """WITH ev AS (
          |  SELECT value, event_id % 2 AS g FROM events WHERE value IS NOT NULL),
          |st AS (SELECT min(value) AS lo, max(value) AS hi FROM ev),
          |cells AS (
          |  SELECT CASE WHEN hi = lo THEN 0
          |              ELSE least(CAST(floor((value - lo) / ((hi - lo) / CAST(256.0 AS DOUBLE))) AS BIGINT), 255)
          |         END AS bucket,
          |         CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
          |         CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
          |  FROM ev, st GROUP BY 1),
          |cum AS (
          |  SELECT bucket, c0, c1,
          |         CAST(sum(c0) OVER (ORDER BY bucket
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum0,
          |         CAST(sum(c1) OVER (ORDER BY bucket
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum1,
          |         CAST(sum(c0) OVER () AS BIGINT) AS n0,
          |         CAST(sum(c1) OVER () AS BIGINT) AS n1
          |  FROM cells)
          |SELECT lo + (hi - lo) / CAST(256.0 AS DOUBLE) * CAST(bucket + 1 AS DOUBLE) AS at_value,
          |       abs(CAST(cum0 AS DOUBLE) / CAST(n0 AS DOUBLE)
          |           - CAST(cum1 AS DOUBLE) / CAST(n1 AS DOUBLE)) AS ks_stat,
          |       n0, n1
          |FROM cum, st
          |ORDER BY ks_stat DESC, bucket
          |LIMIT 1""".stripMargin,

      // C24: same grid, same exact-integer mass differences through
      // DECIMAL(12,0) products, same paired-ln DECIMAL(10,8) assembly
      // distributed to keep every product ≤ (38,8) exact on BOTH
      // engines (psiFromCells width discipline); one double division
      // at the end. All intermediates are exact multiples of 1e-8, so
      // the engines agree bitwise for unbalanced slices too.
      "c24_psi_drift" ->
        """WITH ev AS (
          |  SELECT value, event_id % 2 AS g FROM events WHERE value IS NOT NULL),
          |st AS (SELECT min(value) AS lo, max(value) AS hi FROM ev),
          |cells AS (
          |  SELECT CASE WHEN hi = lo THEN 0
          |              ELSE least(CAST(floor((value - lo) / ((hi - lo) / CAST(256.0 AS DOUBLE))) AS BIGINT), 255)
          |         END AS bucket,
          |         CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
          |         CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
          |  FROM ev, st GROUP BY 1),
          |tot AS (
          |  SELECT bucket, c0, c1,
          |         CAST(sum(c0) OVER () AS BIGINT) AS n0,
          |         CAST(sum(c1) OVER () AS BIGINT) AS n1
          |  FROM cells),
          |mass AS (
          |  SELECT n0, n1, c0, c1,
          |         CAST(c0 AS DECIMAL(12,0)) * CAST(n1 AS DECIMAL(12,0))
          |          - CAST(c1 AS DECIMAL(12,0)) * CAST(n0 AS DECIMAL(12,0)) AS m
          |  FROM tot WHERE c0 > 0 AND c1 > 0),
          |contrib AS (
          |  SELECT n0, n1,
          |         CAST(m * (CAST(round(ln(c0), 8) AS DECIMAL(10,8))
          |                   - CAST(round(ln(n0), 8) AS DECIMAL(10,8))) AS DECIMAL(37,8))
          |         + CAST(m * (CAST(round(ln(n1), 8) AS DECIMAL(10,8))
          |                     - CAST(round(ln(c1), 8) AS DECIMAL(10,8))) AS DECIMAL(37,8)) AS contrib
          |  FROM mass)
          |SELECT CAST(sum(contrib) AS DOUBLE)
          |         / (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)) AS psi,
          |       count(*) AS n_cells_used, n0, n1
          |FROM contrib GROUP BY n0, n1""".stripMargin
    )
  }
}
