package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards: the PLANS.md audit claims, asserted so
  * a refactor cannot silently degrade a physical plan the scale design
  * depends on. String-level checks against explain output — the same
  * evidence the audit reads.
  */
class PlanSpec extends AnyFunSuite with SparkTestBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, SF).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("b1 filter+project: predicates reach the parquet scan") {
    val p = plan("b1_filter_project")
    assert(p.contains("PushedFilters: ["), p.linesIterator.take(20).mkString("\n"))
    assert(!p.replaceAll("PushedFilters: \\[\\]", "").contains("PushedFilters: []"),
      "scan has an EMPTY PushedFilters list")
  }

  test("c1 enrich: dims broadcast, at most one non-broadcast fact-fact join") {
    val p = plan("c1_fraud_enrich")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    val smj = "SortMergeJoin".r.findAllIn(p).size
    // formatted mode lists each operator in the tree AND the details
    // section, so counts are doubled. At sf0.001 even the fact-fact
    // join may broadcast (orders is tiny — AQE working as intended), so
    // the invariant is: >=4 broadcast joins, <=1 sort-merge join, and
    // never a cartesian product.
    assert(bhj >= 8, s"expected >=4 broadcast joins (x2 in formatted), got $bhj\n$p")
    assert(smj <= 2, s"expected <=1 sort-merge join (x2 in formatted), got $smj")
    assert(!p.contains("CartesianProduct"))
  }

  test("b23 range join: broadcast calendar, no distinct-over-fact derivation") {
    val p = plan("b23_range_join")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"calendar side must broadcast\n$p")
    // the calendar derivation is a scalar min/max aggregate now: the plan
    // must not contain a distinct (HashAggregate keyed on the truncated
    // month) feeding the broadcast — two scans max (bounds + join side)
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 4, s"expected <=2 events scans (x2 in formatted), got $scans")
  }

  test("b31 funnel: the three chained window minima share ONE exchange") {
    val p = SparkEntry.queries("b31_funnel")(spark, SF)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange ".r.findAllIn(p).size
    assert(exchanges == 1, s"funnel must shuffle once, got $exchanges\n$p")
  }

  test("c18 CUSUM: the closed form runs on ONE user exchange") {
    val p = SparkEntry.queries("c18_cusum_shift")(spark, SF)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange ".r.findAllIn(p).size
    assert(exchanges == 1, s"CUSUM must shuffle once on user_id, got $exchanges\n$p")
  }

  test("b42 windowed count-distinct: both windows share ONE exchange") {
    val p = SparkEntry.queries("b42_window_distinct")(spark, SF)
      .queryExecution.executedPlan.toString
    // HashPartitioning(user) satisfies the finer (user, type) window's
    // ClusteredDistribution — the explicit repartition makes the two
    // window passes sorts, not shuffles
    val exchanges = "Exchange ".r.findAllIn(p).size
    assert(exchanges == 1, s"expected one user_id exchange, got $exchanges\n$p")
  }

  test("c19 cohort retention: week-0 base comes from a window, not a subtree-doubling self-join") {
    val p = SparkEntry.queries("c19_cohort_retention")(spark, SF)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange ".r.findAllIn(p).size
    assert(exchanges <= 6, s"base self-join would double the subtree (9 exchanges), got $exchanges\n$p")
  }

  test("f14 KL: result materializes once; the vocab-sized cache is RELEASED after") {
    import org.apache.spark.sql.functions.{col, count, explode, lit, split}
    val df = SparkEntry.queries("f14_source_kl")(spark, SF)
    // the returned frame is the eagerly-checkpointed |sources|-row
    // result — consumers never re-tokenize the corpus (the st cache
    // serves the four marginals exactly once, during the build)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Scan ExistingRDD"),
      s"f14 must return the materialized result, not a lazy corpus chain\n$p")
    // and the (source,term) count table must NOT stay pinned in executor
    // memory afterwards (the round-5 advice item): rebuilding the
    // identical st plan finds no cache entry
    val st = graft.sources.Tables.table(spark, SF, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c_st"))
    assert(spark.sharedState.cacheManager
        .lookupCachedData(st.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
        .isEmpty,
      "vocab-sized (source,term) cache still pinned after f14 returns")
  }

  test("b44 streaks: distinct + window + two aggregates ride ONE exchange") {
    val p = SparkEntry.queries("b44_activity_streaks")(spark, SF)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange ".r.findAllIn(p).size
    assert(exchanges == 1, s"the user repartition must carry the whole chain, got $exchanges\n$p")
  }

  test("c22 MAD: windowed median selection keeps the chain on ONE exchange and ONE scan") {
    val p = SparkEntry.queries("c22_mad_anomaly")(spark, SF)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange ".r.findAllIn(p).size
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(exchanges == 1, s"median join-backs would re-execute the subtree, got $exchanges exchanges\n$p")
    assert(scans == 1, s"got $scans scans")
  }

  test("f6/f9 vocabulary joins carry no forced broadcast hint") {
    // vocab-sized build sides are unbounded at corpus scale (the g5/c11
    // verdict class) — AQE must own the strategy; at test scale it will
    // still runtime-broadcast. The 1-row corpus-scalar crossJoins keep
    // their hints (bounded by construction), so only KEYED joins are
    // checked.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    Seq("f6_tfidf", "f9_unigram_logprob").foreach { name =>
      val hinted = SparkEntry.queries(name)(spark, SF)
        .queryExecution.optimizedPlan.collect {
          case j: Join if j.condition.nonEmpty &&
            (j.hint.leftHint.nonEmpty || j.hint.rightHint.nonEmpty) => j
        }
      assert(hinted.isEmpty,
        s"$name: keyed join carries a forced hint:\n${hinted.mkString("\n")}")
    }
  }

  test("f6 vocab join degrades to a shuffle join past the broadcast threshold, values unchanged") {
    // the unhinted-join claim's OTHER half: "AQE decides" is only a
    // guarantee if the non-broadcast fallback actually engages AND is
    // value-identical. Force it by disabling the threshold (both the
    // static and the AQE-stage one) and pin: the term-keyed df join
    // runs as a shuffle join, the 1-row corpus-scalar crossJoin keeps
    // its (bounded-by-construction) broadcast, and every output value
    // matches the default-config run exactly.
    val dfDefault = SparkEntry.queries("f6_tfidf")(spark, SF)
    val baseline = dfDefault.collect().map(_.toSeq).toSet
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val forced = SparkEntry.queries("f6_tfidf")(spark, SF)
      val rows = forced.collect()
      val plan = forced.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"keyed vocab join still broadcast with the threshold off:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"no shuffle join engaged for the df join:\n$plan")
      assert(plan.contains("BroadcastNestedLoopJoin"),
        s"the 1-row corpus-scalar crossJoin must keep its broadcast:\n$plan")
      assert(rows.map(_.toSeq).toSet === baseline,
        "shuffle-join fallback changed the f6 values")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("d11 decontamination: benchmark grams broadcast, corpus never distinct-shuffled for grams") {
    val p = plan("d11_decontaminate")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"bench grams must broadcast\n$p")
  }

  test("e5 knn join: WindowGroupLimit prunes before the final rank") {
    val p = plan("e5_knn_join")
    assert(p.contains("WindowGroupLimit"), s"partial top-k pushdown missing\n$p")
  }

  test("b36 HLL: register max is two-phase (partial before the exchange)") {
    val p = SparkEntry.queries("b36_distinct_hll")(spark, SF)
      .queryExecution.executedPlan.toString
    // partial max per partition, so the register exchange carries <=256
    // rows per partition whatever the key cardinality
    assert(p.contains("partial_max"), s"register max must map-side combine\n$p")
    val exchanges = "Exchange ".r.findAllIn(p).size
    assert(exchanges <= 2, s"HLL needs at most 2 exchanges (registers + final), got $exchanges\n$p")
  }

  test("b38 KMV: bucket min is two-phase (partial before the exchange)") {
    val p = SparkEntry.queries("b38_kmv_distinct")(spark, SF)
      .queryExecution.executedPlan.toString
    // same contract as b36: per-partition partial min, so the exchange
    // carries <=256 bucket rows per partition at any key cardinality
    assert(p.contains("partial_min"), s"bucket min must map-side combine\n$p")
    val exchanges = "Exchange ".r.findAllIn(p).size
    assert(exchanges <= 2, s"KMV needs at most 2 exchanges, got $exchanges\n$p")
  }

  test("f12 BM25: tf counts partial-aggregate; raw text never in a keyed shuffle") {
    val p = SparkEntry.queries("f12_bm25_search")(spark, SF)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("partial_count"), s"tf must map-side combine\n$p")
    // the query-term filter runs BEFORE the (doc,term) aggregation, so
    // keyed exchanges carry only ids/terms/counts — never document text
    val keyed = p.split("\n\n").filter(b =>
      b.startsWith("(") && b.contains("Exchange") && b.contains("hashpartitioning"))
    keyed.foreach { b =>
      assert(!b.contains("text#") && !b.contains("tok#"),
        s"document text leaked into a keyed shuffle:\n$b")
    }
    // global top-k compiles to TakeOrderedAndProject, never a full sort
    assert(p.contains("TakeOrderedAndProject"), s"top-k must be partial-heap merged\n$p")
  }

  test("d15 per-source sketch prunes map-side (WindowGroupLimit before the exchange)") {
    val p = SparkEntry.queries("d15_source_overlap")(spark, SF)
      .queryExecution.executedPlan.toString
    // the dense_rank <= k filter must compile to WindowGroupLimit so
    // partitions cap at their local top-k distinct BEFORE shuffling —
    // the corpus's whole distinct gram set must never cross an exchange
    assert(p.contains("WindowGroupLimit"), s"map-side sketch prune missing\n$p")
  }

  test("e1/e10 candidate top-k is TakeOrderedAndProject, never a global sort") {
    val p = SparkEntry.queries("e1_cosine_topk")(spark, SF)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"per-partition k-heaps expected\n$p")
  }

  test("d12 dup-span: gram text never reaches an exchange (fingerprints only)") {
    val p = SparkEntry.queries("d12_dup_span_score")(spark, SF)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // every KEYED exchange's input must be id+fingerprint columns, never
    // the raw text / token array / gram strings. (The spread() round-robin
    // on under-partitioned local input is exempt: it exists only when the
    // input has fewer splits than cores — never the case at scale.)
    val keyed = p.split("\n\n").filter(b =>
      b.startsWith("(") && b.contains("Exchange") && b.contains("hashpartitioning"))
    keyed.foreach { b =>
      assert(!b.contains("text") && !b.contains("tok#") && !b.contains("g#"),
        s"gram/doc text leaked into a keyed shuffle:\n$b")
    }
    assert(keyed.nonEmpty, s"no keyed exchange found to audit\n$p")
  }

  test("d12b: cross-doc counts partial-aggregate map-side; AQE picks the join-back") {
    val df = SparkEntry.queries("d12_dup_span_agg")(spark, SF)
    // the join-back is UNHINTED (round-4 advice: a forced broadcast of a
    // data-dependent set can OOM) — so the broadcast decision is AQE's,
    // made at RUNTIME from the dup set's actual size. Execute, then read
    // the finalized adaptive plan.
    df.write.format("noop").mode("overwrite").save()
    val p = df.queryExecution.executedPlan.toString
    // the skew-safe property: a hot boilerplate fingerprint collapses to
    // one row per partition BEFORE the exchange (window form can't)
    assert(p.contains("partial_count"), s"gh count must map-side combine\n$p")
    // at test scale the dup set IS tiny, so AQE must have broadcast it
    assert(p.contains("BroadcastHashJoin"),
      s"AQE should runtime-broadcast the small dup set\n$p")
    assertNoJoinHints(df, "d12_dup_span_agg")
  }

  /** No Join in the optimized plan may carry a strategy hint: the
    * round-4 rule — broadcast decisions on data-dependent sides belong
    * to AQE's runtime sizes, never to a compile-time hint that bypasses
    * autoBroadcastJoinThreshold.
    */
  private def assertNoJoinHints(df: org.apache.spark.sql.DataFrame,
                                name: String): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val hinted = df.queryExecution.optimizedPlan.collect {
      case j: Join if j.hint.leftHint.nonEmpty || j.hint.rightHint.nonEmpty => j
    }
    assert(hinted.isEmpty,
      s"$name: join(s) carry a forced strategy hint:\n${hinted.mkString("\n")}")
  }

  test("g5 join-back: fingerprint joins are not hint-forced broadcasts") {
    // fp has one row per corpus document — a broadcast HINT would ship
    // it whole to every executor at any corpus size (round-4 verdict
    // finding). AQE may still choose broadcast at runtime while small;
    // what must never appear is the compile-time force.
    assertNoJoinHints(SparkEntry.queries("g5_phash_neardup")(spark, SF),
      "g5_phash_neardup")
  }

  test("c11 stats join-back is not a hint-forced broadcast") {
    // per-user stats are user-cardinality-sized: same rule as g5
    assertNoJoinHints(SparkEntry.queries("c11_zscore")(spark, SF), "c11_zscore")
  }

  test("f15 Gopher gates: row-local — no exchange, no join, one scan") {
    val p = SparkEntry.queries("f15_gopher_rules")(spark, SF)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange "), s"the admission gate must not shuffle\n$p")
    assert(!p.contains("Join"), "no join in a per-row rule battery")
  }

  test("f18 novelty: first-occurrence min partial-aggregates before its exchange") {
    val p = SparkEntry.queries("f18_novelty")(spark, SF)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // partial_min under the gram key: the wire carries one (gram, min)
    // per partition, never the raw gram stream
    assert(p.contains("partial_min"), s"min(doc_id) must map-side combine\n$p")
    // the model join-back must not be a compile-time broadcast force
    assertNoJoinHints(SparkEntry.queries("f18_novelty")(spark, SF), "f18_novelty")
  }

  test("i20 curriculum: every window is (band, shard)-partitioned — no global sort") {
    val p = SparkEntry.queries("i20_curriculum_order")(spark, SF)
      .queryExecution.executedPlan.toString
    // a SinglePartition exchange would be the global-sort anti-pattern
    // (the b24/b43 class); the layout must scale with the shuffle
    assert(!p.contains("SinglePartition"),
      s"curriculum layout must not serialize into one partition\n$p")
    assert(p.contains("Window"), "the per-slice rank is a window function")
  }

  test("f16 boilerplate: per-source argmax compiles to WindowGroupLimit") {
    val p = SparkEntry.queries("f16_boilerplate")(spark, SF)
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"),
      s"rn=1 must prune map-side before the source exchange\n$p")
  }

  test("c27 collusion: grouped-bucket expansion — NO join of any kind in the plan") {
    // the naive formulation is a fact self-join on (day, k); the
    // operator's whole scale story is that pairs expand INSIDE cells
    // after one keyed aggregate — so any Join operator appearing here
    // is a regression to the quadratic plan
    val p = SparkEntry.queries("c27_collusion_pairs")(spark, SF)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"collusion pairs must not plan a join\n$p")
    assert(p.contains("Generate"), "the in-cell pair expansion is an explode")
  }

  test("f21/c24 PSI: totals are a partial-aggregated 1-row broadcast — no window anywhere") {
    // the round-6 verdict's one scale-killer: psiFromCells' totals used
    // to be sum().over(Window.partitionBy(lit(1))), which concentrates
    // the WHOLE cell table on one task — fatal when f21/H21 feed it a
    // vocabulary-sized cell table. The fix computes n0/n1 as a scalar
    // aggregate (map-side partial: one row per partition reaches the
    // single reducer) broadcast-crossJoined back. Guard: NO Window
    // operator may appear on either path; the totals branch must share
    // the cells subplan's shuffle (ReusedExchange — asserted on the
    // final adaptive plan after execution, where AQE stage reuse lands).
    for (q <- Seq("f21_vocab_psi", "f21_vocab_psi_topk", "c24_psi_drift")) {
      val df = SparkEntry.queries(q)(spark, SF)
      assert(!df.queryExecution.executedPlan.toString.contains("Window"),
        s"$q must not plan a window — the totals window is the scale-killer")
      df.collect() // drives THIS dataset's own QueryExecution to the final plan
      val fin = df.queryExecution.executedPlan.toString
      assert(fin.contains("isFinalPlan=true"), s"$q did not finalize adaptively")
      assert(fin.contains("ReusedExchange"),
        s"$q totals branch must reuse the cells exchange, not recompute it\n$fin")
      // f21b evaluates the cells subplan in FOUR branches (boundary
      // limit, top filter, tail aggregate, psiFromCells totals) — the
      // round-7 advice: only the totals reuse was asserted, so a
      // planner change could silently recompute the full-outer term
      // join per branch. Bound the physical corpus scans instead: the
      // two slice aggregations scan documents once each, every further
      // branch must come back as a ReusedExchange, so >2 scans in the
      // FINAL plan means a reuse regression. (AdaptiveSparkPlanExec's
      // toString appends the pre-execution `== Initial Plan ==` section,
      // where nothing is reused yet — count only the final section.)
      if (q.startsWith("f21")) {
        val finalSection = fin.split("== Initial Plan ==").head
        val scans = "Scan parquet".r.findAllIn(finalSection).size
        assert(scans <= 2,
          s"$q must scan documents at most twice (ref + incoming slice); " +
            s"got $scans — a cells-subplan reuse regression\n$fin")
      }
    }
  }

  test("c23/b39 grand totals: aggregate+broadcast, never a global-total window (the psiFromCells sweep)") {
    // the r7 verdict's item 2: both were bounded by construction (256
    // grid cells / 9 digits) but used the exact single-partition-window
    // pattern psiFromCells eliminated — swept onto the aggregate +
    // broadcast-crossJoin idiom so the codebase's totals discipline is
    // uniform. b39 has NO window left at all; c23 keeps exactly ONE —
    // the cumulative-ECDF pass, inherent to a global CDF and bounded at
    // 256 cells by construction (that bounded-input invariant is what
    // this count pins).
    val b39df = SparkEntry.queries("b39_benford")(spark, SF)
    assert(!b39df.queryExecution.executedPlan.toString.contains("Window ["),
      "b39 totals must be an aggregate+broadcast, not a window")
    val c23df = SparkEntry.queries("c23_ks_drift")(spark, SF)
    val windows = "Window \\[".r.findAllIn(
      c23df.queryExecution.executedPlan.toString).size
    assert(windows == 1,
      s"c23 must keep exactly the one cumulative-ECDF window, got $windows")
    // the swap's rationale is that the totals branch REUSES the cell/
    // count aggregate's exchange instead of recomputing the input —
    // verify on each dataset's own finalized plan (the CLAUDE.md
    // round-7 rule: a .write runs a separate QueryExecution, so drive
    // collect() and read executedPlan, excluding the appended
    // `== Initial Plan ==` section from the scan count)
    for ((name, df) <- Seq("b39_benford" -> b39df, "c23_ks_drift" -> c23df)) {
      df.collect()
      val fin = df.queryExecution.executedPlan.toString
      assert(fin.contains("isFinalPlan=true"), s"$name did not finalize adaptively")
      val finalSection = fin.split("== Initial Plan ==").head
      assert(finalSection.contains("ReusedExchange"),
        s"$name totals branch must reuse the counts exchange\n$fin")
      val scans = "Scan parquet".r.findAllIn(finalSection).size
      assert(scans <= 1,
        s"$name must scan its fact once in the final plan, got $scans\n$fin")
    }
  }

  test("c26 reactivation: lag + running prior mean ride ONE user exchange and ONE scan") {
    // the c22 discipline: the up-front user repartition must satisfy
    // both window passes — a second exchange means the windows stopped
    // sharing the partitioning, a second scan means a join-back crept in
    val p = SparkEntry.queries("c26_reactivation")(spark, SF)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange ".r.findAllIn(p).size
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(exchanges == 1, s"expected one user_id exchange, got $exchanges\n$p")
    assert(scans == 1, s"got $scans scans")
  }

  test("c25 approx twin: no per-user ordered window — ranks run over cell rows only") {
    // the exact c25 sorts every user inside each event_type (the b43
    // |groups|-window concentration class); the histogram-Lorenz twin
    // exists as the 100 TB escape hatch, so its plan must never regress
    // to a user-level window: every windowspec here partitions on
    // event_type over <=128 cell rows and must not reference user_id
    val p = SparkEntry.queries("c25_gini_approx")(spark, SF)
      .queryExecution.executedPlan.toString
    val badWindow = p.linesIterator.exists(l =>
      l.contains("windowspecdefinition") && l.contains("user_id"))
    assert(!badWindow, s"approx Gini must not window over users\n$p")
    assert(p.contains("windowspecdefinition"),
      "the cell-level cumulative windows should still be present")
  }

  test("e15 IVF-PQ: one corpus scan, zero exchanges — route+encode fuse into the top-k pass") {
    val p = plan("e15_ann_ivfpq")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not be a full sort\n$p")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 2, s"expected ONE embeddings scan (x2 in formatted), got $scans\n$p")
    // both the cell routing (argmax over literal centroids) and the PQ
    // encode (argmin over literal sub-centroids) are per-row
    // projections: any Exchange before the top-k merge is a regression
    assert(!p.contains("Exchange"), s"the IVF-PQ serve path must be shuffle-free\n$p")
  }

  test("c30 PageRank: checkpointed graph in, aggregates only — no window, no cartesian, no re-scan") {
    val df = SparkEntry.queries("c30_collusion_pagerank")(spark, SF)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("windowspecdefinition"),
      s"rank arithmetic must be aggregates, never a window\n$p")
    // the pair graph is localCheckpoint'd before the loop: the 8-step
    // chain must read the checkpoint, never re-derive the fact pass
    assert(!p.contains("Scan parquet"),
      s"the iteration chain re-scanned the corpus\n$p")
  }

  test("i23 manifest: the totals branch reads the checkpointed per-shard table, not the corpus") {
    val df = SparkEntry.queries("i23_shard_manifest")(spark, SF)
    val p = df.queryExecution.executedPlan.toString
    // the corpus scan happens ONCE, inside the eager checkpoint; the
    // closing plan (per x broadcast total) must not touch parquet —
    // this is the §6b pruning/reuse trap guard for the manifest
    assert(!p.contains("Scan parquet"),
      s"manifest close re-scanned the corpus instead of the checkpoint\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 1-row total must broadcast\n$p")
  }

  test("g11 clips: no exchange carries payload or raw frame bytes") {
    val p = plan("g11_shared_clips")
    assert(!p.contains("CartesianProduct"), p)
    // formatted mode prints each operator's Input list: every Exchange
    // must carry digests/positions only — payload and frame columns
    // stay inside the row-local projections
    val exBlocks = p.split("\\(\\d+\\) ").filter(_.startsWith("Exchange"))
    assert(exBlocks.nonEmpty, s"expected shuffles on digest keys\n$p")
    exBlocks.foreach { b =>
      val in = b.linesIterator.find(_.trim.startsWith("Input")).getOrElse("")
      assert(!in.contains("payload") && !in.contains("frame#"),
        s"an exchange carries payload/frame bytes: $in")
    }
    // n_matches is a window sum over the SAME (doc_a, doc_b) partition
    // the best-run ranking uses — the plan is one LINEAR chain: exactly
    // one corpus scan in the finalized plan and no join anywhere. A
    // second scan or a join means the match-expansion branch got
    // re-derived for the count (the CLAUDE.md finalized-scan-count rule)
    val df = SparkEntry.queries("g11_shared_clips")(spark, SF)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
    assert(fin.contains("isFinalPlan=true"), "g11 did not finalize adaptively")
    val finalSection = fin.split("== Initial Plan ==").head
    val scans = "Scan parquet".r.findAllIn(finalSection).size
    assert(scans <= 1,
      s"g11 must scan documents once in the final plan, got $scans\n$fin")
    assert(!finalSection.contains("Join"),
      s"g11 must be join-free (n_matches rides the pair window)\n$fin")
  }

  test("b45 window HLL: the trailing merge never re-scans the corpus") {
    // the one fact pass happens inside the eager cell checkpoint; the
    // dense days x 256 frame, the RANGE window and the estimator all
    // read the <= days x 256-row LogicalRDD. A parquet scan in the
    // finalized plan means the days branch's pruned distinct broke the
    // checkpoint cut (the round-8 reuse trap this op was built around)
    val df = SparkEntry.queries("b45_window_hll")(spark, SF)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
    val finalSection = fin.split("== Initial Plan ==").head
    val scans = "Scan parquet".r.findAllIn(finalSection).size
    assert(scans == 0, s"b45 must read only the checkpointed cells, got $scans\n$fin")
    assert(finalSection.contains("Scan ExistingRDD"),
      s"b45 must read the checkpointed cell table\n$fin")
    val windows = "Window \\[".r.findAllIn(finalSection).size
    assert(windows == 1, s"exactly one RANGE window (per-register trailing max), got $windows\n$fin")
  }

  test("b46 window quantile: the trailing merge never re-scans the corpus") {
    // same contract as b45: the one fact pass lives in the eager cell
    // checkpoint; the dense frame, trailing sum, per-day totals and
    // crossing all read the <= days x 64-row LogicalRDD
    val df = SparkEntry.queries("b46_window_quantile")(spark, SF)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
    val finalSection = fin.split("== Initial Plan ==").head
    val scans = "Scan parquet".r.findAllIn(finalSection).size
    assert(scans == 0, s"b46 must read only the checkpointed cells, got $scans\n$fin")
    assert(finalSection.contains("Scan ExistingRDD"),
      s"b46 must read the checkpointed cell table\n$fin")
  }

  test("b48 window KMV: the trailing set-ops never re-scan the corpus; state is days x 256") {
    // same contract as b45/b46: the one fact pass lives in the eager
    // cell checkpoint; the dense frame, both trailing mins, the union
    // CASE and the estimator all read the <= days x 256-row LogicalRDD
    val df = SparkEntry.queries("b48_window_kmv")(spark, SF)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
    val finalSection = fin.split("== Initial Plan ==").head
    val scans = "Scan parquet".r.findAllIn(finalSection).size
    assert(scans == 0, s"b48 must read only the checkpointed cells, got $scans\n$fin")
    assert(finalSection.contains("Scan ExistingRDD"),
      s"b48 must read the checkpointed cell table\n$fin")
    // the cells-bounded claim, asserted (the h33 lesson: a bound, not
    // equality): the checkpointed cell table holds at most days x 256
    // rows however many keys ship
    import org.apache.spark.sql.functions._
    import graft.sources.Tables
    val li = Tables.table(spark, SF, "lineitem")
      .filter(col("l_returnflag").isin("A", "R"))
      .select(to_date(col("l_shipdate")).as("ship_day"),
        col("l_returnflag").as("tag"), col("l_orderkey"))
    val cells = graft.operators.Relational.dailyKmvCells(li, "l_orderkey", "tag", "A", "R")
    val nDays = li.select(col("ship_day")).distinct().count()
    assert(cells.count() <= nDays * 256,
      "daily KMV cell table must stay within days x 256 rows")
  }

  test("c40/c41 Holt-Winters: the fact collapses in one scan; the backtest reads only checkpointed cells") {
    // c40: one corpus scan into the (type, day) aggregate, then the
    // per-type fold — two exchanges total, no join anywhere
    val df40 = SparkEntry.queries("c40_holt_winters")(spark, SF)
    df40.collect()
    val fin40 = df40.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllIn(fin40).size == 1,
      s"c40 must scan events once\n$fin40")
    assert("Exchange ".r.findAllIn(fin40).size <= 2,
      s"c40 is two keyed aggregates, nothing more\n$fin40")
    assert(!fin40.contains("Join"), s"c40 must be join-free\n$fin40")
    // c41: the fact pass lives in the daily-cell checkpoint; train and
    // holdout branches read the LogicalRDD, the |types|-row state
    // broadcasts onto the holdout
    val df41 = SparkEntry.queries("c41_hw_backtest")(spark, SF)
    df41.collect()
    val fin41 = df41.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllIn(fin41).size == 0,
      s"c41 must read only the checkpointed daily cells\n$fin41")
    assert(fin41.contains("BroadcastHashJoin"),
      s"the frozen state must broadcast onto the holdout\n$fin41")
    assert(!fin41.contains("SortMergeJoin") && !fin41.contains("CartesianProduct"))
  }

  test("g12 flat frames: fully row-local — zero exchanges, one scan") {
    // every frame of a media item lives in its one payload row, so the
    // flags AND the longest-run recurrence fold inside the row: any
    // Exchange means the explode/aggregate/window shape crept back
    val p = SparkEntry.queries("g12_flat_frames")(spark, SF)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"g12 must be shuffle-free\n$p")
    assert(!p.contains("Window"), s"the run length must be an in-row fold\n$p")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected one documents scan, got $scans\n$p")
  }

  test("e17 batch IVF-PQ join: one corpus scan, routed explode, per-query group limit") {
    val p = plan("e17_ann_ivfpq_join")
    assert(!p.contains("CartesianProduct"), p)
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 2, s"expected ONE embeddings scan (x2 in formatted), got $scans\n$p")
    // the per-query top-k must prune per partition before the q_id
    // exchange (e5's WindowGroupLimit shape)
    assert(p.contains("WindowGroupLimit"), s"missing per-partition top-k pruning\n$p")
  }

  test("f23 PMI: one corpus scan — the gram-count exchange serves all four consumers") {
    // c2 fans out to the pair filter, cpre, csuf, and the scalar total;
    // every consumer keeps (gram, c12) so the partial-aggregate
    // exchange canonicalizes identically — >1 finalized scan means a
    // pruning change broke the reuse (the f21b regression class)
    val df = SparkEntry.queries("f23_pmi_collocations")(spark, SF)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
    assert(fin.contains("isFinalPlan=true"), "f23 did not finalize adaptively")
    val finalSection = fin.split("== Initial Plan ==").head
    val scans = "Scan parquet".r.findAllIn(finalSection).size
    assert(scans <= 1, s"f23 must scan documents once, got $scans\n$fin")
    assert(finalSection.contains("ReusedExchange"),
      s"the cpre/csuf/total branches must reuse the gram-count exchange\n$fin")
  }

  test("c32 motifs: the close reads the checkpointed cell table — no fact scan, broadcast joins only") {
    // building the query already ran the one fact pass (the eager
    // localCheckpoint); the lift plan must join the <=|types|^3 cell
    // table to itself via the explicit broadcast hints — a parquet scan
    // or sort-merge join here means the fact leaked past the checkpoint
    val df = SparkEntry.queries("c32_sequence_motifs")(spark, SF)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
    val finalSection = fin.split("== Initial Plan ==").head
    assert(!finalSection.contains("Scan parquet"),
      s"c32's closing plan re-scanned the fact\n$fin")
    assert(!finalSection.contains("SortMergeJoin"),
      s"cell-table joins must broadcast\n$fin")
    val bhj = "BroadcastHashJoin".r.findAllIn(finalSection).size
    assert(bhj == 3, s"expected the three hinted count joins, got $bhj\n$fin")
  }

  test("e21 refine: shortlist broadcasts into the rescore pass — bounded scans, top-k close") {
    val df = SparkEntry.queries("e21_pq_refine")(spark, SF)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
    val finalSection = fin.split("== Initial Plan ==").head
    // encode pass (shortlist), rescore pass, and the 1-row query side:
    // three embeddings scans max — more means a subplan stopped sharing
    val scans = "Scan parquet".r.findAllIn(finalSection).size
    assert(scans <= 3, s"expected <=3 embeddings scans, got $scans\n$fin")
    assert(finalSection.contains("BroadcastHashJoin"),
      s"the kShort-id shortlist must broadcast into the corpus scan\n$fin")
    assert(finalSection.contains("TakeOrderedAndProject"),
      s"the exact top-k must close as TakeOrderedAndProject\n$fin")
  }

  test("c34/c35 per-user features: ONE user exchange serves window and aggregate, one scan") {
    // the c22/c26 discipline applied to the decay and Holt features: a
    // second exchange means the window and the aggregate stopped
    // sharing the user partitioning; a second scan means a join-back
    for (q <- Seq("c34_decayed_spend", "c35_holt_forecast")) {
      val df = SparkEntry.queries(q)(spark, SF)
      df.collect()
      val fin = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      val scans = "Scan parquet".r.findAllIn(fin).size
      val ex = "Exchange hash".r.findAllIn(fin).size
      assert(scans == 1, s"$q expected one events scan, got $scans\n$fin")
      assert(ex == 1, s"$q expected the single user exchange, got $ex\n$fin")
    }
  }

  test("d22/d23 pair detectors: digests-only shuffles, no cartesian; d23's close never re-scans the corpus") {
    val d22 = SparkEntry.queries("d22_shared_passages")(spark, SF)
    d22.collect()
    val f22 = d22.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!f22.contains("CartesianProduct"), f22)
    assert("Scan parquet".r.findAllIn(f22).size == 1,
      s"d22 must scan documents once\n$f22")
    // d23 stages the distinct shingle table (five consumers; un-staged
    // the audit measured THREE corpus re-shingles) — the closing plan
    // reads only the checkpointed table
    val d23 = SparkEntry.queries("d23_setsim_join")(spark, SF)
    d23.collect()
    val f23 = d23.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!f23.contains("CartesianProduct"), f23)
    assert(!f23.contains("Scan parquet"),
      s"d23's close must read the staged shingle table, not the corpus\n$f23")
  }

  test("c36/c37: attribution windows share one purchase exchange; the Benford pivot is one exchange, no window") {
    // c36: the n_touches count window and the last-touch rank window
    // must ride the SAME purchase_id exchange (a second one means the
    // two window specs stopped sharing the partitioning); the
    // candidate join is user-keyed equi — never a cartesian
    val c36 = SparkEntry.queries("c36_touch_attribution")(spark, SF)
    c36.collect()
    val f36 = c36.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!f36.contains("CartesianProduct"), f36)
    assert("Scan parquet".r.findAllIn(f36).size == 2,
      s"c36 scans events twice (conv + touch sides), no more\n$f36")
    assert("hashpartitioning\\(purchase_id".r.findAllIn(f36).size == 1,
      s"both attribution windows must share ONE purchase_id exchange\n$f36")
    // c37: one scan into one conditional-pivot aggregate — a (type,
    // digit) intermediate would add a second exchange; the chi-square
    // close is row-local arithmetic, so any Window here is a regression
    val c37 = SparkEntry.queries("c37_benford_screen")(spark, SF)
    c37.collect()
    val f37 = c37.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllIn(f37).size == 1, s"c37 one scan\n$f37")
    assert("Exchange hash".r.findAllIn(f37).size == 1,
      s"c37 one exchange (the 5-group pivot)\n$f37")
    assert(!f37.contains("Window"), s"c37 must not window\n$f37")
  }

  test("c39 structuring: band filter pushes to the scan, one user exchange carries the range window") {
    val df = SparkEntry.queries("c39_structuring")(spark, SF)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllIn(fin).size == 1, s"c39 one scan\n$fin")
    assert("Exchange hash".r.findAllIn(fin).size == 1,
      s"c39 one user exchange\n$fin")
    // the ~3% band predicate must reach the parquet reader: at 100 TB
    // this is the difference between a window over 3% and over 100%
    assert(fin.contains("PushedFilters: [IsNotNull(value), GreaterThanOrEqual(value,90.0), LessThan(value,100.0)"),
      s"c39 band filter must push to the scan\n$fin")
  }

  test("i25 sample merge: per-shard WindowGroupLimit prunes before the exchange, TakeOrdered closes") {
    val df = SparkEntry.queries("i25_sample_merge")(spark, SF)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllIn(fin).size == 1, s"i25 one scan\n$fin")
    // per-partition rank pruning to k BEFORE the shard exchange — the
    // property that keeps the merge O(k·shards) on the wire at 100 TB
    assert(fin.contains("WindowGroupLimit"),
      s"the per-shard bottom-k must prune via WindowGroupLimit\n$fin")
    assert(fin.contains("TakeOrderedAndProject"),
      s"the re-cut must close as TakeOrderedAndProject, not a global sort\n$fin")
  }

  test("e14 recall: evaluation joins stay broadcast/small — never a cartesian") {
    val p = SparkEntry.queries("e14_ann_recall")(spark, SF)
      .queryExecution.executedPlan.toString
    // k-row truth sets joined to k-row ANN lists: any CartesianProduct
    // here means a scoring-side regression re-introduced an all-pairs
    val cart = "CartesianProduct".r.findAllIn(p).size
    // the broadcast 1-row query joins are BroadcastNestedLoopJoin by
    // construction (cross join with a single-row side) — those are the
    // only nested-loop shapes allowed
    assert(cart === 0, s"no cartesian in the recall harness\n$p")
  }

  test("e25/e26 OPQ serve family: the PQ encode reads a materialized rotation and the plan stays small") {
    // The §6b lambda-inline trap's mechanical tripwire (it bit in round
    // 8 as e25 and again in round 10 as e26, where the unstaged
    // 4-reflection rotation tree inlined into the encode lambdas and
    // serialized a ~225 MiB task binary — OOMing an 8 GiB test JVM).
    // Two assertions per query: the rotation boundary is a
    // Scan ExistingRDD leaf (the checkpointFresh cut held), and the
    // whole executed-plan string stays bounded — a direct proxy for the
    // serialized task size (the exploded plan printed hundreds of MB;
    // healthy PQ plans with their 8x16 literal centroid tables print
    // well under 1 MB).
    Seq("e26_ann_opq", "e25_quant_error", "e26_opq_recall").foreach { name =>
      val df = SparkEntry.queries(name)(spark, SF)
      df.collect()
      val fin = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(fin.contains("Scan ExistingRDD"),
        s"$name must consume the materialized rotated corpus\n" +
          fin.linesIterator.take(40).mkString("\n"))
      assert(fin.length < 1000000,
        s"$name executed plan printed ${fin.length} chars — the rotation " +
          "tree is inlining into the encode again (round-10 regression)")
    }
  }

  test("b49 window sample: the trailing re-cut never re-scans the corpus; state is days x k") {
    // same contract as b45/b46/b48: the one fact pass lives in the
    // eager cell checkpoint; the bounded expansion, the day join and
    // the re-cut rank all read the <= days x 100-row LogicalRDD
    val df = SparkEntry.queries("b49_window_sample")(spark, SF)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val scans = "Scan parquet".r.findAllIn(fin).size
    assert(scans == 0, s"b49 must read only the checkpointed cells, got $scans\n$fin")
    assert(fin.contains("Scan ExistingRDD"),
      s"b49 must read the checkpointed cell table\n$fin")
    // the state bound, asserted: cells hold at most days x k rows
    import org.apache.spark.sql.functions._
    import graft.sources.Tables
    val li = Tables.table(spark, SF, "lineitem")
      .select(to_date(col("l_shipdate")).as("ship_day"),
        concat_ws(":", col("l_orderkey"), col("l_linenumber")).as("key"))
    val cells = graft.operators.Relational.dailySampleCells(li)
    val nDays = li.select(col("ship_day")).distinct().count()
    assert(cells.count() <= nDays * 100,
      "daily sample cell table must stay within days x k rows")
    // the per-day cut engages WindowGroupLimit (per-partition rank
    // prune BEFORE the day exchange — the fact never shuffles whole)
    val cellPlan = cells.queryExecution.executedPlan.toString
    assert(cellPlan.contains("WindowGroupLimit"),
      s"cell build must prune per-partition via WindowGroupLimit\n$cellPlan")
  }

  test("b50 window top-k: the trailing merge never re-scans the corpus; state is days x m") {
    val df = SparkEntry.queries("b50_window_topk")(spark, SF)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val scans = "Scan parquet".r.findAllIn(fin).size
    assert(scans == 0, s"b50 must read only the checkpointed cells, got $scans\n$fin")
    assert(fin.contains("Scan ExistingRDD"),
      s"b50 must read the checkpointed cell table\n$fin")
    import org.apache.spark.sql.functions._
    import graft.sources.Tables
    val li = Tables.table(spark, SF, "lineitem")
      .select(to_date(col("l_shipdate")).as("ship_day"),
        col("l_suppkey").as("key"))
    val cells = graft.operators.Relational.dailyTopCells(li)
    val nDays = li.select(col("ship_day")).distinct().count()
    assert(cells.count() <= nDays * 256,
      "daily top-count cell table must stay within days x m rows")
    val cellPlan = cells.queryExecution.executedPlan.toString
    assert(cellPlan.contains("WindowGroupLimit"),
      s"cell build must prune per-partition via WindowGroupLimit\n$cellPlan")
  }

  test("m1 macro pipeline: downstream stages never re-read the corpus; the gate barrier is the only reader") {
    // the round-12 shared-scan discipline, structural form: the gate
    // output is materialized once (checkpointFresh), so the FINAL plan
    // — keepers join, split, pack — must contain ZERO corpus parquet
    // scans; every stage reads the ExistingRDD barrier. (The corpus is
    // scanned exactly twice, both inside the gate materialization: the
    // doc side and the row-local rule side.)
    val df = SparkEntry.queries("m1_curation_pipeline")(spark, SF)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val scans = "Scan parquet".r.findAllIn(fin).size
    assert(scans == 0,
      s"m1 downstream stages must read the gate barrier, found $scans corpus scans\n$fin")
    assert(fin.contains("Scan ExistingRDD"),
      s"m1 must consume the materialized gate output\n$fin")
    assert(fin.length < 1000000,
      s"m1 executed plan printed ${fin.length} chars")
  }

  test("global plan-size census: every query's physical plan stays bounded") {
    // The generalized round-10 lesson: a plan explosion anywhere in the
    // 200+ query surface takes out BOTH gates (the exploded tree OOMs
    // the suite's JVM and times out the driver's bench) — so the bound
    // is checked for EVERY query, not just the family that has bitten.
    // Plans are built, never collected (the pre-execution physical plan
    // is what gets serialized per task); eager model/checkpoint work at
    // build time is part of the census on purpose — it must also stay
    // cheap. Census (round 11, sf0.001): max 362 KB (b34's bloom
    // literal), median ~3 KB; the 1 MB bound gives 2.7x headroom while
    // sitting 200x under the round-10 explosion.
    val sizes = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val df = fn(spark, SF)
      name -> df.queryExecution.executedPlan.toString.length
    }
    val offenders = sizes.filter(_._2 >= 1000000)
    assert(offenders.isEmpty,
      "plan explosion (round-10 class): " +
        offenders.map { case (n, s) => s"$n=$s chars" }.mkString(", "))
  }

  test("gram/pair-expansion plans carry no lambda-bearing Filter: the InferFiltersFromGenerate trap stays closed") {
    // §6b round-15: a plain explode over an expensive derived array
    // makes InferFiltersFromGenerate synthesize size>0/notnull, and
    // predicate pushdown re-evaluates the WHOLE gram/md5 tree in an
    // interpreted Filter (or the scan's DataFilters) — measured 12×
    // on docGramFingerprints at sf1. Every such site now row-guards
    // and uses the _outer generator; this pins the shape for the swept
    // query set. These queries' only legitimate Filter conditions are
    // attribute comparisons and cheap size/notnull guards — a
    // `lambdafunction(` inside any Filter condition means the inferred
    // filter (and the duplicated derivation) is back.
    val swept = Seq("d12_dup_span_score", "d15_source_overlap",
      "d22_shared_passages", "d23_setsim_join", "d11_decontaminate",
      "f17_bigram_logprob", "f18_novelty", "c27_collusion_pairs",
      "g5_phash_neardup", "d2_minhash_lsh")
    for (q <- swept) {
      val plan = SparkEntry.queries(q)(spark, SF).queryExecution.optimizedPlan
      val offending = plan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.toString.contains("lambdafunction(") => f
      }
      // headOption: scalatest's assert evaluates the clue EAGERLY —
      // a bare .head here threw on the passing (empty) case
      assert(offending.isEmpty,
        s"$q has ${offending.size} lambda-bearing Filter(s) — the " +
          s"InferFiltersFromGenerate trap is back:\n${offending.headOption.getOrElse("")}")
    }
  }

  test("d14/d22 exchanges carry digests, not text: shuffle bytes per doc stay flat across scales") {
    // The round-14 scaling attribution (docs/SCALING_D14_D22.md): both
    // queries' exponents are explained ONLY IF the wire cost per doc
    // is scale-invariant — d14 shuffles md5 aggregate partials, d22
    // positioned 16-byte shingle digests, never the text itself. If a
    // refactor ever pushed the normalized text (or raw grams) through
    // an exchange, bytes/doc would jump ~10x; this pins the shape with
    // the same SQLMetrics instrument the bench studies use. Measured
    // flat at 39.8->38.4 (d14) and 2159->2137 (d22) B/doc across the
    // sf0.1->sf1 decade; the 2.5x tolerance is far under the failure
    // mode while absorbing compression/partitioning jitter.
    val sfSmall = "/root/testdata/sf0.001"
    val sfBig = "/root/testdata/sf0.01"
    def docsIn(dir: String): Long =
      graft.sources.Tables.table(spark, dir, "documents").count()
    val (nS, nB) = (docsIn(sfSmall), docsIn(sfBig))
    for (q <- Seq("d14_dedup_normalized", "d22_shared_passages")) {
      val perDocS =
        Bench.shuffleWriteMb(SparkEntry.queries(q)(spark, sfSmall)) * 1e6 / nS
      val perDocB =
        Bench.shuffleWriteMb(SparkEntry.queries(q)(spark, sfBig)) * 1e6 / nB
      assert(perDocB < perDocS * 2.5 && perDocS < perDocB * 2.5,
        s"$q shuffle bytes/doc moved across a decade: " +
          f"$perDocS%.1f (sf0.001) vs $perDocB%.1f (sf0.01) — " +
          "is the exchange carrying text instead of digests?")
    }
  }

  test("codegen cache: a warm pass of the benchmark's iterative queries compiles (almost) nothing") {
    // Spark keeps generated classes in ONE JVM-wide cache, 100 classes
    // by default; one pass of these three queries needs more than that,
    // so at the default every pass evicts its own classes and compiles
    // them all again (190 of 214 at sf0.001). GraftSession.local
    // sizes the cache to the corpus's working set (and turns artifact
    // isolation off, so every session shares one class loader and one
    // set of compiled classes). The cache starts empty so pass 1
    // counts the whole working set, whatever ran earlier in this JVM.
    // The counter ticks once per Janino compile; cache hits do not
    // count. The session comes first: touching CodeGenerator
    // initializes it, and it sizes its cache from the conf active then.
    val session = spark
    val codegen = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val cacheOf = codegen.getClass.getDeclaredMethod("cache")
    cacheOf.setAccessible(true)
    val cache = cacheOf.invoke(codegen)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    def pass(): Long = {
      val c0 = compiles.getCount
      for (q <- Seq("m1_curation_pipeline", "c30_collusion_pagerank", "c27_collusion_pairs"))
        SparkEntry.queries(q)(session, SF).write.format("noop").mode("overwrite").save()
      compiles.getCount - c0
    }
    val (cold, warm) = (pass(), pass())
    info(s"classes compiled: pass 1 $cold, pass 2 $warm")
    assert(cold > 100, s"pass 1 compiled only $cold classes: the case no longer exercises eviction")
    // AQE names whole-stage classes by stage id in the order it creates
    // stages, so a run whose stages finish in another order compiles a
    // few (2 to 6 seen); eviction recompiles far more (190 per pass)
    val warmBound = 20
    assert(warm <= warmBound,
      s"warm pass compiled $warm classes (cold pass: $cold): generated code is being evicted")
  }
}
