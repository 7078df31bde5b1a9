package graft

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints per-query wall seconds as JSON.
  *
  * Each query is fully materialized through the `noop` sink — a plain
  * count() would let Catalyst prune the very expressions being measured
  * (e.g. the fraud-score projection collapses to a join-count).
  *
  * Output protocol (the round-4 lesson: the driver keeps only the LAST
  * ~2000 characters of stdout, so one giant JSON line loses the whole
  * round's perf signal):
  *  1. a `{"metric":"studies",...}` line with the study entries
  *     (j1/j2/j3/h10/h11/e4/e6/e7/e8-persisted) and the cross-sf
  *     scaling object — diagnostic, may exceed the tail window;
  *  2. the COMPLETE result (headline + studies + scaling) written to
  *     `BENCH_FULL.json` in the working directory, where a size limit
  *     never applies;
  *  3. LAST line: the compact headline `{"metric":"total",...}` with
  *     the per-query map for the headline battery only. 68 names at
  *     ~26 bytes each ≈ 1.8 KB — inside the tail window; the full
  *     85-entry map at ≥ 2.1 KB is not, which is why the studies ride
  *     a separate line. If the line would still exceed 1900 bytes it
  *     is re-emitted at 2-decimal precision.
  *
  * Every measured time is the MIN OF TWO runs after an untimed warm-up
  * pass: round 4's only driver-visible anomaly (c7_approx at 9.48 s,
  * exponent 1.22) was a one-off host stall — steady-state reruns give
  * 1.5 s and a clean two-phase HLL plan (PLANS.md) — and a single-shot
  * protocol turns any such stall into a fake regression.
  */
object Bench {

  /** Extended set: measured identically to the headline battery
    * (warm-up + min-of-two) but reported on the studies line and in
    * BENCH_FULL.json only — the headline line must stay inside the
    * driver's ~1900-byte tail window, and at 79 names it already needs
    * the precision-drop fallback; growing it risks losing the whole
    * round's perf signal (the round-4 lesson).
    */
  val extended: Seq[String] = Seq(
    "b39_benford", "b40_grouping_sets", "b41_mode_median",
    "b42_window_distinct", "e11_radius_search", "e12_sq8_rerank",
    "c18_cusum_shift", "c19_cohort_retention",
    "c20_event_transitions", "f13_token_entropy", "f14_source_kl",
    "i17_weighted_sample", "c21_burstiness", "i18_source_profile",
    "b44_activity_streaks", "c22_mad_anomaly",
    "b37_hist_grouped_merge", "e13_knn_per_label", "c23_ks_drift",
    "c24_psi_drift",
    // round-7 rotation: long-stable merge/setops twins and secondary
    // family members moved here from the headline to make tail-window
    // room for the round-6 oracle battery (the verdict's ask) — they
    // are still measured identically and priced in BENCH_FULL.json,
    // and each keeps its primary sibling on the headline line
    "b3_join_broadcast", "c17_rule_table_score", "e9_filtered_topk",
    "b6_approx_distinct", "b34_semi_plain", "b34_bloom_prejoin",
    "b35_cms_merge", "b36_hll_merge", "b36_hll_grouped",
    "b37_hist_merge", "b38_kmv_merge", "b38_kmv_setops",
    "d10_embed_clusters_blocked", "d12_dup_span_agg",
    "d13_winnow_fingerprints", "e5_knn_join",
    "f3_token_count", "f4_fingerprint", "f11_chunk_split",
    "g4_embed_batched", "g6_phash_knn", "i16_stratified_k",
    // round-7 additions: the dormancy-reactivation report (c22's
    // one-exchange window class), the epoch/repetition plan (i19's
    // fold + closing algebra), ring/cluster resolution over the
    // c27/g5 pair graphs (d8's component loop on output-sized
    // inputs), and the quality-argmax keeper (d8's loop + the f2
    // projection + one id join)
    "c26_reactivation", "i21_epoch_plan", "c28_collusion_rings",
    "g8_phash_clusters", "d16_quality_keeper",
    // round-8 additions: the media quality keeper (g8's loop + the g7
    // audit join), the keeper-aware split (d16 + one md5 projection),
    // graph cohesion on the c27 pairs (wedge-close joins on the
    // output-sized graph), directional containment (d4's blocked
    // plan), and frame-level media dedup (one frame-digest shuffle +
    // capped in-cell expansion)
    "g9_quality_keeper", "i13b_keeper_split", "c29_collusion_cohesion",
    "d20_containment", "g10_shared_frames",
    // round-8 widening, second wave: IVF-routed PQ search (one
    // codegen'd corpus pass, the e3×e8 composition), fixed-point
    // PageRank (8 chained shuffles on the output-sized pair graph,
    // zero driver round-trips), and the shard manifest (one corpus
    // pass into a 32-row aggregate)
    "e15_ann_ivfpq", "c30_collusion_pagerank", "i23_shard_manifest",
    // temporal clip detection: one shingle-digest shuffle + capped
    // in-cell expansion + islands on the output-sized match table
    "g11_shared_clips",
    // manifest diff: two corpus passes into 32-row manifests + a
    // 32-row full-outer close
    "i24_manifest_diff",
    // batch routed ANN join: one coded corpus pass, explode to the
    // probing queries, per-query WindowGroupLimit
    "e17_ann_ivfpq_join",
    "e18_hybrid_rrf", "e19_embedding_drift", "f22_boilerplate_strip",
    "g12_flat_frames", "d21_lsh_scurve", "e20_capped_topk",
    "c31_peer_anomaly", "e21_pq_refine", "f23_pmi_collocations",
    "c32_sequence_motifs", "c33_motif_screen", "d22_shared_passages",
    "c34_decayed_spend", "f23b_pmi_merge", "c35_holt_forecast",
    "d23_setsim_join", "c36_touch_attribution", "c37_benford_screen",
    // structuring screen: pushed band filter (~3% of the fact) + one
    // user-keyed range window — no join
    "c39_structuring",
    // mergeable sample: per-shard WindowGroupLimit bottom-k + a
    // k·shards-row TakeOrdered close
    "i25_sample_merge",
    // sliding-window sketches: one corpus pass into a checkpointed
    // days×registers cell table; the trailing merge windows over that
    "b45_window_hll", "b46_window_quantile",
    // seasonal forecast: one (type, day) aggregate + an in-row fold;
    // its backtest reads the checkpointed daily cells twice
    "c40_holt_winters", "c41_hw_backtest",
    // IVF probe planner: five retrievals + the exact pass
    "e23_ivf_probe_sweep",
    // batch recall: two batch retrievals + a k-row semi-join grade
    "e24_batch_recall",
    // windowed-HLL accuracy harness: the exact side is the priced
    // cost (|pairs|x60 expansion) the sketch exists to avoid
    "b47_window_hll_error",
    // per-stratum bottom-k merge: two WindowGroupLimit cuts
    "i26_stratified_merge",
    // quantizer recon-error report: two encode passes + the orig join
    "e25_quant_error",
    // incremental set-sim join: delta-only shingle/rank passes + the
    // prefix collision join against the (recomputed-here) base index
    "d23b_setsim_incremental",
    // tokenizer apply: the f23 lexicon collect + one row-local fold
    // pass; its i9/i11 integrations add the packing/budget windows
    "f24_bpe_segment", "i9b_pack_bpe", "i11b_budget_bpe",
    // cluster diagnostics: one checkpointed candidate pass + the loop
    "d24_cluster_report",
    // windowed KMV set-ops: one corpus pass into the checkpointed
    // days×256 conditional-minima cells; two RANGE mins + the b38c
    // estimator algebra on the dense frame (round 10)
    "b48_window_kmv",
    // round-11 additions: rotated-PQ search (the staged rotation pass +
    // e8's fixed-size serve plan), the data-driven skew join (the
    // freqItems nomination + candidate-count decision passes + whichever
    // join the hitter table compiles — here the salted one), and the
    // two-generation incremental set-sim (d23b + the absorbed delta1)
    "e26_ann_opq", "c1_skew_auto", "d23c_setsim_refresh",
    // trailing uniform sample: one fact pass into days x k checkpointed
    // cells; the bounded cells x 60 expansion + one re-cut rank
    "b49_window_sample",
    // trailing top-k heavy hitters: one (day, key) aggregate into
    // days x m cells; bounded expansion + integer sums + per-day re-cut
    "b50_window_topk")

  /** Headline set: one representative per operator family, weighted
    * toward the scan/join/agg shapes that dominate at 100 TB. Since
    * round 7 it includes the round-6 oracle battery (f15–f21, c25,
    * c27, d17–d19, e14, g7, i19/i20/i22, b37c, the b43 pair) so the
    * driver's round-over-round totals see regressions in them; the
    * tail-window room came from rotating long-stable merge twins to
    * `extended` (still measured, still in BENCH_FULL.json).
    */
  val headline: Seq[String] = Seq(
    // M1 beside its stages (f15/d8/i13/i9 are priced individually in
    // the same artifact): one DAG vs the sum of islands, measured in
    // the SAME run
    "m1_curation_pipeline",
    "b1_filter_project", "b3_join_inner",
    "b5_agg_basic", "b8_sliding_window",
    "b9_upsert_latest", "b11_rank_topn", "b16_session_window", "b22_asof_join",
    "b24_ntile_approx", "b33_event_gaps",
    "b35_heavy_hitters_cms",
    // fixed-memory distinct-count / quantile sketches beside their exact
    // forms (b6 twins, b19's percentile): the 100 TB shapes — the
    // shuffle carries ≤256 registers / ≤64 cells regardless of NDV
    "b36_distinct_hll", "b37_quantile_hist", "b37_hist_grouped",
    "b38_kmv_distinct",
    // the b43 pair side-by-side: the |groups|-partition window vs the
    // histogram-rank rewrite
    "b43_feature_scale", "b43_feature_scale_approx",
    "c1_fraud_enrich", "c5_fraud_score",
    "c6_user_spend_trend",
    // exact c7 kept next to its approx twin so the sketch-vs-distinct
    // trade is measured in the SAME run (host CPU swings across runs)
    "c7_category_trend", "c7_category_trend_approx",
    "c11_zscore", "c15_trailing_window", "c16_ewma_spend",
    "b30_gapfill", "i4_load_diff", "i5_quality_audit",
    "c1_skew_plain", "c1_skew_salted",
    // the c25 exact/approx pair side-by-side (the b43/c7 pattern)
    "c25_gini_concentration", "c25_gini_approx", "c27_collusion_pairs",
    "d1_dedup_exact", "d14_dedup_normalized", "d2_minhash_lsh", "d4_ngram_jaccard",
    // the blocked (LSH-bucketed) dedup forms are what gets measured —
    // the all-pairs d5/d9 BNLJ forms are oracle-only (Verify still runs
    // them): an O(n²) pair enumeration must never be the headline plan
    "d5_embed_neardup_blocked", "d8_dedup_clusters",
    "d11_decontaminate", "d12_dup_span_score",
    "d15_source_overlap", "d17_minhash_quality", "d18_incremental_dedup",
    "d19_threshold_calibration",
    "e1_cosine_topk", "e2_ann_lsh", "e3_ann_ivf",
    "e7_ann_sq8", "e8_ann_pq", "e10_mmr_topk", "e14_ann_recall",
    "f2_quality", "f7_repetition",
    "f8_pii_redact", "f9_unigram_logprob", "f10_keywords",
    "f12_bm25_search",
    // the round-6/7 text-quality battery + the vocabulary-PSI pair
    // (exact vs the at-scale top-K+tail cut, full oracles on both)
    "f15_gopher_rules", "f16_boilerplate", "f17_bigram_logprob",
    "f18_novelty", "f20_zipf_slope", "f21_vocab_psi", "f21_vocab_psi_topk",
    "g1_multimodal_meta", "g5_phash_neardup", "g7_payload_audit",
    "i8_mixture_sample", "i9_pack_sequences",
    "i10_global_shuffle", "i11_token_budget", "i12_uniform_sample_k",
    "i13_leakage_safe_split", "i14_scd2_history",
    "i19_mixture_weights", "i20_curriculum_order", "i22_dedup_mixture")

  /** Queries measured min-of-FOUR instead of min-of-two: the c7
    * exact/approx pair exists to price the sketch-vs-distinct trade, and
    * two rounds of driver captures showed the pair is the battery's most
    * stall-sensitive reading (r4: approx 9.48 s one-off; r5: approx 3.41
    * vs steady-state 1.7) — a single co-timed stall inverts the verdict
    * the pair exists to deliver. Four reps bound that risk; steady-state
    * reproductions (5 warm reps, r6) give approx 1.66–1.88 s vs exact
    * 1.94–2.68 s. d2_minhash_lsh joined in round 7: its driver readings
    * moved 0.5 → 3.2 s across rounds on unchanged code (adjudicated as
    * a testdata-profile shift, r6 verdict), and as the feeder of
    * d7/d17/d18 its number carries the whole dedup family's signal.
    * b5_agg_basic joined in round 8 (the r7 verdict's item 1): its
    * driver reading moved 0.69 → 3.88 s on unchanged code — the
    * sf0.001/0.01 readings matched r6, so the one sf0.1 reading was a
    * stall, but it left the artifact of record carrying a super-linear
    * exponent (1.225) for the battery's most BASIC aggregate; the
    * membership rule is now standing policy: any headline entry whose
    * round-over-round ratio exceeds 2× on unchanged code joins this set.
    */
  private val minOfFour: Set[String] =
    Set("c7_category_trend", "c7_category_trend_approx", "d2_minhash_lsh",
      "b5_agg_basic")

  /** Prior committed readings ("queries" map of the artifact of
    * record), for the generalized stall guard: round 9's working-tree
    * capture carried f9 = 8.31 s / f8 = 5.94 s that re-measured at
    * 0.78 / 0.37 s on a quiet host — host contention during the one
    * bench pass, not code. The b5/c7/d2 "stall-sensitive set" policy
    * (fixed min-of-4 membership) generalizes into a DYNAMIC rule: any
    * query whose fresh min-of-reps exceeds 2× its prior committed
    * reading re-runs three more times before the artifact is written,
    * so a single co-timed stall can no longer poison the record. The
    * parse is a regex over the harness's OWN output format (flat
    * name:number pairs inside the "queries" object — values are never
    * nested), so there is no JSON library dependency.
    */
  private[graft] def priorReadings(path: String): Map[String, Double] = {
    val text = artifactText(path)
    // tolerate BOTH record shapes: the harness's own flat artifact
    // (`"queries":{`) and the driver's pretty-printed round wrapper
    // (`"queries": {` under "parsed") — whitespace-insensitive key
    // match, body to the first '}' (values are always flat numbers).
    // The wrapper's escaped "tail" string cannot false-match: its
    // quotes are backslash-escaped, so `"queries"` never appears.
    """"queries"\s*:\s*\{""".r.findFirstMatchIn(text) match {
      case Some(m) if text.indexOf('}', m.end) >= 0 =>
        val body = text.substring(m.end, text.indexOf('}', m.end))
        """"([^"]+)"\s*:\s*(-?\d+(?:\.\d+)?)""".r.findAllMatchIn(body)
          .map(g => g.group(1) -> g.group(2).toDouble).toMap
      case _ => Map.empty
    }
  }

  /** An artifact's text, or "" when it is missing or unreadable: the
    * one reader behind the prior, the prior filter and the scaling
    * carry-forward, none of which may abort a capture.
    */
  private def artifactText(path: String): String =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    catch { case NonFatal(_) => "" }

  /** Corpus-generation fingerprint: md5 over the sorted
    * `file:bytes:rows` listing of the scale dir's parquet files (rows
    * from the footers — no data scan). The driver REGENERATES testdata
    * every round, and round 13 proved a regeneration alone moves the
    * pair-graph family 2× (corpus pair density, zero code change) —
    * without a generation id in the record, a corpus move and a code
    * regression are indistinguishable, and per-query MIN priors
    * straddle generations (the r13 verdict item). The fingerprint
    * rides the artifact as `"corpus":"<hex>"`; prior records from a
    * DIFFERENT generation are excluded from the stall-guard prior.
    */
  private[graft] def corpusFingerprint(spark: SparkSession, sfDir: String): String = {
    // failure-isolated (round-14 advice): every other artifact/prior
    // read in this path is NonFatal-wrapped, and an unguarded footer
    // read here let ONE corrupt/partially-written parquet file abort
    // the entire capture. A file whose footer won't open fingerprints
    // as name:len only; an unlistable dir fingerprints as "unreadable"
    // (which corpus-matches nothing but itself, so priors stay fenced).
    try {
      val lines = parquetFiles(spark, sfDir).map { case (f, footer) =>
        val rowsPart =
          try s":${footer().getBlocks.asScala.map(_.getRowCount).sum}"
          catch { case NonFatal(_) => "" }
        s"${f.getPath.getName}:${f.getLen}$rowsPart"
      }
      java.security.MessageDigest.getInstance("MD5")
        .digest(lines.sorted.mkString("\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString.take(12)
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[bench] corpus fingerprint unavailable: ${e.getMessage}")
        "unreadable"
    }
  }

  /** Every parquet file under `dir` with a thunk that reads its footer:
    * the one footer walk behind [[corpusFingerprint]] (row counts) and
    * [[parquetSelectedMb]] (column-chunk sizes). A footer is read only
    * when its thunk is called, so a path-pruned file is never opened.
    */
  private def parquetFiles(spark: SparkSession, dir: String)
      : Seq[(org.apache.hadoop.fs.LocatedFileStatus,
             () => org.apache.parquet.hadoop.metadata.ParquetMetadata)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val it = root.getFileSystem(conf).listFiles(root, true)
    val files = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.LocatedFileStatus]
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet")) files += f
    }
    files.toSeq.map { f =>
      f -> (() => {
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
        try rd.getFooter finally rd.close()
      })
    }
  }

  /** Fingerprint recorded in an artifact's text, tolerant of the
    * driver wrapper's backslash-escaped "tail" form. None = a record
    * that predates fingerprinting.
    */
  private[graft] def parseCorpus(text: String): Option[String] =
    """\\?"corpus\\?":\\?"([0-9a-f]{6,})""".r
      .findFirstMatchIn(text).map(_.group(1))

  /** Prior-eligibility rule: a record from a DIFFERENT corpus
    * generation never feeds the stall-guard prior (its per-query MINs
    * belong to other data); a record with NO fingerprint predates the
    * mechanism and stays eligible until it ages out of the lookback.
    */
  private[graft] def corpusMatches(recorded: Option[String], current: String): Boolean =
    recorded.forall(_ == current)

  /** Per-query MIN across several committed records — the stall-guard
    * prior (round-11 verdict item 2: the artifact of record is
    * whatever capture the driver last committed, and a HOST-CONTENDED
    * capture — r11's 275.7 s vs the quiet-host 232.5 s — would
    * otherwise inflate every prior and silently loosen the >2× guard
    * next round). Min-merging the last few records keeps the guard
    * anchored to the best recent quiet reading, while the bounded
    * lookback (the caller passes BENCH_FULL + the last two driver
    * round artifacts) lets priors adapt when the regenerated corpus
    * legitimately moves a query. Non-positive readings never become
    * priors: -1 is a failed run, and 0.0 is the round wrapper's
    * 1-decimal rounding of a sub-0.05 s query — min-merging it would
    * erase a real prior. Pure and unit-tested (BenchSpec).
    */
  private[graft] def mergedPriors(records: Seq[Map[String, Double]]): Map[String, Double] =
    records.flatMap(_.toSeq).filter(_._2 > 0)
      .groupMapReduce(_._1)(_._2)(math.min)

  /** The committed records the prior reads: the artifact of record for
    * this scale plus, at the driver scale, the last two driver round
    * artifacts (`BENCH_r{NN}.json`) present in the working directory.
    */
  private[graft] def priorRecordPaths(sfDir: String): Seq[String] = {
    val primary = artifactFor(sfDir)
    val rounds =
      if (primary != "BENCH_FULL.json") Seq.empty
      else {
        val rx = """BENCH_r(\d+)\.json""".r
        val dir = new java.io.File(".")
        Option(dir.list()).toSeq.flatten.flatMap {
          case n @ rx(num) => Some(num.toInt -> n)
          case _ => None
        }.sortBy(-_._1).take(2).map(_._2)
      }
    primary +: rounds
  }

  /** The artifact-of-record path for a scale dir — ONE rule shared by
    * the writer and [[priorReadings]] (round-10 advice: the guard read
    * the sf0.1 record regardless of the running scale, so any larger-SF
    * run would have re-run nearly every query 3 extra times). The
    * committed record is the sf0.1 capture; other scales use a side
    * file so a small-SF iteration can never silently replace it.
    */
  private[graft] def artifactFor(sfDir: String): String =
    // path-normalized (round-11 advice: endsWith("sf0.1") misrouted a
    // trailing-slash path or a sibling dir like "mysf0.1")
    if (new java.io.File(sfDir).getName == "sf0.1") "BENCH_FULL.json"
    else s"BENCH_FULL_${new java.io.File(sfDir).getName}.json"

  /** Stall-guard decision for one fresh reading vs the committed prior:
    * `reruns` extra min-of reps to absorb a host stall, `suspect` =
    * record ONCE with a flag and never re-run. Pure and unit-tested
    * (BenchSpec) because round 10 showed the cost of getting it wrong
    * twice over: the >2×-mover rule had NO absolute ceiling, so a
    * genuine ~2.5× regression (e25's exploded plan, multi-minute runs)
    * was re-run 3 more times and the driver killed the whole bench at
    * its timeout — rc=124, no artifact of record. Rules:
    *  - no prior / prior ≤ 0 → measure once, trust it (new queries and
    *    scales with no committed record run unguarded);
    *  - fresh ≤ 2×prior or fresh ≤ 0.5 s → normal reading (sub-second
    *    jitter never burns reps);
    *  - fresh > `ceilingSecs` → a re-run cannot help and would eat the
    *    driver's bench budget: record once, flag `suspect`;
    *  - otherwise → 3 extra reps, min wins (a stall, not a plan).
    */
  private[graft] def stallGuard(prior: Option[Double], fresh: Double,
                                ceilingSecs: Double = 60.0): (Int, Boolean) =
    prior match {
      case Some(p) if p > 0 && fresh > 2 * p && fresh > 0.5 =>
        if (fresh > ceilingSecs) (0, true) else (3, false)
      case _ => (0, false)
    }

  /** Suspect decision for STUDY seconds (round-12 verdict item 5:
    * a streaming volume study's 4× run read 3.2× its prior — a
    * host-contended streaming read — and nothing flagged it, silently
    * swinging the derived marginal-rows/s 3×). Studies are multi-minute
    * protocols, not single queries, so there is no cheap re-run: a >2× mover is
    * recorded once and FLAGGED, the same record-once arm stallGuard
    * takes past its ceiling. Same jitter floor as stallGuard (sub-0.5 s
    * readings never flag).
    */
  private[graft] def studySuspect(prior: Option[Double], fresh: Double): Boolean =
    prior.exists(p => p > 0 && fresh > 2 * p && fresh > 0.5)

  /** Round-14 verdict item 2: the re-run arm recorded a
    * PERSISTENTLY-slow reading unflagged — the r14 driver capture has
    * e3_ann_ivf at 17.1 s vs a 0.967 s committed same-corpus prior
    * (17.7×), absent from the suspect list, indistinguishable from a
    * genuine plan regression to any reader. If the min over
    * fresh+re-runs is STILL >2× the prior, the stall hypothesis failed:
    * keep the min as the recorded value, but FLAG it (same predicate
    * and jitter floor as [[studySuspect]]).
    */
  private[graft] def rerunStillSuspect(prior: Option[Double], rerunMin: Double): Boolean =
    studySuspect(prior, rerunMin)

  /** Round-14 verdict item 3: a capture with more than `threshold`
    * suspect entries is host-contended as a WHOLE (the r14 driver
    * capture carried 11 vs the quiet capture's 1) — its per-query
    * readings would poison the stall-guard prior and the scaling
    * carry-forward if merged. The artifact records
    * `"contaminated":true` and readers ([[mergedPriors]] input filter,
    * [[carryForwardScaling]] source) decline it.
    */
  private[graft] def contaminated(suspectCount: Int, threshold: Int = 5): Boolean =
    suspectCount > threshold

  /** Contamination marker in an artifact's text, tolerant of the driver
    * wrapper's backslash-escaped tail form (like [[parseCorpus]]).
    * Absent = clean (records predating the mechanism stay eligible).
    */
  private[graft] def parseContaminated(text: String): Boolean =
    """\\?"contaminated\\?":true""".r.findFirstIn(text).isDefined

  /** The two-volume fixed/marginal split (h12/h17/h20 maintenance
    * protocol): t = batches×fixed + rows×marginal, measured at x1 and
    * x4 row volume over the same batch count, so
    * marginal = 3r/(t4−t1). The difference is only trustworthy when
    * the volumes actually separate: t4 ≤ t1 is a noise inversion, and
    * (round-12 advice) t4 a hair above t1 fabricates an arbitrarily
    * huge marginal from pure jitter — both report marginal = -1 and
    * fall back to fixed = t1/batches. 10% minimum separation ≈ 3× the
    * observed sub-second jitter on these multi-second readings. A
    * failed run (-1) on either volume reports -1 for both terms.
    */
  private[graft] def volumeSplit(t1: Double, t4: Double, r: Double,
                                 nBatches: Double): (Double, Double) =
    if (t1 < 0 || t4 < 0) (-1.0, -1.0)
    else if (t4 > 1.1 * t1) {
      val marginal = 3.0 * r / (t4 - t1)
      ((t1 - r / marginal) / nBatches, marginal)
    } else (t1 / nBatches, -1.0)

  /** Parse one artifact's `"scaling":{...}` block into per-query
    * ordered (key, literal-value) lists. Inner entry objects are flat
    * (no nested braces), so the regex walk is exact; values stay
    * verbatim strings so a parse→merge→serialize round-trip is
    * byte-stable.
    */
  private[graft] def parseScalingBlock(text: String): Seq[(String, Seq[(String, String)])] = {
    val start = text.indexOf("\"scaling\":{")
    if (start < 0) return Seq.empty
    val body = {
      // walk to the matching close brace of the scaling object
      var depth = 0; var i = text.indexOf('{', start); var end = -1
      while (end < 0 && i < text.length) {
        text.charAt(i) match {
          case '{' => depth += 1
          case '}' => depth -= 1; if (depth == 0) end = i
          case _ =>
        }
        i += 1
      }
      if (end < 0) return Seq.empty
      text.substring(text.indexOf('{', start) + 1, end)
    }
    """"([^"]+)"\s*:\s*\{([^}]*)\}""".r.findAllMatchIn(body).map { m =>
      m.group(1) ->
        """"([^"]+)"\s*:\s*(-?\d+(?:\.\d+)?)""".r.findAllMatchIn(m.group(2))
          .map(kv => kv.group(1) -> kv.group(2)).toSeq
    }.toSeq
  }

  /** Carry scaling DECADES forward across artifact rewrites (round-12
    * verdict item 4: the driver's per-round capture runs without
    * SPARK_GRAFT_SF1_DIR, and committing it as-is erased the committed
    * record's 47 `t_sf1`/`exp_sf1` columns — the four-decade scaling
    * evidence). For every query present in the FRESH capture, keys the
    * fresh entry lacks are appended from the previous artifact of
    * record, so a decade measured once survives until a capture
    * actually re-measures it (fresh values always win on shared keys —
    * t_sf1 and exp_sf1 travel as a pair from ONE capture, so the
    * carried exponent stays internally consistent even when the new
    * t_sf01 moved). Queries only in the previous record are dropped:
    * a renamed or retired scaling entry must not linger forever.
    */
  private[graft] def carryForwardScaling(fresh: String, prevArtifact: String): String = {
    val prev = parseScalingBlock(prevArtifact).toMap
    val freshEntries = parseScalingBlock("\"scaling\":" + fresh)
    if (freshEntries.isEmpty) return fresh
    freshEntries.map { case (name, kvs) =>
      val have = kvs.map(_._1).toSet
      val carried = prev.getOrElse(name, Seq.empty).filterNot(kv => have(kv._1))
      s""""$name":${(kvs ++ carried).map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")}"""
    }.mkString("{", ",", "}")
  }

  /** One bench reading. `seconds=false` marks study metrics in OTHER
    * units (bytes-on-disk MB, rows/s, cells/batch, state rows): they
    * ride the studies map and BENCH_FULL.json like everything else but
    * are excluded from the `"unit":"sec"` total BY TYPE — the round-6
    * advice: the first r6 capture summed maintenance rows/s into a
    * 146,838-"second" total because exclusion hung on a name-suffix
    * convention the next study author had to remember.
    */
  final case class Metric(name: String, value: Double,
                          seconds: Boolean = true)

  /** The one timer: wall seconds of `f`, or -1 (logged under `label`)
    * when it throws — a failed reading stays in the artifact as -1
    * instead of discarding the completed ones. Throwable, not NonFatal:
    * a StackOverflowError from one deep plan must read -1, never cost
    * the headline line.
    */
  private[graft] def time(label: String)(f: => Unit): Metric =
    try {
      val t0 = System.nanoTime(); f
      Metric(label, (System.nanoTime() - t0) / 1e9)
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] $label failed: ${e.getMessage}")
        Metric(label, -1.0)
    }

  /** [[time]] after one untimed run of `f`: the first run of a plan
    * pays its whole-stage codegen and JIT, which is not the plan's cost.
    */
  private def warmTime(label: String)(f: => Unit): Metric = {
    time(s"$label warm-up")(f)
    time(label)(f)
  }

  /** Min over `reps` runs (`once` gets the rep number, 1-based, so a
    * rep can key its own checkpoint): one host stall (GC pause, CPU
    * steal) must not read as a plan regression. A failed rep (-1) is
    * ignored; -1 only when every rep failed.
    */
  private[graft] def minOf(reps: Int)(once: Int => Double): Double = {
    val ok = (1 to reps).map(once).filter(_ >= 0)
    if (ok.isEmpty) -1.0 else ok.min
  }

  /** Declared study metrics at their failure value: wall seconds
    * ([[secs]]) or another unit ([[units]], out of the seconds total).
    */
  private[graft] def secs(names: String*): Seq[Metric] = names.map(Metric(_, -1.0))
  private[graft] def units(names: String*): Seq[Metric] =
    names.map(Metric(_, -1.0, seconds = false))

  /** A study's scratch dir: a FIXED name under java.io.tmpdir, so a dir
    * that a killed run left behind is the one the next run clears.
    */
  private[graft] def scratchDir(study: String): java.io.File =
    new java.io.File(new java.io.File(System.getProperty("java.io.tmpdir"), "graft_bench"), study)

  /** The one study scaffold. `declared` names every metric the study
    * reports, in output order, with its `seconds` flag and its failure
    * value, -1 ([[secs]] / [[units]]). The body returns its readings by
    * name and the declaration alone sets the flag. A declared name the
    * body did not reach reads -1; a body that throws (an in-run answer
    * check's `require` included) reads -1 on every declared name,
    * logged once, so the failure shape is the success shape. The body
    * gets the study's [[scratchDir]], cleared before it runs (a killed
    * run heals on the next one) and deleted after it, whatever
    * happened. Throwable, like [[time]]: no study may cost the
    * headline line.
    */
  private[graft] def study(name: String, declared: Seq[Metric])(
      body: String => Seq[Metric]): Seq[Metric] = {
    val dir = scratchDir(name)
    try {
      FileUtils.deleteDirectory(dir)
      val got = body(dir.getPath).map(m => m.name -> m.value).toMap
      val undeclared = got.keySet -- declared.map(_.name)
      require(undeclared.isEmpty, s"undeclared metrics ${undeclared.mkString(", ")}")
      declared.map(d => d.copy(value = got.getOrElse(d.name, d.value)))
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] $name study failed: ${e.getMessage}")
        declared
    } finally {
      FileUtils.deleteQuietly(dir)
      dir.getParentFile.delete() // the shared parent, once it is empty
    }
  }

  /** Managed tables a study writes: dropped (catalog entry and
    * warehouse dir) before the body runs and after it.
    */
  private def withManagedTables(spark: SparkSession, names: Seq[String])(
      body: => Seq[Metric]): Seq[Metric] = {
    names.foreach(Tables.dropManagedTable(spark, _))
    try body
    finally names.foreach(n =>
      try Tables.dropManagedTable(spark, n) catch { case NonFatal(_) => () })
  }

  /** Full materialization through the `noop` sink (see the header). */
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The studies, in run order. Each runs through [[study]]. */
  private val studies: Seq[(SparkSession, String) => Seq[Metric]] = Seq(
    bucketedJoinStudy, curationGateStudy, annIndexStudy, compactionStudy,
    codecStudy, layoutStudy, partitionPruneStudy, columnPruneStudy,
    zorderStudy, maintenanceStudy, windowedVolumeStudy, setSimIndexStudy,
    pairDensityStudy)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    // Full untimed warm-up pass: whole-stage-codegen class generation +
    // JIT compilation is a one-time per-plan cost (~8s observed on the
    // minhash sketch) that would otherwise land on whichever query runs
    // it first. Same data dir so AQE re-plans identically and the second
    // (measured) pass reuses the compiled classes — steady-state numbers.
    (headline ++ extended).foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        try noop(fn(spark, sfDir))
        catch {
          case NonFatal(e) =>
            System.err.println(s"[bench] warm-up $name failed: ${e.getMessage}")
        }
      }
    }

    // priors only from records of THIS corpus generation (regeneration
    // moves corpus-dependent timings legitimately — r13's pair family
    // doubled on zero code change; a cross-generation MIN would read
    // that as a permanent >2× mover every round)
    val corpusFp = corpusFingerprint(spark, sfDir)
    val prior = mergedPriors(priorRecordPaths(sfDir).map { p =>
      val text = artifactText(p)
      if (parseContaminated(text)) {
        // a host-contended capture (round-14: 11 suspects) never feeds
        // the prior — its MINs are contention readings, not plans
        System.err.println(s"[bench] $p is marked contaminated — " +
          "excluded from the stall-guard prior")
        Map.empty[String, Double]
      } else if (corpusMatches(parseCorpus(text), corpusFp)) priorReadings(p)
      else {
        System.err.println(s"[bench] $p is from corpus ${parseCorpus(text).get} " +
          s"(current $corpusFp) — excluded from the stall-guard prior")
        Map.empty[String, Double]
      }
    })
    val suspects = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = (headline ++ extended).flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        def once(): Double = time(name)(noop(fn(spark, sfDir))).value
        // min of two (four for the stall-sensitive set)
        val fresh = minOf(if (minOfFour(name)) 4 else 2)(_ => once())
        // the generalized >2×-mover rule with an absolute ceiling (see
        // stallGuard): a doubled reading re-measures min-of-3 before it
        // may enter the artifact; a reading past the ceiling is a
        // regression no re-run can absorb — record once, flag suspect
        val guarded = stallGuard(prior.get(name), fresh) match {
          case (reruns, false) if reruns > 0 =>
            val v = (fresh +: Seq.fill(reruns)(once()).filter(_ >= 0)).min
            System.err.println(f"[bench] $name moved >2x vs committed " +
              f"(${prior(name)}%.3f -> $fresh%.3f); min-of-$reruns re-run -> $v%.3f")
            // the re-runs did NOT absorb it: a persistent >2x mover is
            // recorded once but FLAGGED (round-14 verdict item 2 — the
            // unflagged arm hid a 17.7x reading from artifact readers)
            if (rerunStillSuspect(prior.get(name), v)) {
              suspects += name
              System.err.println(f"[bench] $name SUSPECT: still >2x committed " +
                f"${prior(name)}%.3f s after re-runs ($v%.3f s) — flagged")
            }
            v
          case (_, true) =>
            suspects += name
            System.err.println(f"[bench] $name SUSPECT: $fresh%.3f s is >2x " +
              f"committed ${prior(name)}%.3f s AND past the re-run ceiling — " +
              "recorded once, flagged, not re-run")
            fresh
          case _ => fresh
        }
        Metric(name, guarded)
      }
    }
    val all: Seq[Metric] = results ++ studies.flatMap(_(spark, sfDir))
    // study seconds ride the same suspect discipline as query seconds
    // (round-12 verdict item 5) — flag-only, studies have no cheap
    // re-run; the guarded headline/extended names were already handled
    val guardedNames = results.map(_.name).toSet
    all.foreach { m =>
      if (m.seconds && !guardedNames(m.name) &&
          studySuspect(prior.get(m.name), m.value)) {
        suspects += m.name
        System.err.println(f"[bench] study ${m.name} SUSPECT: ${m.value}%.3f s " +
          f"is >2x committed ${prior(m.name)}%.3f s — recorded once, flagged")
      }
    }
    // decades the fresh capture lacks (t_sf1/exp_sf1) carry forward
    // from the artifact of record instead of being erased by the write
    val scaling = scalingStudy(spark, sfDir, all.map(m => m.name -> m.value).toMap)
      .map { s =>
        val prevText = artifactText(artifactFor(sfDir))
        // a contaminated previous record never becomes the scaling source
        // (round-14 verdict item 3) — carry from nothing instead
        carryForwardScaling(s, if (parseContaminated(prevText)) "" else prevText)
      }
    // Locale.ROOT: a comma-decimal default locale would emit invalid JSON
    def num(v: Double, decimals: Int = 3): String =
      String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))
    def qmap(entries: Seq[Metric], decimals: Int = 3): String =
      entries.map(m => "\"" + m.name + "\":" + num(m.value, decimals))
        .mkString("{", ",", "}")
    val headlineNames = headline.toSet
    val (headQs, studyQs) = all.partition(m => headlineNames(m.name))
    // only seconds-typed metrics enter the "unit":"sec" total — by the
    // Metric tag, not a name convention (round-6 advice)
    val total = all.collect {
      case m if m.seconds && m.value >= 0 => m.value
    }.sum
    val nonSecondsList = all.filterNot(_.seconds).map(m => "\"" + m.name + "\"")
      .mkString("[", ",", "]")
    val scalingPart = scaling.map(s => s""","scaling":$s""").getOrElse("")
    // 1. studies + scaling: its own line, size-unconstrained (diagnostic)
    println(s"""{"metric":"studies","queries":${qmap(studyQs)}$scalingPart,"sf":"$sfDir"}""")
    // 2. the complete artifact on disk (cwd = repo root under the driver);
    // non_seconds names which queries entries are NOT wall-seconds
    val suspectList = suspects.map("\"" + _ + "\"").mkString("[", ",", "]")
    val isContaminated = contaminated(suspects.size)
    if (isContaminated)
      System.err.println(s"[bench] capture CONTAMINATED: ${suspects.size} " +
        "suspect entries — this record will not feed priors or scaling")
    val full = s"""{"metric":"total","value":${num(total)},"unit":"sec",""" +
      s""""queries":${qmap(all)},"non_seconds":$nonSecondsList,""" +
      s""""suspect":$suspectList,"contaminated":$isContaminated,""" +
      s""""corpus":"$corpusFp","sf":"$sfDir"$scalingPart}"""
    // the committed artifact of record is the sf0.1 capture (the
    // driver's scale); local runs at OTHER scales write a side file so
    // a small-SF iteration can never silently replace the record (it
    // happened twice in round 6 via blanket `git add -u`); the rule
    // lives in artifactFor, shared with the stall guard's prior read
    val artifact = artifactFor(sfDir)
    try java.nio.file.Files.write(java.nio.file.Paths.get(artifact),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] $artifact write failed: ${e.getMessage}")
    }
    // 3. LAST line: compact headline, kept inside the driver's tail
    // window — precision drops until it fits (at headline.size ≈ 78
    // names the 3-decimal form runs ~1.9 KB, right at the edge; 0
    // decimals is the last resort and still ranks regressions coarsely)
    // the headline carries the corpus fingerprint too: the driver's
    // round record is a stdout capture, and the prior filter must be
    // able to date THOSE records to a generation as well
    // the contamination flag rides the headline too — the driver's
    // round record is a stdout capture, and the prior filter must be
    // able to decline THOSE records as well (marker-only when true, so
    // the clean case costs no headline length)
    val contamPart = if (isContaminated) ""","contaminated":true""" else ""
    def headLine(decimals: Int): String =
      s"""{"metric":"total","value":${num(total, decimals)},"unit":"sec",""" +
        s""""queries":${qmap(headQs, decimals)},"corpus":"$corpusFp"$contamPart,"sf":"$sfDir"}"""
    println(Iterator(3, 2, 1, 0).map(headLine)
      .find(_.length <= 1900).getOrElse(headLine(0)))
    spark.stop()
  }

  /** Shuffle bytes WRITTEN by the finalized plan of df's own execution
    * (never a .write's separate QueryExecution — the round-7 rule):
    * walk adaptive stages, dedup shared stage objects, skip reused
    * exchanges (their metrics alias the original's). The wire-cost
    * instrument behind the j1 `_mb` twins and the d14/d22 scaling
    * measurements (`graft.tools.Probe scale`).
    */
  private[graft] def shuffleWriteMb(df: org.apache.spark.sql.DataFrame): Double =
    shuffleWriteMbAndRows(df)._1

  /** [[shuffleWriteMb]] plus the result row count FROM THE SAME
    * EXECUTION (the collected array's length) — round-14 advice: a
    * follow-up df.count() silently re-executes the whole query, both
    * inflating a probe's wall time and reading metrics off a different
    * run than the rows it reports.
    */
  private[graft] def shuffleWriteMbAndRows(
      df: org.apache.spark.sql.DataFrame): (Double, Long) = {
    val nRows = df.collect().length.toLong
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val seen = scala.collection.mutable.Set[Int]()
    var bytes = 0L
    def walk(p: SparkPlan): Unit = {
      if (!seen.add(System.identityHashCode(p))) return
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _: ReusedExchangeExec => ()
        case other =>
          other.metrics.get("shuffleBytesWritten").foreach(m => bytes += m.value)
          other.children.foreach(walk)
      }
    }
    walk(df.queryExecution.executedPlan)
    (bytes / 1e6, nRows)
  }

  /** Pair-density companions for the pair-graph family (round-13
    * verdict item 5): the candidate/edge-pair COUNT of each family's
    * graph, recorded beside its timing so a corpus regeneration that
    * moves the density (r13: the family doubled on zero code change)
    * is distinguishable from a plan regression in the record itself.
    * Counts, not seconds (`seconds = false` — the round-6 rule keeps
    * them out of the `"unit":"sec"` total by TYPE), one study each so
    * one failing count leaves the others:
    *  - `g5_pairs`: the banded pHash pair graph — g8's clusters and
    *    g9's keepers consume this IDENTICAL graph, so one metric
    *    covers the phash trio;
    *  - `c28_pairs`: the minShared=6 strong-edge collusion graph the
    *    ring components resolve over;
    *  - `d16_pairs`: the MinHash-LSH candidate pairs d8/d16 cluster;
    *  - `e17_pairs`: the (query, vector) candidates the 256-query
    *    batch ADC scan evaluates (cell-histogram form — bounded
    *    driver state, no extra corpus pass).
    */
  private def pairDensityStudy(spark: SparkSession, sfDir: String): Seq[Metric] = {
    import graft.operators.{Dedup, Fraud, Multimodal, Similarity}
    def t(name: String) = Tables.table(spark, sfDir, name)
    Seq[(String, () => Long)](
      "g5_pairs" -> (() =>
        Multimodal.phashNearDup(Multimodal.withPayload(t("documents"))).count()),
      "c28_pairs" -> (() => Fraud.collusionPairs(t("events"), minShared = 6).count()),
      "d16_pairs" -> (() => Dedup.minhashCandidates(t("documents")).count()),
      "e17_pairs" -> (() =>
        Similarity.ivfPqJoinCandidateCount(t("embeddings"), 0L until 256L))
    ).flatMap { case (name, pairs) =>
      study(name, units(name))(_ => Seq(Metric(name, pairs().toDouble)))
    }
  }

  /** Bytes an object-store reader must FETCH for a parquet scan,
    * computed from footer metadata: Σ compressed column-chunk sizes
    * over the files passing `pathKeep` (partition pruning), the row
    * groups passing `blockKeep` (min/max predicate pruning — the same
    * statistics test parquet's own StatisticsFilter runs), and the
    * columns in `cols` (projection pruning / ReadSchema).
    *
    * Why metadata-derived and not a task-metrics listener: on the
    * local filesystem, parquet data pages are fetched with POSITIONAL
    * reads that bypass Hadoop FileSystem statistics — measured this
    * round: a scan decoding a 551 KB text column counts 3.4 KB
    * (footer stream reads only), vectorized or not. The listener
    * numbers therefore tracked files-OPENED, not bytes; this helper
    * reports the quantity the studies actually claim — the bytes a
    * range-request reader (S3 GET, cache fill, egress) must move.
    */
  private def parquetSelectedMb(
      spark: SparkSession, dir: String, cols: Set[String],
      blockKeep: org.apache.parquet.hadoop.metadata.BlockMetaData => Boolean = _ => true,
      pathKeep: org.apache.hadoop.fs.Path => Boolean = _ => true): Double =
    parquetFiles(spark, dir).filter(f => pathKeep(f._1.getPath)).map { case (_, footer) =>
      footer().getBlocks.asScala.filter(blockKeep).flatMap(_.getColumns.asScala)
        .filter(c => cols.contains(c.getPath.toDotString)).map(_.getTotalSize).sum
    }.sum / 1e6

  /** Row-group min OR max of a NUMERIC column (double/float/long/int)
    * from footer statistics, widened to double; None when stats are
    * absent (callers treat that as "cannot prune" — the reader's own
    * conservative behavior).
    */
  private def blockNum(b: org.apache.parquet.hadoop.metadata.BlockMetaData,
                       name: String, wantMax: Boolean): Option[Double] =
    b.getColumns.asScala.find(_.getPath.toDotString == name).flatMap { c =>
      val st = c.getStatistics
      if (st == null || !st.hasNonNullValue) None
      else (if (wantMax) st.genericGetMax else st.genericGetMin) match {
        case d: java.lang.Double  => Some(d.doubleValue)
        case f: java.lang.Float   => Some(f.doubleValue)
        case l: java.lang.Long    => Some(l.doubleValue)
        case i: java.lang.Integer => Some(i.doubleValue)
        case _                    => None
      }
    }

  /** j8 layout study: Z-ORDER (Morton) clustering — the 2-D extension
    * of j4. A sort on ONE column buys selective scans on that column
    * only: its row groups still span the full range of every OTHER
    * column, so a second predicate prunes nothing. Bit-interleaving
    * two equi-depth 8-bit column ranks into one sort key makes each
    * row group a narrow CUBE (in row mass) in both dimensions — a
    * conjunctive two-predicate scan prunes on both. The same events
    * fact is written at the SAME file granularity (64 range files)
    * twice: sorted by `value`, and sorted by morton(value₈, user₈);
    * the probe is value ≥ p75 AND user_id ≤ p25 (~6% of rows), bytes
    * are footer-derived with the same two-sided min/max row-group test
    * parquet's StatisticsFilter runs, and both layouts' answers must
    * be equal in-run (the j6 rule: a disagreement reads -1). At 64
    * files the z-prefix is an 8×8 grid: expect the 1-D layout to
    * fetch ~25% (only the value predicate prunes) and the Z layout
    * ~6–12% — and the gap WIDENS with file count, which is the 100 TB
    * story (thousands of row groups ⇒ the grid refines).
    */
  private[graft] def zorderStudy(spark: SparkSession, sfDir: String): Seq[Metric] = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    // equi-DEPTH 8-bit ranks: 255 approx-quantile boundaries per
    // dimension (value is SKEWED — a range-linear rank packed 75% of
    // rows into the bottom bits and the first cut of this study
    // pruned everything on both layouts; depth-balanced ranks make
    // the Z-grid uniform in row mass whatever the distribution)
    def rank8(c: Column, bounds: Array[Double]): Column =
      aggregate(typedLit(bounds.toSeq), lit(0L),
        (acc, b) => acc + when(c.cast("double") >= b, 1L).otherwise(0L))
    def morton(x: Column, y: Column): Column =
      (0 until 8).map { i =>
        shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i + 1)
          .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i))
      }.reduce(_ bitwiseOR _)
    study("j8_zorder", secs("j8_sort1d_cost", "j8_zorder_cost") ++
        units("j8_scan_sorted1d_mb", "j8_scan_zorder_mb")) { dir =>
      val (dir1d, dirZ) = (s"$dir/sorted1d", s"$dir/zorder")
      val ev = Tables.table(spark, sfDir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .filter(col("value").isNotNull)
      val probs = (1 until 256).map(_ / 256.0).toArray
      val vBounds = ev.stat.approxQuantile("value", probs, 0.001)
      val uBounds = ev.select(col("user_id").cast("double").as("u"))
        .stat.approxQuantile("u", probs, 0.001)
      // the probe: top-quartile value AND bottom-quartile user (~6%)
      val vThr = vBounds(191) // p75
      val uThr = uBounds(63)  // p25
      def answer(d: String) = spark.read.parquet(d)
        .filter(col("value") >= vThr && col("user_id") <= uThr)
        .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,6)")).as("s"))
        .head()
      val c1 = time("j8_sort1d_cost")(Tables.writeClustered(ev, dir1d, "value", 64))
      val cz = time("j8_zorder_cost")(
        ev.withColumn("zval",
            morton(rank8(col("value"), vBounds),
              rank8(col("user_id"), uBounds)))
          .repartitionByRange(64, col("zval"))
          .sortWithinPartitions(col("zval"))
          .write.mode("overwrite").parquet(dirZ))
      if (c1.value < 0 || cz.value < 0) Seq(c1, cz)
      else {
        val (a1, a2) = (answer(dir1d), answer(dirZ))
        require(a1 == a2, s"j8 layouts DISAGREE: $a1 vs $a2")
        val keep = (b: org.apache.parquet.hadoop.metadata.BlockMetaData) =>
          blockNum(b, "value", wantMax = true).forall(_ >= vThr) &&
            blockNum(b, "user_id", wantMax = false).forall(_ <= uThr)
        Seq(c1, cz,
          Metric("j8_scan_sorted1d_mb", parquetSelectedMb(spark, dir1d, Set("value", "user_id"), keep)),
          Metric("j8_scan_zorder_mb", parquetSelectedMb(spark, dirZ, Set("value", "user_id"), keep)))
      }
    }
  }

  /** j4 layout study: sort-clustering as a scan-pruning lever. The same
    * events fact is written twice — hash-shuffled (every file's value
    * min/max spans the full range) and range-partitioned +
    * sorted-within-partitions on `value` (each file covers a narrow
    * slice) — and the same ~1%-selectivity scan measured against both:
    * wall time AND bytes fetched (`j4_scan_*_mb`). Parquet skips row
    * groups whose min/max excludes the predicate, so the clustered
    * layout fetches ~1 narrow slice while the scattered one moves
    * every value chunk; locally the SECONDS are task-overhead-flat,
    * but the BYTES collapse — and bytes are the axis that prices an
    * object-store scan (plus cache footprint and egress) at 100 TB.
    * The byte metric is footer-metadata-derived ([[parquetSelectedMb]]
    * with the same min/max test StatisticsFilter applies) because
    * local positional reads bypass FS statistics — the listener this
    * study used through round 8 measured files-opened, not bytes.
    * One-time rewrite cost as `j4_sort_cost`; this is the
    * single-column form of the Z-order/clustering trade.
    */
  private def layoutStudy(spark: SparkSession, sfDir: String): Seq[Metric] = {
    import org.apache.spark.sql.functions._
    study("j4_layout", secs("j4_scan_unsorted") ++ units("j4_scan_unsorted_mb") ++
        secs("j4_sort_cost", "j4_scan_sorted") ++ units("j4_scan_sorted_mb")) { dir =>
      val (unsortedDir, sortedDir) = (s"$dir/unsorted", s"$dir/sorted")
      val ev = Tables.table(spark, sfDir, "events")
        .select("event_id", "user_id", "event_type", "ts", "value")
      // ~1% selectivity pinned to the DATA's own 99th percentile (the
      // value distribution is not unit-range), computed once untimed
      val threshold = ev.stat.approxQuantile("value", Array(0.99), 0.001).head
      // the scan decodes only `value` (filter + sum); a row group must be
      // fetched iff its max(value) survives the predicate — missing stats
      // fetch (the reader's own conservative rule)
      def measuredScan(label: String, d: String): Seq[Metric] = Seq(
        warmTime(label)(noop(spark.read.parquet(d)
          .filter(col("value") >= threshold)
          .agg(count(lit(1)).as("n"), sum(col("value")).as("s")))),
        Metric(s"${label}_mb", parquetSelectedMb(spark, d, Set("value"),
          blockKeep = b => blockNum(b, "value", wantMax = true).forall(_ >= threshold))))
      ev.repartition(16, col("event_id")).write.mode("overwrite").parquet(unsortedDir)
      val cost = time("j4_sort_cost")(Tables.writeClustered(ev, sortedDir, "value"))
      measuredScan("j4_scan_unsorted", unsortedDir) ++ Seq(cost) ++
        (if (cost.value >= 0) measuredScan("j4_scan_sorted", sortedDir) else Nil)
    }
  }

  /** j5 layout study: HIVE-PARTITION pruning — the directory-level
    * sibling of j4's row-group pruning, and the axis A6/A7 build on.
    * The same events fact is written flat (16 hash files) and
    * date-partitioned (one file per day via a repartition on the
    * partition column — 30 directories at any SF, since the generated
    * corpus spans 30 days); the same one-day scan+aggregate runs
    * against both. Against the flat layout the day filter reads every
    * file and drops rows post-decode; against the partitioned one the
    * FILE LISTING excludes 29/30 directories before a byte moves —
    * `PartitionFilters` in the plan, bytes ~1/30. At 100 TB this is
    * the difference between a full-corpus object-store sweep and one
    * prefix listing; partition pruning composes with j4's
    * sort-clustering (prune directories, then row groups WITHIN the
    * day). One-time layout cost as `j5_partition_write_cost`; bytes
    * metrics ([[parquetSelectedMb]], footer-derived — see there for
    * why not a listener) carry the evidence locally where seconds are
    * task-overhead-flat (the j4 lesson). Two pruning wins compound in
    * the metric: 29/30 directories never open, and the partition
    * column itself rides the directory name — the flat layout decodes
    * `event_date` chunks the partitioned one doesn't store.
    */
  private def partitionPruneStudy(spark: SparkSession, sfDir: String): Seq[Metric] = {
    import org.apache.spark.sql.functions._
    study("j5_prune", secs("j5_scan_flat") ++ units("j5_scan_flat_mb") ++
        secs("j5_partition_write_cost", "j5_scan_pruned") ++ units("j5_scan_pruned_mb")) { dir =>
      val (flatDir, partDir) = (s"$dir/flat", s"$dir/bydate")
      val ev = Tables.table(spark, sfDir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), to_date(col("ts")).cast("string").as("event_date"))
      // the probe day: the MEDIAN calendar day, computed once
      // untimed — the first day of a ramp-up corpus is its sparsest
      // partition and would overstate the pruning ratio
      val day = {
        val days = ev.select(col("event_date")).distinct()
          .orderBy(col("event_date")).collect().map(_.getString(0))
        days(days.length / 2)
      }
      def scan(d: String): Unit = noop(spark.read.parquet(d)
        .filter(col("event_date") === day)
        .agg(count(lit(1)).as("n"), sum(col("value")).as("s")))
      ev.repartition(16, col("event_id")).write.mode("overwrite").parquet(flatDir)
      val cost = time("j5_partition_write_cost")(
        ev.repartition(col("event_date")).write.mode("overwrite")
          .partitionBy("event_date").parquet(partDir))
      // flat: every file decodes the filter column AND the measure;
      // partitioned: only the matching directory opens, and the
      // partition column lives in the path (no chunk to fetch)
      Seq(warmTime("j5_scan_flat")(scan(flatDir)),
        Metric("j5_scan_flat_mb", parquetSelectedMb(spark, flatDir, Set("event_date", "value"))),
        cost) ++ (
        if (cost.value < 0) Nil
        else Seq(warmTime("j5_scan_pruned")(scan(partDir)),
          Metric("j5_scan_pruned_mb", parquetSelectedMb(spark, partDir, Set("value"),
            pathKeep = _.toString.contains(s"event_date=$day")))))
    }
  }

  /** j6 layout study: COLUMN pruning — the columnar-format win itself,
    * closing the scan-cost family (j2 small files, j3 codec, j4
    * row-group pruning, j5 partition pruning). The documents corpus is
    * read twice with the same row count and grouping shape: once
    * through `length(text)` (the payload column must decode) and once
    * through the 8-byte `n_chars` metadata column that carries the
    * SAME answer (required in-run — a metadata column you don't verify
    * is a metadata column you can't trust; a mismatch reads -1). No
    * rewrite, no filter — the only difference is which columns reach
    * `ReadSchema`, so the byte gap IS the text payload, the dominant
    * column at any scale. At 100 TB the lesson is the schema-design
    * one the G1 multimodal layout already applies: keep typed metadata
    * beside the payload so statistics queries never touch it — this
    * study prices that choice (footer-derived bytes per
    * [[parquetSelectedMb]]; local seconds are task-overhead-flat, the
    * j4 lesson).
    */
  private def columnPruneStudy(spark: SparkSession, sfDir: String): Seq[Metric] = {
    import org.apache.spark.sql.functions._
    val docs = s"$sfDir/documents.parquet"
    def scan(sizeCol: org.apache.spark.sql.Column): Long =
      spark.read.parquet(docs).agg(sum(sizeCol).as("chars")).collect().head.getLong(0)
    study("j6_column_prune", secs("j6_scan_payload") ++ units("j6_scan_payload_mb") ++
        secs("j6_scan_pruned") ++ units("j6_scan_pruned_mb")) { _ =>
      scan(col("n_chars")) // warmup
      var wide = 0L
      var pruned = 0L
      val tw = time("j6_scan_payload") { wide = scan(length(col("text"))) }
      val tp = time("j6_scan_pruned") { pruned = scan(col("n_chars")) }
      require(wide == pruned, s"j6 metadata-column mismatch: text $wide vs n_chars $pruned")
      Seq(tw, Metric("j6_scan_payload_mb", parquetSelectedMb(spark, docs, Set("text"))),
        tp, Metric("j6_scan_pruned_mb", parquetSelectedMb(spark, docs, Set("n_chars"))))
    }
  }

  /** A13 compaction study: the small-files tax made visible, and the
    * price of removing it. The events fact is written as a
    * date-partitioned sink in 16 slices — the fragmentation a
    * micro-batch streaming sink accumulates (16 files per partition
    * directory) — and the same scan+aggregate is timed against the
    * fragmented layout (`j2_scan_fragmented`), after compaction to one
    * file per partition (`j2_scan_compacted`), with the one-time
    * rewrite itself reported as `j2_compact_cost`. Locally the delta is
    * listing + per-file footer/open overhead; on an object store each
    * file open is a round trip and the same ratio multiplies by
    * latency, which is why the maintenance pass exists.
    */
  private def compactionStudy(spark: SparkSession, sfDir: String): Seq[Metric] = {
    import org.apache.spark.sql.functions._
    study("j2_compaction",
        secs("j2_scan_fragmented", "j2_compact_cost", "j2_scan_compacted")) { dir =>
      def scan(): Unit = noop(Tables.readPartitioned(spark, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("v")))
      // one pass produces the 16-files-per-partition drift directly:
      // repartition on (partition cols + a 16-way row-hash bucket) is
      // the same trick compactPartitioned uses, pointed the other way
      // (16 sequential appends would scan the fact 16 times for the
      // identical layout)
      val parts = Seq("event_type", "tx_year", "tx_month", "tx_day")
      Tables.table(spark, sfDir, "events")
        .select("event_id", "user_id", "event_type", "ts", "value")
        .withColumn("tx_year", year(col("ts")))
        .withColumn("tx_month", month(col("ts")))
        .withColumn("tx_day", dayofmonth(col("ts")))
        // explicit task count: with the default shuffle partitioning the
        // 16 buckets of one partition dir would collapse onto ≤ cpus
        // tasks and the drift would under-fragment
        .repartition(256, parts.map(col) :+ pmod(hash(col("event_id")), lit(16)): _*)
        .write.mode("overwrite").partitionBy(parts: _*).parquet(dir)
      val frag = warmTime("j2_scan_fragmented")(scan())
      val cost = time("j2_compact_cost")(Tables.compactPartitioned(spark, dir, parts))
      // a failed compaction must not report the fragmented layout's
      // timing under the compacted label
      Seq(frag, cost) ++
        (if (cost.value >= 0) Seq(warmTime("j2_scan_compacted")(scan())) else Nil)
    }
  }

  /** j3 codec study: snappy vs zstd on the text-heavy documents corpus —
    * the storage trade that dominates a 100 TB training-data lake. Three
    * measurements per codec: write cost (`j3_write_*`), bytes on disk
    * (`j3_size_*_mb`), and a full-text scan+aggregate (`j3_scan_*`).
    * The expected shape: zstd writes slower but lands 20-40% smaller on
    * text, and scans are typically NOT slower (decompression is cheaper
    * than the extra I/O it saves — on an object store the size ratio
    * multiplies directly into scan byte-cost and egress). The study
    * measures rather than asserts: the right codec is a per-table call
    * (hot numeric facts often stay snappy; cold text archives go zstd).
    */
  private def codecStudy(spark: SparkSession, sfDir: String): Seq[Metric] = {
    import org.apache.spark.sql.functions._
    val codecs = Seq("snappy", "zstd")
    study("j3_codec", codecs.flatMap(c =>
        secs(s"j3_write_$c") ++ units(s"j3_size_${c}_mb") ++ secs(s"j3_scan_$c"))) { base =>
      val docs = Tables.table(spark, sfDir, "documents")
      codecs.flatMap { codec =>
        val dir = new org.apache.hadoop.fs.Path(base, codec)
        val w = time(s"j3_write_$codec")(
          docs.write.option("compression", codec).mode("overwrite").parquet(dir.toString))
        if (w.value < 0) Seq(w)
        else Seq(w,
          Metric(s"j3_size_${codec}_mb", dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .getContentSummary(dir).getLength / 1e6),
          // sum over text lengths forces full decompression of the wide
          // column — the honest scan cost, not a footer/stats shortcut
          warmTime(s"j3_scan_$codec")(noop(spark.read.parquet(dir.toString)
            .agg(sum(length(col("text"))).as("chars"), count(lit(1)).as("n")))))
      }
    }
  }

  /** Build-once / search-many ANN study: the serving-side costs the
    * per-query map misses. Index builds (IVF cell partitioning, SQ8
    * quantization, k-means fit) are one-time setup amortized over every
    * query, so they are reported separately from their probes:
    *  - `e6_ivf_probe`: probe of the PERSISTED cell-partitioned IVF
    *    index — partition pruning limits the scan to nProbes/nCentroids
    *    of the corpus (the on-disk routing the in-memory e3 entry pays
    *    per query);
    *  - `e7_sq8_persisted`: search over the STORED SQ8 code table —
    *    codes-only scan, the 4× I/O cut realized at read time (the
    *    inline e7_ann_sq8 entry re-quantizes per query);
    *  - `e4_fit` / `e4_probe`: the k-means IVF split — fit is the heavy
    *    multi-pass one-time job, probe is the steady-state cost
    *    comparable to e3.
    */
  private def annIndexStudy(spark: SparkSession, sfDir: String): Seq[Metric] = {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    study("e4_ann_index", secs("e6_ivf_probe", "e7_sq8_persisted", "e8_pq_persisted",
        "e4_fit", "e4_probe", "e17_join_q256")) { tmp =>
      val emb = Tables.table(spark, sfDir, "embeddings")
      val qVec = emb.filter(col("vec_id") === 0L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      // one-time builds (setup): written once, probed many times
      Similarity.buildIvfIndex(emb, s"$tmp/ivf")
      Similarity.buildSq8Index(emb, s"$tmp/sq8")
      Similarity.buildPqIndex(emb, s"$tmp/pq")
      def ivfProbe(): Unit = noop(Similarity.probeIvfIndexVec(spark, s"$tmp/ivf", qVec, 20,
        excludeVecId = Some(0L)))
      def sq8Search(): Unit = noop(Similarity.searchSq8Index(spark, s"$tmp/sq8", qVec, 20,
        excludeVecId = Some(0L)))
      def pqSearch(): Unit = noop(Similarity.searchPqIndex(spark, s"$tmp/pq", qVec, 20,
        excludeVecId = Some(0L)))
      // k-means: fit twice (first run absorbs JIT/codegen), time the second
      var model: org.apache.spark.ml.clustering.KMeansModel = null
      def probeLearned(): Unit = noop(Similarity.ivfProbeLearned(emb, model, 0L, 20))
      // e17 at a PRODUCTION query batch: 256 queries is past the
      // 32-query literal threshold, so this prices the broadcast-
      // joined model path — 32× the headline e17's query count
      // through a FIXED-size plan (the round-8 verdict's flagged
      // scale killer, now measured at the scale that triggered it)
      def joinBatch(): Unit = noop(Similarity.ivfPqKnnJoin(emb, 0L until 256L, 10))
      Similarity.fitIvfKmeans(emb)
      ivfProbe(); sq8Search(); pqSearch(); joinBatch() // untimed warm-ups
      val fit = time("e4_fit") { model = Similarity.fitIvfKmeans(emb) }
      probeLearned() // warm-up after the model exists
      Seq(time("e6_ivf_probe")(ivfProbe()), time("e7_sq8_persisted")(sq8Search()),
        time("e8_pq_persisted")(pqSearch()), fit,
        time("e4_probe")(probeLearned()), time("e17_join_q256")(joinBatch()))
    }
  }

  /** Untimed warm-up drain, then the min of two timed drains of a fresh
    * AvailableNow stream (`admitted`, re-evaluated per drain) through a
    * noop foreachBatch. Each drain checkpoints under its own tag in
    * `dir`: a reused checkpoint makes AvailableNow a no-op. Min-of-two
    * like every headline query — round-5 run 2 measured h10 at 23 s
    * against 3.6/3.9 s in runs 1 and 3, one host stall in one run.
    */
  private def drainMinOfTwo(label: String, dir: String)(admitted: => DataFrame): Double = {
    def drain(tag: String): Double = time(s"$label $tag") {
      admitted.writeStream
        .option("checkpointLocation", s"$dir/ckpt_$tag")
        .foreachBatch((b: DataFrame, _: Long) => noop(b))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }.value
    drain("warmup")
    minOf(2)(i => drain(s"r$i"))
  }

  /** The h10 curation gate over the documents table at `docsDir`:
    * renders the corpus to JSON files in `dir` and builds the benchmark
    * Bloom (both untimed setup), then [[drainMinOfTwo]]. A study body
    * shared by the sf0.1 study and the cross-sf scaling audit.
    */
  private def h10Gate(spark: SparkSession, docsDir: String, dir: String): Double = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import graft.streaming.CurationStream
    val docs = Tables.table(spark, docsDir, "documents")
    docs.select(col("doc_id"),
        timestamp_seconds(lit(1709251200L) + pmod(col("doc_id"), lit(600L))).as("ts"),
        col("text"))
      .repartition(16)
      .write.json(s"$dir/in")
    val bloom = CurationStream.benchmarkGramBloom(docs.filter(col("doc_id") % 10 === 3))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("ts", TimestampType), StructField("text", StringType)))
    drainMinOfTwo("h10_curation_gate", dir)(CurationStream.curationGate(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 4).json(s"$dir/in"), bloom))
  }

  /** H10 throughput: the streaming corpus-curation gate (exact-dup drop
    * + quality floor + Bloom decontamination) over the documents corpus
    * rendered to JSON files — the LLM-pipeline streaming headline, run
    * AvailableNow at 4 files per trigger through a noop foreachBatch.
    * The benchmark side is the d11 stand-in (doc_id % 10 = 3),
    * collected once into the broadcast Bloom sketch. H11: the embedding
    * gate over the full embeddings corpus rendered to JSON, with the
    * SAME corpus as the static side — every arrival is an exact
    * duplicate, so the anti-join does maximal in-bucket verification
    * work (the worst case for the gate).
    */
  private def curationGateStudy(spark: SparkSession, sfDir: String): Seq[Metric] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    study("h10_curation_gate", secs("h10_curation_gate"))(dir =>
      Seq(Metric("h10_curation_gate", h10Gate(spark, sfDir, dir)))) ++
    study("h11_embed_gate", secs("h11_embed_gate")) { dir =>
      val emb = Tables.table(spark, sfDir, "embeddings")
      emb.select(col("vec_id"), col("embedding").cast("array<double>"))
        .repartition(8)
        .write.json(s"$dir/emb_in")
      val embSchema = StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType))))
      Seq(Metric("h11_embed_gate", drainMinOfTwo("h11_embed_gate", dir)(
        graft.streaming.CurationStream.embedNearDupGate(spark.readStream.schema(embSchema)
          .option("maxFilesPerTrigger", 4).json(s"$dir/emb_in"), emb))))
    }
  }

  /** Cross-sf scaling audit: the growth check a single-sf bench cannot
    * see. A subset of the headline (one per family, plus the queries the
    * round-3 verdict flagged as super-linear candidates: the d8
    * component loop, window-heavy b33/c15, the skew pair) is re-run at
    * the two smaller scale factors; with the sf0.1 time from the main
    * pass, each query gets a growth exponent
    *   exp = ln(t_sf0.1 / t_sf0.01) / ln(rows_sf0.1 / rows_sf0.01)
    * over its primary table's row count (the TPC-H tables grow 10× per
    * sf step but documents/embeddings only 4×, so the denominator must
    * be per-table, not nominal). exp ≈ 1 is linear; > 1.3 flags a plan
    * that will not survive a 100× scale-up. sf0.001 times are reported
    * for the curve but kept out of the exponent — at ~0.1 s they are
    * fixed-overhead-dominated and would fake sub-linearity.
    * Runs only when the bench dir is the sf0.1 tree (the driver's
    * config); emitted as the "scaling" object on the studies line and in
    * BENCH_FULL.json (NOT on the final headline line — it alone exceeds
    * the driver's stdout tail window).
    */
  private val scalingSet: Seq[(String, String)] = Seq(
    "b1_filter_project" -> "lineitem",
    "b5_agg_basic" -> "lineitem",
    "b8_sliding_window" -> "events",
    "b22_asof_join" -> "events",
    "b33_event_gaps" -> "events",
    "c15_trailing_window" -> "events",
    "c1_fraud_enrich" -> "lineitem",
    "c1_skew_plain" -> "lineitem",
    "c1_skew_salted" -> "lineitem",
    // the exact/approx pair measured TOGETHER so a regression on one is
    // attributable (the round-4 ask): same join tree, the only delta is
    // countDistinct-expand vs one-pass HLL state
    "c7_category_trend" -> "lineitem",
    "c7_category_trend_approx" -> "lineitem",
    "d2_minhash_lsh" -> "documents",
    "d8_dedup_clusters" -> "documents",
    "d11_decontaminate" -> "documents",
    // round-4 continuation: the fingerprint-window corpus scan (the one
    // new op with a data-dependent shuffle) and a fixed-state sketch
    // whose time should be scan-bound (exp ≈ 1 is the EXPECTED ceiling)
    "d12_dup_span_score" -> "documents",
    "b36_distinct_hll" -> "lineitem",
    // g5's band-collision count grows with corpus self-similarity, not
    // just rows (§7d item 27) — measured here so a super-linear exponent
    // is REPORTED, not hidden; d14 should track d1 (scan-bound)
    "g5_phash_neardup" -> "documents",
    "d14_dedup_normalized" -> "documents",
    "e1_cosine_topk" -> "embeddings",
    "e8_ann_pq" -> "embeddings",
    "f10_keywords" -> "documents",
    "i9_pack_sequences" -> "documents",
    // round-5 additions: the new sketch (fixed-state, scan-bound like
    // b36), the D8-composed split (must track d8, its dominant cost),
    // and the two retrieval operators (f12 is the corpus-stats shuffle
    // under a query-term filter; e10's greedy is O(1) — its time is the
    // candidate top-k scan)
    "b38_kmv_setops" -> "lineitem",
    "i13_leakage_safe_split" -> "documents",
    "f12_bm25_search" -> "documents",
    "e10_mmr_topk" -> "embeddings",
    // post-close-out additions: the closed-form CUSUM (two windows on
    // one exchange — should track c15's window shape), the count-table
    // entropy (f6's term shuffle — should track f10), and the
    // single-exchange windowed distinct (b42's repartition plan)
    "c18_cusum_shift" -> "events",
    "f13_token_entropy" -> "documents",
    "b42_window_distinct" -> "events",
    // round-6: the most expensive non-study query (word-8-gram KMV
    // sketches, one corpus pass) — its cost term is grams/doc, corpus-
    // dependent like g5's, so the exponent is MEASURED here rather than
    // asserted in prose (the r5 verdict's evidence gap)
    "d15_source_overlap" -> "documents",
    // round-6 continuation: the bigram LM scorer — the widest new
    // shuffle key (2-gram vocab grows super-linearly in corpus size
    // until saturation, f6's class) — measured, not asserted
    "f17_bigram_logprob" -> "documents",
    // the collusion report: per-cell pair expansion is quadratic in
    // CELL size (capped), but cell count and co-presence density are
    // corpus-dependent like g5's band collisions — measured
    "c27_collusion_pairs" -> "events",
    // round-7: the reactivation report (c18/c22's one-exchange window
    // class — exp should track the events shuffle) and the epoch plan
    // (i19's corpus pass + |sources|-row algebra — scan-bound)
    "c26_reactivation" -> "events",
    "i21_epoch_plan" -> "documents",
    // round-8 (the r7 verdict's item 7): the component-loop family over
    // corpus-dependent pair graphs — c28 rides c27's co-presence density
    // (events), g8 rides g5's band-collision density (documents); both
    // are measured per regeneration so round-over-round moves are
    // attributable to the corpus, not re-litigated (the d2/c27 lesson
    // institutionalized)
    "c28_collusion_rings" -> "events",
    "g8_phash_clusters" -> "documents",
    // round-8 continuation: the two new pair detectors whose candidate
    // volume rides corpus self-similarity (shared-passage anchors /
    // prefix-bucket collisions — g5's class, measured per
    // regeneration), and the one-exchange motif miner whose cell table
    // is |types|-bounded (exp should track the events scan)
    "d22_shared_passages" -> "documents",
    "d23_setsim_join" -> "documents",
    "c32_sequence_motifs" -> "events",
    // round-10 (the r9 verdict's item 8): the round-9 operators whose
    // cost rides corpus shape — d23b's prefix-candidate volume is the
    // exponent that matters (d23's 1.57 at 3-grams was caught HERE in
    // round 8; the incremental form needs the same watch), f24/i11b
    // ride the merge-scan fold, and e17_join_q256 pins the broadcast-
    // model path's claimed fixed-size plan across corpus sizes
    "d23b_setsim_incremental" -> "documents",
    "f24_bpe_segment" -> "documents",
    "i11b_budget_bpe" -> "documents",
    "e17_join_q256" -> "embeddings",
    // round-11: the windowed KMV set-ops (cells bounded days×256, so
    // exp should track the fact scan like b45/b46), the staged-rotation
    // PQ search (one materialization pass + e8's fixed-size serve —
    // exp should track e8's), and the data-driven skew join (the
    // freqItems nomination + candidate-count decision passes + the
    // compiled salted join — exp should track c1_skew_salted's)
    "b48_window_kmv" -> "lineitem",
    "e26_ann_opq" -> "embeddings",
    "c1_skew_auto" -> "lineitem")

  /** The streaming member of the scaling set: not a SparkEntry query, so
    * it gets its own per-sf study ([[h10Gate]]). Its sf0.1 time
    * comes from the main curation study like every other mainTimes key.
    */
  private val scalingStreamEntry: (String, String) = "h10_curation_gate" -> "documents"


  private def scalingStudy(spark: SparkSession, sfDir: String,
                           mainTimes: Map[String, Double]): Option[String] = {
    if (!sfDir.endsWith("sf0.1")) return None
    // opt-in fourth decade (round 12): a tools/scale_up.py-generated
    // sf1 dir extends every exponent one decade upward. Env-gated so
    // the driver's run is unchanged when no sf1 dir exists.
    val sf1 = sys.env.get("SPARK_GRAFT_SF1_DIR")
      .filter(d => new java.io.File(d).isDirectory).map("sf1" -> _)
    val sfs = Seq("sf0.001", "sf0.01").map(s => s -> sfDir.replace("sf0.1", s)) ++
      sf1.toSeq
    try {
      val rowCounts: Map[String, Map[String, Long]] =
        (sfs :+ ("sf0.1" -> sfDir)).map { case (sf, dir) =>
          sf -> (scalingSet :+ scalingStreamEntry).map(_._2).distinct.map { tbl =>
            tbl -> Tables.table(spark, dir, tbl).count()
          }.toMap
        }.toMap
      val times: Map[String, Map[String, Double]] = sfs.map { case (sf, dir) =>
        // untimed warm-up per sf: same codegen, but AQE re-plans per dir
        scalingSet.foreach { case (name, _) =>
          SparkEntry.queries.get(name).foreach { fn =>
            try noop(fn(spark, dir)) catch { case NonFatal(_) => }
          }
        }
        val batch = scalingSet.flatMap { case (name, _) =>
          SparkEntry.queries.get(name).map { fn =>
            // min of two, mirroring the main pass (four for the c7
            // pair): the exponent divides two measurements, so ONE
            // stalled run would corrupt it
            name -> minOf(if (minOfFour(name)) 4 else 2)(_ =>
              time(s"scaling $name@$sf")(noop(fn(spark, dir))).value)
          }
        }
        val stream = study(s"h10_curation_gate_$sf", secs(scalingStreamEntry._1))(d =>
          Seq(Metric(scalingStreamEntry._1, h10Gate(spark, dir, d))))
        sf -> (batch ++ stream.map(m => m.name -> m.value)).toMap
      }.toMap
      def num(v: Double): String =
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      val entries = (scalingSet :+ scalingStreamEntry).flatMap { case (name, tbl) =>
        for {
          t001 <- times("sf0.01").get(name)
          t0001 <- times("sf0.001").get(name)
          t01 <- mainTimes.get(name)
          if t001 > 0 && t01 > 0
        } yield {
          val rowRatio = rowCounts("sf0.1")(tbl).toDouble / rowCounts("sf0.01")(tbl)
          val exp = math.log(t01 / t001) / math.log(rowRatio)
          // the opt-in fourth decade: exponent of the sf0.1 -> sf1 leg
          val sf1Part = (for {
            t1 <- times.get("sf1").flatMap(_.get(name))
            if t1 > 0
            r1 = rowCounts("sf1")(tbl).toDouble / rowCounts("sf0.1")(tbl)
            if r1 > 1
          } yield s""","t_sf1":${num(t1)},"exp_sf1":${
            num(math.log(t1 / t01) / math.log(r1))}""").getOrElse("")
          s""""$name":{"t_sf0001":${num(t0001)},"t_sf001":${num(t001)},""" +
            s""""t_sf01":${num(t01)},"row_ratio":${num(rowRatio)},"exp":${num(exp)}$sf1Part}"""
        }
      }
      Some(entries.mkString("{", ",", "}"))
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[bench] scaling study failed: ${e.getMessage}")
        None
    }
  }

  /** Bucketed co-located join study: the fact-fact lineitem⋈orders join
    * (the one unavoidable shuffle in the enrich pipeline — PLANS.md) run
    * twice over identical data: from plain parquet (both sides shuffle
    * on the order key at query time) and from tables bucketed+sorted on
    * the join key (`Tables.writeBucketed`), where the same join plans
    * with NO Exchange — the write-once-join-many deployment for 100 TB
    * facts. Bucket write time is setup, not measured: it amortizes over
    * every subsequent join. Reported as `j1_factjoin_shuffle` /
    * `j1_factjoin_bucketed` over the same aggregation, plus `_mb`
    * twins carrying the executed plan's own shuffle-WRITE SQLMetrics
    * (the j4 lesson applied to the wire instead of the scan: local
    * SECONDS are task-overhead-flat, but the bytes a fact-fact join
    * moves across the cluster per run — vs ~0 bucketed — are the
    * quantity the layout buys at 100 TB). The byte pass joins under a
    * `merge` hint, so the plain side pays the real both-sides exchange
    * instead of a small-SF broadcast, with no change to session conf.
    */
  private def bucketedJoinStudy(spark: SparkSession, sfDir: String): Seq[Metric] = {
    import org.apache.spark.sql.functions._
    // the timed runs plan freely; the byte pass joins under the hint
    def joined(li: DataFrame, o: DataFrame, merge: Boolean) =
      li.join(if (merge) o.hint("merge") else o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_extendedprice")).as("v"))
    def plain(merge: Boolean): DataFrame = joined(
      Tables.table(spark, sfDir, "lineitem").select("l_orderkey", "l_extendedprice"),
      Tables.table(spark, sfDir, "orders").select("o_orderkey", "o_orderstatus"), merge)
    def bucketed(merge: Boolean): DataFrame =
      joined(spark.table("graft_bench_li_bkt"), spark.table("graft_bench_o_bkt"), merge)
    study("j1_bucketed", secs("j1_factjoin_shuffle", "j1_factjoin_bucketed") ++
        units("j1_factjoin_shuffle_mb", "j1_factjoin_bucketed_mb")) { _ =>
      withManagedTables(spark, Seq("graft_bench_li_bkt", "graft_bench_o_bkt")) {
        Tables.writeBucketed(Tables.table(spark, sfDir, "lineitem")
          .select("l_orderkey", "l_extendedprice"), "graft_bench_li_bkt",
          "l_orderkey", buckets = 32)
        Tables.writeBucketed(Tables.table(spark, sfDir, "orders")
          .select("o_orderkey", "o_orderstatus"), "graft_bench_o_bkt",
          "o_orderkey", buckets = 32)
        Seq(warmTime("j1_factjoin_shuffle")(noop(plain(merge = false))),
          warmTime("j1_factjoin_bucketed")(noop(bucketed(merge = false))),
          Metric("j1_factjoin_shuffle_mb", shuffleWriteMb(plain(merge = true))),
          Metric("j1_factjoin_bucketed_mb", shuffleWriteMb(bucketed(merge = true))))
      }
    }
  }

  /** D23b persisted-index pricing (the round-9 verdict's item 3): the
    * headline `d23b_setsim_incremental` recomputes the base index
    * lineage-fresh every run — the harness form. Production builds the
    * index ONCE ([[graft.operators.Dedup.buildSetSimIndex]]) and pays
    * only the delta pass per load. This study prices both sides of
    * that amortization on the same split: `d23b_index_build` is the
    * once-per-corpus cost, `d23b_delta_only` the recurring per-load
    * cost against the on-disk bucketed prefix table (base never
    * re-shingled — the BucketingSpec plan claim, priced).
    */
  private def setSimIndexStudy(spark: SparkSession, sfDir: String): Seq[Metric] = {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    study("d23b_setsim_index",
        secs("d23b_index_build", "d23b_delta_only", "d23c_index_refresh")) { _ =>
      withManagedTables(spark, Seq("_pref", "_sh", "_df").map("graft_bench_ssidx" + _)) {
        val docs = Tables.table(spark, sfDir, "documents")
        val base = docs.filter(col("doc_id") % 7 =!= 0)
        val delta = docs.filter(col("doc_id") % 7 === 0)
        Seq(
          // the warm-up build absorbs codegen/JIT; the timed build replaces it
          warmTime("d23b_index_build")(Dedup.buildSetSimIndex(base, "graft_bench_ssidx")),
          warmTime("d23b_delta_only")(
            noop(Dedup.setSimJoinIncrementalIndexed(spark, "graft_bench_ssidx", delta))),
          // the absorb price (shingle+rank the delta, two appends) — its
          // shingle/rank plan is already JIT-warm from the build/delta runs;
          // the append mutates the index, which nothing reads afterwards
          time("d23c_index_refresh")(
            Dedup.refreshSetSimIndex(spark, "graft_bench_ssidx", delta)))
      }
    }
  }

  /** Maintenance cost split into its two REAL components (round-11
    * verdict item 3): a streamed sink's wall time is
    * `t = batches × fixed + rows × marginal`, and the old single
    * `rows_per_s = rows/t` denomination conflated them — h20 read as a
    * 150× "regression" vs h12 when the embeddings corpus is simply ~50×
    * smaller than events, so its reading was almost pure per-batch
    * fixed job latency. The two-volume protocol (the h33/h34/h35 x1/x4
    * design): stream the corpus once at 16 files / 4 per trigger and
    * once at 4× the rows in 64 files / 16 per trigger — four
    * micro-batches either way, so the fixed term cancels in the
    * difference:  marginal rows/s = 3·r / (t4 − t1),
    * fixed s/batch = (t1 − r/marginal) / 4. Both numbers are
    * corpus-size-invariant (that is the point), so round-over-round
    * they are comparable even as the driver regenerates testdata. A
    * noise inversion (t4 ≤ t1 — the marginal term lost in jitter)
    * reports marginal = -1 rather than a fabricated huge number; the
    * fixed term then falls back to t1/4.
    */
  private def maintenanceStudy(spark: SparkSession, sfDir: String): Seq[Metric] = {
    import org.apache.spark.sql.functions._
    val nBatches = 4.0
    // volumeSplit (shared, BenchSpec-pinned): the r12 advice closed the
    // near-tie hole — t4 barely above t1 fabricated an arbitrarily huge
    // marginal with no flag; now sub-10%-separation reports -1 like the
    // inversion case
    def split(t1: Double, t4: Double, r: Double): (Double, Double) =
      volumeSplit(t1, t4, r, nBatches)
    study("h12_maintenance", units(
        "h12_cms_fixed_s_per_batch", "h12_cms_marginal_rows_per_s",
        "h12_cms_cells_per_batch",
        "h17_drift_fixed_s_per_batch", "h17_drift_marginal_rows_per_s",
        "h17_drift_cells_per_batch",
        "h20_ivf_fixed_s_per_batch", "h20_ivf_marginal_rows_per_s")) { tmp =>
      // x4 = four id-shifted copies (genuinely new keys, the h33 rule)
      def x4(df: DataFrame, idCol: String): DataFrame =
        df.withColumn("__copy", explode(sequence(lit(0L), lit(3L))))
          .withColumn(idCol, col(idCol) + col("__copy") * lit(1000000000L))
          .drop("__copy")
      val ev = Tables.table(spark, sfDir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      val nRows = ev.count().toDouble
      ev.repartition(16).write.parquet(s"$tmp/in1")
      x4(ev, "user_id").repartition(64).write.parquet(s"$tmp/in4")
      val schema = spark.read.parquet(s"$tmp/in1").schema
      def stream(vol: Int) = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4 * vol).parquet(s"$tmp/in$vol")
      val tCms1 = time("h12_cms_x1")(graft.streaming.SketchStream.maintainCms(stream(1),
        "user_id", s"$tmp/cms_cells", s"$tmp/cms_ckpt").awaitTermination()).value
      val tCms4 = time("h12_cms_x4")(graft.streaming.SketchStream.maintainCms(stream(4),
        "user_id", s"$tmp/cms_cells4", s"$tmp/cms_ckpt4").awaitTermination()).value
      val (cmsFix, cmsMarg) = split(tCms1, tCms4, nRows)
      val cmsCells = spark.read.parquet(s"$tmp/cms_cells").count().toDouble
      val b = ev.filter(col("value").isNotNull)
        .agg(min(col("value")), max(col("value"))).head()
      def driftRun(vol: Int) = graft.streaming.DriftStream.maintainDriftCells(
        stream(vol).select(col("value")), b.getDouble(0), b.getDouble(1),
        s"$tmp/drift_cells$vol", s"$tmp/drift_ckpt$vol").awaitTermination()
      val tDrift1 = time("h17_drift_x1")(driftRun(1)).value
      val tDrift4 = time("h17_drift_x4")(driftRun(4)).value
      val (driftFix, driftMarg) = split(tDrift1, tDrift4, nRows)
      val driftCells = spark.read.parquet(s"$tmp/drift_cells1").count().toDouble
      // H20: vector-index delta maintenance — the embeddings corpus
      // streamed through cell assignment into the (batch_id, cell)
      // delta layout; base index built first (centroid model source)
      val emb = Tables.table(spark, sfDir, "embeddings")
      val nVecs = emb.count().toDouble
      val embIn = emb.select(col("vec_id"), col("embedding"))
      embIn.repartition(16).write.parquet(s"$tmp/ivf_in1")
      x4(embIn, "vec_id").repartition(64).write.parquet(s"$tmp/ivf_in4")
      val embSchema = spark.read.parquet(s"$tmp/ivf_in1").schema
      def ivfRun(vol: Int): Double = {
        graft.operators.Similarity.buildIvfIndex(emb, s"$tmp/ivf$vol")
        time(s"h20_ivf_x$vol")(graft.streaming.IndexStream.maintainIvfIndex(
          spark.readStream.schema(embSchema).option("maxFilesPerTrigger", 4 * vol)
            .parquet(s"$tmp/ivf_in$vol"),
          s"$tmp/ivf$vol", s"$tmp/ivf_ckpt$vol").awaitTermination()).value
      }
      val tIvf1 = ivfRun(1)
      val tIvf4 = ivfRun(4)
      val (ivfFix, ivfMarg) = split(tIvf1, tIvf4, nVecs)
      Seq(Metric("h12_cms_fixed_s_per_batch", cmsFix),
        Metric("h12_cms_marginal_rows_per_s", cmsMarg),
        Metric("h12_cms_cells_per_batch", cmsCells / nBatches),
        Metric("h17_drift_fixed_s_per_batch", driftFix),
        Metric("h17_drift_marginal_rows_per_s", driftMarg),
        Metric("h17_drift_cells_per_batch", driftCells / nBatches),
        Metric("h20_ivf_fixed_s_per_batch", ivfFix),
        Metric("h20_ivf_marginal_rows_per_s", ivfMarg))
    }
  }

  /** Sustained-volume study for the round-8 windowed-sketch/sample
    * sinks (h33/h34/h35), streamed at two volumes (x1: 16 files at
    * 4/trigger; x4: 4× the rows in 64 files at 16/trigger — four
    * micro-batches either way, so fixed stream-start cost amortizes
    * identically and the axis is per-batch volume). The claim being
    * priced: MAINTAINED STATE STAYS BOUNDED while input grows — the x4
    * copies carry genuinely NEW keys (id offset per copy, so distinct
    * cardinality really is 4×). The bounds are ASSERTED, not just
    * recorded (round-9 verdict item 2 — a study that can't fail isn't
    * a study): the HLL cell table must fit days×256 on BOTH volumes
    * (equality across volumes was the round-9 claim, and it was the
    * wrong predicate — the x1 run leaves the register space only ~61%
    * occupied, so x4's genuinely-4× cardinality legitimately fills
    * MORE cells while both stay under the same bound; the
    * `h33_occupancy_*` metrics report the fill so the bound's
    * tightness stays visible); the histogram table is value-RANGE
    * state, days×64 regardless of cardinality, so h34 keeps the
    * strict equality predicate; the landed sample is batches×k rows
    * by construction, so h35 keeps equality too. A violated invariant
    * throws → the whole study reads -1 in the artifact — loud.
    * The `_vol_` seconds price the 4× scan honestly.
    */
  private def windowedVolumeStudy(spark: SparkSession, sfDir: String): Seq[Metric] = {
    import org.apache.spark.sql.functions._
    import graft.streaming.SketchStream
    study("h33_windowed_volume", secs("h33_vol_x1", "h33_vol_x4", "h34_vol_x1",
        "h34_vol_x4", "h35_vol_x1", "h35_vol_x4") ++ units("h33_cells_x1", "h33_cells_x4",
        "h33_occupancy_x1", "h33_occupancy_x4", "h34_cells_x1", "h34_cells_x4",
        "h35_state_x1", "h35_state_x4")) { tmp =>
      val off = 1000000000000L // disjoint id spaces per copy
      val li = Tables.table(spark, sfDir, "lineitem")
        .select(to_date(col("l_shipdate")).as("ship_day"),
          col("l_orderkey"), col("l_extendedprice"))
      def liX(n: Int) = (0 until n).map(c =>
        li.select(col("ship_day"),
          (col("l_orderkey") + lit(c * off)).as("l_orderkey"),
          col("l_extendedprice"))).reduce(_.unionByName(_))
      liX(1).repartition(16).write.parquet(s"$tmp/li1")
      liX(4).repartition(64).write.parquet(s"$tmp/li4")
      val liSchema = spark.read.parquet(s"$tmp/li1").schema
      val st = li.agg(min(col("l_extendedprice")),
        max(col("l_extendedprice"))).head()
      val (lo, hi) = (st.getDouble(0), st.getDouble(1))
      val docs = Tables.table(spark, sfDir, "documents")
        .select(col("doc_id"), col("source"))
      def docsX(n: Int) = (0 until n).map(c =>
        docs.select((col("doc_id") + lit(c * off)).as("doc_id"),
          col("source"))).reduce(_.unionByName(_))
      docsX(1).repartition(16).write.parquet(s"$tmp/d1")
      docsX(4).repartition(64).write.parquet(s"$tmp/d4")
      val dSchema = spark.read.parquet(s"$tmp/d1").schema
      def in(dir: String, schema: org.apache.spark.sql.types.StructType,
             mft: Int) = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", mft).parquet(dir)
      def mergedCells(dir: String): Double = spark.read.parquet(dir)
        .select(col("ship_day"), col("bucket")).distinct().count().toDouble
      val t33a = time("h33_vol_x1")(SketchStream.maintainDailyHll(
        in(s"$tmp/li1", liSchema, 4), "l_orderkey", "ship_day",
        s"$tmp/c33a", s"$tmp/k33a").awaitTermination())
      val t33b = time("h33_vol_x4")(SketchStream.maintainDailyHll(
        in(s"$tmp/li4", liSchema, 16), "l_orderkey", "ship_day",
        s"$tmp/c33b", s"$tmp/k33b").awaitTermination())
      val t34a = time("h34_vol_x1")(SketchStream.maintainDailyHist(
        in(s"$tmp/li1", liSchema, 4), "l_extendedprice", "ship_day", lo, hi,
        s"$tmp/c34a", s"$tmp/k34a").awaitTermination())
      val t34b = time("h34_vol_x4")(SketchStream.maintainDailyHist(
        in(s"$tmp/li4", liSchema, 16), "l_extendedprice", "ship_day", lo, hi,
        s"$tmp/c34b", s"$tmp/k34b").awaitTermination())
      val t35a = time("h35_vol_x1")(SketchStream.maintainSampleCells(
        in(s"$tmp/d1", dSchema, 4), 100, s"$tmp/c35a", s"$tmp/k35a")
        .awaitTermination())
      val t35b = time("h35_vol_x4")(SketchStream.maintainSampleCells(
        in(s"$tmp/d4", dSchema, 16), 100, s"$tmp/c35b", s"$tmp/k35b")
        .awaitTermination())
      val c33a = mergedCells(s"$tmp/c33a")
      val c33b = mergedCells(s"$tmp/c33b")
      val c34a = mergedCells(s"$tmp/c34a")
      val c34b = mergedCells(s"$tmp/c34b")
      val s35a = spark.read.parquet(s"$tmp/c35a").count().toDouble
      val s35b = spark.read.parquet(s"$tmp/c35b").count().toDouble
      // the asserted invariants (see Scaladoc): violated ⇒ throw ⇒ the
      // study reads -1 in the artifact of record
      val nDays = li.select(col("ship_day")).distinct().count().toDouble
      val hllBound = nDays * 256
      require(c33a <= hllBound && c33b <= hllBound,
        s"h33 HLL cell state exceeded days*256=$hllBound: x1=$c33a x4=$c33b")
      require(c34a == c34b && c34b <= nDays * 64,
        s"h34 histogram state must be volume-invariant and <= days*64: " +
          s"x1=$c34a x4=$c34b bound=${nDays * 64}")
      require(s35a == s35b,
        s"h35 sample state must be batches*k on both volumes: x1=$s35a x4=$s35b")
      Seq(t33a, t33b, t34a, t34b, t35a, t35b,
        Metric("h33_cells_x1", c33a),
        Metric("h33_cells_x4", c33b),
        Metric("h33_occupancy_x1", c33a / hllBound),
        Metric("h33_occupancy_x4", c33b / hllBound),
        Metric("h34_cells_x1", c34a),
        Metric("h34_cells_x4", c34b),
        Metric("h35_state_x1", s35a),
        Metric("h35_state_x4", s35b))
    }
  }
}
