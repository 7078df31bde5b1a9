package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Co-located (bucketed) joins — the SURVEY §5 scale claim that the
  * repeatedly-joined fact tables shuffle once at write time, then never
  * again: a join of two tables bucketed on the key must contain NO
  * Exchange on either side.
  */
class BucketingSpec extends AnyFunSuite with SparkTestBase {

  /** Force the non-broadcast join path for the Exchange assertions,
    * restoring the SESSION's actual threshold afterwards (round-9
    * ADVICE: a hard-coded restore silently clobbers a non-default
    * session config for every later test).
    */
  private def withNoBroadcast[A](body: => A): A = {
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("join of co-bucketed tables is shuffle-free") {
    val li = Tables.table(spark, SF, "lineitem")
      .select("l_orderkey", "l_extendedprice")
    val o = Tables.table(spark, SF, "orders")
      .select("o_orderkey", "o_custkey")
    Tables.writeBucketed(li, "graft_li_bucketed", "l_orderkey", 8)
    Tables.writeBucketed(o, "graft_o_bucketed", "o_orderkey", 8)
    try withNoBroadcast {
      // force the join path (not broadcast) so the Exchange check is real
      val joined = spark.table("graft_li_bucketed")
        .join(spark.table("graft_o_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() === li.count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_li_bucketed")
      spark.sql("DROP TABLE IF EXISTS graft_o_bucketed")
    }
  }

  test("D18 production shape: persisted band table makes the delta collision join one-sided") {
    import graft.operators.Dedup
    val docs = Tables.table(spark, SF, "documents")
    val base = docs.filter(col("doc_id") % 7 =!= 0)
    val delta = docs.filter(col("doc_id") % 7 === 0)
    // the previous load persisted its bands bucketed on the COMBINED
    // band key (band_id embedded — the planner only reuses a bucketed
    // layout when the bucket column IS the join key, so a compound
    // (band_id, band_key) join would re-shuffle both sides): the base
    // side of the collision join then needs NO exchange — only the
    // (small) delta side shuffles. This is the "never re-sketch,
    // never re-shuffle the corpus" claim of SURVEY D18, asserted on a
    // real plan.
    def keyed(df: org.apache.spark.sql.DataFrame, idAs: String) =
      Dedup.lshBands(df).select(col("doc_id").as(idAs),
        concat_ws(":", col("band_id"), col("band_key")).as("bkey"))
    Tables.writeBucketed(keyed(base, "base_id"), "graft_bands_bucketed", "bkey", 8)
    try withNoBroadcast {
      val joined = spark.table("graft_bands_bucketed")
        .join(keyed(delta, "delta_id"), Seq("bkey"))
        .select(least(col("base_id"), col("delta_id")).as("doc_a"),
          greatest(col("base_id"), col("delta_id")).as("doc_b"))
      val plan = joined.queryExecution.executedPlan.toString
      // the only KEYED shuffle allowed is the delta side's bkey
      // exchange (lshBands' round-robin CPU-spread is a narrow-stage
      // repartition, not a join shuffle); the base side must scan
      // bucketed with no exchange at all
      val keyedExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(keyedExchanges === 1,
        s"only the delta side may hash-shuffle (got $keyedExchanges):\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"base side must use the bucketed layout:\n$plan")
      // and the result equals the inline cross-pair computation
      val persisted = joined.distinct().collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      // incrementalCandidates includes delta-delta pairs; the persisted
      // join covers base-delta only, so compare against that subset
      val inline: Set[(Long, Long)] = Dedup.incrementalCandidates(base, delta)
        .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      val crossOnly = inline.filter { case (a, b) => (a % 7 == 0) != (b % 7 == 0) }
      assert(persisted === crossOnly,
        "the persisted-table join must reproduce the inline base-delta pairs")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bands_bucketed")
    }
  }

  test("D18 index API: build -> refresh -> indexed candidates equals the lineage-fresh form") {
    import graft.operators.Dedup
    val docs = Tables.table(spark, SF, "documents")
    val base = docs.filter(col("doc_id") % 7 =!= 0 && col("doc_id") % 7 =!= 1)
    val delta1 = docs.filter(col("doc_id") % 7 === 1)
    val delta2 = docs.filter(col("doc_id") % 7 === 0)
    Dedup.buildBandIndex(base, "graft_bidx", buckets = 8)
    try withNoBroadcast {
      Dedup.refreshBandIndex(spark, "graft_bidx", delta1)
      val result = Dedup.incrementalCandidatesIndexed(spark, "graft_bidx", delta2)
      val plan = result.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"refreshed band table must keep its bucketed layout:\n$plan")
      val got = result.collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      // band keys are content hashes — refresh ≡ recompute exactly, so
      // the indexed two-generation form equals the lineage-fresh one
      val fresh = Dedup.incrementalCandidates(base.unionByName(delta1), delta2)
        .collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      assert(got === fresh,
        "refreshed band index must equal the lineage-fresh incremental candidates")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bidx_bands")
    }
  }

  test("buildBandIndex succeeds over a warehouse dir a previous process left behind") {
    import graft.operators.Dedup
    val table = "graft_bidx_orphan_bands"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // what a killed process leaves: files under the warehouse dir, no
    // catalog entry (the catalog dies with the process) — saveAsTable
    // refuses such a non-empty location unless the build deletes it
    val dir = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"), table)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stale = fs.create(new org.apache.hadoop.fs.Path(dir, "part-00000-stale.parquet"))
    try stale.write("left by a previous process".getBytes) finally stale.close()
    assert(!spark.catalog.tableExists(table) && fs.exists(dir))
    val docs = Tables.table(spark, SF, "documents")
    try {
      Dedup.buildBandIndex(docs, "graft_bidx_orphan", buckets = 8)
      assert(spark.table(table).count() === Dedup.bandKeyed(docs).count())
    } finally Tables.dropManagedTable(spark, table)
  }

  test("D23b production shape: persisted on-disk index makes the delta join one-sided, base never re-shingled") {
    import graft.operators.Dedup
    val docs = Tables.table(spark, SF, "documents")
    val base = docs.filter(col("doc_id") % 7 =!= 0)
    val delta = docs.filter(col("doc_id") % 7 === 0)
    // the real seam (round-10): the previous load persisted the index
    // ONCE — shingles, frozen df order, and the prefix cut bucketed on
    // its single join key `s` (the round-6 lesson: the planner only
    // reuses a bucketed layout when the bucket column IS the join key)
    Dedup.buildSetSimIndex(base, "graft_ssidx", buckets = 8)
    try withNoBroadcast {
      val result = Dedup.setSimJoinIncrementalIndexed(spark, "graft_ssidx", delta)
      val plan = result.queryExecution.executedPlan.toString
      // the base prefix table scans its bucketed layout — no exchange
      // under it — and the base CORPUS never appears in the plan: the
      // delta shingles/prefixes are checkpointed, so the only file
      // scans left are the three index tables (structural proof that
      // the base is never re-shingled: the API takes no base at all)
      assert(plan.contains("Bucketed: true"),
        s"collision join must use the bucketed prefix layout:\n$plan")
      // structural corpus-free proof (round-10 advice: a bare
      // !plan.contains("documents") false-fails on any unrelated path
      // or column name): every file scan in the plan must read one of
      // the three graft_ssidx_* index tables — nothing else is on disk
      // for this query, so the base corpus cannot be re-shingled
      val scanLocs = "Location: [^\\[\\n]*\\[([^\\]]*)\\]".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq
      assert(scanLocs.nonEmpty, s"expected file scans in the plan:\n$plan")
      scanLocs.foreach { loc =>
        assert(loc.contains("graft_ssidx_"),
          s"file scan outside the index tables (corpus leak?): $loc\n$plan")
      }
      val indexed = result.collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      // output SET-EQUAL to the lineage-fresh form — the same frozen
      // order, the same verify, just read from disk
      val fresh = Dedup.setSimJoinIncremental(base, delta).collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      assert(indexed === fresh,
        "indexed incremental join must equal the lineage-fresh incremental join")
      assert(indexed.nonEmpty, "the sf0.01 split has delta-touching pairs")
    } finally {
      for (t <- Seq("graft_ssidx_pref", "graft_ssidx_sh", "graft_ssidx_df"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("D23c refresh: the absorbed delta is visible to the next load; the join stays one-sided") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = Tables.table(spark, SF, "documents")
      .select(col("doc_id"), col("text"))
    // a guaranteed cross-GENERATION near-dup pair (identical synthetic
    // text, ids in the delta1/delta2 residue classes, outside the
    // corpus id range) so "the refresh actually matters" never depends
    // on the generated corpus having a delta1 x delta2 duplicate
    val probeText = "zqx1 zqx2 zqx3 zqx4 zqx5 zqx6"
    val base = docs.filter(col("doc_id") % 7 =!= 0 && col("doc_id") % 7 =!= 1)
    val delta1 = docs.filter(col("doc_id") % 7 === 1)
      .unionByName(Seq((700001L, probeText)).toDF("doc_id", "text"))
    val delta2 = docs.filter(col("doc_id") % 7 === 0)
      .unionByName(Seq((700000L, probeText)).toDF("doc_id", "text"))
    Dedup.buildSetSimIndex(base, "graft_ssidx2", buckets = 8)
    try {
      // absorb the first load, then join the second against the
      // refreshed on-disk index — the index lifecycle end-to-end
      Dedup.refreshSetSimIndex(spark, "graft_ssidx2", delta1)
      // a RETRY of the same refresh (scheduler re-run / crash replay)
      // must be a per-doc no-op — round-11 advice: doubled _sh rows
      // would inflate |set| in setSimVerify and silently DROP pairs
      Dedup.refreshSetSimIndex(spark, "graft_ssidx2", delta1)
      val shRows = spark.table("graft_ssidx2_sh").count()
      Dedup.refreshSetSimIndex(spark, "graft_ssidx2", delta1)
      assert(spark.table("graft_ssidx2_sh").count() === shRows,
        "a re-applied refresh must not append duplicate shingle rows")
      withNoBroadcast {
        val result = Dedup.setSimJoinIncrementalIndexed(spark, "graft_ssidx2", delta2)
        val plan = result.queryExecution.executedPlan.toString
        // appended prefix files must keep the bucketed layout (the
        // refresh's whole point: the next load's join stays one-sided)
        assert(plan.contains("Bucketed: true"),
          s"refreshed prefix table must keep its bucketed layout:\n$plan")
        val scanLocs = "Location: [^\\[\\n]*\\[([^\\]]*)\\]".r
          .findAllMatchIn(plan).map(_.group(1)).toSeq
        assert(scanLocs.nonEmpty, s"expected file scans in the plan:\n$plan")
        scanLocs.foreach { loc =>
          assert(loc.contains("graft_ssidx2_"),
            s"file scan outside the index tables (corpus leak?): $loc\n$plan")
        }
        val got = result.collect()
          .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
        assert(got.contains((700000L, 700001L)),
          "a delta2 doc must find its near-dup in the ABSORBED delta1")
        // set-equal to the lineage-fresh two-generation composition
        val fresh = Dedup.setSimJoinRefreshed(base, delta1, delta2).collect()
          .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
        assert(got === fresh,
          "refreshed on-disk index must equal the lineage-fresh composition")
      }
    } finally {
      for (t <- Seq("graft_ssidx2_pref", "graft_ssidx2_sh", "graft_ssidx2_df"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }
}
