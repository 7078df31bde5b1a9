package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Profile}
import graft.sources.Tables

/** Dedup family semantics on crafted documents (SURVEY §2 D1–D4). */
class DedupSpec extends AnyFunSuite with SparkTestBase {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val base = "key agg row scan slow fast table value part hash merge batch spark window"
  private val nearDup = "key agg row scan slow fast table value part hash merge batch spark query"
  private val other = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"

  test("D22 shared passages: the aligned run is found at its offset; permuted or single-shingle overlap drops") {
    val s = (1 to 12).map(i => s"s$i").mkString(" ") // the lifted passage
    val corpus = docs(
      1L -> s"a1 a2 a3 a4 $s a5 a6 a7 a8",          // s1 at pos 5
      2L -> s"b1 b2 $s b3",                          // s1 at pos 3
      3L -> "c1 s3 s1 s2 s5 s4 s7 s6 s9 s8 s11 s10 s12 c2", // same words, permuted
      4L -> "d1 s1 s2 s3 s4 s5 s6 s7 s8 d2 d3")      // exactly ONE shared shingle
    val out = Dedup.sharedPassages(corpus).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        ((r.getAs[Long]("n_matches"), r.getAs[Long]("best_offset"),
          r.getAs[Long]("run_shingles"), r.getAs[Long]("passage_tokens")))).toMap
    // the 12-token lift: 5 consecutive shared 8-gram shingles on the
    // single diagonal off = 3 - 5 = -2, passage = 5 + 7 = 12 tokens
    assert(out.keySet === Set((1L, 2L)),
      s"only the aligned pair survives (permutation and 1-shingle overlap drop): ${out.keySet}")
    assert(out((1L, 2L)) === ((5L, -2L, 5L, 12L)))
  }

  test("D2 MinHash+LSH surfaces the near-duplicate pair, not the unrelated one") {
    val cand = Dedup.minhashCandidates(docs(1L -> base, 2L -> nearDup, 3L -> other))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 2L)), s"expected (1,2) in $cand")
    assert(!cand.contains((1L, 3L)) && !cand.contains((2L, 3L)), cand)
  }

  test("spread: no round-robin exchange before the sketch on well-partitioned input") {
    import spark.implicits._
    val par = spark.sparkContext.defaultParallelism
    // localCheckpoint materializes the partitioning so the input's own
    // repartition is not part of the measured plan
    val many = (1L to 50L).map(i => (i, s"$base extra$i")).toDF("doc_id", "text")
      .repartition(par).localCheckpoint(true)
    val plan = Dedup.lshBands(many).queryExecution.executedPlan.toString
    assert(!plan.contains("RoundRobinPartitioning"),
      s"sketch path must not re-shuffle a well-partitioned corpus:\n$plan")
    // and a single-partition input must still spread across cores
    val few = (1L to 50L).map(i => (i, s"$base extra$i")).toDF("doc_id", "text")
      .coalesce(1).localCheckpoint(true)
    val planFew = Dedup.lshBands(few).queryExecution.executedPlan.toString
    assert(planFew.contains("RoundRobinPartitioning"),
      s"under-partitioned input must spread before sketching:\n$planFew")
  }

  test("mega-cluster hazard: exact-dedup prefilter bounds LSH pair expansion") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{md5, min}
    // 40 byte-identical docs collide in every band: the raw candidate set
    // grows quadratically with the duplicate cluster (the documented
    // hazard at 100 TB — billions of boilerplate copies)
    val docs = ((1L to 40L).map(i => (i, base)) ++
      Seq(41L -> nearDup, 42L -> other)).toDF("doc_id", "text")
    val raw = Dedup.minhashCandidates(docs).count()
    assert(raw >= 40L * 39 / 2, s"expected quadratic expansion, got $raw")
    // the standard composition: D1 keeps one representative per content
    // hash BEFORE sketching, so the near-dup pass sees each text once
    val reps = docs.groupBy(md5($"text").as("h")).agg(min($"doc_id").as("doc_id"))
      .join(docs, "doc_id").select($"doc_id", $"text")
    val composed = Dedup.minhashCandidates(reps).count()
    assert(composed <= 3, s"composed candidate count $composed")
  }

  test("D4 Jaccard verification scores the candidate pair high") {
    val d = docs(1L -> base, 2L -> nearDup, 3L -> other)
    val j = Dedup.ngramJaccard(d, Dedup.minhashCandidates(d))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Double]("jaccard"))).toMap
    assert(j((1L, 2L)) > 0.7, j)
  }

  test("D2 identical documents always collide (Jaccard 1 ⇒ all bands equal)") {
    val cand = Dedup.minhashCandidates(docs(1L -> base, 2L -> base))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand === Set((1L, 2L)))
  }

  test("D3 SimHash: identical text ⇒ identical fingerprint; disjoint text differs") {
    val fp = Dedup.simhash(docs(1L -> base, 2L -> base, 3L -> other))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) === fp(2L))
    assert(fp(1L) !== fp(3L))
    assert(fp(1L) >= 0 && fp(1L) < (1L << 32))
  }

  test("D3 SimHash near-dup is hamming-close") {
    val fp = Dedup.simhash(docs(1L -> base, 2L -> nearDup, 3L -> other))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp(1L), fp(2L)) < ham(fp(1L), fp(3L)))
    assert(ham(fp(1L), fp(2L)) <= 8, s"near-dup hamming ${ham(fp(1L), fp(2L))}")
  }

  test("D1 exact dedup groups by content hash") {
    import spark.implicits._
    val d = Seq((1L, "same text"), (2L, "same text"), (3L, "different"))
      .toDF("doc_id", "text")
    val groups = d.groupBy(org.apache.spark.sql.functions.md5($"text"))
      .count().collect().map(_.getLong(1)).sorted
    assert(groups.toSeq === Seq(1L, 2L))
  }

  test("D14 normalized dedup collapses case/punct/stopword variants D1 keeps apart") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, md5}
    val docs = Seq(
      1L -> "The cat, and the DOG!",
      2L -> "the cat and the dog",
      3L -> "a completely different sentence").toDF("doc_id", "text")
    // byte-exact digest: three distinct groups
    assert(docs.groupBy(md5(col("text"))).count().count() === 3)
    val d14 = Dedup.dedupNormalized(docs).collect()
    assert(d14.length === 2, "case/punct/stopword variants must collapse")
    val merged = d14.find(_.getAs[Long]("n_copies") == 2L).get
    assert(merged.getAs[Long]("keep_id") === 1L)
  }

  test("D8 clusters are transitive closures with min-id canonical keeper") {
    // 1~2 and 2~3 collide (identical text); 4 is unrelated — one cluster
    // {1,2,3} labeled by its min id, plus the singleton.
    val d = docs(1L -> base, 2L -> base, 3L -> base, 4L -> other)
    val rows = Dedup.dedupClusters(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(rows(1L) === ((1L, 3L, true)))
    assert(rows(2L) === ((1L, 3L, false)))
    assert(rows(3L) === ((1L, 3L, false)))
    assert(rows(4L) === ((4L, 1L, true)))
  }

  test("I13 split is cluster-atomic: no near-dup pair straddles a split boundary") {
    import org.apache.spark.sql.functions.{col, countDistinct}
    val corpus = Tables.table(spark, SF, "documents")
    val out = Dedup.queries("i13_leakage_safe_split")(spark, SF)
    // 1. atomicity: every cluster maps to exactly one split
    val straddlers = out.groupBy(col("cluster_id"))
      .agg(countDistinct(col("split")).as("k")).filter(col("k") > 1).count()
    assert(straddlers === 0, "a cluster straddles two splits")
    // 2. the leakage property itself: every candidate near-dup PAIR —
    // the evidence of contamination a doc-level split ignores — lands
    // in one split
    val asg = out.select(col("doc_id"), col("split"))
    val pairs = Dedup.minhashCandidates(corpus)
    val leaked = pairs
      .join(asg.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("split", "split_a"), Seq("doc_a"))
      .join(asg.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("split", "split_b"), Seq("doc_b"))
      .filter(col("split_a") =!= col("split_b")).count()
    assert(leaked === 0, s"$leaked near-dup pairs straddle splits")
    // 3. singletons (cluster_id = doc_id) get exactly i2's assignment —
    // i13 is i2 + atomicity, not a different corpus partition
    val i2 = Profile.splitAssign(corpus, "doc_id")
      .select(col("doc_id"), col("split").as("split_i2"))
    val singletonMismatch = out.filter(col("cluster_id") === col("doc_id"))
      .join(i2, Seq("doc_id"))
      .filter(col("split") =!= col("split_i2")).count()
    assert(singletonMismatch === 0,
      "singleton clusters must match the doc-level i2 assignment")
    // sanity: all three splits non-empty at this SF
    assert(out.select(col("split")).distinct().count() === 3)
  }

  test("D15 source overlap: full matrix, estimates track exact gram-set algebra") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.table(spark, SF, "documents")
    val out = Dedup.queries("d15_source_overlap")(spark, SF).collect()
    val nSrc = docs.select(col("source")).distinct().count()
    assert(out.length === nSrc * (nSrc - 1) / 2, "one row per unordered source pair")
    // exact per-source gram sets (small at this SF) for ground truth
    val sets = Dedup.docGramFingerprints(docs, 8, Seq("source"))
      .select(col("source"), col("gh")).distinct().collect()
      .groupBy(_.getString(0)).map { case (s, rs) => s -> rs.map(_.getLong(1)).toSet }
    out.foreach { r =>
      val (a, b) = (r.getAs[String]("source_a"), r.getAs[String]("source_b"))
      val (sa, sb) = (sets(a), sets(b))
      val u = (sa ++ sb).size.toDouble
      // each direct estimate within 25% of its exact set size (k=256 ⇒
      // ±6% σ; the corpus is a fixed draw, so allow 4σ)
      assert(math.abs(r.getAs[Double]("est_a") - sa.size) <= 0.25 * sa.size, s"est_a $a")
      assert(math.abs(r.getAs[Double]("est_b") - sb.size) <= 0.25 * sb.size, s"est_b $b")
      assert(math.abs(r.getAs[Double]("est_union") - u) <= 0.25 * u, s"union $a-$b")
      // inclusion-exclusion intersection: error scale is the union
      val i = (sa intersect sb).size.toDouble
      assert(math.abs(r.getAs[Double]("est_intersect") - i) <= 0.25 * u, s"intersect $a-$b")
      assert(math.abs(r.getAs[Double]("jaccard_est") - i / u) <= 0.25, s"jaccard $a-$b")
    }
  }

  test("D15 matrix stays complete when a source has no grams at all") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 'tiny' has only sub-gram-width docs → zero fingerprints; the
    // matrix must still carry its pairs with zero estimates, not drop
    // them (the silent-omission failure mode a governance tool must not
    // have)
    val docs = Seq(
      (1L, "alpha", ("w " * 20).trim), (2L, "alpha", ("x " * 20).trim),
      (3L, "beta", ("w " * 20).trim),
      (4L, "tiny", "too short"), (5L, "tiny", "also short"))
      .toDF("doc_id", "source", "text")
    val out = Dedup.sourceOverlap(docs).collect()
    assert(out.length === 3, "3 sources -> 3 unordered pairs, always")
    val tinyRows = out.filter(r => r.getAs[String]("source_a") == "tiny" ||
      r.getAs[String]("source_b") == "tiny")
    assert(tinyRows.length === 2)
    tinyRows.foreach { r =>
      assert(r.getAs[Double]("est_intersect") === 0.0)
      assert(r.getAs[Double]("jaccard_est") === 0.0)
      assert(Seq(r.getAs[Double]("est_a"), r.getAs[Double]("est_b")).contains(0.0))
    }
    // and the exact-below-k branch: alpha/beta share the 'w'-doc grams
    val ab = out.find(r => r.getAs[String]("source_a") == "alpha" &&
      r.getAs[String]("source_b") == "beta").get
    assert(ab.getAs[Double]("est_intersect") > 0.0, "shared grams must show overlap")
  }

  test("D8 propagation crosses chained pairs (A~B, B~C but never A~C directly)") {
    import spark.implicits._
    // Long chain 10-20-30-40-50 plus isolated pair 60-70: min label must
    // travel the full diameter (several propagation rounds), not one hop.
    val pairs = Seq((10L, 20L), (20L, 30L), (30L, 40L), (40L, 50L), (60L, 70L))
      .toDF("doc_a", "doc_b")
    val d = docs(Seq(10L, 20L, 30L, 40L, 50L, 60L, 70L, 80L).map(_ -> base): _*)
    val rows = Dedup.clustersFromPairs(d, pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    for (id <- Seq(10L, 20L, 30L, 40L, 50L)) assert(rows(id) === ((10L, 5L)), s"id $id")
    for (id <- Seq(60L, 70L)) assert(rows(id) === ((60L, 2L)), s"id $id")
    assert(rows(80L) === ((80L, 1L)))
  }

  test("D10 blocked clusters refine the exact clusters (never merge across them)") {
    val emb = graft.sources.Tables.table(spark, SF, "embeddings")
    val exact = graft.operators.Dedup.queries("d9_embed_clusters")(spark, SF)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val blocked = Dedup.embedClustersBlocked(emb)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(blocked.keySet === exact.keySet)
    // refinement: two vecs in one blocked cluster must share an exact cluster
    blocked.groupBy(_._2).values.foreach { members =>
      val exactIds = members.keys.map(exact).toSet
      assert(exactIds.size === 1,
        s"blocked cluster spans exact clusters $exactIds")
    }
    // recall report: how many exact non-singleton co-cluster pairs survive blocking
    val exactPairs = exact.groupBy(_._2).values.filter(_.size > 1)
      .flatMap(m => m.keys.toSeq.sorted.combinations(2)).map(_.toSeq).toSet
    val blockedPairs = blocked.groupBy(_._2).values.filter(_.size > 1)
      .flatMap(m => m.keys.toSeq.sorted.combinations(2)).map(_.toSeq).toSet
    if (exactPairs.nonEmpty)
      info(f"blocked cluster-pair recall = ${blockedPairs.intersect(exactPairs).size.toDouble / exactPairs.size}%.2f")
  }

  test("D5b blocked near-dup pairs ⊆ exact pairs, with identical scores") {
    val exact = graft.operators.Dedup.queries("d5_embed_neardup")(spark, SF)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val blocked = graft.operators.Dedup.queries("d5_embed_neardup_blocked")(spark, SF)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(blocked.nonEmpty, "blocking surfaced no candidate pairs at all")
    blocked.foreach { case (pair, score) =>
      assert(exact.contains(pair), s"blocked pair $pair not in exact set")
      assert(score === exact(pair), s"score drift on $pair")
    }
    info(f"blocked pair recall = ${blocked.size.toDouble / exact.size}%.2f " +
      s"(${blocked.size}/${exact.size})")
  }

  test("D16 keeper is the best-quality cluster member, not the smallest id") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // base: 50 words, 10 of them stopwords; doc 3 appends 10 extra
    // non-stop words — same shingle mass plus a tail, so it near-dups
    // with 1/2, and its token count pushes the f2 length term up more
    // than the diluted stop ratio pulls down: the KEEPER is doc 3,
    // while the cluster id (min member) stays 1 — keeper != canonical
    val stop = Seq("the", "a", "of", "and", "in", "to", "is", "the", "a", "of")
    val body = (1 to 40).map(i => s"w$i")
    val base = (stop ++ body).mkString(" ")
    val extra = base + " " + (1 to 10).map(i => s"x$i").mkString(" ")
    val docs = Seq(1L -> base, 2L -> base, 3L -> extra).toDF("doc_id", "text")
    val out = Dedup.qualityKeepers(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cluster_id"), r.getAs[Boolean]("is_keeper")))).toMap
    assert(out.values.map(_._1).toSet === Set(1L), s"one cluster expected: $out")
    assert(out.filter(_._2._2).keySet === Set(3L),
      s"the higher-quality copy must be the keeper: $out")
    // corpus invariants: exactly one keeper per cluster, and it is the
    // (quality DESC, doc_id ASC) head; scores equal f2's
    val corpus = Dedup.queries("d16_quality_keeper")(spark, SF).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Double]("quality_score"), r.getAs[Boolean]("is_keeper")))
    val f2 = graft.operators.TextAnalysis.queries("f2_quality")(spark, SF)
      .select(col("doc_id"), col("quality_score")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    corpus.foreach { case (id, _, s, _) =>
      assert(java.lang.Double.doubleToLongBits(s) ===
        java.lang.Double.doubleToLongBits(f2(id))) }
    corpus.groupBy(_._2).foreach { case (cid, g) =>
      assert(g.count(_._4) === 1, s"cluster $cid keeper count != 1")
      val best = g.minBy(x => (-x._3, x._1))
      assert(best._4, s"cluster $cid keeper is not the quality argmax")
    }
  }

  test("D9 semantic clusters group parallel embeddings, split orthogonal ones") {
    import spark.implicits._
    val e = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(0.9f, 0.1f, 0f, 0f)),   // ~parallel to 0
      (2L, Seq(0f, 1f, 0f, 0f)),       // orthogonal
      (3L, Seq(0f, 0.9f, 0.1f, 0f)))   // ~parallel to 2
      .toDF("vec_id", "embedding")
    val pairs = e.as("a").join(e.as("b"),
        org.apache.spark.sql.functions.col("a.vec_id") <
          org.apache.spark.sql.functions.col("b.vec_id"))
      .withColumn("cos", graft.operators.Similarity.dot(
        org.apache.spark.sql.functions.col("a.embedding"),
        org.apache.spark.sql.functions.col("b.embedding")))
      .filter(org.apache.spark.sql.functions.col("cos") > 0.4)
      .select(org.apache.spark.sql.functions.col("a.vec_id").as("doc_a"),
        org.apache.spark.sql.functions.col("b.vec_id").as("doc_b"))
    val rows = Dedup.clustersFromPairs(
        e.select(org.apache.spark.sql.functions.col("vec_id").as("doc_id")), pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows(0L) === 0L && rows(1L) === 0L)
    assert(rows(2L) === 2L && rows(3L) === 2L)
  }

  test("D17 MinHash quality: exact-dup pair estimates 1.0 at zero error; est on the 1/16 grid") {
    import spark.implicits._
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6"),
      (2L, "w1 w2 w3 w4 w5 w6"), // identical to 1 → same signature
      (3L, "w1 w2 w3 w4 w5 zz"), // near-dup (shingle Jaccard 3/5)
      (4L, "q1 q2 q3 q4 q5 q6")) // unrelated
      .toDF("doc_id", "text")
    val out = Dedup.minhashQuality(docs).collect()
    val m = out.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r).toMap
    assert(m.contains((1L, 2L)), "identical docs must band together")
    val r12 = m((1L, 2L))
    assert(r12.getAs[Double]("est_jaccard") === 1.0)
    assert(r12.getAs[Double]("jaccard") === 1.0)
    assert(r12.getAs[Double]("abs_err") === 0.0)
    out.foreach { r =>
      val est = r.getAs[Double]("est_jaccard")
      assert(est >= 0.0 && est <= 1.0)
      assert(est * 16 === math.rint(est * 16), "estimate must sit on the k=16 grid")
      assert(r.getAs[Double]("abs_err") ===
        math.abs(est - r.getAs[Double]("jaccard")))
    }
    // the real corpus: every candidate pair carries a finite error row
    val corpus = Dedup.minhashQuality(Tables.table(spark, SF, "documents"))
    val n = corpus.count()
    val nCand = Dedup.minhashCandidates(Tables.table(spark, SF, "documents")).count()
    assert(n === nCand, "one error row per candidate pair")
  }

  test("D19 calibration: bins cover every scored pair; cumulative is a true survival curve") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.table(spark, SF, "embeddings")
    val rows = Dedup.thresholdCalibration(emb).collect()
      .map(r => (r.getAs[Long]("bin"), r.getAs[Double]("bin_lo"),
        r.getAs[Long]("n_pairs"), r.getAs[Long]("n_at_or_above")))
      .sortBy(_._1)
    assert(rows.nonEmpty)
    val total = Dedup.cosineVerify(emb,
      graft.operators.Similarity.annCandidates(emb), -1.1).count()
    assert(rows.map(_._3).sum === total, "every candidate pair lands in exactly one bin")
    // survival: n_at_or_above is the suffix sum, nonincreasing in bin
    val suffix = rows.map(_._3).scanRight(0L)(_ + _).init
    assert(rows.map(_._4).toSeq === suffix.toSeq)
    rows.foreach { case (bin, lo, _, _) =>
      assert(bin >= 0L && bin <= 19L)
      assert(lo === -1.0 + bin * (2.0 / 20))
    }
  }

  test("D18 incremental candidates == full-corpus candidates touching the delta") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.table(spark, SF, "documents")
    val base = docs.filter(col("doc_id") % 7 =!= 0)
    val delta = docs.filter(col("doc_id") % 7 === 0)
    val incremental = Dedup.incrementalCandidates(base, delta).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val full = Dedup.minhashCandidates(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val touching = full.filter { case (a, b) => a % 7 == 0 || b % 7 == 0 }
    assert(incremental === touching,
      "band keys are per-doc: incremental must equal the delta-touching slice of a full run")
    // and never a base-base pair (the corpus is not re-deduped)
    assert(incremental.forall { case (a, b) => a % 7 == 0 || b % 7 == 0 })
  }

  test("D20 containment: a wholly-lifted paragraph scores 1.0 where Jaccard dilutes") {
    import spark.implicits._
    // doc 1 = six tokens (4 shingles); doc 2 = the same paragraph with a
    // 20-token unique tail — every shingle of 1 appears in 2
    val para = "alpha beta gamma delta epsilon zeta"
    val tail = (1 to 20).map(i => s"tail$i").mkString(" ")
    val docs = Seq((1L, para), (2L, s"$para $tail")).toDF("doc_id", "text")
    val cand = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val out = Dedup.ngramContainment(docs, cand).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Double]("containment_a") === 1.0,
      "the small side is fully contained")
    val nB = 24 // 26 tokens -> 24 shingles
    assert(r.getAs[Double]("containment_b") === 4.0 / nB)
    assert(r.getAs[Double]("containment_max") === 1.0)
    // the symmetric verifier on the same pair: diluted to 1/6 — below
    // any practical dedup threshold, which is why d20 exists
    val j = Dedup.ngramJaccard(docs, cand).collect().head.getAs[Double]("jaccard")
    assert(j === 4.0 / 24.0 && j < 0.2)
  }

  test("D21 S-curve: exact at the binary-representable point; knees order by band split") {
    val out = Dedup.lshSCurve(spark).collect()
      .map(r => ((r.getAs[Long]("bands"), r.getAs[Long]("rows_per_band"),
        r.getAs[Double]("s")), (r.getAs[Double]("p_band"), r.getAs[Double]("p_candidate"))))
      .toMap
    assert(out.size === 4 * 19)
    // s = 0.5 is binary-exact, so the folds are exact rationals:
    // (4,4): p_band = 2^-4; p_cand = 1 - (15/16)^4 = 14911/65536
    assert(out((4L, 4L, 0.5)) === ((0.0625, 14911.0 / 65536.0)))
    // (16,1): p_band = s; p_cand = 1 - 2^-16
    assert(out((16L, 1L, 0.5)) === ((0.5, 1.0 - 1.0 / 65536.0)))
    // monotone in s per config
    for (cfg <- Seq((16L, 1L), (8L, 2L), (4L, 4L), (2L, 8L)); i <- 2 to 19) {
      val lo = out((cfg._1, cfg._2, (i - 1) / 20.0))._2
      val hi = out((cfg._1, cfg._2, i / 20.0))._2
      assert(hi >= lo, s"p_candidate must be nondecreasing in s for $cfg")
    }
    // at fixed s, more bands (same 16-hash budget) = higher recall
    val at = Seq((16L, 1L), (8L, 2L), (4L, 4L), (2L, 8L)).map(c => out((c._1, c._2, 0.5))._2)
    assert(at === at.sorted.reverse, "recall must order (16,1) > (8,2) > (4,4) > (2,8) at s=0.5")
  }

  test("D24 cluster report: connectivity bounds on pair counts; sizes match d8 exactly") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.table(spark, SF, "documents")
    val rep = Dedup.clusterReport(docs).collect()
      .map(r => r.getAs[Long]("cluster_id") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_pairs"),
          r.getAs[Double]("min_jaccard"), r.getAs[Double]("max_jaccard")))).toMap
    assert(rep.nonEmpty, "corpus must contain multi-doc near-dup clusters")
    rep.foreach { case (cid, (nd, np, mn, mx)) =>
      // a connected component of nd nodes needs >= nd-1 edges and has
      // at most nd*(nd-1)/2; the jaccard extremes must be ordered
      assert(nd >= 2L, s"cluster $cid not multi-doc")
      assert(np >= nd - 1 && np <= nd * (nd - 1) / 2,
        s"cluster $cid: $np pairs impossible for $nd docs")
      assert(mn <= mx && mn > 0.0 && mx <= 1.0, s"cluster $cid jaccard bounds")
    }
    // the report's membership is exactly d8's multi-doc clusters
    val d8 = Dedup.dedupClusters(docs).filter(col("cluster_size") > 1)
      .groupBy(col("cluster_id"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => r.getAs[Long]("cluster_id") -> r.getAs[Long]("n")).toMap
    assert(rep.view.mapValues(_._1).toMap === d8,
      "report sizes must match d8's multi-doc clusters exactly")
  }

  test("component loop width is AQE's: one partition at width 4, caller conf untouched") {
    // The loop sets no conf: AQE partition coalescing sizes each round
    // from the shuffle it measures, so the chain's labels land in one
    // partition at the suite's session width of 4, and the caller's
    // width reads the same afterwards.
    import spark.implicits._
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    val pairs = (1L to 64L).map(i => (s"d$i", s"d${i + 1}"))
      .toDF("doc_a", "doc_b")
    val labels = Dedup.componentLabels(pairs, maxIter = 25)
    val rows = labels.collect()
    // one chain of 65 docs -> one component
    assert(rows.length === 65)
    assert(rows.map(_.getAs[String]("comp")).distinct.length === 1)
    assert(width === "4", "the partition bound below is read at width 4")
    assert(labels.rdd.getNumPartitions === 1)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === width)
  }
}
