package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import scala.reflect.runtime.universe.TypeTag

/** Custom per-key streaming state (SURVEY §2 H3): running per-user
  * transaction velocity via flatMapGroupsWithState — the Spark-native
  * replacement for hand-rolled consumer-side state
  * (reference: src/kafka/consumer/consumer.py buffers per-topic state).
  *
  * State is one small case class per key, partitioned by user across the
  * cluster; emits an alert row whenever a user's running count crosses
  * the threshold.
  */
object Stateful {

  case class Tx(user_id: Int, amount: Double, ts: java.sql.Timestamp)
  case class VelocityState(n: Long, total: Double)
  case class VelocityAlert(user_id: Int, n: Long, total: Double)

  case class AnomalyState(n: Long, mean: Double, m2: Double)
  case class AnomalyAlert(user_id: Int, amount: Double, zscore: Double, n_prior: Long)

  /** H8: streaming per-user amount anomaly — Welford's online mean/
    * variance per key (numerically stable, O(1) state per user), alerting
    * when an amount is > `zThreshold` standard deviations from the
    * user's running mean. The streaming twin of the batch z-score
    * operator (c11): state is three doubles per user, so 10⁹ users fit
    * comfortably in distributed state stores.
    */
  def anomalyAlerts(ds: Dataset[Tx], zThreshold: Double,
                    minPrior: Long = 3): Dataset[AnomalyAlert] = {
    implicit val alertEnc = Encoders.product[AnomalyAlert]
    implicit val stateEnc = Encoders.product[AnomalyState]
    implicit val keyEnc = Encoders.scalaInt
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[AnomalyState, AnomalyAlert](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Int, txs: Iterator[Tx], state: GroupState[AnomalyState]) =>
          var st = state.getOption.getOrElse(AnomalyState(0L, 0.0, 0.0))
          // event-time order within the batch so alerts are deterministic
          val alerts = txs.toSeq.sortBy(t => (t.ts.getTime, t.amount)).flatMap { t =>
            val alert =
              if (st.n >= minPrior && st.m2 > 0) {
                // sample variance (n-1), matching the batch c11 z-score —
                // the twins must classify identically
                val sd = math.sqrt(st.m2 / (st.n - 1))
                val z = (t.amount - st.mean) / sd
                if (math.abs(z) > zThreshold)
                  Some(AnomalyAlert(uid, t.amount, z, st.n))
                else None
              } else None
            val n1 = st.n + 1
            val d = t.amount - st.mean
            val mean1 = st.mean + d / n1
            st = AnomalyState(n1, mean1, st.m2 + d * (t.amount - mean1))
            alert
          }
          state.update(st)
          alerts.iterator
      }
  }

  case class SpendTotal(user_id: Int, n: Long, total: Double)

  /** H9: the same running-spend state as [[velocityAlerts]] on the
    * Spark 4 `transformWithState` API — typed per-key `ValueState`
    * handles backed by RocksDB, the operator Spark is converging
    * stateful processing on (state schema evolution, TTL, timers).
    * Emits the updated running total per key per micro-batch.
    */
  class SpendTracker extends org.apache.spark.sql.streaming.StatefulProcessor[
      Int, Tx, SpendTotal] {
    @transient private var state:
      org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[(Long, Double)]("spend",
        Encoders.product[(Long, Double)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Int, rows: Iterator[Tx],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[SpendTotal] = {
      val prev = if (state.exists()) state.get() else (0L, 0.0)
      val batch = rows.toSeq
      val next = (prev._1 + batch.size, prev._2 + batch.map(_.amount).sum)
      state.update(next)
      Iterator.single(SpendTotal(key, next._1, next._2))
    }
  }

  def runningSpend(ds: Dataset[Tx]): Dataset[SpendTotal] = {
    implicit val outEnc = Encoders.product[SpendTotal]
    implicit val keyEnc = Encoders.scalaInt
    ds.groupByKey(_.user_id)
      .transformWithState(new SpendTracker,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** The event shape every per-user event-ordered operator folds: the
    * user key, a unique event id and the event time. [[Ev]] and
    * [[TypedEv]] implement it with their plain case-class fields, so
    * their encoders' schemas, and the state schemas built on them, are
    * those fields alone.
    */
  trait UserEvent {
    def user_id: Long
    def event_id: Long
    def ts: java.sql.Timestamp
  }

  case class Ev(user_id: Long, event_id: Long, ts: java.sql.Timestamp, value: Double)
      extends UserEvent
  case class EwmaState(trail: Seq[Double])
  case class EwmaFeature(user_id: Long, event_id: Long, ewma_value: Double)

  /** Reorder-stage state: the per-user buffer of not-yet-final events
    * plus the wrapped operator's own state.
    */
  case class Reorder[E, S](buf: Seq[E], inner: S)

  private def evMicros(ts: java.sql.Timestamp): Long =
    ts.toInstant.getEpochSecond * 1000000L + ts.toInstant.getNano / 1000L

  /** The one event-order fold behind both combinators: the user's
    * events sorted by FULL-precision (ts, event_id) — `getTime` alone
    * would collapse sub-millisecond spacing — and folded through the
    * operator's per-event `step` from state `st`. Returns the final
    * state and every row the step emitted, in fold order. An
    * `Option`-shaped step (one row or none) and a `Seq`-shaped one
    * (H30's credits: a purchase fans out one row per buffered touch)
    * both fit the step type.
    */
  private def foldInOrder[E <: UserEvent, S, O](st: S, evs: Seq[E],
      step: (S, E) => (S, IterableOnce[O])): (S, Seq[O]) = {
    var s = st
    val out = evs
      .sortBy(e => (e.ts.toInstant.getEpochSecond, e.ts.toInstant.getNano, e.event_id))
      .flatMap { e =>
        val (s2, o) = step(s, e)
        s = s2
        o
      }
    (s, out)
  }

  /** Per-user fold in ARRIVAL order: each micro-batch's events for a
    * user go through [[foldInOrder]] in full and the result becomes
    * the user's state — no buffer, no timer. Within a batch the order
    * is exact; across batches it is arrival order, so parity with the
    * batch feature requires per-user event-time-ordered arrival (the
    * H13 ordering contract). [[reorderedByWatermark]] runs the same
    * step under a guarantee instead.
    */
  private def inArrivalOrder[E <: UserEvent, S <: Product : TypeTag,
                             O <: Product : TypeTag](
      ds: Dataset[E], zero: S, step: (S, E) => (S, IterableOnce[O])): Dataset[O] = {
    implicit val stEnc: Encoder[S] = Encoders.product[S]
    implicit val outEnc: Encoder[O] = Encoders.product[O]
    ds.groupByKey((e: E) => e.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[S, O](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, evs: Iterator[E], state: GroupState[S]) =>
          val (st, out) = foldInOrder(state.getOption.getOrElse(zero), evs.toSeq, step)
          state.update(st)
          out.iterator
      }
  }

  /** Watermark-based per-user reorder-and-fold (the r7 verdict's item
    * 4): the H13/H16/H22 cross-batch parity contracts required per-user
    * event-time-ordered ARRIVAL — documented, but nothing enforced it.
    * This combinator buffers each user's events in state and folds them
    * through the wrapped per-event `step` in exact (ts, event_id) order
    * only once the event-time watermark has passed them, so for any
    * source whose disorder stays within `delay` the served values are
    * bit-identical to the batch feature REGARDLESS of arrival order.
    *
    * Mechanics: events with ts ≤ watermark are ripe — released in
    * sorted order through `step`; the rest stay buffered, with an
    * EventTimeTimeout timer set to the earliest held timestamp so a
    * user with no further arrivals still flushes when the watermark
    * reaches their buffer (Spark's no-data micro-batch after the last
    * data batch fires these timers). Beyond-`delay` stragglers —
    * events already older than the watermark AT ARRIVAL — are DROPPED
    * by the engine before this function runs: flatMapGroupsWithState
    * under EventTimeTimeout filters rows older than the late-events
    * watermark (verified against FlatMapGroupsWithStateExecBase in
    * Spark 4.1.2), the same lateness semantics as every watermarked
    * aggregation. That is the trade against the plain variant, stated
    * plainly: the plain operator folds a straggler (in the wrong
    * order); this one omits it (choose `delay` from the source's real
    * disorder bound). Ripeness compares at FULL timestamp precision
    * (micros vs watermark-ms × 1000): a getTime comparison would
    * release an event whose sub-millisecond component is still above
    * the watermark, and a within-delay predecessor arriving next
    * batch would then fold after it — breaking the exact guarantee
    * this stage exists for. State cost: the inner state plus the ≤
    * `delay`-window slice of each user's events — bounded by the
    * source's actual disorder, not by history.
    *
    * Each operator passes ONE step value (ewmaStep, cusumStep, ...) to
    * both this combinator and [[inArrivalOrder]], and both run it
    * through the one shared [[foldInOrder]], so ordered-arrival parity
    * cannot drift between the two variants.
    */
  private def reorderedByWatermark[E <: UserEvent : TypeTag, S <: Product : TypeTag,
                                   O <: Product : TypeTag](
      ds: Dataset[E], delay: String, zero: S,
      step: (S, E) => (S, IterableOnce[O])): Dataset[O] = {
    implicit val stEnc: Encoder[Reorder[E, S]] = Encoders.product[Reorder[E, S]]
    implicit val outEnc: Encoder[O] = Encoders.product[O]
    ds.withWatermark("ts", delay)
      .groupByKey((e: E) => e.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[Reorder[E, S], O](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Long, evs: Iterator[E], state: GroupState[Reorder[E, S]]) =>
          val st = state.getOption.getOrElse(Reorder(Vector.empty[E], zero))
          val wm = state.getCurrentWatermarkMs()
          val (ripe, hold) = (st.buf ++ evs).partition(e => evMicros(e.ts) <= wm * 1000L)
          val (inner, out) = foldInOrder(st.inner, ripe, step)
          state.update(Reorder(hold, inner))
          // timer strictly above the current watermark (Spark rejects
          // earlier): a held event's ms-truncated getTime can EQUAL wm
          // (held by its sub-ms component), hence the max with wm + 1
          if (hold.nonEmpty)
            state.setTimeoutTimestamp(math.max(hold.map(_.ts.getTime).min, wm + 1L))
          out.iterator
      }
  }

  /** The per-event H13 arithmetic, shared verbatim between the
    * arrival-order operator and its watermark-reordered variant (the
    * psiFromCells sharing rule applied to streaming steps: one
    * function, so the two serve paths cannot drift).
    */
  private def ewmaStep(st: EwmaState, e: Ev): (EwmaState, Option[EwmaFeature]) = {
    val t2 = (st.trail :+ e.value).takeRight(40)
    (EwmaState(t2), Some(EwmaFeature(e.user_id, e.event_id,
      t2.foldLeft(0.0)((a, x) => (a + x) / 2.0))))
  }

  /** H13: online/offline feature PARITY — the streaming serve path of
    * the batch c16 EWMA feature. State is the user's last ≤ 40 values
    * (c16's exact frame, 320 B/user), and each event's feature is the
    * SAME dyadic left fold over that frame the batch runs — so the
    * value served online is BIT-IDENTICAL to the one the model trained
    * on, at any history length and any value magnitudes (a bare
    * recursive s' = (s+x)/2 would carry the untruncated tail and
    * diverge from the 40-row frame whenever magnitudes swing harder
    * than 2^40). Training-serving skew eliminated by running the same
    * exact arithmetic, not by process discipline.
    *
    * Ordering contract: rows fold in full-precision (ts, event_id)
    * order WITHIN each micro-batch (micro-precision — `getTime` alone
    * would collapse sub-millisecond spacing); ACROSS micro-batches the
    * fold follows arrival order, so parity requires per-user
    * event-time-ordered arrival (true for the replayed/backfilled
    * sources the spec models). For an out-of-order live source use
    * [[ewmaFeaturesReordered]] — the same step function behind the
    * watermark reorder stage, which turns the contract into a
    * guarantee for any disorder within its delay (StreamingSpec pins
    * both the plain operator's divergence edge and the reordered
    * variant's restored bit-parity).
    */
  def ewmaFeatures(ds: Dataset[Ev]): Dataset[EwmaFeature] =
    inArrivalOrder(ds, EwmaState(Nil), ewmaStep)

  /** H13 under OUT-OF-ORDER arrival: the same exact EWMA arithmetic
    * behind the [[reorderedByWatermark]] stage, which buffers each
    * user's events and folds them in event-time order once the
    * watermark passes — turning the documented ordered-arrival parity
    * CONTRACT into a guarantee for any source whose disorder stays
    * within `delay` (the r7 verdict's item 4).
    */
  def ewmaFeaturesReordered(ds: Dataset[Ev],
                            delay: String = "10 minutes"): Dataset[EwmaFeature] =
    reorderedByWatermark(ds, delay, EwmaState(Nil), ewmaStep)

  case class DocTokens(doc_id: Long, source: String, n_tokens: Long, hk: Long)
  case class BudgetState(cum_tokens: Long)
  case class AdmittedDoc(doc_id: Long, source: String, n_tokens: Long, cum_tokens: Long)

  /** H14: streaming token-budget admission — the online twin of the
    * batch I11 cap (Profile.tokenBudgetCap). Each source keys one
    * 8-byte state (the cumulative token count of every doc SEEN, not
    * just admitted — rejected docs advance the counter exactly as
    * I11's window sum does); a doc is admitted iff the advanced count
    * is still ≤ `budget`. Since the count is monotone, admission stops
    * permanently once the budget is crossed — a strict greedy prefix,
    * identical to I11's `cum_tokens <= budget` filter.
    *
    * Inputs must come through Profile.tokenObservations so the stream
    * hashes/tokenizes with the SAME expressions as the batch cap.
    * Ordering contract (the H13 rule): rows sort by (hk, doc_id)
    * WITHIN each micro-batch; across batches the fold follows arrival
    * order, so exact batch parity requires hash-order-monotone
    * delivery (true for replayed/backfilled feeds — the spec's shape);
    * under arbitrary arrival the gate is still sound (never exceeds
    * budget, greedy in delivery order), it just admits a different
    * valid prefix.
    *
    * Scale: state is one long per source (domains — typically
    * thousands), partitioned across executors by the groupByKey; per
    * batch work is a local sort of that source's slice. No growth over
    * time, nothing driver-side.
    */
  def tokenBudgetGate(ds: Dataset[DocTokens],
                      budget: Long = 800L): Dataset[AdmittedDoc] = {
    implicit val outEnc = Encoders.product[AdmittedDoc]
    implicit val stateEnc = Encoders.product[BudgetState]
    implicit val keyEnc = Encoders.STRING
    ds.groupByKey(_.source)
      .flatMapGroupsWithState[BudgetState, AdmittedDoc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (src: String, docs: Iterator[DocTokens], state: GroupState[BudgetState]) =>
          var cum = state.getOption.getOrElse(BudgetState(0L)).cum_tokens
          val admitted = docs.toSeq.sortBy(d => (d.hk, d.doc_id)).flatMap { d =>
            cum += d.n_tokens
            if (cum <= budget) Some(AdmittedDoc(d.doc_id, src, d.n_tokens, cum))
            else None
          }
          state.update(BudgetState(cum))
          admitted.iterator
      }
  }

  /** H36: streaming LEARNED-VOCAB token-budget admission — [[tokenBudgetGate]]
    * with the tokenizer moved INTO the stream: raw documents arrive
    * (doc_id, source, text) and each micro-batch segments them against
    * a learned merge table before the per-source greedy admission — the
    * batch I11b pipeline (bpeSegment → tokenBudgetCapFrom) as a serve
    * path.
    *
    * The seam this operator exists to force (build-once/apply-many,
    * the C17/H27 rules-as-data class): the merge table is LEARNED once
    * from the batch corpus (TextAnalysis.pmiCollocations, a bounded
    * top-k lexicon) and enters the streaming plan as literal model
    * state — the stream never re-learns, never scans the corpus, and a
    * retrained lexicon is a new query deployment, not new stream
    * state. Segmentation is TextAnalysis.bpeSegmentWith — the SAME
    * single-fold expressions the batch i11b counts with — and the
    * admission hash is Profile.tokenAdmissionHash, so a
    * hash-order-monotone replay admits exactly the batch i11b prefix
    * (the H13/H14 shared-arithmetic rule; the spec pins set equality).
    *
    * Scale: per-row work is one bounded fold over the token array
    * against a ≤k-entry literal table; state is H14's one long per
    * source. Nothing grows with stream volume and the corpus is never
    * touched at serve time.
    */
  def bpeTokenBudgetGate(docs: org.apache.spark.sql.DataFrame,
                         merges: Seq[String],
                         budget: Long = 800L): Dataset[AdmittedDoc] = {
    import org.apache.spark.sql.functions.col
    implicit val obsEnc = Encoders.product[DocTokens]
    val obs = graft.operators.TextAnalysis
      .bpeSegmentWith(docs, merges, carry = Seq("source"))
      .select(col("doc_id"), col("source"),
        col("bpe_tokens").as("n_tokens"),
        graft.operators.Profile.tokenAdmissionHash.as("hk"))
      .as[DocTokens]
    tokenBudgetGate(obs, budget)
  }

  case class ShardObs(doc_id: Long, shard: Long, n_tokens: Long, hv: Long)
  case class ManifestState(n_docs: Long, shard_tokens: Long, min_doc: Long,
                           max_doc: Long, checksum: Long)
  case class ShardManifestRow(shard: Long, n_docs: Long, shard_tokens: Long,
                              n_seqs: Long, min_doc: Long, max_doc: Long,
                              checksum: Long)

  /** H23: streaming shard-manifest maintenance — the online twin of the
    * batch I23 manifest (Profile.shardManifest): as documents land in
    * the training store, each shard's manifest row (doc/token counts,
    * id span, sequence count, content checksum) stays current without
    * ever rescanning the shard.
    *
    * Every state transition here is COMMUTATIVE and ASSOCIATIVE (long
    * adds, min/max, XOR), so batch parity is UNCONDITIONAL: any arrival
    * order, any micro-batch partitioning, any replay produces exactly
    * the state the batch manifest computes over the same doc set — the
    * order-free end of the parity spectrum whose other end (H13/H16/
    * H22) needs the watermark reorder stage. XOR is additionally its
    * own inverse, so the checksum ALGEBRA supports retraction (a
    * removal re-XORs the same hash; the count fields would ride signed
    * deltas — this op is append-only, the checksum design leaves the
    * door open). Inputs must come through Profile.shardObservations so the
    * stream tokenizes/hashes with the SAME expressions as the batch
    * manifest (the H13 shared-arithmetic rule).
    *
    * Scale: state is 40 bytes per shard and shard counts are
    * 10²–10⁴ — nothing grows with stream volume; per batch each shard
    * folds only its own slice, partitioned by the groupByKey.
    */
  def shardManifestStream(ds: Dataset[ShardObs],
                          budget: Int = 512): Dataset[ShardManifestRow] = {
    implicit val outEnc = Encoders.product[ShardManifestRow]
    implicit val stateEnc = Encoders.product[ManifestState]
    implicit val keyEnc = Encoders.scalaLong
    ds.groupByKey(_.shard)
      .flatMapGroupsWithState[ManifestState, ShardManifestRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (shard: Long, docs: Iterator[ShardObs], state: GroupState[ManifestState]) =>
          var st = state.getOption.getOrElse(
            ManifestState(0L, 0L, Long.MaxValue, Long.MinValue, 0L))
          docs.foreach { d =>
            st = ManifestState(st.n_docs + 1, st.shard_tokens + d.n_tokens,
              math.min(st.min_doc, d.doc_id), math.max(st.max_doc, d.doc_id),
              st.checksum ^ d.hv)
          }
          state.update(st)
          Iterator(ShardManifestRow(shard, st.n_docs, st.shard_tokens,
            (st.shard_tokens + budget - 1) / budget,
            st.min_doc, st.max_doc, st.checksum))
      }
  }

  case class BenfordObs(event_type: String, value: Double)
  case class BenfordCounts(o: Seq[Long], n: Long)
  case class BenfordScreenRow(event_type: String, n_amounts: Long,
                              chi2: Double, benford_flag: Boolean)

  /** H31: streaming Benford screen — the online serve path of the
    * batch c37 chi-square forensic (Fraud.benfordScreen). State per
    * event type is the nine first-digit counts plus the qualifying-row
    * count (80 bytes — type cardinality is single digits, nothing
    * grows with volume); each micro-batch folds its slice into the
    * counts and re-emits the type's CURRENT screen row, so the
    * "which segment's amounts look fabricated" answer stays live as
    * transactions land instead of waiting for the nightly batch.
    *
    * Batch parity is UNCONDITIONAL (the H23 end of the ordering
    * spectrum): counts are commutative long adds, so any arrival
    * order, batch split, or replay lands on exactly the batch counts —
    * and the chi-square close replicates the batch plan's IEEE
    * arithmetic op for op (obs−n·p_d squared over n·p_d, the nine
    * shared [[graft.operators.Fraud.benfordP]] literals, explicit
    * left-to-right term sum), so the served statistic and flag match
    * c37 at the doubleToLongBits level (StreamingSpec pins it under
    * reversed arrival). The digit gate is the batch's: value ≥ 1
    * qualifies, first digit of the floored integer part. A type with
    * no qualifying rows yet emits nothing (the batch has no group row
    * either — and χ² over n=0 is undefined).
    */
  def benfordScreenStream(ds: Dataset[BenfordObs],
                          critical: Double = 15.507): Dataset[BenfordScreenRow] = {
    implicit val outEnc = Encoders.product[BenfordScreenRow]
    implicit val stateEnc = Encoders.product[BenfordCounts]
    implicit val keyEnc = Encoders.STRING
    ds.groupByKey(_.event_type)
      .flatMapGroupsWithState[BenfordCounts, BenfordScreenRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (tpe: String, obs: Iterator[BenfordObs], state: GroupState[BenfordCounts]) =>
          var st = state.getOption.getOrElse(BenfordCounts(Seq.fill(9)(0L), 0L))
          obs.foreach { x =>
            if (x.value >= 1) {
              val d = math.floor(x.value).toLong.toString.charAt(0) - '0'
              st = BenfordCounts(st.o.updated(d - 1, st.o(d - 1) + 1L), st.n + 1)
            }
          }
          state.update(st)
          if (st.n == 0) Iterator.empty
          else {
            val chi2 = (0 until 9).map { i =>
              val e = st.n.toDouble * graft.operators.Fraud.benfordP(i)
              (st.o(i).toDouble - e) * (st.o(i).toDouble - e) / e
            }.reduceLeft(_ + _)
            Iterator(BenfordScreenRow(tpe, st.n, chi2, chi2 > critical))
          }
      }
  }

  case class CusumState(s_unscaled: Long)
  case class CusumScore(user_id: Long, event_id: Long, cusum: Double,
                        shift_flag: Boolean)

  /** The per-event H16 arithmetic on the stored unscaled-long repr
    * (scale-6 decimal ↔ unscaled long is lossless, so stepping through
    * the stored form is bit-identical to carrying the BigDecimal) —
    * shared verbatim by the arrival-order operator and its reordered
    * variant. Spark's double→DECIMAL(18,6) cast rounds the SHORTEST
    * decimal repr (BigDecimal.valueOf) HALF_UP — replicated exactly,
    * NOT new BigDecimal(double) (exact binary), which diverges on
    * values like 0.1.
    */
  private def cusumStep(k: java.math.BigDecimal, h: java.math.BigDecimal)
      : (CusumState, Ev) => (CusumState, Option[CusumScore]) = {
    val k6 = k.setScale(6)
    val zero = java.math.BigDecimal.ZERO.setScale(6)
    (st, e) => {
      var s = java.math.BigDecimal.valueOf(st.s_unscaled, 6)
      val dev = java.math.BigDecimal.valueOf(e.value)
        .setScale(6, java.math.RoundingMode.HALF_UP).subtract(k6)
      s = s.add(dev)
      if (s.signum() < 0) s = zero
      (CusumState(s.movePointRight(6).longValueExact()),
        Some(CusumScore(e.user_id, e.event_id, s.doubleValue, s.compareTo(h) > 0)))
    }
  }

  /** H16: online CUSUM — the streaming serve path of the batch c18
    * change-point statistic, bit-identical (the H13 parity rule). The
    * batch closed form S_t = P_t − min(0, min P) IS the recurrence
    * S_t = max(0, S_{t-1} + (x_t − k)), so streaming state is a single
    * scale-6 decimal per user — 8 bytes, carried as the unscaled long.
    * Every step replicates the batch engine's arithmetic exactly:
    * value→DECIMAL(18,6) via the same shortest-decimal-then-HALF_UP
    * conversion Spark's Cast applies, exact decimal add, exact clamp at
    * zero, and the same h=200 decimal comparison — so the served score
    * and flag match the batch feature at the doubleToLongBits level at
    * any history length (spec'd in StreamingSpec).
    *
    * Ordering contract (H13): rows fold in (ts, event_id) order within
    * each micro-batch; across batches parity requires per-user ordered
    * arrival, the replay/backfill contract — [[cusumScoresReordered]]
    * guarantees it for out-of-order sources (disorder within its
    * delay). The unscaled-long state bounds S at ~9.2e12 (scale 6) —
    * beyond it longValueExact fails fast rather than silently
    * wrapping; a deployment tracking larger cumulative drift should
    * widen the state to two longs.
    */
  def cusumScores(ds: Dataset[Ev],
                  k: java.math.BigDecimal = new java.math.BigDecimal("50.0"),
                  h: java.math.BigDecimal = new java.math.BigDecimal("200.0"))
      : Dataset[CusumScore] =
    inArrivalOrder(ds, CusumState(0L), cusumStep(k, h))

  /** H16 under OUT-OF-ORDER arrival: [[cusumScores]]' exact step behind
    * the watermark reorder stage — ordered-arrival parity becomes a
    * guarantee for any source whose disorder stays within `delay`.
    */
  def cusumScoresReordered(ds: Dataset[Ev],
      k: java.math.BigDecimal = new java.math.BigDecimal("50.0"),
      h: java.math.BigDecimal = new java.math.BigDecimal("200.0"),
      delay: String = "10 minutes"): Dataset[CusumScore] =
    reorderedByWatermark(ds, delay, CusumState(0L), cusumStep(k, h))

  case class StructState(band_us: Seq[Long])
  case class StructuringAlert(user_id: Long, event_id: Long, value: Double,
                              n_band: Long)

  /** The per-event H32 arithmetic, shared verbatim by the arrival-order
    * operator and its reordered variant. Out-of-band events touch
    * nothing; an in-band event prunes the buffer to the half-open
    * (ts−window, ts] — safe under the event-time-ordered fold because
    * later events' windows only move up — and counts itself plus the
    * survivors, exactly the batch c39 RANGE frame (integer micros,
    * integer count).
    */
  private def structuringStep(lo: Double, hi: Double, windowDays: Int,
                              minCount: Int)(st: StructState, e: Ev)
      : (StructState, Option[StructuringAlert]) =
    if (e.value < lo || e.value >= hi) (st, None)
    else {
      val us = evMicros(e.ts)
      val kept = st.band_us.filter(_ > us - windowDays * 86400000000L)
      val n = kept.size + 1L
      (StructState(kept :+ us),
        if (n >= minCount) Some(StructuringAlert(e.user_id, e.event_id, e.value, n))
        else None)
    }

  /** H32: streaming structuring screen — the online serve path of the
    * batch c39 AML forensic (Fraud.structuringScreen): the alert that
    * a user just placed their `minCount`-th just-under-threshold
    * amount inside the trailing window fires ON that transaction, not
    * in the nightly batch. State per user is the in-band event times
    * still inside the window — at c39's sized knobs that is ≤5 longs
    * (the corpus max), and in general bounded by the user's in-band
    * rate × window, never by history.
    *
    * Ordering contract (the H13 rule): rows fold in (ts, event_id)
    * order within each micro-batch; across batches parity with c39
    * requires per-user ordered arrival (replay/backfill), and
    * [[structuringAlertsReordered]] turns that into a guarantee for
    * disorder within its delay. One stated tie edge: the batch RANGE
    * frame counts same-MICROSECOND in-band peers into each other's
    * totals, while a streamed fold can only count the (ts, event_id)-
    * lex prefix — the served count on such a tie is the prefix count.
    * No same-μs same-user in-band pair exists at any verify SF (the
    * spec asserts it), and at microsecond precision the tie needs an
    * engineered feed.
    */
  def structuringAlerts(ds: Dataset[Ev], lo: Double = 90.0, hi: Double = 100.0,
                        windowDays: Int = 7, minCount: Int = 3)
      : Dataset[StructuringAlert] =
    inArrivalOrder(ds, StructState(Nil), structuringStep(lo, hi, windowDays, minCount))

  /** H32 under OUT-OF-ORDER arrival: [[structuringAlerts]]' exact step
    * behind the watermark reorder stage — a late-arriving early event
    * would otherwise claim the alert its successor earned (the spec's
    * pinned edge: the flag lands on the wrong transaction, not merely
    * late).
    */
  def structuringAlertsReordered(ds: Dataset[Ev], lo: Double = 90.0,
      hi: Double = 100.0, windowDays: Int = 7, minCount: Int = 3,
      delay: String = "10 minutes"): Dataset[StructuringAlert] =
    reorderedByWatermark(ds, delay, StructState(Nil),
      structuringStep(lo, hi, windowDays, minCount))

  case class ReactState(last_day: Long, prior_sum_unscaled: Long, prior_n: Long)
  case class ReactivationAlert(user_id: Long, event_id: Long, gap_days: Long,
                               prior_mean: Double, value: Double)

  /** H22's zero state: null means "no prior event" (a first-ever event
    * never alerts). Under the reorder stage it rides inside the Reorder
    * wrapper as a null struct field.
    */
  private val noPrior: ReactState = null

  /** The per-event H22 arithmetic (null prior = first-ever event),
    * shared verbatim by the arrival-order operator and its reordered
    * variant. The day gap is integer epoch-day subtraction under UTC;
    * the prior mean is decimal-sum→double divided by count→double (the
    * batch window chain's exact cast sequence); v6 is the same
    * shortest-decimal-then-HALF_UP conversion the batch DECIMAL(18,6)
    * cast applies (the H16 rule).
    */
  private def reactStep(dormantDays: Long, burstFactor: Double)(
      st: ReactState, e: Ev): (ReactState, Option[ReactivationAlert]) = {
    val day = e.ts.toInstant
      .atZone(java.time.ZoneOffset.UTC).toLocalDate.toEpochDay
    val alert =
      if (st == null) None
      else {
        val gap = day - st.last_day
        val priorMean = java.math.BigDecimal
          .valueOf(st.prior_sum_unscaled, 6).doubleValue / st.prior_n.toDouble
        if (gap >= dormantDays && e.value >= burstFactor * priorMean)
          Some(ReactivationAlert(e.user_id, e.event_id, gap, priorMean, e.value))
        else None
      }
    val v6 = java.math.BigDecimal.valueOf(e.value)
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .movePointRight(6).longValueExact()
    val st2 =
      if (st == null) ReactState(day, v6, 1L)
      else ReactState(day, Math.addExact(st.prior_sum_unscaled, v6),
        st.prior_n + 1L)
    (st2, alert)
  }

  /** H22: online dormancy-reactivation detection — the streaming serve
    * path of the batch c26 report, bit-identical (the H13 parity rule).
    * Per-user state is 24 bytes: the last event's epoch day, the
    * running DECIMAL(18,6) value sum as its unscaled long, and the
    * event count. Every step replicates the batch arithmetic exactly:
    * the day gap is integer epoch-day subtraction (to_date under the
    * session's UTC zone = Instant at UTC → LocalDate), the prior mean
    * is decimal-sum→double divided by count→double (the same cast
    * sequence the batch window chain compiles), and the burst compare
    * uses the identical double multiply — so the flagged set and every
    * reported mean match the batch report at the doubleToLongBits
    * level (spec'd in StreamingSpec H22).
    *
    * Ordering contract (H13): rows fold in (ts, event_id) order within
    * each micro-batch; across batches parity requires per-user ordered
    * arrival — the replay/backfill contract, guaranteed for
    * out-of-order sources by [[reactivationAlertsReordered]] (and the
    * silent failure the plain fold risks — a burst arriving before its
    * history looks like a first-ever event and the alert is MISSED —
    * is pinned in StreamingSpec). The unscaled-long sum fails fast via
    * longValueExact at ~9.2e12 (scale 6), the CUSUM bound.
    */
  def reactivationAlerts(ds: Dataset[Ev], dormantDays: Long = 2L,
                         burstFactor: Double = 1.5): Dataset[ReactivationAlert] =
    inArrivalOrder(ds, noPrior, reactStep(dormantDays, burstFactor))

  /** H22 under OUT-OF-ORDER arrival: [[reactivationAlerts]]' exact step
    * behind the watermark reorder stage.
    */
  def reactivationAlertsReordered(ds: Dataset[Ev], dormantDays: Long = 2L,
      burstFactor: Double = 1.5,
      delay: String = "10 minutes"): Dataset[ReactivationAlert] =
    reorderedByWatermark(ds, delay, noPrior, reactStep(dormantDays, burstFactor))

  case class DecayBuf(days: Seq[Long], v6s: Seq[Long])
  case class DecayedFeature(user_id: Long, event_id: Long, n_recent: Long,
                            decayed_spend: Double)

  /** The per-event C34 arithmetic (shared by both H28 variants): keep
    * the user's (day, value-micros) pairs within `maxAge` days of the
    * running last day — pruning against an intermediate day is safe
    * because day−d only grows — and serve Σ v·2^(maxAge−age) as an
    * exact integer-scaled BigDecimal closed by one power-of-two double
    * division: the batch aggregate's arithmetic verbatim, so the value
    * served at a user's last event is bit-identical to the c34 row.
    * State is the ≤maxAge-day activity slice (16 B/event), not history.
    */
  private def decayStep(maxAge: Long)(st: DecayBuf, e: Ev)
      : (DecayBuf, Option[DecayedFeature]) = {
    val day = e.ts.toInstant
      .atZone(java.time.ZoneOffset.UTC).toLocalDate.toEpochDay
    val v6 = java.math.BigDecimal.valueOf(e.value)
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .movePointRight(6).longValueExact()
    val kept = (st.days.zip(st.v6s) :+ (day, v6))
      .filter { case (d, _) => day - d <= maxAge }
    var acc = java.math.BigDecimal.ZERO
    kept.foreach { case (d, v) =>
      acc = acc.add(java.math.BigDecimal.valueOf(v, 6)
        .multiply(java.math.BigDecimal.valueOf(1L << (maxAge - (day - d)))))
    }
    val f = DecayedFeature(e.user_id, e.event_id, kept.size.toLong,
      acc.doubleValue / math.pow(2.0, maxAge.toDouble))
    (DecayBuf(kept.map(_._1), kept.map(_._2)), Some(f))
  }

  /** H28: online recency-weighted spend — the streaming serve path of
    * the batch C34 feature (H13's training-serving-parity class): each
    * event is answered with the user's half-life-decayed spend as of
    * that event, and at the user's last event the value equals the
    * batch c34 row bit-for-bit. Ordering contract as H13; use
    * [[decayedFeaturesReordered]] for out-of-order sources.
    */
  def decayedFeatures(ds: Dataset[Ev], maxAge: Long = 20L): Dataset[DecayedFeature] =
    inArrivalOrder(ds, DecayBuf(Nil, Nil), decayStep(maxAge))

  /** H28 under OUT-OF-ORDER arrival: [[decayStep]] behind the watermark
    * reorder stage (the step prunes against a running max day, so the
    * fold order is semantic — disorder would both mis-prune and serve
    * stale mixes).
    */
  def decayedFeaturesReordered(ds: Dataset[Ev], maxAge: Long = 20L,
      delay: String = "10 minutes"): Dataset[DecayedFeature] =
    reorderedByWatermark(ds, delay, DecayBuf(Nil, Nil), decayStep(maxAge))

  case class TypedEv(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
                     event_type: String) extends UserEvent
  case class MotifState(t1: String, t2: String)
  case class MotifHit(user_id: Long, event_id: Long, t1: String, t2: String,
                      t3: String)

  /** The per-event C33 arithmetic, shared by both H27 variants: slide
    * the user's 2-type memory and emit a hit when the completed trigram
    * is in the mined motif set ("" = no prior event yet).
    */
  private def motifStep(motifs: Set[(String, String, String)])(
      st: MotifState, e: TypedEv): (MotifState, Option[MotifHit]) = {
    val hit =
      if (st.t1.nonEmpty && motifs((st.t1, st.t2, e.event_type)))
        Some(MotifHit(e.user_id, e.event_id, st.t1, st.t2, e.event_type))
      else None
    (MotifState(st.t2, e.event_type), hit)
  }

  /** H27: streaming motif screen — the serve path of the C32→C33
    * mining→deployment story: the batch job mines the high-lift motif
    * list (a bounded driver model, H24's hinge), the stream flags every
    * event that completes one in real time from TWO event-type strings
    * of per-user state. Same contract family as H13/H22: rows fold in
    * full-precision (ts, event_id) order within a micro-batch, ordered
    * per-user arrival across batches; [[motifAlertsReordered]] turns
    * that into a guarantee. Output values are exact strings/longs, so
    * batch parity (vs [[graft.operators.Fraud.motifOccurrences]]) is
    * exact equality, no FP recipe needed.
    */
  def motifAlerts(ds: Dataset[TypedEv],
                  motifs: Seq[(String, String, String)]): Dataset[MotifHit] =
    inArrivalOrder(ds, MotifState("", ""), motifStep(motifs.toSet))

  /** H27 under OUT-OF-ORDER arrival: the same [[motifStep]] behind the
    * watermark reorder stage — a disordered pair of events would
    * otherwise form phantom trigrams and miss real ones; within `delay`
    * the hit set is the batch screen's exactly.
    */
  def motifAlertsReordered(ds: Dataset[TypedEv],
      motifs: Seq[(String, String, String)],
      delay: String = "10 minutes"): Dataset[MotifHit] =
    reorderedByWatermark(ds, delay, MotifState("", ""), motifStep(motifs.toSet))

  case class TouchBuf(touches: Seq[(Long, String, Long)])
  case class TouchCredit(user_id: Long, purchase_id: Long, touch_id: Long,
                         touch_type: String, n_touches: Long, weight: Double,
                         is_last_touch: Boolean)

  /** The per-event C36 arithmetic, shared by both H30 variants: keep
    * the user's (touch_id, touch_type, ts-micros) triples within
    * `windowDays` of the running clock; a purchase fans out one credit
    * per live touch. Pruning against ANY event's timestamp is safe
    * because the fold is event-time-ordered, so no later purchase's
    * window can reach below this event's. The before-relation needs no
    * explicit check: a touch is in the buffer iff its (ts, event_id)
    * totals BELOW the purchase's — exactly the batch join's tie-broken
    * `t_ts < p_ts OR (t_ts = p_ts AND touch_id < purchase_id)`. The
    * weight is the identical 1.0/n double division the batch computes;
    * last-touch is the max (ts, touch_id) — the batch's row_number
    * DESC window. State: the ≤window activity slice, not history.
    */
  private def touchStep(windowDays: Long)(st: TouchBuf, e: TypedEv)
      : (TouchBuf, Seq[TouchCredit]) = {
    val em = evMicros(e.ts)
    val kept = st.touches.filter(_._3 >= em - windowDays * 86400000000L)
    e.event_type match {
      case "purchase" =>
        val n = kept.size
        val credits =
          if (n == 0) Nil
          else {
            val lastKey = kept.map(t => (t._3, t._1)).max
            kept.map { case (id, ty, tm) =>
              TouchCredit(e.user_id, e.event_id, id, ty, n.toLong, 1.0 / n,
                (tm, id) == lastKey)
            }
          }
        (TouchBuf(kept), credits)
      case "view" | "click" =>
        (TouchBuf(kept :+ ((e.event_id, e.event_type, em))), Nil)
      case _ => (TouchBuf(kept), Nil)
    }
  }

  /** H30: streaming multi-touch attribution — the online serve path of
    * the batch C36 report (the mining→deployment class): each purchase
    * is answered IN the stream with its equal-split credit rows (plus
    * the last-touch flag), identical to the batch attribution table
    * row-for-row and bit-for-bit on the 1/n weights. Touches are NOT
    * consumed by a purchase — a later purchase inside the window
    * re-credits them, matching the batch join's semantics. Same
    * ordering contract as H13/H27; [[touchCreditsReordered]] turns it
    * into a guarantee (a purchase arriving before its touches would
    * otherwise under-count n and mis-split every weight).
    */
  def touchCredits(ds: Dataset[TypedEv],
                   windowDays: Long = 7L): Dataset[TouchCredit] =
    inArrivalOrder(ds, TouchBuf(Nil), touchStep(windowDays))

  /** H30 under OUT-OF-ORDER arrival: [[touchStep]] behind the
    * watermark reorder stage — within `delay` the credit table is the
    * batch c36 report's exactly.
    */
  def touchCreditsReordered(ds: Dataset[TypedEv], windowDays: Long = 7L,
      delay: String = "10 minutes"): Dataset[TouchCredit] =
    reorderedByWatermark(ds, delay, TouchBuf(Nil), touchStep(windowDays))

  def velocityAlerts(ds: Dataset[Tx], threshold: Long): Dataset[VelocityAlert] = {
    implicit val alertEnc = Encoders.product[VelocityAlert]
    implicit val stateEnc = Encoders.product[VelocityState]
    implicit val keyEnc = Encoders.scalaInt
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[VelocityState, VelocityAlert](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Int, txs: Iterator[Tx], state: GroupState[VelocityState]) =>
          val prev = state.getOption.getOrElse(VelocityState(0L, 0.0))
          val batch = txs.toSeq
          val next = VelocityState(prev.n + batch.size, prev.total + batch.map(_.amount).sum)
          state.update(next)
          val crossed = prev.n < threshold && next.n >= threshold
          if (crossed) Iterator.single(VelocityAlert(uid, next.n, next.total))
          else Iterator.empty
      }
  }
}
