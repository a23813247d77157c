package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.sources.Tables

/** [EXT] streaming surface (SURVEY.md §2.10) over
  * `events(ts, user_id, event_type, value, props)`.
  *
  * Design: every transform is written against a plain DataFrame so the
  * SAME code runs in two modes:
  *   - batch (driver testdata parquet) -> DuckDB-oracle-checkable
  *     queries q44-q47 below;
  *   - streaming (readStream / MemoryStream) -> exercised in
  *     StreamingSpec with watermarks and late data.
  * This mirrors the reference's only "streaming" behavior — incremental
  * batch appends (`LoadXML2DB.ChatterjeeP.R:198-452`) — upgraded to real
  * event-time processing. Watermarks bound state at 100 TB/day rates;
  * every aggregation below keys its state by (window x small key), never
  * by raw event id.
  */
object Streams {

  /** Tumbling 1-hour event-time windows per event type. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value")), 2).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Same, with a 10-minute watermark for streaming mode (late rows
    * beyond the watermark are dropped; state is bounded). */
  def tumblingCountsStreaming(events: DataFrame): DataFrame =
    tumblingCounts(events.withWatermark("ts", "10 minutes"))

  /** q212's STREAMING TWIN (VERDICT r09 #8): hourly per-type counts
    * under an explicit watermark delay — the live enforcement of the
    * lateness bound q212 profiles in batch. Rows whose hour window has
    * been finalized by the watermark (global max event time minus
    * delay, advanced per micro-batch) are DROPPED before aggregation;
    * StreamingLatenessSpec asserts the dropped set is exactly what the
    * batch lateness audit predicts for the same arrival order. */
  def latenessWindowCounts(events: DataFrame, delaySeconds: Long): DataFrame =
    events.withWatermark("ts", s"$delaySeconds seconds")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"))

  /** Sliding 1-hour windows advancing every 15 minutes (each event
    * contributes to 4 windows). */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value")), 2).as("total_value"))
      .select(col("w.start").as("window_start"),
        col("n_events"), col("total_value"))

  /** Session windows per user with a 4-hour inactivity gap. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "4 hours").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"))

  def sessionCountsStreaming(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "4 hours").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"))

  /** Streaming dedup by business key within the watermark horizon
    * (`dropDuplicatesWithinWatermark`) — streaming mode only. */
  def dedupStreaming(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Stream-stream (or batch) INTERVAL JOIN: each purchase matched to
    * the same user's signups within the preceding 7 days. In streaming
    * mode, watermarks on BOTH sides plus the time-range condition let
    * Spark bound join state (right rows older than watermark+range are
    * evicted) — the only join shape that stays O(window) at an unbounded
    * 100 TB/day stream. Caller supplies pre-filtered/renamed sides. */
  def purchaseSignupJoin(purchases: DataFrame, signups: DataFrame): DataFrame =
    purchases.join(signups,
      col("user_id") === col("s_user_id") &&
        col("s_ts") >= col("ts") - expr("INTERVAL 7 DAYS") &&
        col("s_ts") <= col("ts"))

  /** LEFT OUTER variant of [[purchaseSignupJoin]]: purchases with NO
    * in-window signup still emit, null-extended. In streaming mode the
    * null row can only be emitted once the watermark passes the end of
    * the purchase's join window (before that a matching signup could
    * still arrive), so both sides MUST be watermarked — the state bound
    * and the outer-emission trigger are the same mechanism. */
  def purchaseSignupJoinOuter(purchases: DataFrame, signups: DataFrame)
      : DataFrame =
    purchases.join(signups,
      col("user_id") === col("s_user_id") &&
        col("s_ts") >= col("ts") - expr("INTERVAL 7 DAYS") &&
        col("s_ts") <= col("ts"),
      "left_outer")

  /** Stream-static enrichment join: the unbounded stream side joined to
    * a bounded dimension. Stateless — each micro-batch hash-joins against
    * the (broadcast) static relation, no watermark and no join state, so
    * it scales with the dimension, not the stream. The streaming upgrade
    * of the reference's per-row dimension-map probe
    * (`LoadXML2DB.ChatterjeeP.R:170-171,186-187`). */
  def enrichEvents(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("user_id"), "left_outer")

  /** Arbitrary stateful processing (`mapGroupsWithState`): running
    * per-user event count that survives across micro-batches — the
    * custom-state escape hatch (SURVEY.md §2.10) when windows/dedup
    * built-ins can't express the semantics. State is one Long per user:
    * bounded by |users|, not by stream length. */
  def runningUserCounts(events: DataFrame): org.apache.spark.sql.Dataset[(Long, Long)] = {
    val sess = events.sparkSession
    import sess.implicits._
    events.select(col("user_id").cast("long")).as[Long]
      .groupByKey(identity)
      .mapGroupsWithState[Long, (Long, Long)](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Long],
         state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (uid, n)
      }
  }

  /** Per-user running surprisal state for [[runningSurprisal]]: the
    * last seen event type (the boundary anchor), the exact transition
    * count, and the exact micro-bit sum — O(1) per user, the SAME
    * carried tuple q244's batch-boundary stitch persists. */
  case class SurpState(lastUs: Long, lastId: Long, lastType: String,
      n: Long, sSum: Long)

  /** Streaming twin of q241/q244 (`mapGroupsWithState`): running
    * per-user transition-surprisal scoring under a FROZEN broadcast
    * model (the trained |types|² snapshot — micro-bit constants, so
    * state arithmetic is exact integers and parity with the batch
    * recompute is EXACT, not approximate). Each micro-batch sorts its
    * per-user rows by (us, event_id) — the grouped iterator carries no
    * order guarantee — and folds them through the carried state; the
    * emitted (user, n, sum) row after the last batch equals the batch
    * q244 fold bit-for-bit (`StreamingSurprisalSpec`). State is one
    * [[SurpState]] per user — bounded by users, never stream length. */
  def runningSurprisal(events: DataFrame,
      model: Map[(String, String), Long])
      : org.apache.spark.sql.Dataset[(Long, Long, Long)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val sess = events.sparkSession
    import sess.implicits._
    events.select(col("user_id").cast("long"), col("us").cast("long"),
        col("event_id").cast("long"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[SurpState, (Long, Long, Long)](
        GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Long, String)],
         state: GroupState[SurpState]) =>
          var st = state.getOption.orNull
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { r =>
            st =
              if (st == null) SurpState(r._2, r._3, r._4, 0L, 0L)
              else SurpState(r._2, r._3, r._4, st.n + 1L,
                st.sSum + model((st.lastType, r._4)))
          }
          state.update(st)
          (uid, st.n, st.sSum)
      }
  }

  /** Per-user half-window activity counters for [[runningChurn]]. */
  case class ChurnState(n1: Long, n2: Long)

  /** Streaming twin of q302's label construction: per user, the
    * (first-half, second-half) activity counters relative to a FROZEN
    * cut timestamp, maintained as O(1) `mapGroupsWithState` state —
    * the production shape of an activity-gap churn labeler that runs
    * on the live stream and is read off at labeling time. Emits the
    * running (user, n1, n2) after each batch; the final state must
    * equal the batch q302 user profile (StreamingChurnSpec pins it). */
  def runningChurn(events: DataFrame, cutUs: Long)
      : org.apache.spark.sql.Dataset[(Long, Long, Long)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val sess = events.sparkSession
    import sess.implicits._
    events.select(col("user_id").cast("long"), col("us").cast("long"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[ChurnState, (Long, Long, Long)](
        GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long)],
         state: GroupState[ChurnState]) =>
          var st = state.getOption.getOrElse(ChurnState(0L, 0L))
          rows.foreach { r =>
            st = if (r._2 < cutUs) ChurnState(st.n1 + 1, st.n2)
            else ChurnState(st.n1, st.n2 + 1)
          }
          state.update(st)
          (uid, st.n1, st.n2)
      }
  }

  /** Accumulated per-user session state for [[timeoutSessions]]: O(1)
    * counters per key, never the event list. */
  case class SessionAcc(n: Long, total: Double, first: Long, last: Long)

  /** A completed session emitted at event-time timeout. */
  case class SessionOut(user_id: Long, n_events: Long, total_value: Double,
      span_ms: Long)

  /** Session gap for [[timeoutSessions]] (30 min). */
  val SessionGapMs: Long = 30L * 60 * 1000

  /** Timeout-emitted sessions (`flatMapGroupsWithState` +
    * EventTimeTimeout — the §2.10 surface `mapGroupsWithState` can't
    * cover): per-user counters accumulate across micro-batches and the
    * COMPLETED session is emitted exactly once — at watermark passage of
    * last-event + gap, or immediately when another observed event for
    * the same key proves the session closed: state and batch events are
    * interval-merged in start order with session_window's ≤gap rule, so
    * two >gap-apart events in one micro-batch yield two sessions, an
    * out-of-order event more than the gap BEFORE the open session closes
    * into its own session instead of polluting the open one, and a
    * bridging event merges neighbors transitively (extending the open
    * session's start downward when late data demands it). Events older
    * than an already-EMITTED session can still arrive (the watermark
    * admits them to custom state); they sessionize among themselves
    * rather than reopening emitted output — the custom-state analogue of
    * the built-in's late-data discard. This is the custom-state form of q46's
    * `session_window`, needed when the emission payload (derived
    * features, first/last markers) outgrows the built-in session agg.
    * State is one [[SessionAcc]] per ACTIVE user — bounded by live
    * keys, reclaimed at timeout; at 100 TB/day the watermark is the
    * state-size knob, exactly as for the built-in windows. Caller must
    * set the event-time watermark on `events` (ts, user_id, value). */
  def timeoutSessions(events: DataFrame)
      : org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val sess = events.sparkSession
    import sess.implicits._
    // the watermarked `ts` column must survive the projection AS a
    // timestamp — replacing it with a derived long would detach the
    // event-time watermark the timeout runs on
    events
      .select(col("user_id").cast("long"), col("ts"),
        col("value").cast("double"))
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionAcc, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)],
         state: GroupState[SessionAcc]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(
              SessionOut(uid, s.n, s.total, s.last - s.first))
          } else {
            // INTERVAL-MERGE sessionization of (accumulated state ∪
            // batch events), sorted by start time: consecutive pieces
            // merge when separated by ≤ SessionGapMs, so intra-batch
            // gaps, gaps against earlier-batch state, AND out-of-order
            // events all follow session_window's merge rule — an event
            // within the gap of the open session merges (possibly
            // extending its START downward), an event more than the gap
            // BEFORE the open session closes into its own session, and
            // a bridging event merges both transitively. Every merged
            // piece except the last (kept open in state) is emitted
            // here, without waiting for the watermark timeout — which
            // only fires once the watermark advances, something a lone
            // active key's own events may never cause.
            val pieces = (state.getOption.toVector ++
              rows.map { case (_, t, v) =>
                SessionAcc(1L, v, t.getTime, t.getTime)
              }).sortBy(a => (a.first, a.last))
            var acc: SessionAcc = null
            val closed = Vector.newBuilder[SessionOut]
            pieces.foreach { p =>
              if (acc == null) acc = p
              else if (p.first - acc.last > SessionGapMs) {
                closed += SessionOut(uid, acc.n, acc.total,
                  acc.last - acc.first)
                acc = p
              } else acc = SessionAcc(acc.n + p.n, acc.total + p.total,
                acc.first, math.max(acc.last, p.last))
            }
            state.update(acc)
            state.setTimeoutTimestamp(acc.last + SessionGapMs)
            closed.result().iterator
          }
      }
  }

  /** Per-type running CUSUM state for [[runningCusum]]: the last
    * folded day, the current one-sided statistic S (exact micro-unit
    * BIGINT), and the alarm-day count — O(1) per event type. */
  case class CusumState(lastDay: Long, sMicro: Long, alarms: Long)

  /** Streaming twin of q252's CUSUM mean-shift monitor
    * (`mapGroupsWithState`): the textbook recursion
    * S_t = max(0, S_{t−1} + (x_t − μ0 − k)) folded incrementally per
    * event type over arriving DAILY counts, under a FROZEN tuning
    * snapshot (per-type μ0 in exact micro-units — k = μ0/4 and
    * h = 2·μ0 derive from it, so every state transition is exact
    * BIGINT arithmetic and parity with the batch q252 closed form
    * (S_t = P_t − min(0, min_j≤t P_j), provably the same sequence) is
    * EXACT, not approximate — StreamingCusumSpec pins it). Each
    * micro-batch sorts its per-type rows by day (the grouped iterator
    * carries no order guarantee) and folds them through the carried
    * state; days must arrive batch-monotonically per type (the
    * daily-profile upstream is a tumbling-window aggregate, which
    * emits in watermark order). State is one [[CusumState]] per type
    * — bounded by |types|, never stream length. */
  def runningCusum(daily: DataFrame, muMicro: Map[String, Long])
      : org.apache.spark.sql.Dataset[(String, Long, Long, Long)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val sess = daily.sparkSession
    import sess.implicits._
    // Types absent from the frozen tuning snapshot are DROPPED before
    // grouping — exactly the batch q252's inner join on the mu table
    // (TimeSeries2.q252Cusum). Without this, an unseen type arriving
    // mid-stream would hit `muMicro(t)` inside the state function and
    // kill the whole streaming query with NoSuchElementException.
    val known = muMicro.keySet
    daily.select(col("event_type"), col("day").cast("long"),
        col("n").cast("long"))
      .as[(String, Long, Long)]
      .filter(r => known.contains(r._1))
      .groupByKey(_._1)
      .mapGroupsWithState[CusumState, (String, Long, Long, Long)](
        GroupStateTimeout.NoTimeout) {
        (t: String, rows: Iterator[(String, Long, Long)],
         state: GroupState[CusumState]) =>
          val mu = muMicro(t)
          val k = mu / 4L
          val h = mu * 2L
          var st = state.getOption
            .getOrElse(CusumState(Long.MinValue, 0L, 0L))
          rows.toSeq.sortBy(_._2).foreach { r =>
            val s1 = math.max(0L, st.sMicro + r._3 * 1000000L - mu - k)
            st = CusumState(r._2, s1,
              st.alarms + (if (s1 > h) 1L else 0L))
          }
          state.update(st)
          (t, st.lastDay, st.sMicro, st.alarms)
      }
  }

  /** Per-type DDSketch bucket-count state for [[runningDdsketch]]:
    * one FIXED-width count vector (|ladder|+1 slots) per event type —
    * the constant-size mergeable state that makes log-bucket sketches
    * the streaming quantile answer (vs q373's exact ladder, which
    * needs a global ordinal pass). */
  case class DdSketchState(counts: Seq[Long])

  /** Streaming twin of q375's DDSketch quantile histogram
    * (VERDICT r11 stretch #8, the q252/CUSUM playbook): arriving
    * (event_type, cents) rows fold incrementally into the per-type
    * bucket counts under the SAME pinned boundary ladder
    * ([[graft.operators.Breadth10.DdBounds]]); bucket(c) =
    * #{boundaries < c} via binary search — exact integer compares, so
    * state parity with the batch sketch is BIT-EXACT, not approximate
    * (StreamingQuantileSpec pins it). Emits the full count vector per
    * type per micro-batch; any quantile reads off the final state
    * with the q373 ceil-rank rule exactly as q375 does. */
  def runningDdsketch(values: DataFrame)
      : org.apache.spark.sql.Dataset[(String, Seq[Long])] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val sess = values.sparkSession
    import sess.implicits._
    val bounds = graft.operators.Breadth10.DdBounds.toArray
    val width = bounds.length + 1
    values.select(col("event_type"), col("cents").cast("long"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[DdSketchState, (String, Seq[Long])](
        GroupStateTimeout.NoTimeout) {
        (t: String, rows: Iterator[(String, Long)],
         state: GroupState[DdSketchState]) =>
          val counts = state.getOption.map(_.counts.toArray)
            .getOrElse(Array.fill(width)(0L))
          rows.foreach { r =>
            val i = java.util.Arrays.binarySearch(bounds, r._2)
            // found: index == #smaller; missing: insertion point ==
            // #smaller — both are exactly q375's bucket rule
            counts(if (i >= 0) i else -(i + 1)) += 1L
          }
          state.update(DdSketchState(counts.toIndexedSeq))
          (t, counts.toIndexedSeq)
      }
  }

  /** Per-bucket running count for [[runningDdTrajectory]]: ONE long
    * per bucket key — the day-prefix trajectory state is just the
    * DDSketch histogram sharded by bucket (≤ |ladder|+1 groups), so
    * no row ever funnels through a single task and the state size is
    * ladder-bounded regardless of corpus size. */
  case class DdCumState(cum: Long)

  /** Streaming twin of q380's day-prefix quantile trajectory (VERDICT
    * r12 #5, the q375-twin playbook): arriving `cents` rows key by
    * their pinned-ladder bucket (binary search — the exact
    * #{boundaries < c} rule q375/q380 share, including the clamp
    * semantics: out-of-range values land in the boundary buckets) and
    * fold into a per-bucket running count. Feeding one calendar day
    * per micro-batch makes the emitted (bucket, cum) updates after
    * batch d EXACTLY day d's row of q380's prefix-merged histogram —
    * the batch query's cumulative-over-days window re-expressed as
    * mapGroupsWithState increments, state parity bit-exact
    * (StreamingTrajectorySpec pins it, including the p95 read-off). */
  def runningDdTrajectory(values: DataFrame)
      : org.apache.spark.sql.Dataset[(Int, Long)] = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val sess = values.sparkSession
    import sess.implicits._
    val bounds = graft.operators.Breadth10.DdBounds.toArray
    values.select(col("cents").cast("long")).as[Long]
      .groupByKey { c =>
        val i = java.util.Arrays.binarySearch(bounds, c)
        if (i >= 0) i else -(i + 1)
      }
      .mapGroupsWithState[DdCumState, (Int, Long)](
        GroupStateTimeout.NoTimeout) {
        (bucket: Int, rows: Iterator[Long],
         state: org.apache.spark.sql.streaming.GroupState[DdCumState]) =>
          val cum = state.getOption.map(_.cum).getOrElse(0L) + rows.size
          state.update(DdCumState(cum))
          (bucket, cum)
      }
  }

  /** Per-(type, day) running count for [[runningDailyCounts]]: one
    * long per key — the q382 changepoint's input profile sharded at
    * (type × day) grain, so state is calendar-bounded (types × days
    * keys) and no row ever funnels through a single task. */
  case class DayCountState(n: Long)

  /** Streaming twin of q382's input profile (the q380-twin playbook):
    * arriving (event_type, day) rows fold into a per-key running
    * count via `mapGroupsWithState`. The expensive part of the batch
    * changepoint — the corpus fold to the (type, day) daily-count
    * profile — is exactly this state; the gain argmax is then a
    * profile-sized recompute (≤ types × days rows) any consumer can
    * run per trigger. Feeding one calendar day per micro-batch makes
    * the state after batch d bit-equal to the batch profile over days
    * ≤ d (StreamingChangepointSpec pins the parity AND the final
    * changepoint read-off against the registered q382 rows). */
  def runningDailyCounts(events: DataFrame)
      : org.apache.spark.sql.Dataset[(String, String, Long)] = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val sess = events.sparkSession
    import sess.implicits._
    events.select(col("event_type").cast("string"),
        col("day").cast("string"))
      .as[(String, String)]
      .groupByKey(identity)
      .mapGroupsWithState[DayCountState, (String, String, Long)](
        GroupStateTimeout.NoTimeout) {
        (key: (String, String), rows: Iterator[(String, String)],
         state: org.apache.spark.sql.streaming.GroupState[DayCountState]) =>
          val n = state.getOption.map(_.n).getOrElse(0L) + rows.size
          state.update(DayCountState(n))
          (key._1, key._2, n)
      }
  }

  /** Per-text-hash dedup-card state for [[runningMaterializeCard]]:
    * the canonical (min doc_id so far) gate-surviving doc and its
    * token count, plus arrival/gate tallies — O(1) per DISTINCT text,
    * the same bound as batch q389's exact-dedup groupBy state. */
  case class DedupCardState(canonId: Long, canonTokens: Long,
      nSeen: Long, nGate: Long, tGate: Long)

  /** Streaming twin of q389's INCREMENTAL PREFIX (stages 1_gate +
    * 2_exact_dedup — VERDICT r14 #8 stretch): documents arriving in
    * micro-batches fold into per-text-hash state via
    * `mapGroupsWithState`, so the materialization pipeline's front
    * half is maintainable online without ever re-scanning the corpus —
    * the running DATA CARD (rows_in, gate rows_out, exact-dedup
    * rows_out, tokens_out) is a pure fold of the emitted state. The
    * gate is q383's five stateless rules
    * ([[graft.operators.Breadth11.funnelGateCols]] — the SAME column
    * expressions batch stage 1 runs); the canonical per hash is the
    * MIN gate-surviving doc_id seen so far (not merely first-arrival),
    * so the final state is bit-equal to batch q389's min-doc_id
    * canonicalization REGARDLESS of arrival order. Emits
    * (text_hash, canon_id, canon_tokens, n_seen, n_gate) per touched
    * key; canon_id = -1 while no gate survivor has arrived.
    * StreamingMaterializeSpec pins per-batch card parity against a
    * driver replay (including an out-of-order feed) and the final
    * card against the registered q389 stage rows. Emission is
    * (text_hash, canon_id, canon_tokens, n_seen, n_gate,
    * gate_tokens). */
  def runningMaterializeCard(docs: DataFrame)
      : org.apache.spark.sql.Dataset[(String, Long, Long, Long, Long,
        Long)] = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val sess = docs.sparkSession
    import sess.implicits._
    graft.operators.Breadth11.funnelGateCols(docs)
      .select(col("doc_id").cast("long"), md5(col("text")).as("th"),
        col("n_words").cast("long"),
        (col("r1") && col("r2") && col("r3") && col("r4") &&
          col("r5")).as("g"))
      .as[(Long, String, Long, Boolean)]
      .groupByKey(_._2)
      .mapGroupsWithState[DedupCardState,
        (String, Long, Long, Long, Long, Long)](
        GroupStateTimeout.NoTimeout) {
        (th: String, rows: Iterator[(Long, String, Long, Boolean)],
         state: org.apache.spark.sql.streaming.GroupState[DedupCardState])
           =>
          var s = state.getOption
            .getOrElse(DedupCardState(-1L, 0L, 0L, 0L, 0L))
          rows.foreach { case (id, _, toks, g) =>
            val takes = g && (s.canonId < 0L || id < s.canonId)
            s = DedupCardState(
              if (takes) id else s.canonId,
              if (takes) toks else s.canonTokens,
              s.nSeen + 1L, s.nGate + (if (g) 1L else 0L),
              s.tGate + (if (g) toks else 0L))
          }
          state.update(s)
          (th, s.canonId, s.canonTokens, s.nSeen, s.nGate, s.tGate)
      }
  }

  /** File-based streaming source over a DIRECTORY of arriving events
    * parquet files — the production entry (micro-batch tailing; each
    * newly-landed file becomes a batch, the streaming upgrade of the
    * reference's per-file append ingest). */
  def eventsStream(spark: SparkSession, eventsDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    // a streaming source needs its schema up front: sniff the physical
    // ts encoding from the files already landed (Tables.eventsDecoder,
    // one driver-side footer read) instead of assuming one — later
    // files must match, or the micro-batch read fails loudly
    val (schema, normalize) = Tables.eventsDecoder(spark, eventsDir)
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    normalize(reader.parquet(eventsDir))
  }

  /** Schema of an [[upsertBatch]] state version, declared so that
    * reading the previous version runs no footer-inference job. */
  val UpsertStateSchema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("n_events", LongType),
    StructField("total_value", DoubleType)))

  /** Exactly-once keyed UPSERT sink for `foreachBatch` — the
    * merge-into-a-serving-table shape streaming warehouses run where no
    * transactional table format is mounted. Two disciplines make the
    * read-modify-write exactly-once on top of at-least-once batch
    * delivery:
    *
    *  - IDEMPOTENCE: the last committed batchId is persisted next to
    *    the data; a replayed batch (restart re-delivering the epoch)
    *    is detected by `batchId <= committed` and skipped, so its rows
    *    are never double-added;
    *  - ATOMICITY: the merged table is written to a fresh versioned
    *    directory first, and the tiny commit pointer naming it flips
    *    last via write-temp-then-atomic-rename — a crash at ANY point
    *    leaves the previous pointer and version intact. Every other
    *    version directory is deleted after the pointer moves, so the
    *    sink holds one live state copy plus the in-flight one.
    *
    * The merge itself is additive (count/sum are decomposable): each
    * batch row enters as `(user_id, 1, value)`, is unioned with the
    * previous version's rows, and ONE groupBy on the key sums both —
    * the partial aggregate runs map-side under a single exchange, so a
    * micro-batch is two Spark jobs (shuffle map stage, write); a
    * session running the opt-in [[graft.plans.PushAggThroughUnion]]
    * rule splits that aggregate per union arm, one job more. `sum`
    * skips nulls at one level exactly as it did at two: a user whose
    * batch values are all null keeps the prior total, and a user with
    * only null values has a null total. */
  def upsertBatch(sinkDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val root = Paths.get(sinkDir)
    Files.createDirectories(root)
    val commit = root.resolve("_commit")
    val (lastId, lastVersion) =
      if (Files.exists(commit)) {
        val Array(i, v) = new String(Files.readAllBytes(commit)).split(",")
        (i.toLong, v.toLong)
      } else (-1L, -1L)
    if (batchId <= lastId) return // replayed epoch: already merged
    val delta = batch.select(col("user_id"), lit(1L).as("n_events"),
      col("value").as("total_value"))
    val rows =
      if (lastVersion < 0) delta
      else delta.unionByName(
        spark.read.schema(UpsertStateSchema).parquet(s"$sinkDir/v$lastVersion"))
    val next = lastVersion + 1
    rows.groupBy("user_id")
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("total_value")).as("total_value"))
      .write.mode("overwrite").parquet(s"$sinkDir/v$next")
    // the pointer itself must flip atomically: an in-place overwrite
    // could crash between truncate and write, leaving a corrupt pointer
    // that wedges every later batch — write-temp-then-rename instead
    val tmp = root.resolve("_commit.tmp")
    Files.write(tmp, s"$batchId,$next".getBytes)
    Files.move(tmp, commit, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    // every other version is dead once the pointer moved — the one it
    // replaced, and any in-flight one a crash orphaned. One listing of
    // the root: the work tracks the live directories, not the number of
    // batches ever committed
    val live = s"v$next"
    Using.resource(Files.list(root))(_.iterator().asScala.toList)
      .filter { p =>
        val name = p.getFileName.toString
        name != live && name.matches("v\\d+")
      }
      .foreach { dir =>
        Using.resource(Files.walk(dir))(_.iterator().asScala.toList)
          .sortBy(-_.getNameCount)
          .foreach(Files.delete)
      }
  }

  /** Read the current committed state of an [[upsertBatch]] sink. */
  def upsertState(spark: SparkSession, sinkDir: String): DataFrame = {
    val commit = Paths.get(sinkDir, "_commit")
    val v = new String(Files.readAllBytes(commit)).split(",")(1).toLong
    spark.read.schema(UpsertStateSchema).parquet(s"$sinkDir/v$v")
  }

  // ---- batch-mode oracle-checkable queries ----

  /** q44 — tumbling-window aggregation (batch mode of the streaming
    * transform; epoch-aligned hourly windows == date_trunc). */
  def q44TumblingWindow(spark: SparkSession, dir: String): DataFrame =
    tumblingCounts(Tables.events(spark, dir))
      .orderBy("window_start", "event_type")

  /** q45 — sliding-window aggregation (4 overlapping windows/event). */
  def q45SlidingWindow(spark: SparkSession, dir: String): DataFrame =
    slidingCounts(Tables.events(spark, dir))
      .orderBy("window_start")

  /** q46 — session-window aggregation (gaps-and-islands semantics). */
  def q46SessionWindow(spark: SparkSession, dir: String): DataFrame =
    sessionCounts(Tables.events(spark, dir))
      .orderBy("user_id", "session_start")

  /** q47 — dedup-by-key keeping the earliest event (batch analogue of
    * dropDuplicatesWithinWatermark with an unbounded horizon). */
  def q47StreamDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id", "event_type")
      .agg(min(col("ts")).as("first_ts"), count(lit(1)).as("n_events"))
      .orderBy("user_id", "event_type")

  /** q71 — interval join (batch mode of [[purchaseSignupJoin]]): signups
    * within 7 days before each purchase, counted per user. */
  def q71IntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"))
    val s = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user_id"), col("ts").as("s_ts"))
    purchaseSignupJoin(p, s)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }

  /** q109 — LEFT OUTER interval join (batch mode of
    * [[purchaseSignupJoinOuter]]): every purchase row with its count of
    * in-window signups, INCLUDING zero-match purchases — the rows the
    * inner q71 drops and a streaming pipeline only emits at watermark
    * eviction. count(col) (not count(*)) so null-extended rows count 0. */
  def q109IntervalLeftJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"))
    val s = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user_id"), col("ts").as("s_ts"))
    purchaseSignupJoinOuter(p, s)
      .groupBy(col("user_id"), col("ts"))
      .agg(count(col("s_user_id")).as("n_pairs"))
      .groupBy("user_id")
      .agg(sum(col("n_pairs")).as("n_signup_pairs"),
        count_if(col("n_pairs") === 0).as("n_unmatched_purchases"))
      .orderBy("user_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q109_interval_left_join" -> (q109IntervalLeftJoin _),
    "q71_interval_join" -> (q71IntervalJoin _),
    "q44_tumbling_window" -> (q44TumblingWindow _),
    "q45_sliding_window" -> (q45SlidingWindow _),
    "q46_session_window" -> (q46SessionWindow _),
    "q47_stream_dedup" -> (q47StreamDedup _))

  val oracles: Map[String, String] = Map(
    "q109_interval_left_join" ->
      """WITH p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'purchase'),
        |     s AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'signup'),
        |per AS (
        |  SELECT p.user_id, p.ts, count(s.user_id) AS n_pairs
        |  FROM p LEFT JOIN s
        |    ON p.user_id = s.user_id
        |   AND s.ts BETWEEN p.ts - INTERVAL 7 DAY AND p.ts
        |  GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(n_pairs) AS BIGINT) AS n_signup_pairs,
        |       count(*) FILTER (WHERE n_pairs = 0)
        |         AS n_unmatched_purchases
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,
    "q71_interval_join" ->
      """WITH p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'purchase'),
        |     s AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'signup')
        |SELECT p.user_id AS user_id, count(*) AS n_pairs
        |FROM p JOIN s
        |  ON p.user_id = s.user_id
        | AND s.ts BETWEEN p.ts - INTERVAL 7 DAY AND p.ts
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q44_tumbling_window" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
        |       event_type,
        |       count(*) AS n_events,
        |       round(sum(value), 2) AS total_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q45_sliding_window" ->
      """SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
        |         - k * INTERVAL '15 minutes' AS window_start,
        |       count(*) AS n_events,
        |       round(sum(value), 2) AS total_value
        |FROM events, generate_series(0, 3) t(k)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q46_session_window" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |marked AS (
        |  SELECT user_id, ts,
        |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |                   IS NULL
        |              OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |                 > INTERVAL '4 hours'
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM e),
        |sessions AS (
        |  SELECT user_id, ts,
        |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM marked)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n_events
        |FROM sessions GROUP BY user_id, sess_id
        |ORDER BY user_id, session_start""".stripMargin,
    "q47_stream_dedup" ->
      """SELECT user_id, event_type,
        |       min(CAST(ts AS TIMESTAMP)) AS first_ts,
        |       count(*) AS n_events
        |FROM events
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
}
