package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming forms of the engine's incremental semantics
  * (SURVEY §2.10): the reference's "streams" are Airflow cron loads
  * (`daily_dag.py:40`, `weekly_dag.py:47`) with idempotency protocols;
  * here the same semantics run as real event-time streams —
  * watermarked windowed aggregation, within-watermark dedup, and
  * keyed running state.
  *
  * Each transformation is a pure DataFrame => DataFrame so the SAME
  * code serves readStream (StreamingSpec drives it with a memory sink
  * and Trigger.AvailableNow semantics) and batch (the oracle-verified
  * q41/q43/q44 twins in EventQueries).
  */
object Streams {

  /** Raw-parquet schema of the events table with `ts` as the given
    * on-disk type (nanos-as-long or TIMESTAMP_NTZ; see Tables.events). */
  def eventsRawSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over a DIRECTORY of events parquet files (the
    * file stream source requires a directory basePath; tests stage
    * `events.parquet` into one). The footer of the directory's first
    * data file picks the on-disk `ts` flavor on the driver, with no
    * Spark job ([[graft.Tables.footerSchema]]), so the stream schema
    * matches either vintage of the table; graft.Tables.normalizeEventTs
    * then lands both on session-zoned micros. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val onDiskTs = graft.Tables.footerSchema(spark, dir)("ts").dataType
    graft.Tables.normalizeEventTs(
      spark.readStream.schema(eventsRawSchema(onDiskTs)).parquet(dir))
  }

  /** Watermarked tumbling counts — the streaming twin of q41. Late
    * rows beyond the watermark are dropped by the engine. */
  def tumblingCounts(events: DataFrame,
                     watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Watermarked session windows — streaming twin of q43. */
  def sessionCounts(events: DataFrame,
                    watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))

  /** Exactly-once-per-key over a replayed/at-least-once stream
    * (SURVEY §2.10 dedup-by-key ★): state is bounded by the watermark
    * instead of growing forever — the streaming form of the
    * reference's J2 protocol. */
  def dedupWithinWatermark(events: DataFrame,
                           watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join (SURVEY §2.10 ★ widening): each
    * purchase joined to the same user's clicks in the preceding hour.
    * Both sides are watermarked so the join state is bounded — the
    * range condition gives the engine the eviction bound; without it a
    * stream-stream inner join would buffer forever. Pure DataFrame =>
    * DataFrame: the batch twin (same expression, static frames) is the
    * cross-verification in StreamingSpec. */
  def purchaseClickJoin(events: DataFrame,
                        watermark: String = "1 hour"): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"), col("value").as("p_value"))
      .withWatermark("p_ts", watermark)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", watermark)
    purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
      .select(col("p_id"), col("user_id"), col("p_ts"), col("c_id"),
        col("c_ts"), col("p_value"))
  }

  /** Stream-static enrichment join (§2.10 ★ — the streaming form of
    * the J1 dimension join): each micro-batch of events hash-joins the
    * STATIC dimension frame; no state accumulates (the static side is
    * re-planned per batch, so a dimension refresh is picked up on the
    * next trigger), and with a small dimension the join broadcasts —
    * the same plan a batch query gets. */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
                    eventKey: String, dimKey: String): DataFrame =
    events.join(
      org.apache.spark.sql.functions.broadcast(
        dim.withColumnRenamed(dimKey, eventKey)),
      Seq(eventKey), "left")

  case class SessionRow(user_id: Long, ts: java.sql.Timestamp)
  case class OpenSession(start_us: Long, end_us: Long, n: Long)

  /** Streaming gap-based sessionization (the streaming twin of
    * `Relational.sessionize`, via explicit state + EVENT-TIME
    * timeouts — the pattern `session_window` can't express when the
    * session payload needs custom logic): per user, events merge into
    * open sessions held in state; a session is EMITTED exactly once,
    * when the watermark passes its end + gap (so no later event can
    * extend it), either observed during a data batch or fired by the
    * state timeout. State per key is the open-session list — bounded
    * by the watermark, like every other streaming state here.
    *
    * Within-batch events may arrive unordered: the handler sorts and
    * interval-merges, so the result matches the batch operator exactly
    * on every closed session (StreamingSpec asserts it). */
  def sessionizeStream(spark: SparkSession, events: DataFrame,
                       gapSeconds: Long = 1800,
                       watermark: String = "1 hour"): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = gapSeconds * 1000000L
    def close(open: List[OpenSession], wmUs: Long) =
      open.partition(s => s.end_us + gapUs <= wmUs)
    def park(state: GroupState[List[OpenSession]], open: List[OpenSession],
             wmMs: Long): Unit =
      if (open.isEmpty) state.remove()
      else {
        state.update(open)
        // fire when the earliest open session can close; strictly
        // beyond the current watermark or the engine rejects it
        val dueMs = (open.map(_.end_us).min + gapUs + 999) / 1000
        state.setTimeoutTimestamp(math.max(dueMs, wmMs + 1))
      }
    // the watermark-tagged ts column must survive into the stateful
    // operator — projecting it to a derived long would detach the
    // watermark and fail the unsupported-operation check
    val typed = events.withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"))
      .as[SessionRow]
    def micros(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[OpenSession], (Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[SessionRow],
         state: GroupState[List[OpenSession]]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val wmUs = wmMs * 1000L
          val existing = state.getOption.getOrElse(Nil)
          // the engine does NOT pre-drop late rows for stateful ops
          // (only for aggregations/joins) — enforce the watermark
          // contract here: a kept row has ts ≥ wm, and an emitted
          // session S satisfied S.end + gap ≤ wm, so a kept row can
          // never have belonged to S (it would need ts ≤ S.end + gap
          // ≤ wm). Emitted sessions are therefore final.
          val merged =
            if (state.hasTimedOut) existing
            else (existing ++ rows.map(r => micros(r.ts))
              .filter(_ >= wmUs)
              .map(us => OpenSession(us, us, 1L)))
              .sortBy(_.start_us)
              .foldLeft(List.empty[OpenSession]) { (acc, s) =>
                acc match {
                  case h :: t if s.start_us <= h.end_us + gapUs =>
                    OpenSession(h.start_us, math.max(h.end_us, s.end_us),
                      h.n + s.n) :: t
                  case _ => s :: acc
                }
              }.reverse
          val (done, open) = close(merged, wmUs)
          park(state, open, wmMs)
          done.iterator.map(s => (uid, s.start_us, s.end_us, s.n))
      }
      .toDF("user_id", "start_us", "end_us", "n_events")
      .select(col("user_id"),
        timestamp_micros(col("start_us")).as("session_start"),
        timestamp_micros(col("end_us")).as("session_end"),
        col("n_events"))
  }

  case class UserEvent(user_id: Long, value: Double)

  /** Keyed running aggregate via explicit state (SURVEY §2.10 stateful
    * ops ★): per-user cumulative event count + value total. */
  def runningUserTotals(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = events.select(col("user_id"), col("value")).as[UserEvent]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Double), (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[(Long, Double)]) =>
          val (n0, v0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var v = v0
          rows.foreach { e => n += 1; v += e.value }
          state.update((n, v))
          Iterator((uid, n, v))
      }.toDF("user_id", "n_events", "total_value")
  }

  case class FunnelRow(user_id: Long, ts: java.sql.Timestamp, si: Int)

  /** Streaming funnel (the streaming twin of `Funnel.funnel` /
    * `reachedPerUser`): per user, stage events up to a fixed analysis
    * `horizonUs` buffer in state; when the watermark passes the
    * horizon no further on-time event can exist, so the greedy fold
    * runs once over the time-sorted buffer and `(user_id, reached)`
    * is EMITTED exactly once. State per key = that user's stage
    * events within the horizon (non-stage events are filtered before
    * the stateful operator).
    *
    * Watermark contract (the sessionizeStream discipline): rows below
    * the current watermark are dropped by the handler, and after the
    * horizon emission any surviving row would need ts ≤ horizon < wm
    * — impossible — so emissions are final and never duplicated. */
  def funnelStream(spark: SparkSession, events: DataFrame,
                   stages: Seq[String], horizonUs: Long,
                   watermark: String = "1 hour"): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val si = graft.operators.Funnel.stageIndex("event_type", stages)
    val typed = events.withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"), si.as("si"))
      .filter(col("si") >= 1 &&
        expr("unix_micros(ts)") <= lit(horizonUs))
      .as[FunnelRow]
    def micros(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[(Long, Int)], (Long, Int)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[FunnelRow],
         state: GroupState[List[(Long, Int)]]) =>
          val wmMs = state.getCurrentWatermarkMs()
          if (state.hasTimedOut) {
            val evs = state.getOption.getOrElse(Nil)
            state.remove()
            val reached = evs.sorted.foldLeft(0) {
              case (acc, (_, s)) => if (s == acc + 1) acc + 1 else acc
            }
            Iterator.single((uid, reached))
          } else {
            val wmUs = wmMs * 1000L
            val buffered = state.getOption.getOrElse(Nil) ++
              rows.map(r => (micros(r.ts), r.si)).filter(_._1 >= wmUs)
            if (buffered.isEmpty) { state.remove(); Iterator.empty }
            else {
              state.update(buffered)
              state.setTimeoutTimestamp(
                math.max(horizonUs / 1000 + 1, wmMs + 1))
              Iterator.empty
            }
          }
      }.toDF("user_id", "reached")
  }

  case class HoltEvent(event_type: String, ts: java.sql.Timestamp,
                       value: Double)

  /** Per-key streaming state of [[holtStream]]: the committed Holt
    * (level, trend) pair plus the still-open day's exact scaled-long
    * value sum. Flags instead of Options keep the encoder flat. */
  case class HoltState(y1: Double, hasY1: Boolean,
                       l: Double, b: Double, hasLb: Boolean,
                       nDays: Long,
                       openDay: Long, openSumScaled: Long,
                       hasOpen: Boolean)

  /** Streaming twin of the batch Holt forecaster
    * ([[graft.operators.Resample.holt]], q202): per event type, the
    * daily value total accumulates in state as an EXACT scaled long
    * (each value rounded to 4 decimals half-up — bit-equal to the
    * batch side's DECIMAL(18,4) sum), and when a later day arrives
    * the closed day folds into the committed (level, trend) pair with
    * the identical IEEE op sequence the batch operator pins. After
    * every micro-batch the CURRENT forecast — the committed state
    * plus the open day as its final observation — is emitted, so the
    * last emission over an in-order feed equals the batch operator on
    * the same data exactly (StreamingSpec proves it). Days must
    * arrive non-decreasing per key (an out-of-order day older than
    * the open one is dropped, the dedupWithinWatermark posture);
    * state per key is O(1) — two doubles and one open-day sum. */
  def holtStream(spark: SparkSession, events: DataFrame,
                 alpha: Double = 0.5, beta: Double = 0.25): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import java.math.{BigDecimal => JBig, RoundingMode}
    def round6(x: Double): Double =
      JBig.valueOf(x).setScale(6, RoundingMode.HALF_UP).doubleValue
    def scaled4(v: Double): Long =
      JBig.valueOf(v).setScale(4, RoundingMode.HALF_UP)
        .movePointRight(4).longValueExact
    def dayOf(t: java.sql.Timestamp): Long = {
      val us = t.getTime / 1000 * 1000000L + t.getNanos / 1000
      java.lang.Math.floorDiv(us, 86400000000L)
    }
    def step(l: Double, b: Double, y: Double): (Double, Double) = (
      alpha * y + (1.0 - alpha) * (l + b),
      beta * (alpha * (y - l) + (1.0 - alpha) * b) + (1.0 - beta) * b)
    val typed = events.filter(col("value").isNotNull)
      .select(col("event_type"), col("ts"), col("value")).as[HoltEvent]
    typed.groupByKey(_.event_type)
      .flatMapGroupsWithState[HoltState,
        (String, Long, Double, Double, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[HoltEvent],
         state: GroupState[HoltState]) =>
          var st = state.getOption.getOrElse(
            HoltState(0, false, 0, 0, false, 0L, 0L, 0L, false))
          def commitOpen(): Unit = {
            val y = round6(st.openSumScaled / 1e4)
            st =
              if (!st.hasY1)
                st.copy(y1 = y, hasY1 = true, nDays = 1)
              else if (!st.hasLb)
                st.copy(l = st.y1, b = y - st.y1, hasLb = true, nDays = 2)
              else {
                val (nl, nb) = step(st.l, st.b, y)
                st.copy(l = nl, b = nb, nDays = st.nDays + 1)
              }
          }
          val daySums = rows.foldLeft(Map.empty[Long, Long]) { (m, e) =>
            val d = dayOf(e.ts)
            m.updated(d, m.getOrElse(d, 0L) + scaled4(e.value))
          }
          daySums.toSeq.sortBy(_._1).foreach { case (d, s) =>
            if (!st.hasOpen)
              st = st.copy(openDay = d, openSumScaled = s, hasOpen = true)
            else if (d == st.openDay)
              st = st.copy(openSumScaled = st.openSumScaled + s)
            else if (d > st.openDay) {
              commitOpen()
              st = st.copy(openDay = d, openSumScaled = s)
            } // d < openDay: late day — dropped (watermark posture)
          }
          state.update(st)
          if (!st.hasOpen || !st.hasY1) Iterator.empty
          else {
            // tentative fold: the open day as the series' last point
            val yo = round6(st.openSumScaled / 1e4)
            val (l, b) =
              if (!st.hasLb) (st.y1, yo - st.y1) else step(st.l, st.b, yo)
            Iterator.single((key, st.nDays + 1,
              round6(l), round6(b), round6(l + 1 * b)))
          }
      }.toDF("event_type", "n_days", "level", "trend", "fc1")
  }
}
