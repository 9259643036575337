package graft.queries

import graft.{QuerySpec, Tables}
import graft.functions.Exact
import graft.operators.{AsOfJoin, Relational}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time semantics over the events stream table (SURVEY §2.10 ★ —
  * the reference's only "stream" is Airflow cron; the engine adds real
  * event-time windows). These are the batch forms with DuckDB oracles;
  * the streaming forms (same transformations over readStream, plus
  * watermark/late-data handling) live in streaming.Streams and are
  * ScalaTest-verified.
  */
object EventQueries {

  /** q40: stringly-JSON property extraction (X6 — the reference digs
    * scalar fields out of nested JSON payloads, `daily_dag.py:54-60`,
    * `weekly_dag.py:386-389`) + grouped rollup. */
  val q40JsonProps: QuerySpec = QuerySpec(
    "q40_json_props",
    s"""SELECT event_type,
       |  COUNT(*) AS n,
       |  CAST(SUM(CAST(props->>'$$.k' AS INTEGER)) AS BIGINT) AS sum_k,
       |  ${Exact.sqlSum("value")} AS sum_value
       |FROM events
       |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .select(col("event_type"), col("value"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).cast("long").as("sum_k"),
        Exact.dsum(col("value")).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** q41: tumbling event-time window (10 min) — Spark `window()`
    * aligns to the epoch, as does DuckDB `time_bucket` for minute
    * intervals. */
  val q41Tumbling: QuerySpec = QuerySpec(
    "q41_tumbling_window",
    s"""SELECT time_bucket(INTERVAL '10 minutes', ts) AS win_start,
       |  event_type, COUNT(*) AS n, ${Exact.sqlSum("value")} AS sum_value
       |FROM events
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), Exact.dsum(col("value")).as("sum_value"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n"),
        col("sum_value"))
      .orderBy(col("win_start"), col("event_type"))
  }

  /** q42: sliding window (10 min, every 5 min) — each event lands in
    * two windows; the oracle reproduces Spark's window assignment by
    * explicit bucket arithmetic. */
  val q42Sliding: QuerySpec = QuerySpec(
    "q42_sliding_window",
    s"""WITH assigned AS (
       |  SELECT unnest([
       |      time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes',
       |      time_bucket(INTERVAL '5 minutes', ts)]) AS win_start,
       |    event_type, value
       |  FROM events)
       |SELECT win_start, event_type, COUNT(*) AS n,
       |  ${Exact.sqlSum("value")} AS sum_value
       |FROM assigned
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), Exact.dsum(col("value")).as("sum_value"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n"),
        col("sum_value"))
      .orderBy(col("win_start"), col("event_type"))
  }

  /** q43: session windows (30-minute gap) per user — Spark
    * `session_window`; the oracle rebuilds identical sessions with the
    * islands technique (new session iff gap >= 30 min, matching
    * Spark's half-open [start, last+gap) windows). */
  val q43Sessions: QuerySpec = QuerySpec(
    "q43_session_windows",
    s"""WITH flagged AS (
       |  SELECT user_id, event_id, ts, value,
       |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      >= INTERVAL '30 minutes' OR
       |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
       |    THEN 1 ELSE 0 END AS new_session
       |  FROM events),
       |sessions AS (
       |  SELECT user_id, ts, value,
       |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |  FROM flagged)
       |SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
       |  ${Exact.sqlSum("value")} AS sum_value
       |FROM sessions
       |GROUP BY user_id, session_id
       |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), Exact.dsum(col("value")).as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** q44: exactly-once-per-key dedup over a replayed stream (the batch
    * form of dropDuplicatesWithinWatermark; the reference's J2/J3
    * protocol applied to events): the events table unioned with
    * itself, deduped on event_id keeping the earliest arrival. */
  val q44DedupReplay: QuerySpec = QuerySpec(
    "q44_dedup_replay",
    s"""WITH replayed AS (
       |  SELECT * FROM events UNION ALL SELECT * FROM events),
       |deduped AS (
       |  SELECT DISTINCT event_id, ts, user_id, event_type, value FROM replayed)
       |SELECT event_type, COUNT(*) AS n, ${Exact.sqlSum("value")} AS sum_value
       |FROM deduped GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    val e = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
    e.unionByName(e)
      .dropDuplicates("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), Exact.dsum(col("value")).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** q45: backward as-of join (SURVEY §2.3 ★): each purchase aligned
    * to the latest preceding error event's value (a "condition at time
    * of trade" query). Reference series is small → the broadcast
    * binary-search strategy (zero shuffles); oracle is DuckDB's native
    * ASOF JOIN, with duplicate ref timestamps pre-aggregated to their
    * MAX value (the engine's tie rule — DuckDB's ASOF tie choice is
    * arbitrary, so the oracle must be made deterministic). */
  val q45AsOf: QuerySpec = QuerySpec(
    "q45_asof_join",
    """WITH probe AS (
      |  SELECT event_id, ts, value FROM events WHERE event_type = 'purchase'),
      |ref AS (
      |  SELECT ts AS ref_ts0, MAX(value) AS ref_val0 FROM events
      |  WHERE event_type = 'error' GROUP BY 1)
      |SELECT p.event_id, p.ts, p.value,
      |  r.ref_ts0 AS ref_ts, r.ref_val0 AS ref_val
      |FROM probe p ASOF JOIN ref r ON p.ts >= r.ref_ts0
      |ORDER BY p.event_id""".stripMargin) { (s, dir) =>
    val e = Tables.events(s, dir)
    val probe = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("ts"), col("value"))
    val ref = e.filter(col("event_type") === "error")
      .select(col("ts").as("ref_ts0"), col("value").as("ref_val0"))
    AsOfJoin.broadcastAsOf(s, probe, ref, "ts", "ref_ts0", "ref_val0")
      .orderBy(col("event_id"))
  }

  /** q56: KEYED as-of join through the union-window strategy
    * (`AsOfJoin.unionWindowAsOf` with a bucketing key — the large-ref
    * path the broadcast contract points callers to): each purchase
    * aligned to the latest preceding error BY THE SAME USER. The
    * window partitions on user_id, so no single-partition sort exists
    * at any scale. (Until round 3 this slot ran the native plan node
    * on q45's exact query — plan-identical to q45 since the node
    * became the default; AsOfSpec still pins the 3-way strategy
    * equivalence, and each registered as-of query now exercises a
    * distinct strategy: q45 broadcast/native, q56 keyed union-window,
    * q68 big-big range.) The oracle pre-aggregates duplicate (user,
    * ts) ref rows to their MAX value — the engine's documented tie
    * rule — because DuckDB's ASOF picks an arbitrary row among equal
    * timestamps. */
  val q56AsOfKeyed: QuerySpec = QuerySpec(
    "q56_asof_keyed",
    """WITH probe AS (
      |  SELECT event_id, user_id, ts, value FROM events
      |  WHERE event_type = 'purchase'),
      |ref AS (
      |  SELECT user_id, ts AS rts, MAX(value) AS rv FROM events
      |  WHERE event_type = 'error' GROUP BY 1, 2)
      |SELECT p.event_id, p.user_id, p.ts, p.value,
      |  r.rts AS ref_ts, r.rv AS ref_val
      |FROM probe p ASOF JOIN ref r
      |  ON p.user_id = r.user_id AND p.ts >= r.rts
      |ORDER BY p.event_id""".stripMargin) { (s, dir) =>
    val e = Tables.events(s, dir)
    val probe = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val ref = e.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts").as("rts"), col("value").as("rv"))
    AsOfJoin.unionWindowAsOf(probe, ref, "ts", "rts", "rv",
        partitionCols = Seq("user_id"))
      .orderBy(col("event_id"))
  }

  /** q68: BIG-BIG as-of join (SURVEY §2.3 ★ scale completion): click
    * stream aligned to the latest preceding view event — both sides
    * are full event streams, so neither the broadcast contract
    * (q45/q56) nor a single-partition window applies. The range-bucket
    * carry-forward strategy (AsOfJoin.rangeAsOf) windows within
    * day-buckets and stitches boundaries with per-bucket openings;
    * the oracle is DuckDB's native ASOF JOIN over the same streams,
    * duplicate ref timestamps pre-aggregated to their MAX value (the
    * engine's tie rule) so the match can't flap if the generator ever
    * emits equal view timestamps. */
  val q68RangeAsOf: QuerySpec = QuerySpec(
    "q68_range_asof",
    """WITH probe AS (
      |  SELECT event_id, ts, value FROM events WHERE event_type = 'click'),
      |ref AS (
      |  SELECT ts AS rts, MAX(value) AS rv FROM events
      |  WHERE event_type = 'view' GROUP BY 1)
      |SELECT p.event_id, p.ts, p.value,
      |  r.rts AS ref_ts, r.rv AS ref_val
      |FROM probe p ASOF JOIN ref r ON p.ts >= r.rts
      |ORDER BY p.event_id""".stripMargin) { (s, dir) =>
    val e = Tables.events(s, dir)
    val probe = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("ts"), col("value"))
    val ref = e.filter(col("event_type") === "view")
      .select(col("ts").as("rts"), col("value").as("rv"))
    AsOfJoin.rangeAsOf(probe, ref, "ts", "rts", "rv", bucket = "day")
      .orderBy(col("event_id"))
  }

  /** q74: the stream-stream interval join's BATCH twin, oracle-checked
    * (StreamingSpec proves the streaming form emits a subset of
    * exactly this): purchases × same-user clicks in the preceding
    * hour, rolled up per user. The equi-component (user_id) keeps the
    * plan a hash/SMJ join with a range filter — never a pure theta
    * join. */
  val q74IntervalJoin: QuerySpec = QuerySpec(
    "q74_interval_join",
    s"""WITH p AS (
       |  SELECT event_id AS p_id, user_id, ts AS p_ts, value AS p_value
       |  FROM events WHERE event_type = 'purchase'),
       |c AS (
       |  SELECT event_id AS c_id, user_id, ts AS c_ts
       |  FROM events WHERE event_type = 'click')
       |SELECT p.user_id, COUNT(*) AS n_pairs,
       |  CAST(COUNT(DISTINCT p_id) AS BIGINT) AS n_purchases,
       |  ${Exact.sqlSum("p_value")} AS sum_value
       |FROM p JOIN c ON c.user_id = p.user_id
       |  AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR AND c.c_ts <= p.p_ts
       |GROUP BY p.user_id ORDER BY p.user_id""".stripMargin) { (s, dir) =>
    graft.streaming.Streams.purchaseClickJoin(
        Tables.events(s, dir)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value")))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("p_id")).as("n_purchases"),
        Exact.dsum(col("p_value")).as("sum_value"))
      .orderBy(col("user_id"))
  }

  /** q85: forward fill (`Relational.fillForward` — last observation
    * carried forward per user): click rows get their value blanked,
    * then repaired from the latest preceding non-null event of the
    * same user. Ordering is made total with the event_id tie-breaker,
    * so the filled series — and the hash — is deterministic; the
    * oracle is DuckDB's `last_value(... IGNORE NULLS)` over the same
    * running frame. */
  val q85FillForward: QuerySpec = QuerySpec(
    "q85_fill_forward",
    """WITH src AS (
      |  SELECT event_id, user_id, ts,
      |    CASE WHEN event_type = 'click' THEN NULL ELSE value END AS v
      |  FROM events WHERE user_id < 100)
      |SELECT event_id, user_id,
      |  last_value(v IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      |FROM src ORDER BY event_id""".stripMargin) { (s, dir) =>
    val src = Tables.events(s, dir)
      .filter(col("user_id") < 100)
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("event_type") === "click", lit(null))
          .otherwise(col("value")).as("v"))
    Relational.fillForward(src, Seq("user_id"), Seq("ts", "event_id"),
        Seq("v"))
      .select(col("event_id"), col("user_id"), col("v").as("filled"))
      .orderBy(col("event_id"))
  }

  /** q101: gap-based sessionization (`Relational.sessionize` — the
    * row-tagging sibling of q43's `session_window` aggregate): every
    * event gets its (user, session_seq), then sessions summarize. One
    * shuffle on the user key; lag and the running sum share one window
    * sort. 30-minute gap, q43's parameter. */
  val q101Sessionize: QuerySpec = QuerySpec(
    "q101_sessionize",
    """WITH l AS (
      |  SELECT user_id, ts, epoch_us(ts) AS us,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
      |      AS prev
      |  FROM events),
      |s AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(CASE WHEN prev IS NULL OR us - prev > 1800000000
      |        THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts
      |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      |  FROM l)
      |SELECT user_id, session_seq, COUNT(*) AS n_events,
      |  MIN(ts) AS session_start, MAX(ts) AS session_end
      |FROM s GROUP BY 1, 2
      |ORDER BY user_id, session_seq""".stripMargin) { (s, dir) =>
    Relational.sessionize(Tables.events(s, dir), "user_id", "ts",
        gapSeconds = 1800)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
      .orderBy(col("user_id"), col("session_seq"))
  }

  /** q106: gaps-and-islands interval merge (`Relational.mergeIntervals`
    * — the interval sibling of q101's point sessionization): each
    * event becomes a [ts, ts + value minutes] activity span; per user,
    * overlapping spans coalesce into islands. Epoch-microsecond longs
    * with explicit FLOOR keep the arithmetic engine-portable (double→
    * long CAST truncates in Spark but rounds in DuckDB). */
  val q106IntervalIslands: QuerySpec = QuerySpec(
    "q106_interval_islands",
    """WITH iv AS (
      |  SELECT user_id, epoch_us(ts) AS s,
      |    epoch_us(ts) + CAST(FLOOR(value * 60000000) AS BIGINT) AS e
      |  FROM events),
      |m AS (
      |  SELECT user_id, s, e,
      |    MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      |  FROM iv),
      |f AS (
      |  SELECT user_id, s, e,
      |    SUM(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY s, e
      |        ROWS UNBOUNDED PRECEDING) AS island
      |  FROM m)
      |SELECT user_id, CAST(island AS BIGINT) AS island,
      |  MIN(s) AS island_start, MAX(e) AS island_end,
      |  COUNT(*) AS n_intervals
      |FROM f GROUP BY 1, 2
      |ORDER BY user_id, island""".stripMargin) { (s, dir) =>
    val iv = Tables.events(s, dir).select(col("user_id"),
      expr("unix_micros(ts)").as("s"),
      (expr("unix_micros(ts)") +
        floor(col("value") * 60000000L).cast("long")).as("e"))
    Relational.mergeIntervals(iv, "user_id", "s", "e")
      .select(col("user_id"), col("island"),
        col("island_start"), col("island_end"), col("n_intervals"))
      .orderBy(col("user_id"), col("island"))
  }

  /** q108: SCD2 dimension build (`Relational.buildScd2` — change log →
    * versioned rows with validity intervals, the warehouse-standard
    * type-2 slowly-changing-dimension shape): each user's event stream
    * becomes versions with `[valid_from, valid_to)` and an `is_current`
    * flag on the open row; summarized per user so the output stays
    * compact. event_id tie-breaks equal timestamps on both engines. */
  val q108Scd2Build: QuerySpec = QuerySpec(
    "q108_scd2_build",
    """WITH v AS (
      |  SELECT user_id, event_id, ts AS valid_from,
      |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS valid_to
      |  FROM events)
      |SELECT user_id, COUNT(*) AS n_versions,
      |  CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_current,
      |  MIN(valid_from) AS first_from,
      |  MAX(valid_from) AS last_from,
      |  CAST(SUM(epoch_us(valid_to) - epoch_us(valid_from)) AS BIGINT)
      |    AS total_span_us
      |FROM v GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    Relational.buildScd2(Tables.events(s, dir), Seq("user_id"), "ts",
        tieBreak = Seq("event_id"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_versions"),
        sum(when(col("valid_to").isNull, 1L).otherwise(0L)).as("n_current"),
        min(col("valid_from")).as("first_from"),
        max(col("valid_from")).as("last_from"),
        sum(expr("unix_micros(valid_to)") - expr("unix_micros(valid_from)"))
          .as("total_span_us"))
      .orderBy(col("user_id"))
  }

  /** q127: ordered funnel — users progressing signup → view → click →
    * purchase in time order, one greedy fold per user (see
    * Funnel.funnel's single-pass shape). The oracle replays the fold
    * with list_reduce over the same (ts, stage) sort; counts are
    * exact ints so the comparison is exact. */
  val q127Funnel: QuerySpec = QuerySpec(
    "q127_funnel",
    """WITH ev AS (
      |  SELECT user_id AS u, ts,
      |    CASE event_type WHEN 'signup' THEN 1 WHEN 'view' THEN 2
      |      WHEN 'click' THEN 3 WHEN 'purchase' THEN 4 END AS si
      |  FROM events
      |  WHERE event_type IN ('signup', 'view', 'click', 'purchase')),
      |pu AS (
      |  SELECT u, list_reduce(list_prepend(0, list_transform(
      |      list_sort(list({'ts': ts, 'si': si})), x -> x.si)),
      |    (acc, x) -> CASE WHEN x = acc + 1 THEN acc + 1
      |      ELSE acc END) AS reached
      |  FROM ev GROUP BY u)
      |SELECT
      |  CAST(SUM(CASE WHEN reached >= 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_signup,
      |  CAST(SUM(CASE WHEN reached >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_view,
      |  CAST(SUM(CASE WHEN reached >= 3 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_click,
      |  CAST(SUM(CASE WHEN reached >= 4 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_purchase
      |FROM pu""".stripMargin) { (s, dir) =>
    graft.operators.Funnel.funnel(Tables.events(s, dir),
      "user_id", "event_type", "ts",
      Seq("signup", "view", "click", "purchase"))
  }

  /** q128: EWMA smoothing — the final exponentially weighted average
    * of each user's event values (α = 0.25), the recursive statistic
    * no window frame expresses. Bit-reproducible via the seeded
    * sorted-history fold (Resample.ewma); the oracle runs the
    * identical fold through list_reduce. */
  val q128Ewma: QuerySpec = QuerySpec(
    "q128_ewma",
    s"""WITH h AS (
       |  SELECT user_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_obs,
       |    list_transform(list_sort(list({'ts': ts, 'v': value})),
       |      x -> x.v) AS hist
       |  FROM events WHERE value IS NOT NULL GROUP BY user_id)
       |SELECT user_id, n_obs,
       |  round(${graft.operators.Resample.sqlEwmaFold("hist", 0.25)}, 6)
       |    AS ewma
       |FROM h ORDER BY user_id""".stripMargin) { (s, dir) =>
    graft.operators.Resample.ewma(Tables.events(s, dir),
        "user_id", "ts", "value", 0.25)
      .orderBy(col("user_id"))
  }

  /** q130: top-p (nucleus) truncation — per event type, the smallest
    * set of users covering 80% of the value mass (the per-source
    * budget-allocation truncation of a mixing pipeline). Masses are
    * exact decimals, so the running/total window sums are exact on
    * both engines and only the final share comparison is float. */
  val q130TopP: QuerySpec = QuerySpec(
    "q130_top_p",
    """WITH s AS (
      |  SELECT event_type, user_id,
      |    SUM(CAST(value AS DECIMAL(18,4))) AS mass
      |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      |w AS (
      |  SELECT event_type, user_id, mass,
      |    SUM(mass) OVER (PARTITION BY event_type
      |      ORDER BY mass DESC, user_id ROWS UNBOUNDED PRECEDING) AS cum,
      |    SUM(mass) OVER (PARTITION BY event_type) AS tot
      |  FROM s)
      |SELECT event_type, user_id, CAST(mass AS DOUBLE) AS mass,
      |  round(CAST(mass AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share
      |FROM w
      |WHERE CAST(cum - mass AS DOUBLE) / CAST(tot AS DOUBLE) < 0.8
      |ORDER BY event_type, mass DESC, user_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.types.DecimalType
    val mass = Tables.events(s, dir).filter(col("value").isNotNull)
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(col("value").cast(DecimalType(18, 4))).as("mass"))
    graft.operators.Relational
      .topP(mass, Seq("event_type"), "mass", "user_id", 0.8)
      .select(col("event_type"), col("user_id"),
        col("mass").cast("double").as("mass"),
        round(col("share"), 6).as("share"))
      .orderBy(col("event_type"), col("mass").desc, col("user_id"))
  }

  /** q132: rolling 30-day correlation between the daily view-value and
    * click-value series — moment sums (n, Σa, Σb, Σab, Σa², Σb²) over
    * an integer-day RANGE frame in exact decimal, closed into Pearson
    * r in double only at the end (the q63 discipline, windowed). The
    * day-grained series is calendar-bounded after aggregation, so the
    * single-partition window sort is metadata-sized — the q90 spine
    * argument. */
  val q132RollingCorr: QuerySpec = QuerySpec(
    "q132_rolling_corr",
    """WITH d AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    SUM(CASE WHEN event_type = 'view'
      |      THEN CAST(value AS DECIMAL(18,4))
      |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS a,
      |    SUM(CASE WHEN event_type = 'click'
      |      THEN CAST(value AS DECIMAL(18,4))
      |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS b
      |  FROM events
      |  WHERE value IS NOT NULL AND event_type IN ('view', 'click')
      |  GROUP BY 1),
      |dn AS (SELECT day, datediff('day', DATE '1970-01-01', day)
      |         AS day_num, a, b FROM d),
      |w AS (
      |  SELECT day, a, b,
      |    COUNT(*) OVER win AS n,
      |    SUM(a) OVER win AS sa, SUM(b) OVER win AS sb,
      |    SUM(a * b) OVER win AS sab,
      |    SUM(a * a) OVER win AS saa,
      |    SUM(b * b) OVER win AS sbb
      |  FROM dn WINDOW win AS (ORDER BY day_num
      |    RANGE BETWEEN 29 PRECEDING AND CURRENT ROW))
      |SELECT day, CAST(n AS BIGINT) AS n_days,
      |  round(
      |    (CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
      |      - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
      |    / sqrt(
      |      (CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
      |        - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
      |      * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
      |        - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 6) AS corr30
      |FROM w
      |WHERE n >= 10
      |  AND CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
      |    - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) > 0
      |  AND CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
      |    - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) > 0
      |ORDER BY day""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(18, 4))
    val d = Tables.events(s, dir)
      .filter(col("value").isNotNull &&
        col("event_type").isin("view", "click"))
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(
        sum(when(col("event_type") === "view", dec(col("value")))
          .otherwise(dec(lit(0)))).as("a"),
        sum(when(col("event_type") === "click", dec(col("value")))
          .otherwise(dec(lit(0)))).as("b"))
      .withColumn("day_num", datediff(col("day"), lit("1970-01-01")))
    // unpartitioned window is BOUNDED: input is the per-DAY aggregate
    // (one row per calendar day), not event rows — calendar-sized at
    // any corpus scale
    val win = Window.orderBy(col("day_num")).rangeBetween(-29, 0)
    val dbl = (c: org.apache.spark.sql.Column) => c.cast("double")
    val stats = d
      .withColumn("n", count(lit(1)).over(win))
      .withColumn("sa", sum(col("a")).over(win))
      .withColumn("sb", sum(col("b")).over(win))
      .withColumn("sab", sum(col("a") * col("b")).over(win))
      .withColumn("saa", sum(col("a") * col("a")).over(win))
      .withColumn("sbb", sum(col("b") * col("b")).over(win))
    val va = dbl(col("n")) * dbl(col("saa")) - dbl(col("sa")) * dbl(col("sa"))
    val vb = dbl(col("n")) * dbl(col("sbb")) - dbl(col("sb")) * dbl(col("sb"))
    stats
      .filter(col("n") >= 10 && va > 0 && vb > 0)
      .select(col("day"), col("n").as("n_days"),
        round((dbl(col("n")) * dbl(col("sab"))
          - dbl(col("sa")) * dbl(col("sb"))) / sqrt(va * vb), 6)
          .as("corr30"))
      .orderBy(col("day"))
  }

  /** q202: Holt double exponential smoothing (★ — the linear-trend
    * forecasting baseline one tier above q128's EWMA: a level AND a
    * trend state give h-step-ahead forecasts, the classic ops-metrics
    * / capacity-planning first model; see
    * [[graft.operators.Resample.holt]]). Series = per-event-type
    * daily value totals (exact decimal sums closed to round-6 doubles
    * — the q132 discipline), folded in day order with α=0.5, β=0.25;
    * the oracle replays the identical struct fold via
    * [[graft.operators.Resample.sqlHoltFold]]. One shuffle to the
    * (type, day) grain, one to the type grain; per-type state is the
    * calendar-bounded day array. */
  val q202Holt: QuerySpec = {
    import graft.operators.Resample
    val (alpha, beta) = (0.5, 0.25)
    QuerySpec(
      "q202_holt_smoothing",
      s"""WITH RECURSIVE d AS (
         |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         |    round(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 6)
         |      AS v
         |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         |h AS (
         |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
         |    list_transform(list_sort(list({'ts': day, 'v': v})),
         |      x -> x.v) AS hist
         |  FROM d GROUP BY event_type HAVING COUNT(*) >= 2),
         |${Resample.sqlHoltRec("h", "event_type", "hist", alpha, beta)}
         |SELECT r.event_type, h.n_days,
         |  round(r.l, 6) + 0.0 AS level, round(r.b, 6) + 0.0 AS trend,
         |  round(r.l + 1 * r.b, 6) + 0.0 AS fc1,
         |  round(r.l + 2 * r.b, 6) + 0.0 AS fc2,
         |  round(r.l + 3 * r.b, 6) + 0.0 AS fc3
         |FROM rec r JOIN h ON h.event_type = r.event_type
         |  AND r.i = len(h.hist)
         |ORDER BY r.event_type""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      val daily = Tables.events(s, dir).filter(col("value").isNotNull)
        .groupBy(col("event_type"),
          date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(round(sum(col("value").cast(DecimalType(18, 4)))
          .cast("double"), 6).as("v"))
      Resample.holt(daily, "event_type", "day", "v", alpha, beta)
        .withColumnRenamed("n_obs", "n_days")
        .orderBy(col("event_type"))
    }
  }

  /** q221: Holt–Winters additive seasonal forecast (★ — the tier
    * above q202's Holt for series with a weekly cycle: level + trend
    * + a rolling 7-slot seasonal queue, textbook two-season
    * initialization, forecasts carrying the seasonal index, and the
    * amplitude statistic s_range. Same per-type daily aggregation and
    * sorted-history fold shape as q202; the oracle replays the queue
    * as a DOUBLE[] column in the recursive CTE (the struct-mutation
    * rationale), with the init means as the same left folds. */
  val q221HoltWinters: QuerySpec = {
    import graft.operators.Resample
    val (alpha, beta, gamma, m) = (0.5, 0.25, 0.3, 7)
    QuerySpec(
      "q221_holt_winters",
      s"""WITH RECURSIVE d AS (
         |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         |    round(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 6)
         |      AS v
         |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         |h AS (
         |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
         |    list_transform(list_sort(list({'ts': day, 'v': v})),
         |      x -> x.v) AS hist
         |  FROM d GROUP BY event_type HAVING COUNT(*) >= ${2 * m}),
         |${Resample.sqlHoltWintersRec("h", "event_type", "hist",
             alpha, beta, gamma, m)}
         |SELECT r.event_type, h.n_days,
         |  round(r.l, 6) + 0.0 AS level, round(r.b, 6) + 0.0 AS trend,
         |  round(list_max(r.sq) - list_min(r.sq), 6) + 0.0 AS s_range,
         |  round(r.l + 1 * r.b + r.sq[1], 6) + 0.0 AS fc1,
         |  round(r.l + 2 * r.b + r.sq[2], 6) + 0.0 AS fc2,
         |  round(r.l + 3 * r.b + r.sq[3], 6) + 0.0 AS fc3
         |FROM rec r JOIN h ON h.event_type = r.event_type
         |  AND r.i = len(h.hist)
         |ORDER BY r.event_type""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      val daily = Tables.events(s, dir).filter(col("value").isNotNull)
        .groupBy(col("event_type"),
          date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(round(sum(col("value").cast(DecimalType(18, 4)))
          .cast("double"), 6).as("v"))
      Resample.holtWinters(daily, "event_type", "day", "v",
          alpha, beta, gamma, m)
        .withColumnRenamed("n_obs", "n_days")
        .orderBy(col("event_type"))
    }
  }

  /** q208: clickstream transition matrix (★ — the first-order Markov
    * model of user navigation every product-analytics stack fits:
    * P(next event type | current), from per-user lag pairs). The lag
    * runs in per-user windows ordered by (ts, event_id) — the
    * distributed shape, no global sort; the matrix is
    * |types|²-bounded, so its row totals join back as metadata.
    * Transition probabilities are exact-int ratios rounded to 6. */
  val q208TransitionMatrix: QuerySpec = QuerySpec(
    "q208_transition_matrix",
    """WITH o AS (
      |  SELECT user_id, event_type, ts, event_id,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS prev_type
      |  FROM events),
      |t AS (
      |  SELECT prev_type, event_type AS next_type,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      |rt AS (
      |  SELECT prev_type, CAST(SUM(n) AS BIGINT) AS row_total
      |  FROM t GROUP BY 1)
      |SELECT t.prev_type, t.next_type, t.n, rt.row_total,
      |  round(CAST(t.n AS DOUBLE) / rt.row_total, 6) AS p
      |FROM t JOIN rt USING (prev_type)
      |ORDER BY t.prev_type, t.next_type""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val t = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"),
        col("event_id"), lag(col("event_type"), 1).over(w).as("prev_type"))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val rt = t.groupBy(col("prev_type"))
      .agg(sum(col("n")).as("row_total"))
    t.join(rt, Seq("prev_type"))
      .select(col("prev_type"), col("next_type"), col("n"),
        col("row_total"),
        round(col("n").cast("double") / col("row_total"), 6).as("p"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  /** q209: CUSUM changepoint detection (★ — Page 1954's cumulative-sum
    * control chart, the standard drift alarm on ingestion metrics,
    * here over the per-type daily value series q202 forecasts on).
    * The textbook recursion s⁺ₜ = max(0, s⁺ₜ₋₁ + devₜ) is rewritten in
    * its CLOSED prefix form s⁺ᵢ = Cᵢ − min(0, min_{j≤i} Cⱼ) — two
    * cumulative window aggregates instead of a sequential fold — and
    * every quantity in the windows is EXACT DECIMAL (the daily y, μ,
    * and the k slack are round-6 doubles cast losslessly to
    * DECIMAL(18,6)), so the cumulative sums are order-free exact
    * arithmetic: no float ever enters a window aggregate (a double
    * running sum would hit DuckDB's segment-tree addition order).
    * Per-type windows ordered by day — calendar-bounded partitions.
    * Alarm thresholds: k = 0.5σ slack, h = 4σ. */
  val q209Cusum: QuerySpec = QuerySpec(
    "q209_cusum_alarm",
    """WITH d AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    round(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 6)
      |      AS y
      |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      |m AS (
      |  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(CAST(y AS DECIMAL(18,6)) AS DECIMAL(19,6))
      |      * CAST(CAST(y AS DECIMAL(18,6)) AS DECIMAL(19,6)))
      |      AS DOUBLE) AS sxx
      |  FROM d GROUP BY 1),
      |mk AS (
      |  SELECT event_type,
      |    CAST(round(sx / n, 6) AS DECIMAL(18,6)) AS mu,
      |    CAST(round(0.5 * round(sqrt((n * sxx - sx * sx)
      |      / (n * (n - 1))), 6), 6) AS DECIMAL(18,6)) AS k,
      |    CAST(round(4 * round(sqrt((n * sxx - sx * sx)
      |      / (n * (n - 1))), 6), 6) AS DECIMAL(18,6)) AS h
      |  FROM m),
      |dev AS (
      |  SELECT d.event_type, d.day, d.y,
      |    CAST(d.y AS DECIMAL(18,6)) - mk.mu - mk.k AS dev_p,
      |    CAST(d.y AS DECIMAL(18,6)) - mk.mu + mk.k AS dev_n,
      |    mk.h AS h
      |  FROM d JOIN mk USING (event_type)),
      |c0 AS (
      |  SELECT event_type, day, y, h,
      |    SUM(dev_p) OVER w AS cp,
      |    SUM(dev_n) OVER w AS cn
      |  FROM dev
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    ROWS UNBOUNDED PRECEDING)),
      |c AS (
      |  SELECT event_type, day, y, h, cp, cn,
      |    MIN(cp) OVER w AS mp,
      |    MAX(cn) OVER w AS mn
      |  FROM c0
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    ROWS UNBOUNDED PRECEDING))
      |SELECT event_type, day, y,
      |  round(CAST(cp - least(mp, CAST(0 AS DECIMAL(38,6)))
      |    AS DOUBLE), 6) AS s_pos,
      |  round(CAST(cn - greatest(mn, CAST(0 AS DECIMAL(38,6)))
      |    AS DOUBLE), 6) AS s_neg,
      |  cp - least(mp, CAST(0 AS DECIMAL(38,6))) > h AS alarm_up,
      |  cn - greatest(mn, CAST(0 AS DECIMAL(38,6))) < -h AS alarm_down
      |FROM c ORDER BY event_type, day""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.types.DecimalType
    val daily = Tables.events(s, dir).filter(col("value").isNotNull)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(round(sum(col("value").cast(DecimalType(18, 4)))
        .cast("double"), 6).as("y"))
    val y6 = col("y").cast(DecimalType(18, 6))
    val y19 = y6.cast(DecimalType(19, 6))
    val m = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(y6).cast("double").as("sx"),
        sum(y19 * y19).cast("double").as("sxx"))
    val sd = round(sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
      / (col("n") * (col("n") - 1))), 6)
    val mk = m.select(col("event_type"),
      round(col("sx") / col("n"), 6).cast(DecimalType(18, 6)).as("mu"),
      round(lit(0.5) * sd, 6).cast(DecimalType(18, 6)).as("k"),
      round(lit(4) * sd, 6).cast(DecimalType(18, 6)).as("h"))
    val dev = daily.join(mk, Seq("event_type"))
      .select(col("event_type"), col("day"), col("y"),
        (y6 - col("mu") - col("k")).as("dev_p"),
        (y6 - col("mu") + col("k")).as("dev_n"), col("h"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val zero = lit(0).cast(DecimalType(38, 6))
    val c = dev
      .withColumn("cp", sum(col("dev_p")).over(w))
      .withColumn("cn", sum(col("dev_n")).over(w))
      .withColumn("mp", min(col("cp")).over(w))
      .withColumn("mn", max(col("cn")).over(w))
    // the exact scale-6 decimal exports through round(·, 6): DuckDB's
    // decimal→double cast lands an ulp off Spark's on some values
    // (reciprocal-multiply vs true division); rounding re-canonicalizes
    c.select(col("event_type"), col("day"), col("y"),
        round((col("cp") - least(col("mp"), zero)).cast("double"), 6)
          .as("s_pos"),
        round((col("cn") - greatest(col("mn"), zero)).cast("double"), 6)
          .as("s_neg"),
        (col("cp") - least(col("mp"), zero) > col("h")).as("alarm_up"),
        (col("cn") - greatest(col("mn"), zero) < -col("h"))
          .as("alarm_down"))
      .orderBy(col("event_type"), col("day"))
  }

  /** q210: Kaplan–Meier survival estimator (★ — the 1958
    * product-limit estimator, the standard retention/churn curve with
    * RIGHT-CENSORING done correctly: a user whose last event falls in
    * the final 3 observed days hasn't churned — they're censored, and
    * naive "lifetime histograms" that ignore this bias every retention
    * number down). Lifetime = days between a user's first and last
    * event; event times collapse to a day-bounded frame, so at-risk
    * counts are cumulative windows over metadata and the survival
    * product folds, PER OUTPUT ROW, the ≤|days| (t, 1−d/n) array in
    * t-order — a pinned scalar-double fold both engines spell
    * identically (the struct-fold DuckDB traps don't apply). The full
    * ratio array attaches via a 1-row cross (q76 shape). */
  val q210KaplanMeier: QuerySpec = QuerySpec(
    "q210_kaplan_meier",
    """WITH life AS (
      |  SELECT user_id,
      |    CAST(date_trunc('day', MIN(ts)) AS DATE) AS first_day,
      |    CAST(date_trunc('day', MAX(ts)) AS DATE) AS last_day
      |  FROM events GROUP BY 1),
      |horizon AS (SELECT MAX(last_day) AS max_day FROM life),
      |obs AS (
      |  SELECT user_id,
      |    datediff('day', first_day, last_day) AS t,
      |    last_day > (SELECT max_day FROM horizon) - 3 AS censored
      |  FROM life),
      |grp AS (
      |  SELECT t,
      |    CAST(SUM(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT)
      |      AS d,
      |    CAST(SUM(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT)
      |      AS c
      |  FROM obs GROUP BY 1),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM obs),
      |risk AS (
      |  SELECT t, d, c,
      |    CAST((SELECT n_users FROM tot)
      |      - COALESCE(SUM(d + c) OVER (ORDER BY t
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS n_at_risk
      |  FROM grp),
      |rarr AS (
      |  SELECT list_sort(list({'t': t,
      |    'r': 1 - CAST(d AS DOUBLE) / n_at_risk})) AS rs
      |  FROM risk)
      |SELECT r.t, r.n_at_risk, r.d, r.c,
      |  round(list_reduce(list_prepend(1.0,
      |    list_transform(list_filter(a.rs, x -> x.t <= r.t),
      |      x -> x.r)), (acc, v) -> acc * v), 6) + 0.0 AS survival
      |FROM risk r CROSS JOIN rarr a
      |ORDER BY r.t""".stripMargin) { (s, dir) =>
    val life = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(date_trunc("day", min(col("ts"))).cast("date").as("first_day"),
        date_trunc("day", max(col("ts"))).cast("date").as("last_day"))
    val maxDay = life.agg(max(col("last_day"))).head().getDate(0)
    val obs = life.select(col("user_id"),
      datediff(col("last_day"), col("first_day")).as("t"),
      (col("last_day") > date_sub(lit(maxDay), 3)).as("censored"))
    val grp = obs.groupBy(col("t"))
      .agg(sum(when(col("censored"), 0L).otherwise(1L)).as("d"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("c"))
    val nUsers = obs.count()
    // unpartitioned window is BOUNDED: input is grouped by t = whole
    // days between first and last activity — calendar-span-sized
    val w = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val risk = grp.withColumn("n_at_risk",
      lit(nUsers) - coalesce(sum(col("d") + col("c")).over(w), lit(0L)))
    val rarr = risk.agg(array_sort(collect_list(struct(col("t").as("t"),
      (lit(1) - col("d").cast("double") / col("n_at_risk")).as("r"))))
      .as("rs"))
    risk.crossJoin(broadcast(rarr))
      .select(col("t"), col("n_at_risk"), col("d"), col("c"),
        (round(aggregate(
          transform(filter(col("rs"), x => x("t") <= col("t")),
            x => x("r")),
          lit(1.0), (acc, v) => acc * v), 6) + lit(0.0)).as("survival"))
      .orderBy(col("t"))
  }

  /** q211: two-proportion z-test (★ — the A/B experiment readout:
    * does variant B's conversion rate differ from A's beyond sampling
    * noise? Deterministic assignment user_id % 2, conversion = any
    * big-ticket purchase (value > 180 — the all-users-convert
    * degenerate case would zero the pooled variance); the
    * pooled-variance z statistic is a pinned
    * arithmetic chain over four exact counts, rounded to 6 — the one
    * sqrt is shared IEEE). One grouped pass over events; the output
    * is a single decision row. */
  val q211AbTest: QuerySpec = QuerySpec(
    "q211_ab_ztest",
    """WITH u AS (
      |  SELECT user_id, user_id % 2 = 1 AS variant_b,
      |    MAX(CASE WHEN event_type = 'purchase' AND value > 180
      |      THEN 1 ELSE 0 END) AS converted
      |  FROM events GROUP BY 1, 2),
      |g AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN NOT variant_b THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_a,
      |    CAST(SUM(CASE WHEN NOT variant_b THEN converted ELSE 0 END)
      |      AS BIGINT) AS x_a,
      |    CAST(SUM(CASE WHEN variant_b THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_b,
      |    CAST(SUM(CASE WHEN variant_b THEN converted ELSE 0 END)
      |      AS BIGINT) AS x_b
      |  FROM u)
      |SELECT n_a, x_a, n_b, x_b,
      |  round(CAST(x_a AS DOUBLE) / n_a, 6) AS p_a,
      |  round(CAST(x_b AS DOUBLE) / n_b, 6) AS p_b,
      |  round((CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)
      |    / sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
      |      * (1 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
      |      * (1.0 / n_a + 1.0 / n_b)), 6) + 0.0 AS z,
      |  abs(round((CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)
      |    / sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
      |      * (1 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
      |      * (1.0 / n_a + 1.0 / n_b)), 6)) > 1.96 AS significant
      |FROM g""".stripMargin) { (s, dir) =>
    val u = Tables.events(s, dir)
      .groupBy(col("user_id"), (col("user_id") % 2 === 1).as("variant_b"))
      .agg(max(when(col("event_type") === "purchase" &&
          col("value") > 180, 1).otherwise(0)).as("converted"))
    val g = u.agg(
      sum(when(!col("variant_b"), 1L).otherwise(0L)).as("n_a"),
      sum(when(!col("variant_b"), col("converted")).otherwise(0L))
        .cast("long").as("x_a"),
      sum(when(col("variant_b"), 1L).otherwise(0L)).as("n_b"),
      sum(when(col("variant_b"), col("converted")).otherwise(0L))
        .cast("long").as("x_b"))
    val pa = col("x_a").cast("double") / col("n_a")
    val pb = col("x_b").cast("double") / col("n_b")
    val pp = (col("x_a") + col("x_b")).cast("double")
      .divide(col("n_a") + col("n_b"))
    val z = round((pa - pb) / sqrt(pp * (lit(1) - pp)
      * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 6) + lit(0.0)
    g.select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
      round(pa, 6).as("p_a"), round(pb, 6).as("p_b"), z.as("z"),
      (abs(z - lit(0.0)) > 1.96).as("significant"))
  }

  /** q216: end-to-end streaming Holt forecast (★ — the q202 model run
    * the way production runs it: a FILE-SOURCE stream drained with
    * `Trigger.AvailableNow` through a PARQUET sink, not a MemoryStream
    * fixture). The events table is staged into two files split at the
    * time midpoint (days arrive non-decreasing across micro-batches —
    * the operator's watermark posture; a day straddling the cut
    * accumulates into the open-day state), `maxFilesPerTrigger = 1`
    * forces two micro-batches, and the sink's LAST emission per type
    * must equal the batch q202 fold exactly — so the oracle is the
    * same recursive Holt SQL, which makes this a fully hash-checked
    * integration of source → stateful operator → sink. Emissions are
    * (n_days)-monotone per type, so the final-state pick is a
    * deterministic max; -0.0 is normalized at the edge like every
    * exported double. */
  val q216StreamingHolt: QuerySpec = {
    import graft.operators.Resample
    val (alpha, beta) = (0.5, 0.25)
    QuerySpec(
      "q216_streaming_holt",
      s"""WITH RECURSIVE d AS (
         |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         |    round(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 6)
         |      AS v
         |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         |h AS (
         |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
         |    list_transform(list_sort(list({'ts': day, 'v': v})),
         |      x -> x.v) AS hist
         |  FROM d GROUP BY event_type HAVING COUNT(*) >= 2),
         |${Resample.sqlHoltRec("h", "event_type", "hist", alpha, beta)}
         |SELECT r.event_type, h.n_days,
         |  round(r.l, 6) + 0.0 AS level, round(r.b, 6) + 0.0 AS trend,
         |  round(r.l + 1 * r.b, 6) + 0.0 AS fc1
         |FROM rec r JOIN h ON h.event_type = r.event_type
         |  AND r.i = len(h.hist)
         |ORDER BY r.event_type""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir).filter(col("value").isNotNull)
        .select(col("event_type"), col("ts"), col("value"))
      val bounds = ev.agg(min(col("ts")), max(col("ts"))).head()
      val (lo, hi) = (bounds.getTimestamp(0), bounds.getTimestamp(1))
      val cut = new java.sql.Timestamp(
        lo.getTime + (hi.getTime - lo.getTime) / 2)
      val root = java.nio.file.Files.createTempDirectory("graft_q216")
      ev.filter(col("ts") < lit(cut)).coalesce(1)
        .write.parquet(root.resolve("in/a").toString)
      ev.filter(col("ts") >= lit(cut)).coalesce(1)
        .write.parquet(root.resolve("in/b").toString)
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(root.toString + "/in/*/")
      val q = graft.streaming.Streams.holtStream(s, stream)
        .writeStream.format("parquet")
        .option("path", root.resolve("sink").toString)
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      // the returned plan reads only the sink
      graft.streaming.IncrementalLoad.awaitDrained(q, root,
        Seq("in", "ckpt"), 300000L)
      val sink = s.read.parquet(root.resolve("sink").toString)
      sink.withColumn("rn", row_number().over(
          Window.partitionBy(col("event_type"))
            .orderBy(col("n_days").desc)))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("n_days"),
          (col("level") + lit(0.0)).as("level"),
          (col("trend") + lit(0.0)).as("trend"),
          (col("fc1") + lit(0.0)).as("fc1"))
        .orderBy(col("event_type"))
    }
  }

  /** q248: end-to-end streaming Count-Min fold (★ — the q216 wire for
    * the SKETCH-STORE family: a FILE-SOURCE stream drained with
    * `Trigger.AvailableNow` through [[graft.streaming.IncrementalLoad
    * .streamingCountMinFold]] into a persisted grid, not a
    * MemoryStream fixture). The events table is staged into two files
    * split at the time midpoint, `maxFilesPerTrigger = 1` forces two
    * micro-batches — so batch 1 exercises the real read-merge-write
    * fold against the store batch 0 created — and the query emits the
    * DRAINED STORE's cells. Because cells ride portable_hash64 (the
    * q143 discipline), DuckDB rebuilds the identical grid from the
    * concatenated table: a fully hash-checked integration of source →
    * stateful fold → store. The emitted `applied` stamp (= 1, the
    * last foreachBatch id) is the in-output proof that TWO
    * micro-batches folded and the replay-idempotence bookkeeping
    * committed with the data ([[graft.operators.Stores]]). */
  val q248StreamingCountmin: QuerySpec = {
    val d = 4
    val w = 64
    val incSelects: String = (0 until d).map(i =>
      s"""  SELECT $i AS row,
         |    ${graft.operators.CountMin.sqlPosition("k", i, w)} AS pos
         |  FROM v""".stripMargin).mkString("\n  UNION ALL\n")
    QuerySpec(
      "q248_streaming_countmin",
      s"""WITH v AS (SELECT user_id AS k FROM events),
         |inc AS (
         |$incSelects),
         |cells AS (
         |  SELECT row, pos, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM inc GROUP BY 1, 2)
         |SELECT row, pos, cnt, CAST(1 AS BIGINT) AS applied
         |FROM cells ORDER BY row, pos""".stripMargin) { (s, dir) =>
      import graft.streaming.IncrementalLoad
      val ev = Tables.events(s, dir)
        .select(col("ts"), col("user_id").as("k"))
      val bounds = ev.agg(min(col("ts")), max(col("ts"))).head()
      val (lo, hi) = (bounds.getTimestamp(0), bounds.getTimestamp(1))
      val cut = new java.sql.Timestamp(
        lo.getTime + (hi.getTime - lo.getTime) / 2)
      val (stream, root) = IncrementalLoad.stageTwoFileStream(
        ev, col("ts") < lit(cut), "graft_q248")
      val store = root.resolve("store").toString
      val q = IncrementalLoad.streamingCountMinFold(
        s, stream, "k", store, root.resolve("ckpt").toString,
        depth = d, width = w)
      IncrementalLoad.awaitDrained(q, root, Seq("in", "ckpt"), 300000L)
      // the replay stamp now rides the store pointer, not the payload
      val applied = graft.operators.Stores.lastApplied(s, s"$store/cells")
      // bound: a store read of d × w = 4 × 64 cells
      Relational.orderBounded(
        graft.operators.CountMin.readStore(s, store).cells
          .withColumn("applied", lit(applied)),
        col("row"), col("pos"))
    }
  }

  val specs: Seq[QuerySpec] = Seq(
    q40JsonProps, q41Tumbling, q42Sliding, q43Sessions, q44DedupReplay,
    q45AsOf, q56AsOfKeyed, q68RangeAsOf, q74IntervalJoin, q85FillForward,
    q101Sessionize, q106IntervalIslands, q108Scd2Build, q127Funnel,
    q128Ewma, q130TopP, q132RollingCorr, q202Holt, q221HoltWinters,
    q208TransitionMatrix, q209Cusum, q210KaplanMeier, q211AbTest,
    q216StreamingHolt, q248StreamingCountmin)
}
