package graft.queries

import graft.{QuerySpec, Tables}
import graft.functions.Exact
import graft.operators.Relational
import graft.operators.Relational.{Slice, SliceAgg}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's warehouse load protocols as PURE queries (SURVEY
  * §2.3 J2/J3, §3.3, §7.3 step 4): result = what the sink would
  * contain after the protocol runs. The side-effecting forms live in
  * operators.Sinks and are exercised by SinksSpec (including
  * idempotency laws); these query twins give the protocols a DuckDB
  * oracle.
  */
object ProtocolQueries {

  /** q48: dedup-append (insert-if-absent, J2/J3 — the rewrite of
    * `weekly_dag.py:420-427`): sink already holds pre-1997 monthly
    * rows; the candidate batch overlaps 1996–1997. Result = sink ∪
    * anti-joined candidates, aggregated per month. Candidate batch
    * values are perturbed (+1000) so a wrongly-applied overwrite or
    * double-append is caught by the totals, not just row counts. Sink
    * and candidates are slices of one `orders` scan, so one
    * [[Relational.sliceAggregate]] builds both and the anti-join
    * becomes a per-month pick: the sink's row where the sink slice is
    * present, the candidates' otherwise — the null-safe
    * [[Relational.newKeysOnly]] contract, in one shuffle. */
  val q48DedupAppend: QuerySpec = QuerySpec(
    "q48_dedup_append",
    s"""WITH sink AS (
       |  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS year,
       |    CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS month,
       |    ${Exact.sqlSum("o_totalprice")} AS total
       |  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
       |  GROUP BY 1, 2),
       |candidates AS (
       |  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS year,
       |    CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS month,
       |    ${Exact.sqlSum("o_totalprice + 1000")} AS total
       |  FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       |  GROUP BY 1, 2),
       |merged AS (
       |  SELECT * FROM sink
       |  UNION ALL
       |  SELECT * FROM candidates c WHERE NOT EXISTS (
       |    SELECT 1 FROM sink s WHERE s.year IS NOT DISTINCT FROM c.year
       |      AND s.month IS NOT DISTINCT FROM c.month))
       |SELECT year, month, total FROM merged ORDER BY year, month""".stripMargin) { (s, dir) =>
    // bound: one monthly aggregate, one row per calendar month
    Relational.orderBounded(dedupAppend(Tables.orders(s, dir)),
      col("year"), col("month"))
  }

  private def ts(s: String) = to_timestamp(lit(s"$s 00:00:00"))
  private val monthKeys = Seq(year(col("o_orderdate")).as("year"),
    month(col("o_orderdate")).as("month"))

  /** q48's merged sink over an `orders`-shaped relation, unordered. */
  private[graft] def dedupAppend(orders: DataFrame): DataFrame = {
    val d = col("o_orderdate")
    Relational.sliceAggregate(orders, monthKeys, Seq(
        Slice("sink", d < ts("1997-01-01"),
          SliceAgg("sink_total", Exact.dsum, col("o_totalprice"))),
        Slice("candidates", d >= ts("1996-01-01") && d < ts("1998-01-01"),
          SliceAgg("cand_total", Exact.dsum, col("o_totalprice") + 1000.0))))
      .select(col("year"), col("month"), when(col("sink") > 0,
        col("sink_total")).otherwise(col("cand_total")).as("total"))
  }

  /** q49: replace-partition upsert intent (§3.3: absent→append,
    * changed→replace, identical→no-op): the 1997 partitions arrive
    * re-stated (values bumped), 1998 partitions are new, pre-1997
    * stays untouched. Result = base anti updates ∪ updates: base and
    * updates are slices of one `orders` scan ([[Relational.sliceAggregate]]),
    * and each month takes the updates' row where that slice is
    * present, the base's otherwise. `n` is the chosen slice's presence
    * count, which is its row count. */
  val q49UpsertPartition: QuerySpec = QuerySpec(
    "q49_upsert_partition",
    s"""WITH base AS (
       |  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS year,
       |    CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS month,
       |    ${Exact.sqlSum("o_totalprice")} AS total, COUNT(*) AS n
       |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       |  GROUP BY 1, 2),
       |updates AS (
       |  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS year,
       |    CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS month,
       |    ${Exact.sqlSum("o_totalprice * 2")} AS total, COUNT(*) AS n
       |  FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
       |    AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
       |  GROUP BY 1, 2),
       |merged AS (
       |  SELECT * FROM base b WHERE NOT EXISTS (
       |    SELECT 1 FROM updates u WHERE u.year IS NOT DISTINCT FROM b.year
       |      AND u.month IS NOT DISTINCT FROM b.month)
       |  UNION ALL
       |  SELECT * FROM updates)
       |SELECT year, month, total, n FROM merged ORDER BY year, month""".stripMargin) { (s, dir) =>
    // bound: one monthly aggregate, one row per calendar month
    Relational.orderBounded(upsertPartition(Tables.orders(s, dir)),
      col("year"), col("month"))
  }

  /** q49's upserted table over an `orders`-shaped relation, unordered. */
  private[graft] def upsertPartition(orders: DataFrame): DataFrame = {
    val d = col("o_orderdate")
    val updated = col("updates") > 0
    Relational.sliceAggregate(orders, monthKeys, Seq(
        Slice("base", d < ts("1998-01-01"),
          SliceAgg("base_total", Exact.dsum, col("o_totalprice"))),
        Slice("updates", d >= ts("1997-01-01") && d < ts("1999-01-01"),
          SliceAgg("upd_total", Exact.dsum, col("o_totalprice") * 2.0))))
      .select(col("year"), col("month"),
        when(updated, col("upd_total")).otherwise(col("base_total")).as("total"),
        when(updated, col("updates")).otherwise(col("base")).as("n"))
  }

  /** q65: the reference's signature pipeline end to end as ONE
    * oracle-checked query (`weekly_dag.py:366-432`): macro-series
    * JSON payloads → `Ingest.macroSeries` (S4 explode) → `multiJoin`
    * into the wide frame → date parts → anti-join dedup against the
    * already-loaded months → read-back yearly aggregate. The JSON leg
    * is real: payloads are built from the warehouse (deterministic),
    * serialized to Alpha-Vantage-shaped strings, and re-ingested via
    * spark.read.json — the oracle computes the same result
    * relationally, so any drift in the ingest adapters breaks the
    * hash. Existing-sink values are perturbed (+1000) so a wrong
    * dedup direction shows in the totals. */
  val q65Lifecycle: QuerySpec = QuerySpec(
    "q65_lifecycle",
    s"""WITH m AS (
       |  SELECT date_trunc('month', o_orderdate) AS date,
       |    CAST(COUNT(*) AS DOUBLE) AS value_ORDERS,
       |    ${Exact.sqlSum("o_totalprice")} AS value_REVENUE
       |  FROM orders GROUP BY 1),
       |wide AS (
       |  SELECT CAST(EXTRACT(year FROM date) AS INTEGER) AS year,
       |    CAST(EXTRACT(month FROM date) AS INTEGER) AS month,
       |    date, value_ORDERS, value_REVENUE
       |  FROM m),
       |existing AS (
       |  SELECT year, month, value_ORDERS + 1000 AS value_ORDERS,
       |    value_REVENUE + 1000 AS value_REVENUE
       |  FROM wide WHERE date < DATE '1997-01-01'),
       |merged AS (
       |  SELECT * FROM existing
       |  UNION ALL
       |  SELECT year, month, value_ORDERS, value_REVENUE FROM wide c
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM existing e
       |    WHERE e.year IS NOT DISTINCT FROM c.year
       |      AND e.month IS NOT DISTINCT FROM c.month))
       |SELECT year, COUNT(*) AS n_months,
       |  ${Exact.sqlSum("value_ORDERS")} AS total_orders,
       |  ${Exact.sqlSum("value_REVENUE")} AS total_revenue
       |FROM merged GROUP BY year ORDER BY year""".stripMargin) { (s, dir) =>
    import s.implicits._
    // 1. build the two per-indicator monthly series and serialize each
    //    to ONE Alpha-Vantage-shaped payload string (series-sized by
    //    contract — the reference fetches one JSON per indicator)
    val o = Tables.orders(s, dir)
      .withColumn("m", trunc(col("o_orderdate"), "month"))
    def payload(series: org.apache.spark.sql.DataFrame,
                indicator: String): org.apache.spark.sql.Dataset[String] =
      series.agg(to_json(struct(lit(indicator).as("name"),
        collect_list(struct(date_format(col("m"), "yyyy-MM-dd").as("date"),
          col("value"))).as("data")))).as[String]
    val pOrders = payload(
      o.groupBy(col("m")).agg(count(lit(1)).cast("double").as("value")),
      "ORDERS")
    val pRevenue = payload(
      o.groupBy(col("m")).agg(Exact.dsum(col("o_totalprice")).as("value")),
      "REVENUE")
    // 2. ingest (S4) + 3. multiJoin into the wide frame + date parts.
    // `wide` fans out into three consumers below (existing, candidates,
    // and existing again inside the anti-join) — materialize the tiny
    // months-sized frame ONCE so the orders-scan → aggregate → to_json
    // → re-parse chain doesn't execute per consumer.
    val wide = Relational.multiJoin(Seq(
        graft.sources.Ingest.macroSeries(s, pOrders, "ORDERS"),
        graft.sources.Ingest.macroSeries(s, pRevenue, "REVENUE")),
        Seq("date"))
      .withColumn("year", year(col("date")))
      .withColumn("month", month(col("date")))
      .localCheckpoint()
    // 4. anti-join dedup against the already-loaded months
    val existing = wide.filter(col("date") < to_date(lit("1997-01-01")))
      .select(col("year"), col("month"),
        (col("value_ORDERS") + 1000).as("value_ORDERS"),
        (col("value_REVENUE") + 1000).as("value_REVENUE"))
    val merged = existing.unionByName(
      Relational.newKeysOnly(
        wide.select(col("year"), col("month"), col("value_ORDERS"),
          col("value_REVENUE")),
        existing, Seq("year", "month")))
    // 5. read-back aggregate; bound: one row per calendar year
    Relational.orderBounded(merged.groupBy(col("year"))
      .agg(count(lit(1)).as("n_months"),
        Exact.dsum(col("value_ORDERS")).as("total_orders"),
        Exact.dsum(col("value_REVENUE")).as("total_revenue")),
      col("year"))
  }

  /** q69: the scraped key-value leg end to end (`weekly_dag.py:56-88`
    * S3 → R1): per-entity KV payloads (ticker + (metric, value) rows)
    * serialized to JSON, re-ingested via `Ingest.keyValueScrape`, and
    * pivoted wide with `Relational.pivotKV` — then a segment rollup so
    * the oracle (computed relationally from the same table) verifies
    * the whole JSON→long→wide round trip. Doubles survive the string
    * round trip exactly (shortest-repr rendering both ways). */
  val q69KvScrapePivot: QuerySpec = QuerySpec(
    "q69_kv_scrape_pivot",
    s"""SELECT c_mktsegment AS mktsegment, COUNT(*) AS n,
       |  ${Exact.sqlSum("c_acctbal")} AS total_bal
       |FROM customer WHERE c_custkey < 500
       |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    import s.implicits._
    val payloads = Tables.customer(s, dir)
      .filter(col("c_custkey") < 500)
      .select(to_json(struct(
        col("c_name").as("ticker"),
        array(
          struct(lit("acctbal").as("metric"),
            col("c_acctbal").cast("string").as("value")),
          struct(lit("mktsegment").as("metric"),
            col("c_mktsegment").as("value"))).as("rows"))))
      .as[String]
    val wide = Relational.pivotKV(
      graft.sources.Ingest.keyValueScrape(s, payloads),
      "ticker", "metric", "value", Seq("acctbal", "mktsegment"))
    // bound: an aggregate over the 5-value market-segment dictionary
    Relational.orderBounded(wide.groupBy(col("mktsegment"))
      .agg(count(lit(1)).as("n"),
        Exact.dsum(col("acctbal").cast("double")).as("total_bal")),
      col("mktsegment"))
  }

  /** q255: the per-entity history union end to end (`daily_dag.py:
    * 91-96` S2 — the reference's per-ticker download loop: one frame
    * per entity, tagged with its id, unioned): three per-segment
    * "history pulls" built with deliberately DIFFERING column orders
    * (the positional-union corruption `unionByName` exists to make
    * inexpressible — a positional union here would silently write
    * keys into the balance column for one entity), tagged and unioned
    * via [[graft.sources.Ingest.taggedUnion]], then rolled up per
    * entity. The oracle computes the same rollup relationally, so the
    * tag/union semantics — row completeness per entity, no
    * cross-column bleed (exact key range AND exact decimal balance
    * sum per entity) — are hash-checked. Closes the one S-row of the
    * reference-surface table that was spec-only (IngestSpec). */
  val q255TaggedHistoryUnion: QuerySpec = QuerySpec(
    "q255_tagged_history_union",
    s"""WITH u AS (
       |  SELECT 'automobile' AS entity, c_custkey AS k, c_acctbal AS bal
       |  FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
       |  UNION ALL
       |  SELECT 'building', c_custkey, c_acctbal
       |  FROM customer WHERE c_mktsegment = 'BUILDING'
       |  UNION ALL
       |  SELECT 'machinery', c_custkey, c_acctbal
       |  FROM customer WHERE c_mktsegment = 'MACHINERY')
       |SELECT entity, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  MIN(k) AS first_key, MAX(k) AS last_key,
       |  ${Exact.sqlSum("bal")} AS total_bal
       |FROM u GROUP BY entity ORDER BY entity""".stripMargin) { (s, dir) =>
    val c = Tables.customer(s, dir)
    def hist(seg: String, reversed: Boolean) = {
      val f = c.filter(col("c_mktsegment") === seg)
      if (reversed)
        f.select(col("c_acctbal").as("bal"), col("c_custkey").as("k"))
      else
        f.select(col("c_custkey").as("k"), col("c_acctbal").as("bal"))
    }
    // bound: an aggregate over the 3 tagged entities
    Relational.orderBounded(graft.sources.Ingest.taggedUnion(Seq(
        "automobile" -> hist("AUTOMOBILE", reversed = false),
        "building" -> hist("BUILDING", reversed = true),
        "machinery" -> hist("MACHINERY", reversed = false)),
      "entity")
      .groupBy(col("entity"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("k")).as("first_key"), max(col("k")).as("last_key"),
        Exact.dsum(col("bal")).as("total_bal")),
      col("entity"))
  }

  /** q71: snapshot diff / CDC change classification
    * (`Relational.snapshotDiff` — the set-valued form of the A2 gate):
    * the old snapshot holds monthly totals before 1998; the new one
    * re-states 1997 (doubled) and adds 1998 — so the diff must read
    * exactly: pre-1997 unchanged, 1997 changed, 1998 added. The oracle
    * classifies with direct value comparison over the same full outer
    * join. */
  val q71SnapshotDiff: QuerySpec = QuerySpec(
    "q71_snapshot_diff",
    s"""WITH olds AS (
       |  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS year,
       |    CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS month,
       |    ${Exact.sqlSum("o_totalprice")} AS total
       |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       |  GROUP BY 1, 2),
       |news AS (
       |  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS year,
       |    CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS month,
       |    ${Exact.sqlSum(
                "CASE WHEN EXTRACT(year FROM o_orderdate) = 1997 " +
                "THEN o_totalprice * 2 ELSE o_totalprice END")} AS total
       |  FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
       |  GROUP BY 1, 2),
       |diff AS (
       |  SELECT COALESCE(o.year, n.year) AS year,
       |    COALESCE(o.month, n.month) AS month,
       |    CASE WHEN o.year IS NULL THEN 'added'
       |         WHEN n.year IS NULL THEN 'removed'
       |         WHEN o.total <> n.total THEN 'changed'
       |         ELSE 'unchanged' END AS change
       |  FROM olds o FULL OUTER JOIN news n
       |    ON o.year = n.year AND o.month = n.month)
       |SELECT change, COUNT(*) AS n,
       |  CAST(MIN(year * 100 + month) AS INTEGER) AS first_ym,
       |  CAST(MAX(year * 100 + month) AS INTEGER) AS last_ym
       |FROM diff GROUP BY change ORDER BY change""".stripMargin) { (s, dir) =>
    def monthly(df: org.apache.spark.sql.DataFrame) = df
      .select(year(col("o_orderdate")).as("year"),
        month(col("o_orderdate")).as("month"), col("p"))
      .groupBy(col("year"), col("month"))
      .agg(Exact.dsum(col("p")).as("total"))
    val o = Tables.orders(s, dir)
    val olds = monthly(
      o.filter(col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00")))
        .withColumn("p", col("o_totalprice")))
    val news = monthly(
      o.filter(col("o_orderdate") < to_timestamp(lit("1999-01-01 00:00:00")))
        .withColumn("p", when(year(col("o_orderdate")) === 1997,
          col("o_totalprice") * 2).otherwise(col("o_totalprice"))))
    // bound: an aggregate over the 4 change classes
    Relational.orderBounded(
      Relational.snapshotDiff(olds, news, Seq("year", "month"))
        .groupBy(col("change"))
        .agg(count(lit(1)).as("n"),
          min(col("year") * 100 + col("month")).cast("int").as("first_ym"),
          max(col("year") * 100 + col("month")).cast("int").as("last_ym")),
      col("change"))
  }

  /** q80: CDC APPLY (`Relational.applyChanges` — the merge that lands
    * q71's change feed back into a table): a base snapshot of orders
    * folds in a deterministic change feed — price updates (seq 1),
    * then deletes of a subset of the same keys (seq 2, so latest-wins
    * must pick the delete over the update), plus inserts of brand-new
    * keys. The oracle spells the same latest-change-per-key window +
    * anti + union relationally; the per-status rollup hashes counts
    * and exact sums, so a row that survived wrongly, died wrongly, or
    * applied the wrong version shifts the aggregate. */
  val q80CdcApply: QuerySpec = QuerySpec(
    "q80_cdc_apply",
    s"""WITH base AS (
       |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       |  WHERE o_orderkey < 3000),
       |changes AS (
       |  SELECT o_orderkey, o_orderstatus,
       |    o_totalprice + 100.0 AS o_totalprice, 'U' AS op, 1 AS seq
       |  FROM orders WHERE o_orderkey < 3000 AND o_orderkey % 7 = 0
       |  UNION ALL
       |  SELECT o_orderkey, o_orderstatus, o_totalprice, 'D' AS op, 2 AS seq
       |  FROM orders WHERE o_orderkey < 3000 AND o_orderkey % 14 = 0
       |  UNION ALL
       |  SELECT o_orderkey + 1000000 AS o_orderkey, 'N' AS o_orderstatus,
       |    o_totalprice, 'I' AS op, 1 AS seq
       |  FROM orders WHERE o_orderkey < 3000 AND o_orderkey % 13 = 0),
       |latest AS (
       |  SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY o_orderkey ORDER BY seq DESC, op) AS rn
       |    FROM changes) WHERE rn = 1),
       |merged AS (
       |  SELECT b.* FROM base b
       |  WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM latest)
       |  UNION ALL
       |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM latest
       |  WHERE op <> 'D')
       |SELECT o_orderstatus AS status, COUNT(*) AS n,
       |  ${Exact.sqlSum("o_totalprice")} AS total_price,
       |  MAX(o_orderkey) AS max_key
       |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val o = Tables.orders(s, dir)
      .filter(col("o_orderkey") < 3000)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val updates = o.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 100.0)
      .withColumn("op", lit("U")).withColumn("seq", lit(1))
    val deletes = o.filter(col("o_orderkey") % 14 === 0)
      .withColumn("op", lit("D")).withColumn("seq", lit(2))
    val inserts = o.filter(col("o_orderkey") % 13 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 1000000)
      .withColumn("o_orderstatus", lit("N"))
      .withColumn("op", lit("I")).withColumn("seq", lit(1))
    val changes = updates.unionByName(deletes).unionByName(inserts)
    // bound: an aggregate over the order-status dictionary (F, O, P, N)
    Relational.orderBounded(
      Relational.applyChanges(o, changes, Seq("o_orderkey"), "op", "seq")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          Exact.dsum(col("o_totalprice")).as("total_price"),
          max(col("o_orderkey")).as("max_key"))
        .select(col("o_orderstatus").as("status"), col("n"),
          col("total_price"), col("max_key")),
      col("status"))
  }

  /** q84: partial-aggregate maintenance (`Rollups.partials` →
    * `Rollups.reaggregate` — the never-re-aggregate-history protocol):
    * daily (sum, count, min, max) state per priority rolls up to
    * monthly by re-aggregating the PARTIALS only. The oracle computes
    * the monthly answer directly from raw facts — the whole point is
    * that the two are exactly equal (decimal-exact partial sums make
    * re-aggregation order immaterial). */
  val q84RollupMaintenance: QuerySpec = QuerySpec(
    "q84_rollup_maintenance",
    s"""SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS year,
       |  CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS month,
       |  o_orderpriority AS priority, COUNT(o_totalprice) AS n,
       |  ${Exact.sqlSum("o_totalprice")} AS total,
       |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
       |FROM orders GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) {
    (s, dir) =>
      import graft.operators.Rollups
      val daily = Rollups.partials(Tables.orders(s, dir), "o_orderdate",
        "day", Seq("o_orderpriority"), "o_totalprice")
      // bound: an aggregate per calendar month × the 5 priorities
      Relational.orderBounded(
        Rollups.reaggregate(daily, "month", Seq("o_orderpriority"))
          .select(year(col("bucket")).as("year"),
            month(col("bucket")).as("month"),
            col("o_orderpriority").as("priority"),
            col("pcount").as("n"),
            col("psum").cast("double").as("total"),
            col("pmin").as("min_price"), col("pmax").as("max_price")),
        col("year"), col("month"), col("priority"))
  }

  /** q92: distinct counts FROM PARTIAL STATE (`Rollups
    * .partialsWithDistinct` / `reaggregateWithDistinct` — the sketch
    * tier of q84): daily HLL sketches of the customer set union into
    * monthly estimates without touching raw facts. Sketches don't
    * exist in the oracle engine, so the check is a tolerance flag:
    * both sides emit the EXACT monthly distinct (the oracle from raw
    * data, the engine re-derived the same way) and the engine ANDs in
    * whether its sketch estimate lands within the HLL error envelope —
    * the oracle pins that flag to TRUE, so estimator drift breaks the
    * hash, while the estimate's last-ulp value (engine-specific) stays
    * out of the compare. */
  val q92HllRollup: QuerySpec = QuerySpec(
    "q92_hll_rollup",
    """SELECT date_trunc('month', o_orderdate) AS bucket,
      |  o_orderpriority AS priority,
      |  COUNT(DISTINCT o_custkey) AS exact_distinct,
      |  TRUE AS est_ok
      |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    import graft.operators.Rollups
    val o = Tables.orders(s, dir)
    val daily = Rollups.partialsWithDistinct(o, "o_orderdate", "day",
      Seq("o_orderpriority"), "o_custkey")
    val monthly = Rollups.reaggregateWithDistinct(daily, "month",
        Seq("o_orderpriority"))
      .select(col("bucket"), col("o_orderpriority"),
        Rollups.distinctEstimate(col("pdistinct")).as("est"))
    val exact = o
      .groupBy(date_trunc("month", col("o_orderdate")).as("bucket"),
        col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("exact_distinct"))
    // bound: a join of two aggregates per calendar month × the 5 priorities
    Relational.orderBounded(
      monthly.join(exact, Seq("bucket", "o_orderpriority"))
        .select(col("bucket"), col("o_orderpriority").as("priority"),
          col("exact_distinct"),
          (abs(col("est") - col("exact_distinct")) <=
            greatest(lit(3.0), lit(0.1) * col("exact_distinct")))
            .as("est_ok")),
      col("bucket"), col("priority"))
  }

  /** q99: data-quality constraint audit (`Audit.audit` — the publish
    * gate): one summary row per constraint over a corpus with
    * synthesized violations (every 500th order re-appended with a
    * bogus priority, negated price, and an orphaned custkey — so the
    * duplicate-key, accepted-values, range, and referential checks
    * all fire with exactly known counts). Row-local checks share ONE
    * scan/aggregate; uniqueness is one groupBy; referential integrity
    * one broadcast anti-join. */
  val q99QualityAudit: QuerySpec = QuerySpec(
    "q99_quality_audit",
    """WITH all_rows AS (
      |  SELECT o_orderkey, o_custkey, o_orderdate, o_orderpriority,
      |    o_totalprice
      |  FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey + 10000000, o_orderdate,
      |    '9-BOGUS', -o_totalprice
      |  FROM orders WHERE o_orderkey % 500 = 0)
      |SELECT check_name, n_violations FROM (
      |  SELECT 'orderdate_not_null' AS check_name,
      |    CAST(SUM(CASE WHEN o_orderdate IS NOT NULL THEN 0 ELSE 1 END)
      |      AS BIGINT) AS n_violations
      |  FROM all_rows
      |  UNION ALL
      |  SELECT 'priority_known',
      |    CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH',
      |      '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW') THEN 0 ELSE 1 END)
      |      AS BIGINT)
      |  FROM all_rows
      |  UNION ALL
      |  SELECT 'totalprice_positive',
      |    CAST(SUM(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS BIGINT)
      |  FROM all_rows
      |  UNION ALL
      |  SELECT 'orderkey_unique',
      |    CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
      |  FROM (SELECT COUNT(*) AS n FROM all_rows GROUP BY o_orderkey)
      |  UNION ALL
      |  SELECT 'custkey_in_customer', CAST(COUNT(*) AS BIGINT)
      |  FROM all_rows
      |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
      |ORDER BY check_name""".stripMargin) { (s, dir) =>
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderdate"), col("o_orderpriority"), col("o_totalprice"))
    val bad = o.filter(col("o_orderkey") % 500 === 0)
      .select(col("o_orderkey"), (col("o_custkey") + 10000000).as("o_custkey"),
        col("o_orderdate"), lit("9-BOGUS").as("o_orderpriority"),
        (-col("o_totalprice")).as("o_totalprice"))
    // a union of single-row global aggregates plans as SinglePartition,
    // so this orderBy already sorts in one task, with no range exchange
    graft.operators.Audit.audit(o.unionByName(bad),
        rowConstraints = Seq(
          "orderdate_not_null" -> col("o_orderdate").isNotNull,
          "priority_known" -> col("o_orderpriority").isin("1-URGENT",
            "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
          "totalprice_positive" -> (col("o_totalprice") > 0)),
        uniqueKeys = Seq("orderkey_unique" -> Seq("o_orderkey")),
        refs = Seq(("custkey_in_customer", "o_custkey",
          Tables.customer(s, dir), "c_custkey")))
      .select(col("check").as("check_name"), col("n_violations"))
      .orderBy(col("check_name"))
  }

  /** q109: anti-entropy repair roundtrip — the CDC pair COMPOSED:
    * `snapshotDiff` (q71) classifies how a drifted replica differs
    * from the target (dropped rows, perturbed prices, phantom extras),
    * the classification becomes a change feed, `applyChanges` (q80)
    * lands it, and the repaired table's portable checksum (q89) must
    * equal the checksum DuckDB computes over the TARGET directly —
    * bit-for-bit convergence of replica repair without ever shipping
    * the full table, which is the migration/DR story at 100 TB: ship
    * a diff, prove equality with two scalars. */
  val q109RepairRoundtrip: QuerySpec = QuerySpec(
    "q109_repair_roundtrip",
    """SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(CAST('0x' || substr(md5(concat_ws(chr(1),
      |    coalesce(CAST(o_orderkey AS VARCHAR), chr(2)),
      |    coalesce(CAST(o_custkey AS VARCHAR), chr(2)),
      |    coalesce(CAST(CAST(o_totalprice AS DECIMAL(38,6)) AS VARCHAR),
      |      chr(2)))), 1, 15) AS BIGINT) AS DECIMAL(38,0))) AS VARCHAR)
      |    AS checksum
      |FROM orders""".stripMargin) { (s, dir) =>
    val target = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    // drifted replica: every 97th row lost, every 89th price perturbed,
    // plus phantom rows that exist only in the replica
    val drifted = target.filter(col("o_orderkey") % 97 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 89 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
      .unionByName(target.filter(col("o_orderkey") % 101 === 0)
        .select((col("o_orderkey") + 3000000).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice")))
    // the delta is DRIFT-sized (≪ table); cache it so the full-outer
    // diff join runs once, not once per change type, and the key joins
    // below broadcast it (the q65 lesson: never re-derive a shared
    // subtree per consumer)
    val delta = Relational.snapshotDiff(drifted, target, Seq("o_orderkey"))
      .filter(col("change") =!= "unchanged").cache()
    def feed(src: org.apache.spark.sql.DataFrame,
             opByChange: Seq[(String, String)]) = {
      val opExpr = opByChange.foldLeft(lit(null).cast("string")) {
        case (acc, (c, o)) => when(col("change") === c, o).otherwise(acc)
      }
      src.join(delta.filter(col("change").isin(opByChange.map(_._1): _*)),
          Seq("o_orderkey"))
        .withColumn("op", opExpr).drop("change")
        .withColumn("seq", lit(1L))
    }
    val changes = feed(target, Seq("added" -> "I", "changed" -> "U"))
      .unionByName(feed(drifted, Seq("removed" -> "D")))
    val repaired = Relational.applyChanges(drifted, changes,
      Seq("o_orderkey"), "op", "seq")
    Relational.tableChecksum(repaired, Seq(col("o_orderkey"),
        col("o_custkey"), col("o_totalprice").cast("decimal(38,6)")))
      .select(col("n_rows"), col("checksum").cast("string").as("checksum"))
  }

  val specs: Seq[QuerySpec] = Seq(q48DedupAppend, q49UpsertPartition,
    q65Lifecycle, q69KvScrapePivot, q71SnapshotDiff, q80CdcApply,
    q84RollupMaintenance, q92HllRollup, q99QualityAudit,
    q109RepairRoundtrip, q255TaggedHistoryUnion)
}
