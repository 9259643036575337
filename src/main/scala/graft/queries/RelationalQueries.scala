package graft.queries

import graft.{QuerySpec, Tables}
import graft.functions.Exact
import graft.operators.Relational
import org.apache.spark.sql.functions._

/** Relational-core query library (SURVEY §2.2–§2.4, §2.6–§2.7, §2.9).
  * Each spec pairs the Spark plan with its DuckDB oracle SQL.
  */
object RelationalQueries {

  /** Scratch sink path for the roundtrip queries, keyed by the scale
    * directory: two concurrent runs over different SFs (bench at sf0.1
    * while verify dumps sf0.01) would interleave writes and reads on a
    * fixed path and corrupt both. */
  private def scratchPath(tag: String, sfDir: String): String =
    s"/tmp/graft_${tag}_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  /** q01: grouped rollup over the fact table — the canonical OHLCV-style
    * aggregation SURVEY §2.4 adds over the reference's ingest-grain
    * tables (reference stores, never aggregates: `weekly_dag.py` passim).
    * TPC-H Q1 shape: scan → filter (pushed to parquet) → hash agg with
    * map-side partials → tiny sort.
    */
  val q01PricingSummary: QuerySpec = QuerySpec(
    "q01_pricing_summary",
    s"""SELECT l_returnflag, l_linestatus,
       |  ${Exact.sqlSum("l_quantity")} AS sum_qty,
       |  ${Exact.sqlSum("l_extendedprice")} AS sum_base_price,
       |  ${Exact.sqlSumExact(Exact.sqlRevenue("l_extendedprice", "l_discount"))} AS sum_disc_price,
       |  ${Exact.sqlSumExact(Exact.sqlCharge("l_extendedprice", "l_discount", "l_tax"))} AS sum_charge,
       |  ${Exact.sqlAvg("l_quantity")} AS avg_qty,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Exact.dsum(col("l_quantity")).as("sum_qty"),
        Exact.dsum(col("l_extendedprice")).as("sum_base_price"),
        Exact.dsumExact(Exact.revenue(col("l_extendedprice"), col("l_discount")))
          .as("sum_disc_price"),
        Exact.dsumExact(Exact.charge(col("l_extendedprice"), col("l_discount"),
          col("l_tax"))).as("sum_charge"),
        Exact.davg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** q02 (flagship): the SURVEY §7.2 minimum slice — entry point 3.2's
    * shape (`weekly_dag.py:366-432`) on warehouse data: join fact to
    * its date spine, derive year/month parts (X1), range-filter (F3,
    * `weekly_dag.py:417`), aggregate, sort (O1). The join shuffles on
    * l_orderkey/o_orderkey; the agg reuses nothing bigger than
    * (year, month) cardinality so AQE coalesces its shuffle.
    */
  val q02MonthlyRollup: QuerySpec = QuerySpec(
    "q02_monthly_rollup",
    s"""SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS year,
       |  CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS month,
       |  ${Exact.sqlSumExact(Exact.sqlRevenue("l_extendedprice", "l_discount"))} AS revenue,
       |  COUNT(DISTINCT o_orderkey) AS n_orders,
       |  COUNT(*) AS n_items
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |WHERE EXTRACT(year FROM o_orderdate) > 1995
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val o = Relational.withDateParts(Tables.orders(s, dir), "o_orderdate")
      .filter(col("year") > 1995)
    val li = Tables.lineitem(s, dir)
    o.join(li, o("o_orderkey") === li("l_orderkey"))
      .groupBy(col("year"), col("month"))
      .agg(
        Exact.dsumExact(Exact.revenue(col("l_extendedprice"), col("l_discount")))
          .as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"),
        count(lit(1)).as("n_items"))
      .orderBy(col("year"), col("month"))
  }

  /** q03: projection + pushed conjunctive/range predicates (P3, F1/F3 —
    * `daily_dag.py:80`, `weekly_dag.py:417`). The whole WHERE clause
    * must reach the parquet scan as PushedFilters; per-row arithmetic
    * stays in plain double (element-wise IEEE ops are
    * engine-deterministic — only aggregation order is not).
    */
  val q03FilterProject: QuerySpec = QuerySpec(
    "q03_filter_project",
    """SELECT l_orderkey, l_linenumber,
      |  l_extendedprice * (1 - l_discount) AS disc_price
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00"))
        && col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00"))
        && col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("disc_price"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** q04: multi-way star join (J1 generalized — the reference's 9-way
    * fold `weekly_dag.py:393-394`): fact → orders → customer → nation →
    * region. The three dimension sides are tiny and must broadcast;
    * only the lineitem⋈orders join is allowed to shuffle.
    */
  val q04RegionRevenue: QuerySpec = QuerySpec(
    "q04_region_revenue",
    s"""SELECT r_name, n_name,
       |  ${Exact.sqlSumExact(Exact.sqlRevenue("l_extendedprice", "l_discount"))} AS revenue,
       |  COUNT(*) AS n_items
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       |GROUP BY r_name, n_name
       |ORDER BY r_name, n_name""".stripMargin) { (s, dir) =>
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00"))
        && col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00")))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        Exact.dsumExact(Exact.revenue(col("l_extendedprice"), col("l_discount")))
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** q05: left-anti existence join (J2) — the distributed form of the
    * reference's row-at-a-time "insert if absent" probe loop
    * (`weekly_dag.py:420-427`, author comment "This is super slow" at
    * `:423`): customers that have no order. One anti-join, no
    * driver-side loop.
    */
  val q05CustomersNoOrders: QuerySpec = QuerySpec(
    "q05_customers_no_orders",
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |  AND o_orderdate >= TIMESTAMP '2000-06-01 00:00:00')
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= to_timestamp(lit("2000-06-01 00:00:00")))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** q06: left-semi existence join (SURVEY §2.3 "absent" row — engine
    * provides it): customers with at least one urgent 1997 order. */
  val q06UrgentCustomers: QuerySpec = QuerySpec(
    "q06_urgent_customers",
    """SELECT c_custkey, c_acctbal FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
      |    AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    val o = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT"
        && col("o_orderdate") >= to_timestamp(lit("1997-01-01 00:00:00"))
        && col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00")))
    Tables.customer(s, dir)
      .join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  /** q07: vertical union (U1 — `daily_dag.py:96`) of two filtered
    * batches, then re-aggregated. unionByName keeps it robust to
    * column order like the engine's ingest path. */
  val q07UnionBatches: QuerySpec = QuerySpec(
    "q07_union_batches",
    s"""SELECT o_orderpriority, COUNT(*) AS n,
       |  ${Exact.sqlSum("o_totalprice")} AS total
       |FROM (
       |  SELECT * FROM orders WHERE o_orderstatus = 'F'
       |  UNION ALL
       |  SELECT * FROM orders WHERE o_orderstatus = 'O' AND o_totalprice > 200000
       |)
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    val o = Tables.orders(s, dir)
    val a = o.filter(col("o_orderstatus") === "F")
    val b = o.filter(col("o_orderstatus") === "O" && col("o_totalprice") > 200000)
    Relational.unionAll(Seq(a, b))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), Exact.dsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderpriority"))
  }

  /** q08: global top-k (SURVEY §2.6 ★). orderBy+limit compiles to
    * TakeOrderedAndProject — per-partition heaps + a k-row driver
    * merge, never a global sort. Tie-broken on the unique key. */
  val q08TopOrders: QuerySpec = QuerySpec(
    "q08_top_orders",
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(25)
  }

  /** q09: top-k per group (SURVEY §2.6 ★) via row_number — one hash
    * shuffle on the group key, no global sort. */
  val q09TopCustomersPerSegment: QuerySpec = QuerySpec(
    "q09_top_customers_per_segment",
    """SELECT c_mktsegment, c_custkey, c_acctbal FROM (
      |  SELECT c_mktsegment, c_custkey, c_acctbal,
      |    row_number() OVER (PARTITION BY c_mktsegment
      |      ORDER BY c_acctbal DESC, c_custkey) AS rn
      |  FROM customer)
      |WHERE rn <= 5
      |ORDER BY c_mktsegment, c_acctbal DESC, c_custkey""".stripMargin) { (s, dir) =>
    Relational.topKPerGroup(
      Tables.customer(s, dir)
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal")),
      Seq(col("c_mktsegment")),
      Seq(col("c_acctbal").desc, col("c_custkey").asc), 5)
      .orderBy(col("c_mktsegment"), col("c_acctbal").desc, col("c_custkey"))
  }

  /** q10: long→wide pivot (R1/R3 — replaces the reference's positional
    * `.loc` pivots `weekly_dag.py:81-88` and the per-indicator
    * join-pivot `:393-394`). Explicit value list so the plan needs no
    * extra distinct pass and the schema is static. */
  val q10PivotPriority: QuerySpec = QuerySpec(
    "q10_pivot_priority",
    s"""SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS year,
       |  ${Exact.sqlSum("CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END")} AS urgent,
       |  ${Exact.sqlSum("CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END")} AS high,
       |  ${Exact.sqlSum("CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice END")} AS medium,
       |  ${Exact.sqlSum("CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice END")} AS unspecified,
       |  ${Exact.sqlSum("CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END")} AS low
       |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    // bound: an aggregate, one row per calendar year
    Relational.orderBounded(Tables.orders(s, dir)
      .withColumn("year", year(col("o_orderdate")))
      .groupBy(col("year"))
      .pivot("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .agg(Exact.dsum(col("o_totalprice")))
      .toDF("year", "urgent", "high", "medium", "unspecified", "low"),
      col("year"))
  }

  /** q11: hierarchical rollup (SURVEY §2.4 "absent" — engine ★). Null
    * ordering differs between engines by default, so both sides order
    * by the grouping-id bitmask first, then keys NULLS FIRST. */
  val q11RollupYearMonth: QuerySpec = QuerySpec(
    "q11_rollup_year_month",
    s"""SELECT CAST(GROUPING(year, month) AS BIGINT) AS gid,
       |  year, month, COUNT(*) AS n, ${Exact.sqlSum("o_totalprice")} AS total
       |FROM (SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS year,
       |             CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS month,
       |             o_totalprice
       |      FROM orders)
       |GROUP BY ROLLUP(year, month)
       |ORDER BY gid, year ASC NULLS FIRST, month ASC NULLS FIRST""".stripMargin) { (s, dir) =>
    // bound: a rollup aggregate, ≤ months + years + 1 rows
    Relational.orderBounded(Tables.orders(s, dir)
      .select(year(col("o_orderdate")).as("year"),
        month(col("o_orderdate")).as("month"), col("o_totalprice"))
      .rollup(col("year"), col("month"))
      .agg(grouping_id().cast("long").as("gid"), count(lit(1)).as("n"),
        Exact.dsum(col("o_totalprice")).as("total"))
      .select(col("gid"), col("year"), col("month"), col("n"), col("total")),
      col("gid"), col("year").asc_nulls_first, col("month").asc_nulls_first)
  }

  /** q12: distinct aggregation (SURVEY §2.4 ★). Exact COUNT(DISTINCT)
    * — expands to a two-phase aggregate; the approx_count_distinct
    * variant lives in the non-oracle specs. */
  val q12DistinctParts: QuerySpec = QuerySpec(
    "q12_distinct_parts",
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"))
      .orderBy(col("l_returnflag"))
  }

  /** q13: conditional expression ladder (the engine's form of the
    * reference's per-field `if x != None` coalescing,
    * `weekly_dag.py:81-88`) + conditional aggregation. */
  val q13SegmentBuckets: QuerySpec = QuerySpec(
    "q13_segment_buckets",
    s"""SELECT c_mktsegment,
       |  CASE WHEN c_acctbal < 0 THEN 'negative'
       |       WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS bucket,
       |  COUNT(*) AS n, ${Exact.sqlSum("c_acctbal")} AS total_bal
       |FROM customer
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    Tables.customer(s, dir)
      .withColumn("bucket",
        when(col("c_acctbal") < 0, "negative")
          .when(col("c_acctbal") < 5000, "mid")
          .otherwise("high"))
      .groupBy(col("c_mktsegment"), col("bucket"))
      .agg(count(lit(1)).as("n"), Exact.dsum(col("c_acctbal")).as("total_bal"))
      .orderBy(col("c_mktsegment"), col("bucket"))
  }

  /** q14: string functions (SURVEY §2.8 — X4's family): regexp
    * extraction, case mapping, concat, LIKE filtering. */
  val q14StringFuncs: QuerySpec = QuerySpec(
    "q14_string_funcs",
    """SELECT CAST(regexp_extract(p_brand, '[0-9]+') AS INTEGER) AS brand_num,
      |  upper(p_type) AS type_u, COUNT(*) AS n,
      |  CAST(SUM(length(p_name)) AS BIGINT) AS total_name_len
      |FROM part
      |WHERE p_name LIKE '%el%' OR p_type LIKE 'PROMO%'
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    Tables.part(s, dir)
      .filter(col("p_name").like("%el%") || col("p_type").like("PROMO%"))
      .select(
        regexp_extract(col("p_brand"), "[0-9]+", 0).cast("int").as("brand_num"),
        upper(col("p_type")).as("type_u"), col("p_name"))
      .groupBy(col("brand_num"), col("type_u"))
      .agg(count(lit(1)).as("n"),
        sum(length(col("p_name"))).cast("long").as("total_name_len"))
      .orderBy(col("brand_num"), col("type_u"))
  }

  /** q15: date arithmetic (X1/X3 family): ship delay in days per
    * priority. Integer day-diff sums are exact in both engines. */
  val q15ShipDelay: QuerySpec = QuerySpec(
    "q15_ship_delay",
    """SELECT o_orderpriority,
      |  CAST(SUM(datediff('day', o_orderdate, l_shipdate)) AS BIGINT) AS total_delay_days,
      |  COUNT(*) AS n,
      |  CAST(SUM(datediff('day', o_orderdate, l_shipdate)) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS avg_delay_days
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("l_shipdate"), col("o_orderdate")).as("delay"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("delay")).cast("long").as("total_delay_days"),
        count(lit(1)).as("n"),
        (sum(col("delay")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_delay_days"))
      .orderBy(col("o_orderpriority"))
  }

  /** q16: month truncation spine (the engine's date-part partition key,
    * SURVEY §1.2): calendar-month rollup on a DATE-typed key. */
  val q16MonthlySpine: QuerySpec = QuerySpec(
    "q16_monthly_spine",
    s"""SELECT date_trunc('month', o_orderdate) AS month_start,
       |  COUNT(*) AS n_orders, ${Exact.sqlSum("o_totalprice")} AS total
       |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    // bound: an aggregate, one row per calendar month
    Relational.orderBounded(Tables.orders(s, dir)
      .groupBy(trunc(col("o_orderdate"), "month").as("month_start"))
      .agg(count(lit(1)).as("n_orders"), Exact.dsum(col("o_totalprice")).as("total")),
      col("month_start"))
  }

  /** q17: multi-series J1 fold + R3 reshape — the reference's
    * signature pattern (`weekly_dag.py:382-394`): three per-indicator
    * monthly series inner-joined on the month key into one wide frame.
    * The series are slices of the same `orders` scan, so they fuse into
    * one [[Relational.sliceAggregate]]: one scan, one shuffle of
    * month-sized partials, no join. Inner-join semantics are kept by
    * the presence counts: a month survives only when every series has
    * a row for it (a month without an `'O'` order is dropped) and its
    * key is non-NULL (`USING (m)` never matches a NULL month).
    */
  val q17MacroSeriesJoin: QuerySpec = QuerySpec(
    "q17_macro_series_join",
    s"""WITH s_orders AS (
       |  SELECT date_trunc('month', o_orderdate) AS m, COUNT(*) AS value_ORDERS
       |  FROM orders GROUP BY 1),
       |s_revenue AS (
       |  SELECT date_trunc('month', o_orderdate) AS m,
       |    ${Exact.sqlSum("o_totalprice")} AS value_REVENUE
       |  FROM orders GROUP BY 1),
       |s_open AS (
       |  SELECT date_trunc('month', o_orderdate) AS m, COUNT(*) AS value_OPEN
       |  FROM orders WHERE o_orderstatus = 'O' GROUP BY 1)
       |SELECT m, value_ORDERS, value_REVENUE, value_OPEN
       |FROM s_orders JOIN s_revenue USING (m) JOIN s_open USING (m)
       |ORDER BY m""".stripMargin) { (s, dir) =>
    // bound: one monthly aggregate, one row per calendar month
    Relational.orderBounded(macroSeries(Tables.orders(s, dir)), col("m"))
  }

  /** q17's wide frame over an `orders`-shaped relation, unordered. The
    * ORDERS and REVENUE series share the unfiltered slice, whose
    * presence count is `value_ORDERS` itself (≥ 1 on every month); the
    * OPEN series is the `'O'` slice, counted the same way. */
  private[graft] def macroSeries(
      orders: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import Relational.{Slice, SliceAgg}
    Relational.sliceAggregate(orders,
        Seq(trunc(col("o_orderdate"), "month").as("m")), Seq(
          Slice("value_ORDERS", lit(true),
            SliceAgg("value_REVENUE", Exact.dsum, col("o_totalprice"))),
          Slice("value_OPEN", col("o_orderstatus") === "O")))
      .filter(col("m").isNotNull && col("value_OPEN") > 0)
  }

  /** q18: set operations (SURVEY §2.7 — intersect/except are the
    * formal form of the reference's A2 symmetric-except emptiness
    * check): customer-activity cohorts across two years. */
  val q18SetOps: QuerySpec = QuerySpec(
    "q18_set_ops",
    """WITH y97 AS (SELECT DISTINCT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
      |y98 AS (SELECT DISTINCT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00')
      |SELECT cohort, COUNT(*) AS n FROM (
      |  SELECT 'both' AS cohort, * FROM (SELECT * FROM y97 INTERSECT SELECT * FROM y98)
      |  UNION ALL
      |  SELECT 'only97', * FROM (SELECT * FROM y97 EXCEPT SELECT * FROM y98)
      |  UNION ALL
      |  SELECT 'only98', * FROM (SELECT * FROM y98 EXCEPT SELECT * FROM y97))
      |GROUP BY cohort ORDER BY cohort""".stripMargin) { (s, dir) =>
    def active(y: Int) = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= to_timestamp(lit(f"$y-01-01 00:00:00"))
        && col("o_orderdate") < to_timestamp(lit(f"${y + 1}-01-01 00:00:00")))
      .select(col("o_custkey")).distinct()
    val y97 = active(1997); val y98 = active(1998)
    y97.intersect(y98).withColumn("cohort", lit("both"))
      .unionByName(y97.except(y98).withColumn("cohort", lit("only97")))
      .unionByName(y98.except(y97).withColumn("cohort", lit("only98")))
      .groupBy(col("cohort")).agg(count(lit(1)).as("n"))
      .orderBy(col("cohort"))
  }

  /** q19: approximate distinct counting (SURVEY §2.4 ★,
    * `approx_count_distinct` = HLL++). The sketch ESTIMATE is
    * implementation-specific, so the estimate itself never crosses
    * engines; what the oracle CAN verify exactly is the tolerance
    * contract — (exact count, estimate-within-bound flag), both
    * deterministic: the exact count from a twin aggregation, and the
    * flag holding the estimate to 3× the default 5% relative standard
    * deviation (a deterministic predicate of this engine's sketch,
    * which the oracle asserts as its literal TRUE — a drift past the
    * bound flips the flag and hash-mismatches). QueriesSpec keeps the
    * tighter per-group error assertions. */
  val q19ApproxDistinct: QuerySpec = QuerySpec(
    "q19_approx_distinct",
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS exact_parts,
      |  TRUE AS within_bound
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts")) <=
          col("exact_parts") * lit(0.15)).as("within_bound"))
      .orderBy(col("l_returnflag"))
  }

  /** q55: interval/range-containment join (SURVEY §2.3's missing join
    * family): how many orders from the broad customer base fall inside
    * each VIP customer's active trading window. Spark side uses the
    * bucketed equi-join strategy (RangeJoin.bucketed — grid join, not
    * a nested loop); the oracle states the raw range predicate. */
  val q55RangeJoin: QuerySpec = QuerySpec(
    "q55_range_join",
    """WITH ivals AS (
      |  SELECT o_custkey AS vip, MIN(o_orderdate) AS w_start,
      |    MAX(o_orderdate) + INTERVAL 1 DAY AS w_end
      |  FROM orders WHERE o_custkey <= 20 GROUP BY o_custkey),
      |probe AS (SELECT o_orderkey, o_orderdate FROM orders WHERE o_custkey > 20)
      |SELECT vip, COUNT(*) AS n_inside
      |FROM probe JOIN ivals
      |  ON o_orderdate >= w_start AND o_orderdate < w_end
      |GROUP BY vip ORDER BY vip""".stripMargin) { (s, dir) =>
    val o = Tables.orders(s, dir)
    val ivals = o.filter(col("o_custkey") <= 20)
      .groupBy(col("o_custkey").as("vip"))
      .agg(min(col("o_orderdate")).as("w_start"),
        (max(col("o_orderdate")) + expr("INTERVAL 1 DAY")).as("w_end"))
    val probe = o.filter(col("o_custkey") > 20)
      .select(col("o_orderkey"), col("o_orderdate"))
    graft.operators.RangeJoin.bucketed(probe, ivals, "o_orderdate",
        "w_start", "w_end")
      .groupBy(col("vip")).agg(count(lit(1)).as("n_inside"))
      .orderBy(col("vip"))
  }

  /** q63: correlation + regression slope from exact sums — built-in
    * `corr()` accumulates in floating point (not cross-engine stable),
    * so the engine computes Pearson r and the OLS slope from
    * decimal-exact moment sums, then finishes in double (identical
    * expression tree on both sides). x = order price, y = days since
    * epoch start of the order date. */
  val q63CorrRegression: QuerySpec = {
    val y = "datediff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)"
    QuerySpec(
      "q63_corr_regression",
      s"""WITH m AS (
         |  SELECT o_orderpriority,
         |    CAST(COUNT(*) AS DOUBLE) AS n,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sx,
         |    CAST(SUM($y) AS DOUBLE) AS sy,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))
         |      * CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
         |    CAST(SUM($y * $y) AS DOUBLE) AS syy,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * $y) AS DOUBLE) AS sxy
         |  FROM orders GROUP BY o_orderpriority)
         |SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
         |  round((n * sxy - sx * sy) /
         |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 7) AS pearson_r,
         |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 10) AS ols_slope
         |FROM m ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      val x = Exact.money(col("o_totalprice"))
      val yc = datediff(col("o_orderdate"),
        to_timestamp(lit("1995-01-01 00:00:00")))
      Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(x).cast("double").as("sx"),
          sum(yc).cast("double").as("sy"),
          sum(x * x).cast("double").as("sxx"),
          sum(yc * yc).cast("double").as("syy"),
          sum(x * yc).cast("double").as("sxy"))
        // rounded well above the cancellation-amplified conversion
        // noise (~1e-8 relative): DuckDB double-rounds hugeint→double
        // for >2^53 scaled decimals, so raw last-ulp equality is not
        // achievable on these moments
        .select(col("o_orderpriority"), col("n").cast("long").as("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 7)
            .as("pearson_r"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 10)
            .as("ols_slope"))
        .orderBy(col("o_orderpriority"))
    }
  }

  /** q64: salted join under deliberate key skew (SURVEY §4 / the
    * 100 TB checklist): a derived fact key funnels ~⅓ of lineitem onto
    * one part, the shape that puts a whole hot key on one task in a
    * plain shuffle join. `Skew.saltedJoin` splits the hot key across
    * 8 sub-keys (fact side salted deterministically, dimension side
    * replicated ×8) — bag-identical to the plain join, which is
    * exactly what the oracle states. */
  val q64SkewJoin: QuerySpec = QuerySpec(
    "q64_skew_join",
    s"""WITH large AS (
       |  SELECT CASE WHEN l_partkey % 3 = 0 THEN 1 ELSE l_partkey END AS sk,
       |    l_quantity FROM lineitem),
       |small AS (SELECT p_partkey AS sk, p_brand FROM part)
       |SELECT p_brand, COUNT(*) AS n, ${Exact.sqlSum("l_quantity")} AS sum_qty
       |FROM large JOIN small USING (sk)
       |GROUP BY p_brand ORDER BY p_brand""".stripMargin) { (s, dir) =>
    val large = Tables.lineitem(s, dir).select(
      when(col("l_partkey") % 3 === 0, lit(1L))
        .otherwise(col("l_partkey")).as("sk"),
      col("l_quantity"))
    val small = Tables.part(s, dir)
      .select(col("p_partkey").as("sk"), col("p_brand"))
    graft.operators.Skew.saltedJoin(large, small, Seq("sk"), 8)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), Exact.dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("p_brand"))
  }

  /** q70: exact continuous percentiles (SURVEY §2.4 widening): both
    * engines linearly interpolate at index p·(n−1) over the sorted
    * values (Spark `percentile` ≡ DuckDB `quantile_cont`); results are
    * rounded to 6 decimals so sub-ulp interpolation-order differences
    * cannot flip the hash. The approx_percentile sketch twin is
    * error-bounded against this in QueriesSpec. */
  val q70Percentiles: QuerySpec = QuerySpec(
    "q70_percentiles",
    """SELECT c_mktsegment AS mktsegment,
      |  round(quantile_cont(c_acctbal, 0.25), 6) AS p25,
      |  round(quantile_cont(c_acctbal, 0.50), 6) AS p50,
      |  round(quantile_cont(c_acctbal, 0.90), 6) AS p90
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.customer(s, dir)
      .groupBy(col("c_mktsegment").as("mktsegment"))
      .agg(
        round(percentile(col("c_acctbal"), lit(0.25)), 6).as("p25"),
        round(percentile(col("c_acctbal"), lit(0.50)), 6).as("p50"),
        round(percentile(col("c_acctbal"), lit(0.90)), 6).as("p90"))
      .orderBy(col("mktsegment"))
  }

  /** q76: column profiling (`Relational.profile` — the data-quality
    * pass): counts, distincts, min/max per column in ONE scan, stacked
    * tall. The oracle states the same measures per column explicitly;
    * min/max render through string casts whose formats agree across
    * engines for ints, doubles, strings, and NTZ timestamps. */
  val q76Profile: QuerySpec = {
    // (name, isFloat): float/double min/max render through the
    // DECIMAL(38,6) fixed-point spelling on BOTH sides — a plain
    // double→string cast goes scientific at |x| ≥ 1e7 in Spark but
    // stays positional in DuckDB (see Relational.profile)
    val cols = Seq("o_custkey" -> false, "o_orderstatus" -> false,
      "o_totalprice" -> true, "o_orderdate" -> false)
    QuerySpec(
      "q76_profile",
      cols.map { case (c, isFloat) =>
        def r(e: String) =
          if (isFloat) s"CAST(CAST($e AS DECIMAL(38,6)) AS VARCHAR)"
          else s"CAST($e AS VARCHAR)"
        s"""SELECT '$c' AS "column", COUNT(*) AS n_rows,
           |  COUNT($c) AS n_nonnull, COUNT(DISTINCT $c) AS n_distinct,
           |  ${r(s"MIN($c)")} AS min_val,
           |  ${r(s"MAX($c)")} AS max_val
           |FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")) { (s, dir) =>
      graft.operators.Relational.profile(Tables.orders(s, dir), cols.map(_._1))
        .orderBy(col("column"))
    }
  }

  /** q78: the bucketed co-located join end to end (SURVEY §4 / the
    * 100 TB shuffle-elimination tier, `Bucketing.writeBucketed` +
    * `cocatedJoin`): orders and customer are written as same-bucketed
    * managed tables on the join key, then joined with zero Exchange on
    * either side (PlanAuditSpec pins the plan) and rolled up per
    * segment. Bucketing changes the physical plan, not the answer —
    * so the oracle states the same join relationally over the raw
    * tables, and the full rows+schema+hash check applies. The customer
    * side is renamed to the fact key before writing so both tables
    * bucket-place identical key values identically. */
  val q78BucketedJoin: QuerySpec = QuerySpec(
    "q78_bucketed_join",
    s"""SELECT c_mktsegment AS mktsegment, COUNT(*) AS n_orders,
       |  ${Exact.sqlSum("o_totalprice")} AS total_price
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    import graft.operators.Bucketing
    val o = Tables.orders(s, dir).select(col("o_custkey"), col("o_totalprice"))
    val c = Tables.customer(s, dir)
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    Bucketing.writeBucketed(o, "graft_bkt_orders", Seq("o_custkey"), 8)
    Bucketing.writeBucketed(c, "graft_bkt_customer", Seq("o_custkey"), 8)
    Bucketing.cocatedJoin(s, "graft_bkt_orders", "graft_bkt_customer",
        Seq("o_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        Exact.dsum(col("o_totalprice")).as("total_price"))
      .select(col("c_mktsegment").as("mktsegment"), col("n_orders"),
        col("total_price"))
      .orderBy(col("mktsegment"))
  }

  /** q79: Bloom-pruned semi join (`BloomJoin.bloomSemiJoin` — the
    * manual runtime-filter: a megabyte Bloom summary of the build
    * side's keys drops probe rows at the SCAN, before the shuffle, and
    * the exact semi join settles the survivors). False positives never
    * reach the result, so the oracle is the plain IN-subquery — full
    * rows+schema+hash applies. PlanAuditSpec pins the codegen'd
    * `bloom_might_contain` predicate into the probe-side scan filter. */
  val q79BloomSemiJoin: QuerySpec = QuerySpec(
    "q79_bloom_semi_join",
    s"""SELECT o_orderpriority AS priority, COUNT(*) AS n_orders,
       |  ${Exact.sqlSum("o_totalprice")} AS total_price
       |FROM orders
       |WHERE o_custkey IN (
       |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
       |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    import graft.operators.BloomJoin
    val probe = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderpriority"), col("o_totalprice"))
    val build = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    BloomJoin.bloomSemiJoin(probe, build, "o_custkey", "c_custkey",
        expectedItems = 100000, fpp = 0.01)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        Exact.dsum(col("o_totalprice")).as("total_price"))
      .select(col("o_orderpriority").as("priority"), col("n_orders"),
        col("total_price"))
      .orderBy(col("priority"))
  }

  /** q81: Z-ordered layout end to end (`Layout.writeZOrdered` — Morton
    * interleave of (o_custkey, o_totalprice) so footer min/max bound a
    * BOX per file and a predicate on either or both dimensions prunes;
    * LayoutSpec measures the pruning against the linear layout). The
    * layout changes which files a filter touches, never the answer —
    * the oracle runs the same box filter over the raw table. */
  val q81ZOrderedScan: QuerySpec = QuerySpec(
    "q81_zordered_scan",
    s"""SELECT COUNT(*) AS n,
       |  ${Exact.sqlSum("o_totalprice")} AS total_price,
       |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
       |FROM orders
       |WHERE o_custkey BETWEEN 1000 AND 2000
       |  AND o_totalprice BETWEEN 50000 AND 150000""".stripMargin) { (s, dir) =>
    import graft.operators.Layout
    val path = System.getProperty("java.io.tmpdir") + "/graft_zorder_orders"
    Layout.writeZOrdered(
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      path, Seq("o_custkey", "o_totalprice"), numFiles = 16)
    s.read.parquet(path)
      .filter(col("o_custkey").between(1000, 2000) &&
        col("o_totalprice").between(50000, 150000))
      .agg(count(lit(1)).as("n"),
        Exact.dsum(col("o_totalprice")).as("total_price"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
  }

  /** q86: wide → tall melt (`Relational.melt`, the inverse of the R1
    * pivot — Spark's native unpivot, an Expand: shuffle-free and
    * codegen'd). Value columns are cast to a shared double type on
    * both sides; the oracle is DuckDB's UNPIVOT, which emits the same
    * (column-name, value) pairs. */
  val q86Melt: QuerySpec = QuerySpec(
    "q86_melt",
    """SELECT c_custkey, metric, val
      |FROM (
      |  SELECT c_custkey, c_acctbal AS acctbal,
      |    CAST(c_nationkey AS DOUBLE) AS nationkey
      |  FROM customer WHERE c_custkey < 100)
      |UNPIVOT (val FOR metric IN (acctbal, nationkey))
      |ORDER BY c_custkey, metric""".stripMargin) { (s, dir) =>
    Relational.melt(
        Tables.customer(s, dir)
          .filter(col("c_custkey") < 100)
          .select(col("c_custkey"), col("c_acctbal").as("acctbal"),
            col("c_nationkey").cast("double").as("nationkey")),
        idCols = Seq("c_custkey"), valueCols = Seq("acctbal", "nationkey"),
        varName = "metric", valueName = "val")
      .orderBy(col("c_custkey"), col("metric"))
  }

  /** q88: IQR outlier gate (`Relational.iqrOutliers` — the numeric
    * data-quality pass a training pipeline runs before ingest): Tukey
    * fences per priority, flagged rows counted and summed. Fences are
    * rounded to 6 decimals on both sides (q70's determinism rule for
    * exact percentiles) so the flag — and the hash — is portable. */
  val q88IqrOutliers: QuerySpec = QuerySpec(
    "q88_iqr_outliers",
    s"""WITH b AS (
       |  SELECT o_orderpriority,
       |    round(quantile_cont(o_totalprice, 0.25)
       |      - 1.5 * (quantile_cont(o_totalprice, 0.75)
       |               - quantile_cont(o_totalprice, 0.25)), 6) AS lo,
       |    round(quantile_cont(o_totalprice, 0.75)
       |      + 1.5 * (quantile_cont(o_totalprice, 0.75)
       |               - quantile_cont(o_totalprice, 0.25)), 6) AS hi
       |  FROM orders GROUP BY 1)
       |SELECT o.o_orderpriority AS priority, COUNT(*) AS n,
       |  CAST(SUM(CASE WHEN o_totalprice < lo OR o_totalprice > hi
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       |  ${Exact.sqlSum("CASE WHEN o_totalprice < lo OR o_totalprice > hi " +
          "THEN o_totalprice ELSE 0 END")} AS outlier_price
       |FROM orders o JOIN b USING (o_orderpriority)
       |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Relational.iqrOutliers(Tables.orders(s, dir), Seq("o_orderpriority"),
        "o_totalprice", k = 1.5, roundBounds = Some(6))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"),
        Exact.dsum(when(col("is_outlier"), col("o_totalprice"))
          .otherwise(lit(0.0))).as("outlier_price"))
      .select(col("o_orderpriority").as("priority"), col("n"),
        col("n_outliers"), col("outlier_price"))
      .orderBy(col("priority"))
  }

  /** q89: cross-engine table checksum (`Relational.tableChecksum` —
    * the migration-validation gate): order-independent md5-derived row
    * hashes, summed exactly. The oracle computes THE SAME checksum
    * independently in DuckDB — this passing means a user could verify
    * this engine against their existing warehouse row for row without
    * moving data. Doubles render through the DECIMAL(38,6) fixed-point
    * spelling (q76's rule). The checksum itself travels as VARCHAR:
    * the values are identical in both engines, but a 22-digit
    * HUGEINT/DECIMAL renders differently through the driver's hash
    * (round-3 ADVICE), so both sides emit the decimal string. */
  val q89TableChecksum: QuerySpec = QuerySpec(
    "q89_table_checksum",
    """SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(CAST('0x' || substr(md5(concat_ws(chr(1),
      |    coalesce(CAST(o_orderkey AS VARCHAR), chr(2)),
      |    coalesce(CAST(o_custkey AS VARCHAR), chr(2)),
      |    coalesce(CAST(o_orderstatus AS VARCHAR), chr(2)),
      |    coalesce(CAST(o_orderdate AS VARCHAR), chr(2)),
      |    coalesce(CAST(o_orderpriority AS VARCHAR), chr(2)),
      |    coalesce(CAST(CAST(o_totalprice AS DECIMAL(38,6)) AS VARCHAR),
      |      chr(2)))), 1, 15) AS BIGINT) AS DECIMAL(38,0))) AS VARCHAR)
      |    AS checksum
      |FROM orders""".stripMargin) { (s, dir) =>
    Relational.tableChecksum(Tables.orders(s, dir), Seq(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_orderdate"), col("o_orderpriority"),
        col("o_totalprice").cast("decimal(38,6)")))
      .select(col("n_rows"), col("checksum").cast("string").as("checksum"))
  }

  /** q90: regular-grid resampling with gap fill (`Resample.resample` —
    * q16's spine pattern as a full operator): daily buckets per
    * priority, every (day, priority) cell present, empty cells carry
    * `n = 0` and the latest preceding sum. The spine derives from the
    * data's own min/max via `sequence` — distributed, no driver
    * calendar; the oracle rebuilds the same grid with
    * `generate_series` and `last_value IGNORE NULLS`. */
  val q90Resample: QuerySpec = QuerySpec(
    "q90_resample",
    """WITH b AS (
      |  SELECT date_trunc('day', o_orderdate) AS bucket, o_orderpriority,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS vsum,
      |    COUNT(*) AS vcount
      |  FROM orders GROUP BY 1, 2),
      |sp AS (
      |  SELECT unnest(generate_series(
      |    (SELECT date_trunc('day', MIN(o_orderdate)) FROM orders),
      |    (SELECT date_trunc('day', MAX(o_orderdate)) FROM orders),
      |    INTERVAL '1 day')) AS bucket),
      |ks AS (SELECT DISTINCT o_orderpriority FROM orders),
      |grid AS (SELECT sp.bucket, ks.o_orderpriority FROM sp CROSS JOIN ks),
      |j AS (
      |  SELECT g.bucket, g.o_orderpriority,
      |    COALESCE(b.vcount, 0) AS n, b.vsum
      |  FROM grid g LEFT JOIN b
      |    ON b.bucket = g.bucket AND b.o_orderpriority = g.o_orderpriority)
      |SELECT bucket, o_orderpriority AS priority, n,
      |  CAST(last_value(vsum IGNORE NULLS) OVER (
      |    PARTITION BY o_orderpriority ORDER BY bucket
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    AS filled_sum
      |FROM j ORDER BY bucket, priority""".stripMargin) { (s, dir) =>
    import graft.operators.Resample
    Resample.resample(Tables.orders(s, dir), "o_orderdate", "day",
        Seq("o_orderpriority"), "o_totalprice", fill = true)
      .select(col("bucket"), col("o_orderpriority").as("priority"),
        col("vcount").as("n"), col("vsum").cast("double").as("filled_sum"))
      .orderBy(col("bucket"), col("priority"))
  }

  /** q91: per-group z-score normalization (`Relational.zscoreNormalize`
    * — feature scaling from decimal-exact moments, the q63 recipe, so
    * the score is cross-engine deterministic where `stddev_samp` is
    * not; rounded to 7 like q63's r). */
  val q91Zscore: QuerySpec = QuerySpec(
    "q91_zscore",
    """WITH m AS (
      |  SELECT o_orderpriority, CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sx,
      |    CAST(SUM(
      |      CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DECIMAL(19,4))
      |      * CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DECIMAL(19,4)))
      |      AS DOUBLE) AS sxx
      |  FROM orders WHERE o_orderkey < 5000 GROUP BY 1)
      |SELECT o.o_orderkey, o.o_orderpriority AS priority,
      |  round((CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE) - sx / n)
      |    / sqrt((n * sxx - sx * sx) / (n * (n - 1))), 7) AS z
      |FROM orders o JOIN m ON o.o_orderpriority = m.o_orderpriority
      |WHERE o.o_orderkey < 5000
      |ORDER BY o.o_orderkey""".stripMargin) { (s, dir) =>
    Relational.zscoreNormalize(
        Tables.orders(s, dir).filter(col("o_orderkey") < 5000),
        Seq("o_orderpriority"), "o_totalprice")
      .select(col("o_orderkey"), col("o_orderpriority").as("priority"),
        round(col("zscore"), 7).as("z"))
      .orderBy(col("o_orderkey"))
  }

  /** q96: deterministic fixed-size sample (`Sampling.reservoirSample`
    * — the reservoir contract as a hash-ranked top-k): exactly 200
    * orders, membership a pure function of the keys, identical on any
    * engine (the oracle re-derives the same 200 in SQL). Plans as
    * TakeOrderedAndProject — per-partition top-k, k-row merge, never
    * a global sort. */
  /** q96: BOTH reservoir tiers in one registered query (registry
    * consolidation, round-5 brief item 3): the global 200-row draw
    * (`Sampling.reservoirSample`) union the balanced 20-per-priority
    * draw (`Sampling.reservoirPerGroup`), tagged by scope. Membership
    * in each tier is a pure hash function of the keys, so the oracle
    * replays both rankings exactly. */
  val q96ReservoirSample: QuerySpec = QuerySpec(
    "q96_reservoir_sample",
    s"""WITH g AS (
       |  SELECT o_orderkey, o_totalprice FROM orders
       |  ORDER BY ${graft.operators.Sampling.sqlReservoirOrder("o_orderkey")}
       |  LIMIT 200),
       |ranked AS (
       |  SELECT o_orderkey, o_orderpriority, o_totalprice,
       |    row_number() OVER (PARTITION BY o_orderpriority
       |      ORDER BY ${graft.operators.Sampling.sqlReservoirOrder(
            "o_orderkey")}) AS rn
       |  FROM orders)
       |SELECT 'ALL' AS scope, o_orderkey, o_totalprice FROM g
       |UNION ALL
       |SELECT o_orderpriority AS scope, o_orderkey, o_totalprice
       |FROM ranked WHERE rn <= 20
       |ORDER BY scope, o_orderkey""".stripMargin) { (s, dir) =>
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val g = graft.operators.Sampling.reservoirSample(
        base.select(col("o_orderkey"), col("o_totalprice")),
        "o_orderkey", k = 200)
      .select(lit("ALL").as("scope"), col("o_orderkey"), col("o_totalprice"))
    val pg = graft.operators.Sampling.reservoirPerGroup(
        base, Seq("o_orderpriority"), "o_orderkey", k = 20)
      .select(col("o_orderpriority").as("scope"), col("o_orderkey"),
        col("o_totalprice"))
    g.unionByName(pg).orderBy(col("scope"), col("o_orderkey"))
  }

  /** q97: deterministic weighted sample without replacement
    * (`Sampling.weightedSample` — A-ES exponential clocks from the
    * portable hash): 200 orders drawn ∝ o_totalprice, reproducible
    * across engines; the oracle replays the same priorities. High
    * prices dominate the sample — the spec pins that. */
  val q97WeightedSample: QuerySpec = QuerySpec(
    "q97_weighted_sample",
    s"""WITH s AS (
       |  SELECT o_orderkey, o_totalprice FROM orders
       |  ORDER BY ${graft.operators.Sampling.sqlWeightedPriority(
            "o_orderkey", "o_totalprice")}, o_orderkey
       |  LIMIT 200)
       |SELECT o_orderkey, o_totalprice FROM s
       |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    graft.operators.Sampling.weightedSample(
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice")),
        "o_orderkey", "o_totalprice", k = 200)
      .orderBy(col("o_orderkey"))
  }

  /** q98: incremental join maintenance (`Rollups.joinDelta`): the
    * materialized orders⋈customer join is refreshed from base + delta
    * slices — ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB appended to the base join. The
    * oracle computes the FULL join from scratch; it matching the
    * base ∪ delta aggregate proves the delta formula is exhaustive
    * and disjoint (no missing pairs, no double counts). At scale the
    * delta side broadcasts and the base streams — a refresh costs
    * O(|Δ|), never the base×base recompute the oracle does. */
  val q98JoinDelta: QuerySpec = QuerySpec(
    "q98_join_delta",
    s"""SELECT c.c_mktsegment AS segment, COUNT(*) AS n_orders,
       |  ${Exact.sqlSum("o.o_totalprice")} AS revenue
       |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val cut = lit("1997-01-01").cast("date")
    val o = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
    val c = Tables.customer(s, dir)
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    val (oBase, oDelta) =
      (o.filter(col("o_orderdate") < cut), o.filter(col("o_orderdate") >= cut))
    val (cBase, cDelta) =
      (c.filter(col("o_custkey") % 10 =!= 0), c.filter(col("o_custkey") % 10 === 0))
    val baseJoin = oBase.join(cBase, Seq("o_custkey"))
    val delta = graft.operators.Rollups.joinDelta(
      oBase, oDelta, cBase, cDelta, Seq("o_custkey"))
    baseJoin.unionByName(delta)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        Exact.dsum(col("o_totalprice")).as("revenue"))
      .select(col("c_mktsegment").as("segment"), col("n_orders"),
        col("revenue"))
      .orderBy(col("segment"))
  }

  /** q110: per-group mean imputation (`Relational.imputeMean`):
    * every 13th price NULLed, then repaired with its priority group's
    * decimal-exact mean; the per-group sums of the imputed column pin
    * exactly which value every NULL received. */
  val q110ImputeMean: QuerySpec = QuerySpec(
    "q110_impute_mean",
    s"""WITH holes AS (
       |  SELECT o_orderkey, o_orderpriority,
       |    CASE WHEN o_orderkey % 13 = 0 THEN NULL
       |      ELSE o_totalprice END AS v
       |  FROM orders),
       |m AS (
       |  SELECT o_orderpriority,
       |    CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE)
       |      / CAST(COUNT(v) AS DOUBLE) AS gmean
       |  FROM holes GROUP BY 1)
       |SELECT h.o_orderpriority AS priority,
       |  COUNT(*) AS n,
       |  CAST(SUM(CASE WHEN h.v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_imputed,
       |  ${Exact.sqlSum("round(coalesce(CAST(h.v AS DOUBLE), m.gmean), 6)")}
       |    AS total_imputed
       |FROM holes h JOIN m USING (o_orderpriority)
       |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val holes = Tables.orders(s, dir).select(col("o_orderkey"),
      col("o_orderpriority"),
      when(col("o_orderkey") % 13 === 0, lit(null))
        .otherwise(col("o_totalprice")).as("v"))
    val imputed = Relational.imputeMean(holes, Seq("o_orderpriority"), "v")
    imputed
      .join(holes.select(col("o_orderkey"),
        col("v").isNull.as("was_null")), Seq("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("was_null"), 1L).otherwise(0L)).as("n_imputed"),
        Exact.dsum(round(col("v"), 6)).as("total_imputed"))
      .select(col("o_orderpriority").as("priority"), col("n"),
        col("n_imputed"), col("total_imputed"))
      .orderBy(col("priority"))
  }

  /** q100: equi-width histogram (`Relational.histogram` — the
    * distribution tier of profiling): 20 buckets over order totals.
    * Two scale-flat passes — a 2-scalar bounds aggregate broadcast
    * onto the scan, one groupBy on the bucket id; the oracle rebuilds
    * the identical grid in SQL. */
  val q100Histogram: QuerySpec = QuerySpec(
    "q100_histogram",
    """WITH v AS (
      |  SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
      |  WHERE o_totalprice IS NOT NULL),
      |b AS (SELECT MIN(v) AS vmin, MAX(v) AS vmax FROM v),
      |t AS (
      |  SELECT CASE WHEN vmin = vmax THEN 0
      |    WHEN v = vmax THEN 19
      |    ELSE CAST(LEAST(FLOOR((v - vmin) / ((vmax - vmin) / 20)), 19)
      |      AS INT) END AS bucket, vmin, vmax
      |  FROM v CROSS JOIN b)
      |SELECT bucket,
      |  round(vmin + bucket * (vmax - vmin) / 20, 6) AS lo,
      |  round(vmin + (bucket + 1) * (vmax - vmin) / 20, 6) AS hi,
      |  COUNT(*) AS n
      |FROM t GROUP BY bucket, vmin, vmax
      |ORDER BY bucket""".stripMargin) { (s, dir) =>
    Relational.histogram(Tables.orders(s, dir), "o_totalprice", 20)
      .orderBy(col("bucket"))
  }

  /** q102: dictionary encoding (`Relational.dictionary` /
    * `dictionaryEncode` — the layout move that turns a wide string
    * shuffle key into 4 bytes): dense value-ordered codes built on the
    * DISTINCT values only, broadcast back over the corpus; the oracle
    * re-derives codes with the same ordered row_number. */
  val q102DictEncode: QuerySpec = QuerySpec(
    "q102_dict_encode",
    """WITH dict AS (
      |  SELECT CAST(row_number() OVER (ORDER BY value) - 1 AS INT)
      |    AS code, value
      |  FROM (SELECT DISTINCT o_orderpriority AS value FROM orders))
      |SELECT d.code AS priority_code, d.value AS priority_value,
      |  COUNT(*) AS n
      |FROM orders o JOIN dict d ON o.o_orderpriority = d.value
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin) { (s, dir) =>
    val o = Tables.orders(s, dir)
    val dict = Relational.dictionary(o, "o_orderpriority")
    Relational.dictionaryEncode(o.select(col("o_orderpriority")),
        "o_orderpriority", dict)
      .groupBy(col("o_orderpriority_code")).agg(count(lit(1)).as("n"))
      .join(broadcast(dict),
        col("o_orderpriority_code") === col("code"))
      .select(col("code").as("priority_code"),
        col("value").as("priority_value"), col("n"))
      .orderBy(col("priority_code"))
  }

  /** q118: CSV round-trip through the quarantining delimited source —
    * orders goes out as headerless CSV and comes back through
    * `Ingest.csvWithQuarantine` with an explicit schema; the aggregate
    * must equal the same aggregate over the parquet original, which
    * proves type fidelity (long, double, TIMESTAMP) through the text
    * format: a row whose timestamp or decimal failed to re-parse would
    * quarantine and the counts would drop. The oracle never sees the
    * CSV — it computes straight from the parquet table. */
  val q118CsvRoundtrip: QuerySpec = QuerySpec(
    "q118_csv_roundtrip",
    s"""SELECT o_orderpriority AS priority, COUNT(*) AS n_orders,
       |  ${Exact.sqlSum("o_totalprice")} AS total_price,
       |  CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       |  CAST(MAX(year(o_orderdate)) AS INTEGER) AS max_year
       |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.types._
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val path = scratchPath("csv_q118", dir)
    Tables.orders(s, dir).select(cols.map(col): _*)
      .write.mode("overwrite").csv(path)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType)))
    val (good, _) = graft.sources.Ingest.csvWithQuarantine(s, path, schema)
    good.groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        Exact.dsum(col("o_totalprice")).as("total_price"),
        min(col("o_orderkey")).as("min_key"),
        max(year(col("o_orderdate"))).as("max_year"))
      .orderBy(col("priority"))
  }

  /** q122: ORC round-trip through a hive-partitioned layout — the
    * lineitem slice goes out as ORC partitioned by `l_returnflag`,
    * comes back through partition discovery, and the read-back is
    * FILTERED on the partition key, so only the matching directory is
    * scanned (partition pruning on a non-parquet columnar format —
    * the same layout contract as the parquet sinks). The aggregate
    * must equal the parquet original's: type fidelity (long, double,
    * string) through the ORC writer/reader plus correct partition
    * reassembly. The oracle never sees the ORC — it computes straight
    * from parquet. */
  val q122OrcRoundtrip: QuerySpec = QuerySpec(
    "q122_orc_roundtrip",
    s"""SELECT l_linestatus AS status, COUNT(*) AS n,
       |  ${Exact.sqlSum("l_quantity")} AS sum_qty,
       |  CAST(MIN(l_orderkey) AS BIGINT) AS min_key
       |FROM lineitem WHERE l_returnflag = 'R'
       |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val path = scratchPath("orc_q122", dir)
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_quantity"),
        col("l_returnflag"), col("l_linestatus"))
      .write.mode("overwrite").partitionBy("l_returnflag").orc(path)
    s.read.orc(path)
      .filter(col("l_returnflag") === "R")
      .groupBy(col("l_linestatus").as("status"))
      .agg(count(lit(1)).as("n"),
        Exact.dsum(col("l_quantity")).as("sum_qty"),
        min(col("l_orderkey")).as("min_key"))
      .orderBy(col("status"))
  }

  /** q123: KMV distinct-count sketch rollup — monthly k-minimum-value
    * sketches of the customer set, MERGED to yearly sketches, with the
    * Beyer et al. estimate next to the exact count. The whole pipeline
    * (hash, per-month top-k, distinct-union merge, estimator) is
    * replayed verbatim by the oracle because the sketch rides on
    * portable_hash64 — an approximate-cardinality operator whose every
    * bit is hash-verified cross-engine, where the HLL tier (q19/q92)
    * can only be rows-only. h_k (the year sketch's largest retained
    * hash) is emitted as a direct pin on the sketch content. */
  val q123KmvRollup: QuerySpec = {
    val k = 64
    val h = graft.functions.Scalars.sqlPortableHash64("o_custkey")
    QuerySpec(
      "q123_kmv_rollup",
      s"""WITH h AS (
         |  SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
         |    $h AS h
         |  FROM orders GROUP BY 1, 2, 3),
         |r AS (
         |  SELECT y, m, h,
         |    ROW_NUMBER() OVER (PARTITION BY y, m ORDER BY h) AS rn
         |  FROM h),
         |u AS (SELECT DISTINCT y, h FROM r WHERE rn <= $k),
         |r2 AS (
         |  SELECT y, h,
         |    ROW_NUMBER() OVER (PARTITION BY y ORDER BY h) AS rn
         |  FROM u),
         |yk AS (
         |  SELECT y, CAST(COUNT(*) AS BIGINT) AS n_min,
         |    MAX(CASE WHEN rn = $k THEN h END) AS hk
         |  FROM r2 WHERE rn <= $k GROUP BY y),
         |ex AS (
         |  SELECT year(o_orderdate) AS y,
         |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers
         |  FROM orders GROUP BY 1)
         |SELECT CAST(yk.y AS INTEGER) AS year, yk.hk,
         |  CASE WHEN yk.n_min < $k THEN CAST(yk.n_min AS DOUBLE)
         |    ELSE round(${k - 1} * CAST(1152921504606846976 AS DOUBLE)
         |      / CAST(yk.hk AS DOUBLE), 6) END AS est,
         |  ex.exact_customers
         |FROM yk JOIN ex USING (y)
         |ORDER BY year""".stripMargin) { (s, dir) =>
      import graft.operators.Kmv
      val orders = Tables.orders(s, dir)
        .select(year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"), col("o_custkey"))
      val monthly = Kmv.sketch(orders, Seq("y", "m"), "o_custkey", k)
      val yearly = Kmv.estimate(Kmv.merge(monthly, Seq("y"), k), k)
      val exact = orders.groupBy(col("y"))
        .agg(countDistinct(col("o_custkey")).as("exact_customers"))
      yearly.join(exact, Seq("y"))
        .select(col("y").as("year"),
          when(size(col("kmins")) === k, element_at(col("kmins"), k))
            .as("hk"),
          col("est"), col("exact_customers"))
        .orderBy(col("year"))
    }
  }

  /** q124: 3-iteration PageRank over the customer–supplier trade graph
    * (who supplies whom, symmetrized so the walk is undirected and no
    * node dangles). The registered query runs the PRODUCTION decimal
    * mode (Graph.pageRank exactDecimalSum=true): contributions
    * quantize to 1e-15 units and sum as exact DECIMAL(38,0) — an
    * order-insensitive sum BOTH engines reproduce bit-for-bit (round
    * half-up ≡ round-away-from-zero on positives, integral doubles
    * < 2^53 cast exactly), so the oracle replays all three iterations
    * with plain SUMs and round-6 output hashes match. The sorted-fold
    * mode remains cross-checked against this one in GraphSpec.
    * Division mirrors op-for-op: 1/N and (1−d)/N are computed, not
    * precomputed literals, on both sides. */
  val q124PageRank: QuerySpec = {
    val iters = 3
    QuerySpec(
      "q124_pagerank",
      s"""WITH raw AS (
         |  SELECT DISTINCT l.l_suppkey + 10000000 AS s, o.o_custkey AS c
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  WHERE o.o_custkey < 500),
         |ed AS (SELECT s AS src, c AS dst FROM raw
         |       UNION SELECT c, s FROM raw),
         |${GraphSql.prCtes(iters)}
         |SELECT node, round(rank, 6) AS pr FROM r$iters
         |ORDER BY pr DESC, node""".stripMargin) { (s, dir) =>
      val raw = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_custkey") < 500),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("l_suppkey") + 10000000L).as("s"),
          col("o_custkey").as("c"))
        .distinct()
      val edges = raw.select(col("s").as("src"), col("c").as("dst"))
        .unionByName(raw.select(col("c").as("src"), col("s").as("dst")))
      graft.operators.Graph.pageRank(edges, "src", "dst", iters,
          exactDecimalSum = true)
        .select(col("node"), round(col("rank"), 6).as("pr"))
        .orderBy(col("pr").desc, col("node"))
    }
  }

  /** q201: HITS hubs & authorities over the DIRECTED customer→supplier
    * trade graph (★ — Kleinberg 1999; the companion diagnostic to
    * q124's PageRank: on a bipartite interaction graph the hub score
    * ranks the heaviest BUYERS and the authority score the
    * most-demanded SUPPLIERS — PageRank on the symmetrized graph
    * cannot separate the two roles). Runs
    * [[graft.operators.Graph.hits]]: quantized decimal reinforcement
    * sums + ∞-norm normalization, so all three iterations replay
    * bit-for-bit in the [[GraphSql.hitsCtes]] oracle chain. */
  val q201Hits: QuerySpec = {
    val iters = 3
    QuerySpec(
      "q201_hits",
      s"""WITH raw AS (
         |  SELECT DISTINCT o.o_custkey AS src,
         |    l.l_suppkey + 10000000 AS dst
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  WHERE o.o_custkey < 500),
         |ed AS (SELECT src, dst FROM raw),
         |${GraphSql.hitsCtes(iters)}
         |SELECT h.node, round(h.h, 6) + 0.0 AS hub,
         |  round(a.a, 6) + 0.0 AS authority
         |FROM h$iters h JOIN aa$iters a USING (node)
         |ORDER BY h.node""".stripMargin) { (s, dir) =>
      val edges = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_custkey") < 500),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + 10000000L).as("dst"))
        .distinct()
      graft.operators.Graph.hits(edges, "src", "dst", iters)
        .select(col("node"),
          (round(col("hub"), 6) + lit(0.0)).as("hub"),
          (round(col("authority"), 6) + lit(0.0)).as("authority"))
        .orderBy(col("node"))
    }
  }

  /** q229: triangle count + local clustering coefficient (★ —
    * Suri & Vassilvitskii 2011 degree-ordered orientation, the
    * O(m^1.5) MapReduce-scale shape) over the part CO-PURCHASE
    * BACKBONE: parts are adjacent when they appear in the same order,
    * TRUNCATED to each part's top-8 partners by co-count (ties →
    * lowest partner id) — the "frequently bought together" kNN
    * backbone production co-occurrence graphs always apply, and the
    * step that keeps the graph m = O(k·|V|) SPARSE at any corpus
    * size (the raw co-occurrence graph of a uniform order stream is
    * a dense random graph whose wedge count grows quadratically —
    * measured 41M wedges at sf0.1 vs 2.5M after truncation). The
    * community diagnostic next to q124/q149 PageRank and q201 HITS —
    * high degree with near-zero coefficient flags a hub that never
    * closes wedges. All integer until one rounded division; see
    * [[graft.operators.Graph.triangleStats]]. */
  val q229Triangles: QuerySpec = QuerySpec(
    "q229_triangle_count",
    s"""WITH ${BackboneSql.ctes},
      |${BackboneSql.triCtes}
      |SELECT d.node, d.deg, COALESCE(t.n_tri, 0) AS n_tri,
      |  CASE WHEN d.deg >= 2 THEN
      |    round(CAST(2 * COALESCE(t.n_tri, 0) AS DOUBLE)
      |      / CAST(d.deg * (d.deg - 1) AS DOUBLE), 6)
      |  ELSE CAST(0 AS DOUBLE) END AS coeff
      |FROM deg d LEFT JOIN tn t ON t.node = d.node
      |ORDER BY d.node""".stripMargin) { (s, dir) =>
    graft.operators.Graph.triangleStats(
        BackboneSql.edges(s, dir), "a", "b")
      .orderBy(col("node"))
  }

  /** q233: key-skew diagnosis report (★ — the measurement a salted
    * join or an AQE skew threshold is tuned FROM, run BEFORE the
    * shuffle it diagnoses: top heavy keys with shares and cumulative
    * shares, distinct-key and row counts, and the recommended salt
    * factor ceil(max_share · partitions)). Diagnosed key:
    * `l_returnflag`, lineitem's genuinely skewed low-cardinality
    * column (~50/25/25) — the report prescribes salt_reco = 16 at 32
    * partitions, exactly the bucket count that levels the hot key.
    * See [[graft.operators.Skew.skewReport]] (one keyed aggregate —
    * the same shuffle the diagnosed join would pay — TakeOrdered
    * top-k, topK-row window, 1-row stats cross). */
  val q233SkewReport: QuerySpec = QuerySpec(
    "q233_skew_report",
    """WITH counts AS (
      |  SELECT l_returnflag AS key, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM lineitem GROUP BY 1),
      |stats AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
      |    CAST(SUM(cnt) AS BIGINT) AS n_rows,
      |    MAX(cnt) AS max_cnt
      |  FROM counts),
      |top AS (
      |  SELECT key, cnt,
      |    CAST(row_number() OVER (ORDER BY cnt DESC, key) AS BIGINT)
      |      AS rank,
      |    CAST(SUM(cnt) OVER (ORDER BY cnt DESC, key
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ccnt
      |  FROM counts QUALIFY rank <= 10)
      |SELECT t.rank, t.key, t.cnt,
      |  round(CAST(t.cnt AS DOUBLE) / CAST(s.n_rows AS DOUBLE), 6)
      |    AS share,
      |  round(CAST(t.ccnt AS DOUBLE) / CAST(s.n_rows AS DOUBLE), 6)
      |    AS cum_share,
      |  s.n_keys, s.n_rows,
      |  CAST(ceil(CAST(s.max_cnt AS DOUBLE) * 32
      |    / CAST(s.n_rows AS DOUBLE)) AS BIGINT) AS salt_reco
      |FROM top t CROSS JOIN stats s
      |ORDER BY t.rank""".stripMargin) { (s, dir) =>
    graft.operators.Skew.skewReport(Tables.lineitem(s, dir),
        "l_returnflag", topK = 10, partitions = 32)
      .orderBy(col("rank"))
  }

  /** q238: pairwise correlation matrix (★ — the profiling tier above
    * q63's single correlation: every Pearson r among the four
    * lineitem measures from ONE corpus scan — all 14 moment sums in
    * a single aggregate (the q63 decimal-exact discipline: 2-decimal
    * data cast to DECIMAL(12,2), products summed exactly, finish in
    * double), then the 6 upper-triangle pairs expand from that 1-row
    * frame. Adding a column costs sums, not scans. Round-7, the q63
    * cancellation-noise bound. */
  val q238CorrMatrix: QuerySpec = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    def dsql(c: String) = s"CAST($c AS DECIMAL(12,2))"
    val momentSql =
      (cols.map(c => s"CAST(SUM(${dsql(c)}) AS DOUBLE) AS s_$c") ++
        cols.map(c =>
          s"CAST(SUM(${dsql(c)} * ${dsql(c)}) AS DOUBLE) AS ss_$c") ++
        pairs.map { case (a, b) =>
          s"CAST(SUM(${dsql(a)} * ${dsql(b)}) AS DOUBLE) AS sp_${a}_$b"
        }).mkString(",\n  ")
    val pairSql = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_a, '$b' AS col_b, CAST(n AS BIGINT) AS n,
         |  round((n * sp_${a}_$b - s_$a * s_$b)
         |    / (sqrt(n * ss_$a - s_$a * s_$a)
         |       * sqrt(n * ss_$b - s_$b * s_$b)), 7) AS pearson_r
         |FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    QuerySpec(
      "q238_corr_matrix",
      s"""WITH m AS (
         |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         |  $momentSql
         |  FROM lineitem)
         |$pairSql
         |ORDER BY col_a, col_b""".stripMargin) { (s, dir) =>
      import graft.functions.Exact
      val d = Tables.lineitem(s, dir)
      val aggs: Seq[org.apache.spark.sql.Column] =
        (count(lit(1)).cast("double").as("n") +:
          cols.map(c => sum(Exact.money(col(c))).cast("double")
            .as(s"s_$c"))) ++
          cols.map(c => sum(Exact.money(col(c)) * Exact.money(col(c)))
            .cast("double").as(s"ss_$c")) ++
          pairs.map { case (a, b) =>
            sum(Exact.money(col(a)) * Exact.money(col(b)))
              .cast("double").as(s"sp_${a}_$b")
          }
      val m0 = d.agg(aggs.head, aggs.tail: _*)
      // the 6 pair rows all read the SAME 1-row moment frame — union
      // of 6 selects over the aggregate plan would rescan the corpus
      // 6×; materialize the single row once (bounded by construction)
      val m = Relational.pinSmall(m0, 1, "q238 moment row")
      val rows = pairs.map { case (a, b) =>
        m.select(lit(a).as("col_a"), lit(b).as("col_b"),
          col("n").cast("long").as("n"),
          round((col("n") * col(s"sp_${a}_$b") -
            col(s"s_$a") * col(s"s_$b")) /
            (sqrt(col("n") * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a")) *
              sqrt(col("n") * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b"))),
            7).as("pearson_r"))
      }
      rows.reduce(_.unionByName(_)).orderBy(col("col_a"), col("col_b"))
    }
  }

  /** q239: k-core peeling profile over the q229 backbone (★ — Seidman
    * 1983 cores; per-round removal counts separate organic community
    * structure from hub topologies, and the last row's n_removed = 0
    * certifies the k-core fixpoint when reached). Fixed 6 rounds so
    * both engines unroll identically; see
    * [[graft.operators.Graph.kCorePeelProfile]]. The oracle unrolls
    * the peel rounds as generated MATERIALIZED CTEs (the q219
    * inlining lesson) over the shared [[BackboneSql]] chain. */
  val q239KCorePeel: QuerySpec = {
    // the backbone's top-8 out-picks floor every degree at 8, so the
    // first interesting core is k = 9: it strips exactly the nodes
    // nobody ELSE picked (reciprocation-only membership) and the
    // cascade that follows is the community-cohesion signal
    val (k, rounds) = (9, 6)
    val peel = BackboneSql.peelCtes(k, rounds)
    val union = (1 to rounds).map(i => s"SELECT * FROM s$i")
      .mkString("\nUNION ALL\n")
    QuerySpec(
      "q239_kcore_peel",
      s"""WITH ${BackboneSql.ctes},
         |$peel
         |$union
         |ORDER BY round""".stripMargin) { (s, dir) =>
      graft.operators.Graph.kCorePeelProfile(
          BackboneSql.edges(s, dir), "a", "b", k = k, rounds = rounds)
        .orderBy(col("round"))
    }
  }

  /** q240: degree assortativity of the q229 backbone (★ — Newman
    * 2002: the Pearson correlation of endpoint degrees over the
    * directed edge list; negative = hubs attach to leaves
    * (disassortative, the usual co-occurrence shape), positive =
    * rich-club mixing. One degree aggregate + two equi-joins; the
    * moments are exact integer sums (degrees are ints), finished in
    * double — the q63 discipline without even needing decimals. */
  val q240Assortativity: QuerySpec = QuerySpec(
    "q240_assortativity",
    s"""WITH ${BackboneSql.ctes},
       |deg AS (
       |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
       |    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
       |  GROUP BY 1),
       |de AS (
       |  SELECT da.deg AS x, db.deg AS y
       |  FROM e JOIN deg da ON da.node = e.a
       |  JOIN deg db ON db.node = e.b
       |  UNION ALL
       |  SELECT db.deg, da.deg
       |  FROM e JOIN deg da ON da.node = e.a
       |  JOIN deg db ON db.node = e.b),
       |m AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
       |    CAST(SUM(x * x) AS DOUBLE) AS sxx,
       |    CAST(SUM(y * y) AS DOUBLE) AS syy,
       |    CAST(SUM(x * y) AS DOUBLE) AS sxy
       |  FROM de)
       |SELECT CAST(CAST(n AS BIGINT) / 2 AS BIGINT) AS n_edges,
       |  round((n * sxy - sx * sy)
       |    / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 7)
       |    AS assortativity
       |FROM m""".stripMargin) { (s, dir) =>
    val e = BackboneSql.edges(s, dir)
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val joined = e
      .join(deg.select(col("node").as("a"), col("deg").as("dega")),
        Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("degb")),
        Seq("b"))
    // both orientations from ONE evaluation of the join subtree (the
    // connectedComponents explode discipline — a two-branch union
    // would compute the backbone twice)
    val de = joined.select(explode(array(
        struct(col("dega").as("x"), col("degb").as("y")),
        struct(col("degb").as("x"), col("dega").as("y")))).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
    de.agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("y") * col("y")).cast("double").as("syy"),
        sum(col("x") * col("y")).cast("double").as("sxy"))
      .select((col("n") / 2).cast("long").as("n_edges"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 7)
          .as("assortativity"))
  }

  /** The persisted co-purchase backbone ([[BackboneSql]]'s edge set
    * written once per corpus into an sfDir-keyed
    * [[graft.operators.Graph.writeEdgeStore]] store — the
    * DedupQueries sharedDocStore posture for the graph tier): built
    * when absent or stale (lineitem row-count mismatch, a
    * parquet-metadata probe), read from disk otherwise. One artifact,
    * every composite/diagnostic re-run: exactly how a production
    * pipeline amortizes the li → pairs → kNN build across its
    * scheduled graph reports. The TRIO members (q229/q239/q240)
    * deliberately keep rebuilding — they price the standalone
    * posture the composite is measured against. */
  private def sharedBackbone(s: org.apache.spark.sql.SparkSession,
                             dir: String)
      : (org.apache.spark.sql.DataFrame, Long) = {
    val G = graft.operators.Graph
    val path = scratchPath("backbone", dir)
    // (count, key checksum) in ONE probe job — Stores.keyStamp, the
    // gate stores' staleness currency, so ANY same-count lineitem
    // mutation (including an interior orderkey swap a max-key stamp
    // misses) reads stale. The checksum costs one l_orderkey column
    // scan per probe (a max could come from parquet footers; a hash
    // sum cannot) — still a single aggregation job over one column,
    // and the probe never touches the edge payload.
    val (nLi, liCheck) = graft.operators.Stores.keyStamp(
      Tables.lineitem(s, dir), "l_orderkey")
    if (!G.edgeStoreIsCurrent(s, path, nLi, liCheck))
      G.writeEdgeStore(BackboneSql.edges(s, dir), path, nLi, liCheck)
    G.readEdgeStore(s, path)
  }

  /** q253: the graph-diagnostic COMPOSITE (★ — the share-one-build
    * pattern the q229/q239/q240 scaladocs prescribe, exercised as a
    * registry query): the co-purchase backbone comes from the
    * PERSISTED [[sharedBackbone]] store (built once per corpus, read
    * thereafter — round 12; previously rebuilt per run), is
    * `localCheckpoint(true)`-pinned for the in-query fan-out, and
    * every diagnostic the trio computes separately — triangle census
    * (count, transitivity, mean local clustering), degree moments,
    * Newman assortativity, and the k=9 six-round core peel — reads
    * the pinned edge RDD instead of re-deriving lineitem → pairs →
    * kNN per metric. The build was ~60% of the composite's cost, so
    * warm re-runs (every scheduled report after the first) price near
    * the diagnostics alone; q257 oracle-pins the store contents. The
    * checkpoint blocks are freed before returning (the q239
    * discipline); the output is a 10-row (metric, value) report.
    * Exact-integer sums everywhere (degrees/triangles are ints); the
    * one decimal path is the mean of round-6 clustering coefficients,
    * summed as DECIMAL(16,6) so partial-aggregation order cannot move
    * it. */
  val q253GraphSuite: QuerySpec = QuerySpec(
    "q253_graph_suite",
    s"""WITH ${BackboneSql.ctes},
       |${BackboneSql.triCtes},
       |coeffs AS (
       |  SELECT d.node, d.deg, COALESCE(t.n_tri, 0) AS n_tri,
       |    CASE WHEN d.deg >= 2 THEN
       |      round(CAST(2 * COALESCE(t.n_tri, 0) AS DOUBLE)
       |        / CAST(d.deg * (d.deg - 1) AS DOUBLE), 6)
       |    ELSE CAST(0 AS DOUBLE) END AS coeff
       |  FROM deg d LEFT JOIN tn t ON t.node = d.node),
       |g AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |    CAST(SUM(deg) AS BIGINT) AS deg_sum,
       |    CAST(MAX(deg) AS BIGINT) AS max_deg,
       |    CAST(SUM(n_tri) AS BIGINT) AS tri3,
       |    CAST(SUM(deg * (deg - 1)) AS BIGINT) AS wedges2,
       |    SUM(CAST(coeff AS DECIMAL(16,6))) AS coeff_sum
       |  FROM coeffs),
       |de AS (
       |  SELECT da.deg AS x, db.deg AS y
       |  FROM e JOIN deg da ON da.node = e.a
       |  JOIN deg db ON db.node = e.b
       |  UNION ALL
       |  SELECT db.deg, da.deg
       |  FROM e JOIN deg da ON da.node = e.a
       |  JOIN deg db ON db.node = e.b),
       |m AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
       |    CAST(SUM(x * x) AS DOUBLE) AS sxx,
       |    CAST(SUM(y * y) AS DOUBLE) AS syy,
       |    CAST(SUM(x * y) AS DOUBLE) AS sxy
       |  FROM de),
       |${BackboneSql.peelCtes(9, 6)}
       |SELECT metric, value FROM (
       |  SELECT 'n_nodes' AS metric, CAST(n_nodes AS DOUBLE) AS value
       |  FROM g
       |  UNION ALL
       |  SELECT 'n_edges', CAST(deg_sum AS DOUBLE) / 2 FROM g
       |  UNION ALL
       |  SELECT 'n_triangles', round(CAST(tri3 AS DOUBLE) / 3, 6) FROM g
       |  UNION ALL
       |  SELECT 'max_degree', CAST(max_deg AS DOUBLE) FROM g
       |  UNION ALL
       |  SELECT 'mean_degree',
       |    round(CAST(deg_sum AS DOUBLE) / CAST(n_nodes AS DOUBLE), 6)
       |  FROM g
       |  UNION ALL
       |  SELECT 'transitivity',
       |    round(CAST(2 * tri3 AS DOUBLE) / CAST(wedges2 AS DOUBLE), 6)
       |  FROM g
       |  UNION ALL
       |  SELECT 'mean_clustering',
       |    round(CAST(coeff_sum AS DOUBLE) / CAST(n_nodes AS DOUBLE), 6)
       |  FROM g
       |  UNION ALL
       |  SELECT 'assortativity', round((n * sxy - sx * sy)
       |    / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
       |  FROM m
       |  UNION ALL
       |  SELECT 'kcore9_nodes_left', CAST(n_nodes_left AS DOUBLE) FROM s6
       |  UNION ALL
       |  SELECT 'kcore9_edges_left', CAST(n_edges_left AS DOUBLE) FROM s6)
       |ORDER BY metric""".stripMargin) { (s, dir) =>
    val G = graft.operators.Graph
    val e0 = sharedBackbone(s, dir)._1.localCheckpoint(true)
    def mrow(name: String, c: org.apache.spark.sql.Column) =
      struct(lit(name).as("metric"), c.cast("double").as("value"))
    val tri = G.triangleStats(e0, "a", "b")
    val gRows = tri.agg(
        count(lit(1)).as("n_nodes"),
        sum(col("deg")).as("deg_sum"),
        max(col("deg")).as("max_deg"),
        sum(col("n_tri")).as("tri3"),
        sum(col("deg") * (col("deg") - 1)).as("wedges2"),
        sum(col("coeff").cast("decimal(16,6)")).as("coeff_sum"))
      .select(explode(array(
        mrow("n_nodes", col("n_nodes")),
        mrow("n_edges", col("deg_sum").cast("double") / 2),
        mrow("n_triangles", round(col("tri3").cast("double") / 3, 6)),
        mrow("max_degree", col("max_deg")),
        mrow("mean_degree", round(col("deg_sum").cast("double")
          / col("n_nodes").cast("double"), 6)),
        mrow("transitivity", round((col("tri3") * 2).cast("double")
          / col("wedges2").cast("double"), 6)),
        mrow("mean_clustering", round(col("coeff_sum").cast("double")
          / col("n_nodes").cast("double"), 6)))).as("r"))
      .select(col("r.metric").as("metric"), col("r.value").as("value"))
    val deg = e0.select(col("a").as("node"))
      .unionAll(e0.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val joined = e0
      .join(deg.select(col("node").as("a"), col("deg").as("dega")),
        Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("degb")),
        Seq("b"))
    val de = joined.select(explode(array(
        struct(col("dega").as("x"), col("degb").as("y")),
        struct(col("degb").as("x"), col("dega").as("y")))).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
    val aRow = de.agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("y") * col("y")).cast("double").as("syy"),
        sum(col("x") * col("y")).cast("double").as("sxy"))
      .select(explode(array(mrow("assortativity",
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy"))),
          6)))).as("r"))
      .select(col("r.metric").as("metric"), col("r.value").as("value"))
    val peel = G.kCorePeelProfile(e0, "a", "b", k = 9, rounds = 6)
      .filter(col("round") === 6)
      .select(explode(array(
        mrow("kcore9_nodes_left", col("n_nodes_left")),
        mrow("kcore9_edges_left", col("n_edges_left")))).as("r"))
      .select(col("r.metric").as("metric"), col("r.value").as("value"))
    val out = gRows.unionByName(aRow).unionByName(peel)
      .localCheckpoint(true)
    G.checkpointRdd(e0).foreach(_.unpersist(false))
    out.orderBy(col("metric"))
  }

  /** q257: the persisted-backbone store read back (★ — the oracle row
    * for the [[sharedBackbone]] lifecycle: q139/q147 pin their index
    * stores this way, this pins the graph tier's). Builds the store
    * when absent/stale, then the emitted row reads ONLY the persisted
    * edges plus the manifest stamp — node/edge counts, degree extremes
    * and mean, and the `n_source_rows` staleness stamp (= the lineitem
    * count the build derived from, so the output itself proves which
    * corpus generation the store reflects). The oracle replays the
    * full backbone derivation from lineitem, so a store that drifted
    * from its source — wrong truncation, stale build surviving a
    * count change — hash-mismatches here. Warm cost is one bounded
    * edge-set scan; the build amortizes across this audit, q253, and
    * every future diagnostic added to the family. */
  val q257BackboneStore: QuerySpec = QuerySpec(
    "q257_backbone_store",
    s"""WITH ${BackboneSql.ctes},
       |deg AS (
       |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
       |    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
       |  GROUP BY 1)
       |SELECT
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
       |  (SELECT CAST(MIN(deg) AS BIGINT) FROM deg) AS min_degree,
       |  (SELECT CAST(MAX(deg) AS BIGINT) FROM deg) AS max_degree,
       |  round((SELECT CAST(SUM(deg) AS DOUBLE) FROM deg)
       |    / (SELECT CAST(COUNT(*) AS DOUBLE) FROM deg), 6)
       |    AS mean_degree,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem)
       |    AS n_source_rows""".stripMargin) { (s, dir) =>
    val (e, stamp) = sharedBackbone(s, dir)
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    deg.agg(count(lit(1)).as("n_nodes"),
        sum(col("deg")).as("deg_sum"),
        min(col("deg")).cast("long").as("min_degree"),
        max(col("deg")).cast("long").as("max_degree"))
      .select(col("n_nodes"),
        (col("deg_sum") / 2).cast("long").as("n_edges"),
        col("min_degree"), col("max_degree"),
        round(col("deg_sum").cast("double") /
          col("n_nodes").cast("double"), 6).as("mean_degree"),
        lit(stamp).as("n_source_rows"))
  }

  /** q241: MAD robust outliers per nation (★ — the Iglewicz–Hoaglin
    * modified z-score, the robust tier above q91's mean/σ z and q88's
    * IQR: median and MAD shrug off the very outliers they hunt, so a
    * contaminated group can't hide its own anomalies). Medians are
    * exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    * `quantile_cont`, the q70 identity); a group with MAD = 0 flags
    * nothing (the guard, not a NaN). Two grouped percentile passes +
    * one flag aggregate — all nation-keyed shuffles. */
  val q241MadOutliers: QuerySpec = QuerySpec(
    "q241_mad_outliers",
    """WITH med AS (
      |  SELECT c_nationkey AS nk,
      |    round(quantile_cont(c_acctbal, 0.5), 6) AS med
      |  FROM customer GROUP BY 1),
      |dev AS (
      |  SELECT c.c_nationkey AS nk, m.med,
      |    CAST(c.c_acctbal AS DOUBLE) AS v,
      |    round(abs(CAST(c.c_acctbal AS DOUBLE) - m.med), 6) AS ad
      |  FROM customer c JOIN med m ON m.nk = c.c_nationkey),
      |madt AS (
      |  SELECT nk, round(quantile_cont(ad, 0.5), 6) AS mad
      |  FROM dev GROUP BY 1)
      |SELECT d.nk AS nationkey, CAST(COUNT(*) AS BIGINT) AS n,
      |  MIN(d.med) AS median, MIN(t.mad) AS mad,
      |  CAST(SUM(CASE WHEN t.mad > 0
      |    AND 0.6745 * abs(d.v - d.med) > 3.5 * t.mad
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM dev d JOIN madt t ON t.nk = d.nk
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val cust = Tables.customer(s, dir)
    val med = cust.groupBy(col("c_nationkey").as("nk"))
      .agg(round(percentile(col("c_acctbal"), lit(0.5)), 6).as("med"))
    val dev = cust.join(med, col("c_nationkey") === col("nk"))
      .select(col("nk"), col("med"),
        col("c_acctbal").cast("double").as("v"),
        round(abs(col("c_acctbal").cast("double") - col("med")), 6)
          .as("ad"))
    val mad = dev.groupBy(col("nk"))
      .agg(round(percentile(col("ad"), lit(0.5)), 6).as("mad"))
    dev.join(mad, Seq("nk"))
      .groupBy(col("nk"))
      .agg(count(lit(1)).as("n"), min(col("med")).as("median"),
        min(col("mad")).as("mad"),
        sum(when(col("mad") > 0.0 &&
          lit(0.6745) * abs(col("v") - col("med")) >
            lit(3.5) * col("mad"), 1L).otherwise(0L)).as("n_outliers"))
      .select(col("nk").as("nationkey"), col("n"), col("median"),
        col("mad"), col("n_outliers"))
      .orderBy(col("nationkey"))
  }

  /** q242: single-changepoint detection over the daily event series
    * (★ — binary segmentation's first split, Scott & Knott: the day
    * boundary minimizing SSE_left + SSE_right, found from prefix
    * sums in ONE pass over the calendar-bounded spine — the
    * level-shift locator that complements q209's CUSUM alarm with an
    * actual WHERE). Daily counts collapse the corpus to ≤ a-year of
    * rows first; every candidate split reads two prefix sums. */
  val q242Changepoint: QuerySpec = QuerySpec(
    "q242_changepoint",
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1),
      |ord AS (
      |  SELECT day, y,
      |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
      |    CAST(SUM(y) OVER (ORDER BY day) AS BIGINT) AS s1
      |  FROM daily),
      |tot AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(y) AS BIGINT) AS st,
      |    CAST(SUM(y * y) AS BIGINT) AS s2t
      |  FROM daily),
      |cand AS (
      |  SELECT o.day,
      |    round(CAST(s2t AS DOUBLE)
      |      - CAST(o.s1 AS DOUBLE) * CAST(o.s1 AS DOUBLE)
      |        / CAST(o.t AS DOUBLE)
      |      - CAST(st - o.s1 AS DOUBLE) * CAST(st - o.s1 AS DOUBLE)
      |        / CAST(n - o.t AS DOUBLE), 6) AS sse
      |  FROM ord o CROSS JOIN tot WHERE o.t < n),
      |best AS (
      |  SELECT day, sse FROM (
      |    SELECT day, sse, row_number() OVER (ORDER BY sse, day) AS rn
      |    FROM cand) WHERE rn = 1)
      |SELECT b.day AS split_day, t.n AS n_days,
      |  round(CAST(s2t AS DOUBLE)
      |    - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE),
      |    6) AS sse_total,
      |  b.sse AS sse_split,
      |  round((CAST(s2t AS DOUBLE)
      |      - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE)
      |      - b.sse)
      |    / (CAST(s2t AS DOUBLE)
      |      - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
      |        / CAST(n AS DOUBLE)), 6) AS reduction
      |FROM best b CROSS JOIN tot t""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("y"))
    // unpartitioned windows here are BOUNDED: input is the per-day
    // aggregate (calendar-sized), never event rows
    val w = Window.orderBy(col("day"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ord = daily.select(col("day"), col("y"),
      row_number().over(w).cast("long").as("t"),
      sum(col("y")).over(cum).as("s1"))
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("y")).as("st"),
      sum(col("y") * col("y")).as("s2t"))
    val cand = ord.crossJoin(broadcast(tot)).filter(col("t") < col("n"))
      .select(col("day"),
        round(col("s2t").cast("double") -
          col("s1").cast("double") * col("s1").cast("double") /
            col("t").cast("double") -
          (col("st") - col("s1")).cast("double") *
            (col("st") - col("s1")).cast("double") /
            (col("n") - col("t")).cast("double"), 6).as("sse"))
    val best = cand
      .withColumn("rn", row_number().over(
        Window.orderBy(col("sse"), col("day"))))
      .filter(col("rn") === 1).drop("rn")
    val sseT = col("s2t").cast("double") -
      col("st").cast("double") * col("st").cast("double") /
        col("n").cast("double")
    best.crossJoin(broadcast(tot))
      .select(col("day").as("split_day"), col("n").as("n_days"),
        round(sseT, 6).as("sse_total"), col("sse").as("sse_split"),
        round((sseT - col("sse")) / sseT, 6).as("reduction"))
  }

  /** q243: autocorrelation function + Ljung–Box (★ — the seasonality/
    * whiteness audit of the daily event series: ACF at lags 1–14 and
    * the cumulative Ljung–Box Q statistic whose blow-up rejects
    * "residuals are white noise" — the check run before trusting
    * q202/q221's fitted forecasts). The corpus collapses to the
    * calendar-bounded daily frame first; each lag is one equi-join on
    * the shifted index; round-6 product terms sum as DECIMAL(18,6);
    * the Q cumulative folds 14 rows in lag order on both engines. */
  val q243Acf: QuerySpec = QuerySpec(
    "q243_acf",
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1),
      |ord AS (
      |  SELECT y, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
      |  FROM daily),
      |st AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mu
      |  FROM ord),
      |dv AS (
      |  SELECT t, CAST(y AS DOUBLE) - mu AS d FROM ord CROSS JOIN st),
      |den AS (
      |  SELECT CAST(SUM(CAST(round(d * d, 6) AS DECIMAL(18,6)))
      |    AS DOUBLE) AS s0
      |  FROM dv),
      |lags AS (SELECT CAST(unnest(range(1, 15)) AS BIGINT) AS lag),
      |pr AS (
      |  SELECT l.lag,
      |    CAST(SUM(CAST(round(a.d * b.d, 6) AS DECIMAL(18,6)))
      |      AS DOUBLE) AS sk
      |  FROM dv a CROSS JOIN lags l
      |  JOIN dv b ON b.t = a.t - l.lag
      |  GROUP BY 1),
      |acf AS (
      |  SELECT p.lag, round(p.sk / d.s0, 6) AS acf
      |  FROM pr p CROSS JOIN den d)
      |SELECT a.lag, a.acf,
      |  round(CAST(s.n AS DOUBLE) * CAST(s.n + 2 AS DOUBLE)
      |    * SUM(a.acf * a.acf / CAST(s.n - a.lag AS DOUBLE))
      |      OVER (ORDER BY a.lag), 6) AS lb_q
      |FROM acf a CROSS JOIN st s
      |ORDER BY a.lag""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val daily = Tables.events(s, dir)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("y"))
    // unpartitioned window BOUNDED: per-day aggregate, calendar-sized
    val ord = daily.select(col("y"),
      row_number().over(Window.orderBy(col("day"))).cast("long").as("t"))
    val st = ord.agg(count(lit(1)).as("n"),
      (sum(col("y")).cast("double") / count(lit(1)).cast("double"))
        .as("mu"))
    // the deviation series is calendar-bounded — materialize once
    // (the q238 1-row-moment discipline) so den and the 14 lag joins
    // don't recompute the corpus aggregate three times; the 16384-day
    // guard (a 44-year daily history) is the documented spine contract
    val dv = Relational.pinSmall(
      ord.crossJoin(broadcast(st))
        .select(col("t"), (col("y").cast("double") - col("mu")).as("d")),
      16384, "q243 calendar deviation spine")
    val den = dv.agg(
      sum(round(col("d") * col("d"), 6).cast(DecimalType(18, 6)))
        .cast("double").as("s0"))
    val lags = s.range(1, 15).select(col("id").as("lag"))
    val pr = dv.select(col("t"), col("d"))
      .crossJoin(broadcast(lags))
      .join(dv.select(col("t").as("tb"), col("d").as("db")),
        col("tb") === col("t") - col("lag"))
      .groupBy(col("lag"))
      .agg(sum(round(col("d") * col("db"), 6).cast(DecimalType(18, 6)))
        .cast("double").as("sk"))
    val acf = pr.crossJoin(broadcast(den))
      .select(col("lag"), round(col("sk") / col("s0"), 6).as("acf"))
    // unpartitioned window BOUNDED: one row per lag (≤ maxLag rows)
    val cum = Window.orderBy(col("lag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    acf.crossJoin(broadcast(st))
      .select(col("lag"), col("acf"),
        round(col("n").cast("double") * (col("n") + 2).cast("double") *
          sum(col("acf") * col("acf") /
            (col("n") - col("lag")).cast("double")).over(cum), 6)
          .as("lb_q"))
      .orderBy(col("lag"))
  }

  /** q244: Theil–Sen robust trend of the daily event series (★ — the
    * median of all pairwise slopes, Sen 1968: up to ~29% of the days
    * can be corrupted before the estimate moves, where q63's OLS
    * bends to a single bad day). The corpus collapses to the
    * calendar-bounded spine FIRST, so the O(n²) pair set is ≤366²/2
    * metadata rows; medians are the exact interpolated percentile
    * (the q70 identity); the intercept is the median residual under
    * the fitted slope. */
  val q244TheilSen: QuerySpec = QuerySpec(
    "q244_theil_sen",
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1),
      |ord AS (
      |  SELECT y, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
      |  FROM daily),
      |sl AS (
      |  SELECT round(CAST(b.y - a.y AS DOUBLE)
      |    / CAST(b.t - a.t AS DOUBLE), 6) AS slope
      |  FROM ord a JOIN ord b ON b.t > a.t),
      |ms AS (SELECT round(quantile_cont(slope, 0.5), 6) AS slope,
      |  CAST(COUNT(*) AS BIGINT) AS n_pairs FROM sl),
      |ic AS (
      |  SELECT round(quantile_cont(
      |    round(CAST(o.y AS DOUBLE) - m.slope * CAST(o.t AS DOUBLE), 6),
      |    0.5), 6) AS intercept
      |  FROM ord o CROSS JOIN ms m)
      |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ord) AS n_days,
      |  m.n_pairs, m.slope, i.intercept
      |FROM ms m CROSS JOIN ic i""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("y"))
    // calendar-bounded — materialize once for the pair join and the
    // residual pass (the q243 discipline, same 16384-day spine guard)
    val ord = Relational.pinSmall(
      daily.select(col("y"),
        row_number().over(Window.orderBy(col("day"))).cast("long").as("t")),
      16384, "q244 calendar spine")
    val sl = ord.select(col("t").as("ta"), col("y").as("ya"))
      .crossJoin(broadcast(
        ord.select(col("t").as("tb"), col("y").as("yb"))))
      .filter(col("tb") > col("ta"))
      .select(round((col("yb") - col("ya")).cast("double") /
        (col("tb") - col("ta")).cast("double"), 6).as("slope"))
    val ms = sl.agg(round(percentile(col("slope"), lit(0.5)), 6)
      .as("slope"), count(lit(1)).as("n_pairs"))
    val ic = ord.crossJoin(broadcast(ms))
      .select(round(col("y").cast("double") -
        col("slope") * col("t").cast("double"), 6).as("resid"))
      .agg(round(percentile(col("resid"), lit(0.5)), 6).as("intercept"))
    val nDays = ord.agg(count(lit(1)).as("n_days"))
    nDays.crossJoin(broadcast(ms)).crossJoin(broadcast(ic))
      .select(col("n_days"), col("n_pairs"), col("slope"),
        col("intercept"))
  }

  /** q245: day-of-week seasonality ANOVA over the daily event series
    * (★ — the one-way F-test for a weekly effect, the EXPLICIT
    * companion to q243's ACF bump at lag 7: per-weekday means plus
    * the F statistic whose blow-up rejects "no weekly pattern").
    * Weekday via ISO numbering on both engines (Spark `weekday` ≡
    * DuckDB `isodow − 1`); moments are exact integer sums (daily
    * counts are ints) finished in double; the F rides every row (the
    * q222 ECE pattern). */
  val q245DowAnova: QuerySpec = QuerySpec(
    "q245_dow_anova",
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1),
      |g AS (
      |  SELECT CAST(isodow(day) - 1 AS BIGINT) AS dow,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(y) AS BIGINT) AS s1, CAST(SUM(y * y) AS BIGINT) AS s2
      |  FROM daily GROUP BY 1),
      |tot AS (
      |  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(s1) AS BIGINT)
      |    AS st, CAST(SUM(s2) AS BIGINT) AS s2t,
      |    CAST(COUNT(*) AS BIGINT) AS k,
      |    CAST(SUM(CAST(round(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
      |      / CAST(n AS DOUBLE), 6) AS DECIMAL(24,6))) AS DOUBLE)
      |      AS ssb_part
      |  FROM g)
      |SELECT g.dow, g.n,
      |  round(CAST(g.s1 AS DOUBLE) / CAST(g.n AS DOUBLE), 6) AS mean_y,
      |  round(((t.ssb_part
      |      - CAST(t.st AS DOUBLE) * CAST(t.st AS DOUBLE)
      |        / CAST(t.nn AS DOUBLE)) / CAST(t.k - 1 AS DOUBLE))
      |    / ((CAST(t.s2t AS DOUBLE) - t.ssb_part)
      |      / CAST(t.nn - t.k AS DOUBLE)), 6) AS f_stat
      |FROM g CROSS JOIN tot t
      |ORDER BY g.dow""".stripMargin) { (s, dir) =>
    val daily = Tables.events(s, dir)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("y"))
    val g = daily.groupBy(weekday(col("day")).cast("long").as("dow"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("s1"),
        sum(col("y") * col("y")).as("s2"))
    val tot = g.agg(sum(col("n")).as("nn"), sum(col("s1")).as("st"),
      sum(col("s2")).as("s2t"), count(lit(1)).as("k"),
      sum(round(col("s1").cast("double") * col("s1").cast("double") /
        col("n").cast("double"), 6)
        .cast(org.apache.spark.sql.types.DecimalType(24, 6)))
        .cast("double").as("ssb_part"))
    g.crossJoin(broadcast(tot))
      .select(col("dow"), col("n"),
        round(col("s1").cast("double") / col("n").cast("double"), 6)
          .as("mean_y"),
        round(((col("ssb_part") -
          col("st").cast("double") * col("st").cast("double") /
            col("nn").cast("double")) / (col("k") - 1).cast("double")) /
          ((col("s2t").cast("double") - col("ssb_part")) /
            (col("nn") - col("k")).cast("double")), 6).as("f_stat"))
      .orderBy(col("dow"))
  }

  /** q125: deterministic epoch shuffle — two different epochs of the
    * sharded training order over the corpus, side by side. The order
    * is a pure function of (key, epoch) through portable_hash64, so
    * the oracle reproduces both epochs' (shard, ord) assignments
    * exactly; a different epoch re-hashes, so rows move across shards
    * AND reorder within them (the decorrelation reshuffling exists
    * for). Per-shard ranking — not one global window — is the scale
    * point: one hash shuffle, 16 parallel shard sorts. */
  val q125EpochShuffle: QuerySpec = {
    import graft.operators.Sampling
    val sh = 16
    QuerySpec(
      "q125_epoch_shuffle",
      s"""WITH e1 AS (
         |  SELECT doc_id,
         |    ${Sampling.sqlEpochShard("doc_id", 1, sh)} AS shard_e1,
         |    ROW_NUMBER() OVER (
         |      PARTITION BY ${Sampling.sqlEpochShard("doc_id", 1, sh)}
         |      ORDER BY ${Sampling.sqlEpochHash("doc_id", 1)}, doc_id)
         |      AS ord_e1
         |  FROM documents),
         |e2 AS (
         |  SELECT doc_id,
         |    ${Sampling.sqlEpochShard("doc_id", 2, sh)} AS shard_e2,
         |    ROW_NUMBER() OVER (
         |      PARTITION BY ${Sampling.sqlEpochShard("doc_id", 2, sh)}
         |      ORDER BY ${Sampling.sqlEpochHash("doc_id", 2)}, doc_id)
         |      AS ord_e2
         |  FROM documents)
         |SELECT doc_id, shard_e1, ord_e1, shard_e2, ord_e2
         |FROM e1 JOIN e2 USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir).select(col("doc_id"))
      val e1 = Sampling.epochOrder(d, "doc_id", 1, sh)
        .withColumnRenamed("ord", "ord_e1")
        .withColumnRenamed("shard", "shard_e1")
      val e2 = Sampling.epochOrder(d, "doc_id", 2, sh)
        .withColumnRenamed("ord", "ord_e2")
        .withColumnRenamed("shard", "shard_e2")
      e1.join(e2, Seq("doc_id"))
        .select(col("doc_id"), col("shard_e1"), col("ord_e1"),
          col("shard_e2"), col("ord_e2"))
        .orderBy(col("doc_id"))
    }
  }

  /** q126: schema evolution through the parquet layout — an old batch
    * written WITHOUT the `lang` column and a new batch WITH it land in
    * one dataset; the mergeSchema read unions the schemas (old rows
    * surface NULL lang) and partition discovery contributes the batch
    * column. The aggregate must match a relational replay of the same
    * evolution. The oracle never sees the written files. */
  val q126SchemaEvolution: QuerySpec = QuerySpec(
    "q126_schema_evolution",
    """WITH merged AS (
      |  SELECT doc_id, n_chars, CAST(NULL AS VARCHAR) AS lang
      |  FROM documents WHERE doc_id % 2 = 0
      |  UNION ALL
      |  SELECT doc_id, n_chars, lang FROM documents WHERE doc_id % 2 <> 0)
      |SELECT COALESCE(lang, 'unknown') AS lang,
      |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val path = scratchPath("schema_q126", dir)
    docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$path/batch=1")
    docs.filter(col("doc_id") % 2 =!= 0)
      .select(col("doc_id"), col("n_chars"), col("lang"))
      .write.mode("overwrite").parquet(s"$path/batch=2")
    s.read.option("mergeSchema", "true").parquet(path)
      .groupBy(coalesce(col("lang"), lit("unknown")).as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"))
      .orderBy(col("lang"))
  }

  /** q133: sketch-algebra retention — month-over-month customer
    * overlap estimated purely from stored KMV sketches (union k-min
    * membership, Beyer et al. §5), next to the exact intersection
    * for calibration. The overlap query never touches base data —
    * the point of keeping sketches — and every estimate is
    * hash-verified because the sketch rides portable_hash64. */
  val q133SketchRetention: QuerySpec = {
    val k = 64
    val h = graft.functions.Scalars.sqlPortableHash64("c")
    QuerySpec(
      "q133_sketch_retention",
      s"""WITH d AS (
         |  SELECT DISTINCT year(o_orderdate) * 12 + month(o_orderdate)
         |    AS mi, o_custkey AS c
         |  FROM orders),
         |hh AS (SELECT mi, $h AS h FROM d),
         |r AS (
         |  SELECT mi, h,
         |    ROW_NUMBER() OVER (PARTITION BY mi ORDER BY h) AS rn
         |  FROM hh),
         |sk AS (
         |  SELECT mi, list(h ORDER BY h) AS kmins
         |  FROM r WHERE rn <= $k GROUP BY mi),
         |sq AS (
         |  SELECT mi, kmins, LEAD(mi) OVER (ORDER BY mi) AS mi2,
         |    LEAD(kmins) OVER (ORDER BY mi) AS kmins2
         |  FROM sk),
         |p AS (SELECT * FROM sq WHERE mi2 IS NOT NULL),
         |e0 AS (
         |  SELECT mi, mi2, kmins, kmins2,
         |    list_sort(list_distinct(list_concat(kmins, kmins2)))[1:$k] AS u
         |  FROM p),
         |e1 AS (
         |  SELECT mi, mi2,
         |    CAST(len(list_intersect(list_intersect(u, kmins), kmins2))
         |      AS DOUBLE) AS com,
         |    CAST(len(u) AS DOUBLE) AS lu,
         |    CASE WHEN len(u) < $k THEN CAST(len(u) AS DOUBLE)
         |      ELSE round(${k - 1} * CAST(1152921504606846976 AS DOUBLE)
         |        / CAST(u[$k] AS DOUBLE), 6) END AS union_est
         |  FROM e0),
         |ex AS (
         |  SELECT a.mi AS mi, b.mi AS mi2,
         |    CAST(COUNT(*) AS BIGINT) AS exact_inter
         |  FROM d a JOIN d b ON a.c = b.c
         |  JOIN (SELECT mi, mi2 FROM p) pp
         |    ON pp.mi = a.mi AND pp.mi2 = b.mi
         |  GROUP BY 1, 2)
         |SELECT CAST(e1.mi AS BIGINT) AS m1, CAST(e1.mi2 AS BIGINT) AS m2,
         |  round(com / lu, 6) AS j_est, e1.union_est,
         |  round((com / lu) * e1.union_est, 6) AS inter_est,
         |  COALESCE(ex.exact_inter, 0) AS exact_inter
         |FROM e1 LEFT JOIN ex ON ex.mi = e1.mi AND ex.mi2 = e1.mi2
         |ORDER BY m1""".stripMargin) { (s, dir) =>
      import graft.operators.Kmv
      import org.apache.spark.sql.expressions.Window
      val d = Tables.orders(s, dir)
        .select((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("mi"), col("o_custkey").as("c"))
        .distinct()
        .cache() // feeds the sketch AND both exact-overlap sides
      val sk = Kmv.sketch(d, Seq("mi"), "c", k)
      // the sketch table is month-count-sized; the global LEAD window
      // over it is metadata-sized by construction (q90 spine argument)
      val w = Window.orderBy(col("mi"))
      val pairs = sk.select(col("mi"), col("kmins"))
        .withColumn("mi2", lead(col("mi"), 1).over(w))
        .withColumn("kmins2", lead(col("kmins"), 1).over(w))
        .filter(col("mi2").isNotNull)
      val est = Kmv.overlapEstimate(pairs, "kmins", "kmins2", k)
      val exact = d.select(col("mi").as("ami"), col("c"))
        .join(d.select(col("mi").as("bmi"), col("c")), Seq("c"))
        .join(pairs.select(col("mi").as("ami"), col("mi2").as("bmi")),
          Seq("ami", "bmi"))
        .groupBy(col("ami"), col("bmi"))
        .agg(count(lit(1)).as("exact_inter"))
      est.join(exact,
          est("mi") === exact("ami") && est("mi2") === exact("bmi"),
          "left")
        .select(est("mi").as("m1"), est("mi2").as("m2"),
          col("j_est"), col("union_est"), col("inter_est"),
          coalesce(col("exact_inter"), lit(0L)).as("exact_inter"))
        .orderBy(col("m1"))
    }
  }

  /** q143: Count-Min frequency rollup (SURVEY §2.15 sketch tier) —
    * per-month sketches of order counts per customer, MERGED to the
    * global grid by counter addition, then point-probed for one
    * nation's customers with the exact count alongside. Width is
    * deliberately small (256 buckets for ~1000 active keys) so
    * collisions are REAL and the min-over-rows estimator is exercised,
    * not vacuous: est ≥ exact everywhere (CMS guarantee, CountMinSpec
    * property), with visible overcounts on collided keys. The whole
    * pipeline — salted md5 cell addressing, monthly build, merge,
    * min-estimate — replays verbatim in the oracle because cells ride
    * on portable_hash64 (the q123 discipline; SpaceSaving's q73 shows
    * why order-dependent sketches can't get this check). Probing
    * nation-3 customers includes never-inserted keys (customers with
    * no orders): absent cells count zero unless every row collides. */
  /** q151: mergeable bottom-k quantile sketch (★ — the sketch family's
    * rank/quantile member; GK/KLL/t-digest are arrival-order dependent
    * and would be stuck rows-only like q73, so the engine's summary is
    * the bottom-k SAMPLE, a pure function of the key set that DuckDB
    * replays bit-for-bit). Per-nation customer-balance sketches fold
    * into one global sketch WITHOUT re-reading the base data, and the
    * query emits the merged estimates beside the direct global
    * sketch's — `merged_eq_direct` is the fold-losslessness proof as
    * output (the q143 merged ≡ direct discipline), hash-asserted TRUE
    * by the oracle, which replays hash order, per-group top-k, merge,
    * and the type-1 rank pick verbatim. */
  val q151QuantileSketch: QuerySpec = {
    import graft.operators.QuantileSketch
    val k = 100
    val ps = Seq(0.25, 0.5, 0.75, 0.9)
    val ord = graft.operators.Sampling.sqlReservoirOrder("c_custkey")
    def sel(p: Double): String =
      s"""  SELECT CAST($p AS DOUBLE) AS p,
         |    ${QuantileSketch.sqlAtRank("(SELECT vs FROM mv)", p)}
         |      AS est_merged,
         |    ${QuantileSketch.sqlAtRank("(SELECT vs FROM dv)", p)}
         |      AS est_direct""".stripMargin
    QuerySpec(
      "q151_quantile_sketch",
      s"""WITH s AS (
         |  SELECT h, key, value FROM (
         |    SELECT c_nationkey,
         |      ${graft.functions.Scalars.sqlPortableHash64("c_custkey")} AS h,
         |      c_custkey AS key, c_acctbal AS value,
         |      ROW_NUMBER() OVER (PARTITION BY c_nationkey
         |        ORDER BY $ord) AS rn
         |    FROM customer) WHERE rn <= $k),
         |m AS (SELECT value FROM s ORDER BY h, key LIMIT $k),
         |d AS (SELECT c_acctbal AS value FROM customer
         |      ORDER BY $ord LIMIT $k),
         |mv AS (SELECT list_sort(list(value)) AS vs FROM m),
         |dv AS (SELECT list_sort(list(value)) AS vs FROM d),
         |sel AS (
         |${ps.map(sel).mkString("\n  UNION ALL\n")})
         |SELECT p, est_merged, est_direct,
         |  (est_merged = est_direct) AS merged_eq_direct
         |FROM sel ORDER BY p""".stripMargin) { (s, dir) =>
      val cust = Tables.customer(s, dir)
      val perNation = QuantileSketch.sketch(cust, Seq("c_nationkey"),
        "c_custkey", "c_acctbal", k)
      val merged = QuantileSketch.mergeToGlobal(perNation, k)
      val direct = QuantileSketch.sketch(cust, Seq.empty,
        "c_custkey", "c_acctbal", k)
      QuantileSketch.estimate(merged, ps, "est_merged")
        .join(QuantileSketch.estimate(direct, ps, "est_direct"), Seq("p"))
        .select(col("p"), col("est_merged"), col("est_direct"),
          (col("est_merged") === col("est_direct")).as("merged_eq_direct"))
        .orderBy(col("p"))
    }
  }

  /** q250: end-to-end STREAMING bottom-k quantile fold (★ — the
    * q248/q249 wire for the third sketch store, completing the trio
    * the round-9 review named): customers staged as two files split at
    * the custkey midpoint, drained through a file-source stream into
    * [[graft.operators.QuantileSketch.foldIntoStore]]
    * (`maxFilesPerTrigger = 1` → two micro-batches, so batch 1
    * exercises the real union/collapse/re-take fold against the store
    * batch 0 created), and the query emits the DRAINED store's rows.
    * Because the sample is a pure function of the key set (bottom-k
    * by [[graft.functions.Scalars.portableHash64]] — arrival-order
    * free, unlike GK/KLL/t-digest), DuckDB rebuilds the identical
    * sample from the full table: source → stateful fold → store,
    * fully hash-checked. `applied` (= 1) proves two micro-batches
    * folded with the idempotence stamp committed alongside the rows
    * ([[graft.operators.Stores]]). */
  val q250StreamingQuantile: QuerySpec = {
    val k = 100
    QuerySpec(
      "q250_streaming_quantile",
      s"""WITH s AS (
         |  SELECT
         |    ${graft.functions.Scalars
                .sqlPortableHash64("CAST(c_custkey AS VARCHAR)")} AS h,
         |    CAST(c_custkey AS VARCHAR) AS key,
         |    CAST(c_acctbal AS DOUBLE) AS value
         |  FROM customer
         |  ORDER BY h, key LIMIT $k)
         |SELECT h, key, value, CAST(1 AS BIGINT) AS applied
         |FROM s ORDER BY h, key""".stripMargin) { (s, dir) =>
      import graft.streaming.IncrementalLoad
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey").as("key"), col("c_acctbal").as("v"))
      val bounds = cust.agg(min(col("key")), max(col("key"))).head()
      val cut = bounds.getLong(0) +
        (bounds.getLong(1) - bounds.getLong(0)) / 2
      val (stream, root) = IncrementalLoad.stageTwoFileStream(
        cust, col("key") < cut, "graft_q250")
      val store = root.resolve("store").toString
      val q = IncrementalLoad.streamingQuantileFold(
        s, stream, "key", "v", store, root.resolve("ckpt").toString,
        k = k)
      IncrementalLoad.awaitDrained(q, root, Seq("in", "ckpt"), 300000L)
      // the replay stamp now rides the store pointer, not the payload
      val applied = graft.operators.Stores.lastApplied(s, s"$store/rows")
      graft.operators.QuantileSketch.readStore(s, store).rows
        .withColumn("applied", lit(applied))
        .orderBy(col("h"), col("key"))
    }
  }

  val q143CountMinFreq: QuerySpec = {
    val d = 4
    val w = 256
    def incSelects(src: String, key: String): String =
      (0 until d).map(i =>
        s"""  SELECT y, m, $i AS row,
           |    ${graft.operators.CountMin.sqlPosition(key, i, w)} AS pos
           |  FROM $src""".stripMargin).mkString("\n  UNION ALL\n")
    def probeSelects(src: String, key: String): String =
      (0 until d).map(i =>
        s"""  SELECT k, $i AS row,
           |    ${graft.operators.CountMin.sqlPosition(key, i, w)} AS pos
           |  FROM $src""".stripMargin).mkString("\n  UNION ALL\n")
    QuerySpec(
      "q143_countmin_freq",
      s"""WITH o AS (
         |  SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
         |    o_custkey AS k
         |  FROM orders),
         |inc AS (
         |${incSelects("o", "k")}),
         |monthly AS (
         |  SELECT y, m, row, pos, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM inc GROUP BY 1, 2, 3, 4),
         |merged AS (
         |  SELECT row, pos, CAST(SUM(cnt) AS BIGINT) AS cnt
         |  FROM monthly GROUP BY 1, 2),
         |probe AS (
         |  SELECT c_custkey AS k FROM customer WHERE c_nationkey = 3),
         |pinc AS (
         |${probeSelects("probe", "k")}),
         |est AS (
         |  SELECT k, MIN(COALESCE(mg.cnt, 0)) AS est
         |  FROM pinc LEFT JOIN merged mg USING (row, pos)
         |  GROUP BY k),
         |ex AS (
         |  SELECT k, CAST(COUNT(*) AS BIGINT) AS n FROM o GROUP BY 1)
         |SELECT est.k AS custkey, est.est, COALESCE(ex.n, 0) AS exact_cnt
         |FROM est LEFT JOIN ex USING (k)
         |ORDER BY custkey""".stripMargin) { (s, dir) =>
      import graft.operators.CountMin
      val o = Tables.orders(s, dir)
        .select(year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"), col("o_custkey").as("k"))
      val monthly = CountMin.sketch(o, Seq("y", "m"), "k", d, w)
      val merged = CountMin.merge(monthly, Seq.empty)
      val probe = Tables.customer(s, dir)
        .filter(col("c_nationkey") === 3)
        .select(col("c_custkey").as("k"))
      val est = CountMin.pointEstimate(merged, probe, "k", d, w)
      val exact = o.groupBy(col("k")).agg(count(lit(1)).as("n"))
      est.join(exact, Seq("k"), "left")
        .select(col("k").as("custkey"), col("est"),
          coalesce(col("n"), lit(0L)).as("exact_cnt"))
        .orderBy(col("custkey"))
    }
  }

  /** q172: sharded JSONL export lifecycle (★ — the interchange format
    * LLM training pipelines actually ship: hash-sharded `.json` lines
    * partitioned by shard directory, read BACK with an explicit
    * schema, and audited per shard). What the round trip proves: JSON
    * string-escaping fidelity (the seed plants quotes and backslashes
    * on doc_id % 9 = 0, so the writer must escape and the reader
    * un-escape to keep the content hash), partition-directory
    * reassembly, and the deterministic md5 shard assignment (q125's
    * hash discipline — any reader can recompute its shard). The
    * checksum sums per-row md5 hashes mod 1000003 — order-free exact
    * ints, safe under BIGINT. The oracle never sees the JSONL: it
    * replays assignment + audit straight from parquet. */
  val q172JsonlShards: QuerySpec = {
    // quote + backslash stress for the JSON escaper (kept out of an
    // interpolated SQL string: raw backslashes survive in both specs)
    val seedScala = " he said \"hi\" via c:\\tmp\\dump"
    val seedSql = """ he said "hi" via c:\tmp\dump"""
    val h = graft.functions.Scalars.sqlPortableHash64("doc_id")
    val hRow = graft.functions.Scalars.sqlPortableHash64(
      "CAST(doc_id AS VARCHAR) || ':' || text")
    QuerySpec(
      "q172_jsonl_shards",
      s"""WITH seeded AS (
         |  SELECT doc_id,
         |    text || CASE WHEN doc_id % 9 = 0 THEN '$seedSql'
         |                 ELSE '' END AS text
         |  FROM documents)
         |SELECT CAST($h % 8 AS INTEGER) AS shard,
         |  COUNT(*) AS n_docs,
         |  CAST(MIN(doc_id) AS BIGINT) AS min_doc,
         |  CAST(MAX(doc_id) AS BIGINT) AS max_doc,
         |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
         |  CAST(SUM($hRow % 1000003) AS BIGINT) AS checksum
         |FROM seeded GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import graft.functions.Scalars
      val path = scratchPath("jsonl_q172", dir)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 9 === 0, lit(seedScala))
              .otherwise(lit(""))).as("text"),
          pmod(Scalars.portableHash64(col("doc_id")), lit(8))
            .cast("int").as("shard"))
        .write.mode("overwrite").partitionBy("shard").json(path)
      s.read.schema("doc_id LONG, text STRING").json(path)
        .groupBy(col("shard").cast("int").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"),
          sum(length(col("text")).cast("long")).as("n_chars"),
          sum(Scalars.portableHash64(concat(
            col("doc_id").cast("string"), lit(":"), col("text")))
            % lit(1000003L)).as("checksum"))
        .orderBy(col("shard"))
    }
  }

  /** q199: k-anonymity / l-diversity audit (★ — the privacy report a
    * dataset release runs BEFORE publishing training data: group the
    * table by its quasi-identifiers and measure the smallest
    * equivalence class; any class below the k threshold re-identifies
    * its members by linkage, Sweeney 2002). Quasi-identifiers here:
    * (nation, market segment, account-balance band); the sensitive
    * attribute is the in-debt flag (acctbal < 0), whose per-class
    * distinct count is the l-diversity. The global k_min / at-risk
    * fraction attach via a 1-row aggregate cross (the q76/q100
    * metadata-sized broadcast shape). One shuffle on the QI key;
    * balance banding is a single IEEE divide + floor both engines
    * agree on. */
  val q199KAnonymity: QuerySpec = QuerySpec(
    "q199_k_anonymity",
    """WITH qi AS (
      |  SELECT c_nationkey AS nation, c_mktsegment AS segment,
      |    CAST(floor(c_acctbal / 1000) AS INTEGER) AS bal_band,
      |    c_acctbal < 0 AS in_debt
      |  FROM customer),
      |cls AS (
      |  SELECT nation, segment, bal_band,
      |    CAST(COUNT(*) AS BIGINT) AS class_size,
      |    CAST(COUNT(DISTINCT in_debt) AS BIGINT) AS l_diversity
      |  FROM qi GROUP BY 1, 2, 3),
      |g AS (
      |  SELECT MIN(class_size) AS k_min,
      |    round(CAST(SUM(CASE WHEN class_size < 5 THEN class_size
      |                        ELSE 0 END) AS DOUBLE)
      |      / SUM(class_size), 6) AS pct_at_risk
      |  FROM cls)
      |SELECT c.nation, c.segment, c.bal_band, c.class_size,
      |  c.l_diversity, c.class_size < 5 AS risky, g.k_min, g.pct_at_risk
      |FROM cls c CROSS JOIN g
      |ORDER BY c.nation, c.segment, c.bal_band""".stripMargin) { (s, dir) =>
    val qi = Tables.customer(s, dir).select(
      col("c_nationkey").as("nation"),
      col("c_mktsegment").as("segment"),
      floor(col("c_acctbal") / 1000).cast("int").as("bal_band"),
      (col("c_acctbal") < 0).as("in_debt"))
    val cls = qi.groupBy(col("nation"), col("segment"), col("bal_band"))
      .agg(count(lit(1)).as("class_size"),
        countDistinct(col("in_debt")).as("l_diversity"))
    val g = cls.agg(
      min(col("class_size")).as("k_min"),
      round(sum(when(col("class_size") < 5, col("class_size"))
        .otherwise(lit(0L))).cast("double") / sum(col("class_size")), 6)
        .as("pct_at_risk"))
    cls.crossJoin(broadcast(g))
      .select(col("nation"), col("segment"), col("bal_band"),
        col("class_size"), col("l_diversity"),
        (col("class_size") < 5).as("risky"),
        col("k_min"), col("pct_at_risk"))
      .orderBy(col("nation"), col("segment"), col("bal_band"))
  }

  /** q197: Fellegi–Sunter probabilistic record linkage (★ — entity
    * resolution between two customer registries, the master-data twin
    * of the text-dedup tier: [[graft.operators.RecordLinkage]] holds
    * the decision model and its scale shape). The dirty registry is
    * seeded deterministically from the clean one: key%3=0 exact
    * twins, key%3=1 typo twins (name truncated one char, balance
    * shifted +10), key%3=2 ghosts (different entity: prefixed name,
    * negated balance). Candidates come from nation-key BLOCKING (the
    * one shuffle); γ = (name, segment, balance-band) equality;
    * u-rates are estimated from the candidate pairs (1-row broadcast
    * cross), m fixed at the textbook (0.95, 0.9, 0.85). Pairs
    * scoring ≥ 1 surface with their pattern, score, a
    * match/possible classification at the upper threshold 8, and the
    * construction's ground-truth flag — exact twins must classify
    * `match`, typo twins fall to clerical review, ghosts score out
    * entirely. */
  val q197RecordLinkage: QuerySpec = QuerySpec(
    "q197_record_linkage",
    s"""WITH ${LinkageSql.scoredCtes}
      |SELECT a_key, b_key, pattern, score,
      |  CASE WHEN score > 8 THEN 'match' ELSE 'possible' END
      |    AS classification,
      |  b_key - 1000000 = a_key AND a_key % 3 <> 2 AS is_true
      |FROM s WHERE score >= 1
      |ORDER BY a_key, b_key""".stripMargin) { (s, dir) =>
    import graft.operators.RecordLinkage
    // u-statistics from per-block histograms (linkageAgreeStats — no
    // pair generation), so the quadratic blocked-pair frame is built
    // ONCE, for scoring, instead of once more for the statistics pass
    val nS = linkageAgreeStats(s, dir,
      Seq(Seq("name"), Seq("seg"), Seq("band"), Nil))
    RecordLinkage.fellegiSunter(linkagePairs(s, dir),
        LinkageSql.fields, LinkageSql.m0, 6,
        Seq(nS(Set("name")), nS(Set("seg")), nS(Set("band"))),
        nS(Set.empty))
      .filter(col("score") >= 1)
      .select(col("a_key"), col("b_key"), col("pattern"), col("score"),
        when(col("score") > 8, lit("match")).otherwise(lit("possible"))
          .as("classification"),
        (col("b_key") - 1000000 === col("a_key") &&
          col("a_key") % 3 =!= 2).as("is_true"))
      // the global sort's range-sampling pass re-executes its child:
      // un-materialized, that re-ran the whole blocked-pair explosion
      // a second time (ProfileJobs: two ~1.5 s single-task jobs with
      // identical 337 KB shuffle reads). Score ≥ 1 keeps only the
      // near-match sliver, so materializing it is KB-sized at any
      // corpus scale while the explosion it shields is the quadratic
      // half of the query (guide §5 — localCheckpoint to cut lineage).
      .localCheckpoint(true)
      .orderBy(col("a_key"), col("b_key"))
  }

  /** The q197/q207 shared blocked candidate-pair frame (the Spark twin
    * of [[LinkageSql.scoredCtes]]'s `p`). The probe side arrives as
    * ONE small parquet split, so without the block-key repartition the
    * broadcast blocking join generates every candidate pair in a
    * single task — twice (u-statistics pass + scoring pass); measured
    * 27 s → ~2 s at sf0.1. */
  private def linkagePairs(s: org.apache.spark.sql.SparkSession,
                           dir: String): org.apache.spark.sql.DataFrame = {
    val (a0, b0) = linkageSides(s, dir)
    val a = a0.select(col("key").as("a_key"), col("block"),
      col("name").as("a_name"), col("seg").as("a_seg"),
      col("band").as("a_band"))
    val b = b0.select(col("key").as("b_key"), col("block"),
      col("name").as("b_name"), col("seg").as("b_seg"),
      col("band").as("b_band"))
    a.repartition(col("block")).join(b, "block")
      .select(col("a_key"), col("b_key"),
        (col("a_name") === col("b_name")).as("name_eq"),
        (col("a_seg") === col("b_seg")).as("seg_eq"),
        (col("a_band") === col("b_band")).as("band_eq"))
  }

  /** The two registries behind [[linkagePairs]], in a common
    * `(key, block, name, seg, band)` shape so the statistics helpers
    * below can histogram either side uniformly. */
  private def linkageSides(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame,
                     org.apache.spark.sql.DataFrame) = {
    val cust = Tables.customer(s, dir)
    val a = cust.select(
      col("c_custkey").as("key"), col("c_name").as("name"),
      col("c_nationkey").as("block"), col("c_mktsegment").as("seg"),
      floor(col("c_acctbal") / 100).cast("int").as("band"))
    val k3 = col("c_custkey") % 3
    val b = cust.select(
      (col("c_custkey") + 1000000).as("key"),
      when(k3 === 2, concat(lit("Ghost#"), col("c_name")))
        .when(k3 === 1,
          col("c_name").substr(lit(1), length(col("c_name")) - 1))
        .otherwise(col("c_name")).as("name"),
      col("c_nationkey").as("block"), col("c_mktsegment").as("seg"),
      floor(when(k3 === 2, -col("c_acctbal"))
        .when(k3 === 1, col("c_acctbal") + lit(10.0))
        .otherwise(col("c_acctbal")) / 100).cast("int").as("band"))
    (a, b)
  }

  /** `N(S)` per requested subset S ⊆ {name, seg, band}: the number of
    * blocked candidate pairs that agree on ALL fields in S (with
    * N(∅) = the total pair count) — computed WITHOUT generating a
    * single pair (guide §8: every one of these statistics depends
    * only on per-block value histograms, so the quadratic pair
    * explosion is replaced by Σ_block Σ_v cntA(block,v_S)·cntB(block,
    * v_S), linear in the registries). Equality here is exact-match
    * `===` on non-null TPC-H fields, so histogram-key equality and
    * pair-predicate equality coincide (and `concat_ws` below is an
    * injective subset-value encoding: the fields are a '#'-keyed
    * name, an enum, and an int — none contain the  separator).
    * All subsets STACK into one (block, tag, v) frame per side —
    * one groupBy pair, one join, one aggregate, ONE action — instead
    * of a per-subset join chain whose stage latency exceeded the
    * pair-frame scan it replaced at bench scale. */
  private def linkageAgreeStats(s: org.apache.spark.sql.SparkSession,
      dir: String,
      subsets: Seq[Seq[String]]): Map[Set[String], Long] = {
    val (a, b) = linkageSides(s, dir)
    def stacked(df: org.apache.spark.sql.DataFrame) = df
      .select(col("block"), explode(array(subsets.map(sub =>
        struct(lit(sub.sorted.mkString(",")).as("tag"),
          concat_ws("", sub.sorted.map(col): _*).as("v"))): _*))
        .as("sv"))
      .groupBy(col("block"), col("sv.tag").as("tag"),
        col("sv.v").as("v"))
      .agg(count(lit(1)).as("n"))
    val keys = Seq("block", "tag", "v")
    stacked(a).withColumnRenamed("n", "na")
      .join(stacked(b).withColumnRenamed("n", "nb"), keys)
      .groupBy(col("tag"))
      .agg(sum(col("na") * col("nb")).as("n"))
      .collect()
      .map(r => r.getString(0).split(",").filter(_.nonEmpty).toSet ->
        r.getLong(1))
      .toMap
      .withDefaultValue(0L) // a subset with zero agreeing pairs joins away
  }

  /** q207: EM-refined linkage weights (★ — the estimation step the
    * full Fellegi–Sunter method runs that q197's fixed-m scoring
    * skips: classify pairs with the current model, then RE-ESTIMATE
    * each field's m = P(agree | match) from the classified matches —
    * one EM iteration, the Splink/Winkler production recipe. The
    * report emits, per field: the initial m₀, the data-estimated u,
    * the refined m₁ (same [1/n, 1−1/n] clamp as u), and the
    * agree/disagree weights before and after refinement — the
    * model-drift audit a linkage pipeline publishes). All statistics
    * are two 1-row guarded aggregates over the blocked pair frame
    * (the q197 posture); every emitted value is a constant-folded
    * literal expression, so the 3-row output hash-matches the SQL
    * replay of the identical chain. */
  val q207EmLinkage: QuerySpec = {
    def sqlField(f: String, tag: String, m0: Double): String = {
      val m = s"CAST($m0 AS DOUBLE)"
      s"""SELECT '$tag' AS field, $m AS m0,
         |  round(u_$f, 6) AS u, round(m1_$f, 6) AS m1,
         |  round(log2($m / u_$f), 6) AS w_agree0,
         |  round(log2(m1_$f / u_$f), 6) AS w_agree1,
         |  round(log2((1.0 - $m) / (1.0 - u_$f)), 6) AS w_disagree0,
         |  round(log2((1.0 - m1_$f) / (1.0 - u_$f)), 6) AS w_disagree1
         |FROM u, m1""".stripMargin
    }
    QuerySpec(
      "q207_em_linkage",
      s"""WITH ${LinkageSql.scoredCtes},
        |mm AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS nm,
        |    CAST(SUM(CASE WHEN name_eq THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nm_name,
        |    CAST(SUM(CASE WHEN seg_eq THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nm_seg,
        |    CAST(SUM(CASE WHEN band_eq THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nm_band
        |  FROM w
        |  WHERE round(w_name_eq + w_seg_eq + w_band_eq, 6) + 0.0 > 8),
        |m1 AS (
        |  SELECT
        |    least(greatest(CAST(nm_name AS DOUBLE) / nm, 1.0 / nm),
        |      1.0 - 1.0 / nm) AS m1_name,
        |    least(greatest(CAST(nm_seg AS DOUBLE) / nm, 1.0 / nm),
        |      1.0 - 1.0 / nm) AS m1_seg,
        |    least(greatest(CAST(nm_band AS DOUBLE) / nm, 1.0 / nm),
        |      1.0 - 1.0 / nm) AS m1_band
        |  FROM mm),
        |out AS (
        |  ${sqlField("band", "band", 0.85)}
        |  UNION ALL
        |  ${sqlField("name", "name", 0.95)}
        |  UNION ALL
        |  ${sqlField("seg", "seg", 0.9)})
        |SELECT * FROM out ORDER BY field""".stripMargin) { (s, dir) =>
      import graft.operators.RecordLinkage
      // Every number this query emits is a function of the EIGHT
      // γ-pattern counts of the blocked pair frame, and each pattern
      // count follows from the "agrees on at least S" counts N(S) by
      // inclusion–exclusion: exact(γ) = Σ_{T ⊇ γ} (−1)^{|T\γ|} N(T).
      // N(S) itself comes from per-block histograms
      // (linkageAgreeStats), so the 9M-row pair frame that the
      // u-statistics pass, the scoring pass, and the m-refit pass
      // each rebuilt is never generated at all (guide §8: decide
      // with small rows). The scoring expressions still evaluate IN
      // SPARK, on an 8-row pattern frame, through the identical
      // fellegiSunter weight/score columns — bit-identical doubles,
      // since score depends only on the pattern.
      val flds = Seq("name", "seg", "band")
      val nS = linkageAgreeStats(s, dir,
        (0 until 8).map(bits => flds.zipWithIndex.collect {
          case (f, i) if ((bits >> i) & 1) == 1 => f
        }))
      def exact(on: Set[String]): Long =
        nS.iterator.collect { case (t, n) if on.subsetOf(t) =>
          if ((t.size - on.size) % 2 == 0) n else -n
        }.sum
      import s.implicits._
      val patterns = (0 until 8).map { bits =>
        val on = flds.zipWithIndex.collect {
          case (f, i) if ((bits >> i) & 1) == 1 => f
        }.toSet
        (on("name"), on("seg"), on("band"), exact(on))
      }.toDF("name_eq", "seg_eq", "band_eq", "cnt")
      val fields = LinkageSql.fields
      val uCounts = Map(
        "n_name_eq" -> nS(Set("name")), "n_seg_eq" -> nS(Set("seg")),
        "n_band_eq" -> nS(Set("band")), "n_total" -> nS(Set.empty))
      val scored = RecordLinkage.fellegiSunter(patterns, fields,
        LinkageSql.m0, 6,
        fields.map(f => uCounts(s"n_$f")), uCounts("n_total"))
      val mCounts = scored.filter(col("score") > 8).agg(
        sum(when(col("name_eq"), col("cnt")).otherwise(0L))
          .as("nm_name_eq"),
        sum(when(col("seg_eq"), col("cnt")).otherwise(0L))
          .as("nm_seg_eq"),
        sum(when(col("band_eq"), col("cnt")).otherwise(0L))
          .as("nm_band_eq"),
        sum(col("cnt")).as("nm")).head()
      require(mCounts.getAs[Long]("nm") > 0, "no classified matches")
      def clamp(num: Long, den: Long): org.apache.spark.sql.Column =
        least(greatest(lit(num).cast("double") / lit(den),
          lit(1.0) / lit(den)), lit(1.0) - lit(1.0) / lit(den))
      val tags = Map("name_eq" -> "name", "seg_eq" -> "seg",
        "band_eq" -> "band")
      val rows = fields.zip(LinkageSql.m0).map { case (f, m0) =>
        val u = clamp(uCounts(s"n_$f"), uCounts("n_total"))
        val m1 = clamp(mCounts.getAs[Long](s"nm_$f"),
          mCounts.getAs[Long]("nm"))
        s.range(0L, 1L, 1L, 1).select(lit(tags(f)).as("field"),
          lit(m0).as("m0"),
          round(u, 6).as("u"), round(m1, 6).as("m1"),
          round(log2(lit(m0) / u), 6).as("w_agree0"),
          round(log2(m1 / u), 6).as("w_agree1"),
          round(log2((lit(1.0) - lit(m0)) / (lit(1.0) - u)), 6)
            .as("w_disagree0"),
          round(log2((lit(1.0) - m1) / (lit(1.0) - u)), 6)
            .as("w_disagree1"))
      }
      rows.reduce(_ unionByName _).orderBy(col("field"))
    }
  }

  /** q203: Benford first-digit audit (★ — the fraud / data-quality
    * screen run on monetary columns before trusting an ingested feed:
    * naturally-occurring multi-scale amounts follow
    * P(d) = log10(1 + 1/d), and a feed that deviates hard was
    * truncated, synthesized, or tampered with). First digits are
    * extracted EXACTLY — floor to BIGINT, then the first character of
    * the integer's decimal string (no log10 in the extraction path,
    * where a one-ulp error could flip a boundary digit); only the
    * expected-share curve uses libm log10, absorbed by round(6) (the
    * q115 rule). The digit-class frame is 9 rows, so the total
    * attaches via the q76 metadata-sized 1-row cross. Like q184's
    * Zipf audit, the synthetic feed's NON-conformance is itself the
    * verified diagnostic (chi² terms large and positive). */
  val q203Benford: QuerySpec = QuerySpec(
    "q203_benford_audit",
    """WITH d AS (
      |  SELECT substring(CAST(CAST(floor(l_extendedprice) AS BIGINT)
      |    AS VARCHAR), 1, 1) AS digit
      |  FROM lineitem WHERE l_extendedprice >= 1),
      |c AS (
      |  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
      |  FROM d GROUP BY digit),
      |t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS total FROM c),
      |s AS (
      |  SELECT c.digit, c.n_obs,
      |    round(CAST(c.n_obs AS DOUBLE) / t.total, 6) AS obs_share,
      |    round(log10(1 + CAST(1 AS DOUBLE) / CAST(c.digit AS INTEGER)),
      |      6) AS exp_share
      |  FROM c CROSS JOIN t)
      |SELECT digit, n_obs, obs_share, exp_share,
      |  round((obs_share - exp_share) * (obs_share - exp_share)
      |    / exp_share, 6) AS chi_term
      |FROM s ORDER BY digit""".stripMargin) { (s, dir) =>
    val digits = Tables.lineitem(s, dir)
      .filter(col("l_extendedprice") >= 1)
      .select(substring(floor(col("l_extendedprice")).cast("long")
        .cast("string"), 1, 1).as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val total = digits.agg(sum(col("n_obs")).as("total"))
    digits.crossJoin(broadcast(total))
      .select(col("digit"), col("n_obs"),
        round(col("n_obs").cast("double") / col("total"), 6)
          .as("obs_share"),
        round(log10(lit(1) + lit(1.0) / col("digit").cast("int")), 6)
          .as("exp_share"))
      .withColumn("chi_term",
        round((col("obs_share") - col("exp_share"))
          * (col("obs_share") - col("exp_share")) / col("exp_share"), 6))
      .orderBy(col("digit"))
  }

  /** q204: functional-dependency violation audit (★ — the integrity
    * check entity-resolution and repair systems (HoloClean) run first:
    * does attribute X still determine attribute Y after a messy load?
    * Violations = keys bound to > 1 distinct right-hand value). The
    * audited load is the clean registry UNION a seeded inconsistent
    * re-ingest (every 7th key re-arrives with its market segment
    * rotated — the classic partial-update corruption), so
    * custkey→segment violates on exactly the seeded keys while
    * custkey→name stays intact — the audit must report BOTH the hit
    * and the clean negative. One shuffle per FD on the determinant
    * key; outputs are exact counts and one rounded rate. */
  val q204FdViolations: QuerySpec = QuerySpec(
    "q204_fd_violations",
    """WITH loaded AS (
      |  SELECT c_custkey, c_name, c_mktsegment FROM customer
      |  UNION ALL
      |  SELECT c_custkey, c_name,
      |    CASE c_mktsegment
      |      WHEN 'AUTOMOBILE' THEN 'BUILDING'
      |      WHEN 'BUILDING' THEN 'FURNITURE'
      |      WHEN 'FURNITURE' THEN 'HOUSEHOLD'
      |      WHEN 'HOUSEHOLD' THEN 'MACHINERY'
      |      ELSE 'AUTOMOBILE' END
      |  FROM customer WHERE c_custkey % 7 = 0),
      |seg AS (
      |  SELECT c_custkey, COUNT(DISTINCT c_mktsegment) AS nv
      |  FROM loaded GROUP BY 1),
      |nm AS (
      |  SELECT c_custkey, COUNT(DISTINCT c_name) AS nv
      |  FROM loaded GROUP BY 1),
      |a AS (
      |  SELECT 'c_custkey->c_mktsegment' AS fd,
      |    CAST(COUNT(*) AS BIGINT) AS n_keys,
      |    CAST(SUM(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_violating
      |  FROM seg
      |  UNION ALL
      |  SELECT 'c_custkey->c_name',
      |    CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM nm)
      |SELECT fd, n_keys, n_violating,
      |  round(CAST(n_violating AS DOUBLE) / n_keys, 6) AS violation_rate,
      |  n_violating = 0 AS holds
      |FROM a ORDER BY fd""".stripMargin) { (s, dir) =>
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    val rotated = cust.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"), col("c_name"),
        when(col("c_mktsegment") === "AUTOMOBILE", "BUILDING")
          .when(col("c_mktsegment") === "BUILDING", "FURNITURE")
          .when(col("c_mktsegment") === "FURNITURE", "HOUSEHOLD")
          .when(col("c_mktsegment") === "HOUSEHOLD", "MACHINERY")
          .otherwise("AUTOMOBILE").as("c_mktsegment"))
    val loaded = cust.unionByName(rotated)
    def audit(fdName: String, rhs: String) =
      loaded.groupBy(col("c_custkey"))
        .agg(countDistinct(col(rhs)).as("nv"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("nv") > 1, 1L).otherwise(0L)).as("n_violating"))
        .select(lit(fdName).as("fd"), col("n_keys"), col("n_violating"))
    audit("c_custkey->c_mktsegment", "c_mktsegment")
      .unionByName(audit("c_custkey->c_name", "c_name"))
      .select(col("fd"), col("n_keys"), col("n_violating"),
        round(col("n_violating").cast("double") / col("n_keys"), 6)
          .as("violation_rate"),
        (col("n_violating") === 0).as("holds"))
      .orderBy(col("fd"))
  }

  /** q205: market-basket association rules (★ — Apriori 2-itemset
    * support / confidence / lift over order baskets, the
    * co-occurrence analysis retail warehouses and recommender
    * bootstraps run; see [[graft.operators.Basket.pairRules]] for the
    * Apriori-prune-before-pair-generation scale shape). Top-100 rules
    * by pair support with the (a, b) tie-break; every metric is a
    * single rounded divide of exact counts, so the SQL replay
    * hash-matches. */
  val q205BasketRules: QuerySpec = QuerySpec(
    "q205_basket_rules",
    """WITH it AS (
      |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
      |  FROM lineitem),
      |ic AS (
      |  SELECT item, CAST(COUNT(*) AS BIGINT) AS n_item
      |  FROM it GROUP BY 1),
      |nb AS (SELECT CAST(COUNT(DISTINCT basket) AS BIGINT) AS n FROM it),
      |fr AS (
      |  SELECT it.basket, it.item, ic.n_item
      |  FROM it JOIN ic USING (item) WHERE ic.n_item >= 2),
      |p AS (
      |  SELECT a.item AS item_a, b.item AS item_b,
      |    a.n_item AS n_a, b.n_item AS n_b,
      |    CAST(COUNT(*) AS BIGINT) AS n_pair
      |  FROM fr a JOIN fr b ON a.basket = b.basket AND a.item < b.item
      |  GROUP BY 1, 2, 3, 4 HAVING COUNT(*) >= 2),
      |s AS (
      |  SELECT item_a, item_b, n_pair, n_a, n_b,
      |    round(CAST(n_pair AS DOUBLE) / (SELECT n FROM nb), 6)
      |      AS support,
      |    round(CAST(n_pair AS DOUBLE) / n_a, 6) AS conf_a_b,
      |    round(CAST(n_pair AS DOUBLE) / n_b, 6) AS conf_b_a,
      |    round(round(CAST(n_pair AS DOUBLE) / n_a, 6)
      |      / round(CAST(n_b AS DOUBLE) / (SELECT n FROM nb), 6), 6)
      |      AS lift_a_b,
      |    round(round(CAST(n_pair AS DOUBLE) / n_b, 6)
      |      / round(CAST(n_a AS DOUBLE) / (SELECT n FROM nb), 6), 6)
      |      AS lift_b_a
      |  FROM p),
      |top AS (
      |  SELECT * FROM s ORDER BY n_pair DESC, item_a, item_b LIMIT 100)
      |SELECT * FROM top ORDER BY n_pair DESC, item_a, item_b"""
      .stripMargin) { (s, dir) =>
    graft.operators.Basket.pairRules(Tables.lineitem(s, dir),
        "l_orderkey", "l_partkey", minPairCount = 2, k = 100)
      .orderBy(col("n_pair").desc, col("item_a"), col("item_b"))
  }

  /** q206: Neyman-allocation stratified sampling plan (★ — the
    * survey-statistics optimum q60's proportional stratified sample
    * doesn't reach: allocate the budget ∝ N_h·S_h, so high-variance
    * strata get MORE than their population share; Neyman 1934, the
    * standard design for audit sampling and data-annotation budgets).
    * Per-stratum std rides the q91 exact-decimal moment discipline
    * (sx, sxx as DECIMAL sums closed to doubles once) + round(6); the
    * Σ N_h·S_h normalizer folds the SORTED (stratum, w) array (q121
    * discipline) on a 1-row frame that cross-attaches back (5-row ×
    * 1-row — metadata-sized). Allocations are round-half-up of a
    * single product/divide chain — exact-int output. */
  val q206NeymanAllocation: QuerySpec = {
    val budget = 500
    QuerySpec(
      "q206_neyman_allocation",
      s"""WITH m AS (
         |  SELECT c_mktsegment AS segment,
         |    CAST(COUNT(*) AS BIGINT) AS n_h,
         |    CAST(COUNT(*) AS DOUBLE) AS nd,
         |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sx,
         |    CAST(SUM(
         |      CAST(CAST(c_acctbal AS DECIMAL(18,4)) AS DECIMAL(19,4))
         |      * CAST(CAST(c_acctbal AS DECIMAL(18,4)) AS DECIMAL(19,4)))
         |      AS DOUBLE) AS sxx
         |  FROM customer GROUP BY 1),
         |s AS (
         |  SELECT segment, n_h,
         |    round(sqrt((nd * sxx - sx * sx) / (nd * (nd - 1))), 6)
         |      AS s_h
         |  FROM m),
         |w AS (
         |  SELECT segment, n_h, s_h, round(n_h * s_h, 6) AS w_h FROM s),
         |t AS (
         |  SELECT list_reduce(list_prepend(0.0,
         |    list_transform(list_sort(list({'g': segment, 'w': w_h})),
         |      x -> x.w)), (a, b) -> a + b) AS tw
         |  FROM w)
         |SELECT segment, n_h, s_h, w_h,
         |  round(w_h / t.tw, 6) AS share,
         |  CAST(round($budget * w_h / t.tw) AS BIGINT) AS alloc
         |FROM w CROSS JOIN t ORDER BY segment""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      val xd = col("c_acctbal").cast(DecimalType(18, 4))
      val x19 = xd.cast(DecimalType(19, 4))
      val m = Tables.customer(s, dir)
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_h"),
          count(lit(1)).cast("double").as("nd"),
          sum(xd).cast("double").as("sx"),
          sum(x19 * x19).cast("double").as("sxx"))
      val w = m.select(col("segment"), col("n_h"),
          round(sqrt((col("nd") * col("sxx") - col("sx") * col("sx"))
            / (col("nd") * (col("nd") - 1))), 6).as("s_h"))
        .withColumn("w_h", round(col("n_h") * col("s_h"), 6))
      val t = w.agg(aggregate(transform(
        array_sort(collect_list(struct(col("segment").as("g"),
          col("w_h").as("w")))), x => x("w")),
        lit(0.0), (a, b) => a + b).as("tw"))
      w.crossJoin(broadcast(t))
        .select(col("segment"), col("n_h"), col("s_h"), col("w_h"),
          round(col("w_h") / col("tw"), 6).as("share"),
          round(lit(budget) * col("w_h") / col("tw")).cast("long")
            .as("alloc"))
        .orderBy(col("segment"))
    }
  }

  /** q212: referential-integrity sweep (★ — the warehouse-wide orphan
    * audit a load pipeline runs after every batch: for each declared
    * FK edge, count child rows whose key has no parent. Six real
    * star-schema edges plus a SEEDED dirty edge — an "imported" order
    * batch referencing customers that don't exist (every 11th order
    * re-arrives pointing at key+2000000) — so the audit must report
    * six clean edges and exactly one violated one, with the orphan
    * row/key counts. Each edge is one left-anti-shaped aggregate
    * (child ⋈ parent on the key, count nulls) — the q05 existence
    * shape; parent key sides are dimension-sized broadcasts. */
  val q212FkOrphans: QuerySpec = QuerySpec(
    "q212_fk_orphans",
    """WITH dirty_orders AS (
      |  SELECT o_orderkey + 9000000 AS o_orderkey,
      |    o_custkey + 2000000 AS o_custkey
      |  FROM orders WHERE o_orderkey % 11 = 0),
      |ord AS (
      |  SELECT o_orderkey, o_custkey FROM orders
      |  UNION ALL SELECT o_orderkey, o_custkey FROM dirty_orders),
      |edges AS (
      |  SELECT 'lineitem.l_orderkey->orders' AS fk,
      |    CAST(COUNT(*) AS BIGINT) AS n_child,
      |    CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_orphan_rows,
      |    CAST(COUNT(DISTINCT CASE WHEN o.o_orderkey IS NULL
      |      THEN l.l_orderkey END) AS BIGINT) AS n_orphan_keys
      |  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM ord) o
      |    ON l.l_orderkey = o.o_orderkey
      |  UNION ALL
      |  SELECT 'lineitem.l_partkey->part',
      |    CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT),
      |    CAST(COUNT(DISTINCT CASE WHEN p.p_partkey IS NULL
      |      THEN l.l_partkey END) AS BIGINT)
      |  FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
      |  UNION ALL
      |  SELECT 'lineitem.l_suppkey->supplier',
      |    CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT),
      |    CAST(COUNT(DISTINCT CASE WHEN s.s_suppkey IS NULL
      |      THEN l.l_suppkey END) AS BIGINT)
      |  FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  UNION ALL
      |  SELECT 'orders.o_custkey->customer',
      |    CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT),
      |    CAST(COUNT(DISTINCT CASE WHEN c.c_custkey IS NULL
      |      THEN o.o_custkey END) AS BIGINT)
      |  FROM ord o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      |  UNION ALL
      |  SELECT 'customer.c_nationkey->nation',
      |    CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT),
      |    CAST(COUNT(DISTINCT CASE WHEN n.n_nationkey IS NULL
      |      THEN c.c_nationkey END) AS BIGINT)
      |  FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  UNION ALL
      |  SELECT 'supplier.s_nationkey->nation',
      |    CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT),
      |    CAST(COUNT(DISTINCT CASE WHEN n.n_nationkey IS NULL
      |      THEN s.s_nationkey END) AS BIGINT)
      |  FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
      |  UNION ALL
      |  SELECT 'nation.n_regionkey->region',
      |    CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CASE WHEN r.r_regionkey IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT),
      |    CAST(COUNT(DISTINCT CASE WHEN r.r_regionkey IS NULL
      |      THEN n.n_regionkey END) AS BIGINT)
      |  FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey)
      |SELECT fk, n_child, n_orphan_rows, n_orphan_keys,
      |  n_orphan_rows = 0 AS ok
      |FROM edges ORDER BY fk""".stripMargin) { (s, dir) =>
    val orders0 = Tables.orders(s, dir)
    val dirty = orders0.filter(col("o_orderkey") % 11 === 0)
      .select((col("o_orderkey") + 9000000L).as("o_orderkey"),
        (col("o_custkey") + 2000000L).as("o_custkey"))
    val ord = orders0.select(col("o_orderkey"), col("o_custkey"))
      .unionByName(dirty)
    def edge(fk: String, child: org.apache.spark.sql.DataFrame,
             childKey: String, parent: org.apache.spark.sql.DataFrame,
             parentKey: String) = {
      val p = parent.select(col(parentKey)).distinct()
      child.join(p, child(childKey) === p(parentKey), "left")
        .agg(count(lit(1)).as("n_child"),
          sum(when(p(parentKey).isNull, 1L).otherwise(0L))
            .as("n_orphan_rows"),
          countDistinct(when(p(parentKey).isNull, child(childKey)))
            .as("n_orphan_keys"))
        .select(lit(fk).as("fk"), col("n_child"), col("n_orphan_rows"),
          col("n_orphan_keys"))
    }
    val li = Tables.lineitem(s, dir)
    Seq(
      edge("lineitem.l_orderkey->orders", li, "l_orderkey",
        ord.select(col("o_orderkey")), "o_orderkey"),
      edge("lineitem.l_partkey->part", li, "l_partkey",
        Tables.part(s, dir), "p_partkey"),
      edge("lineitem.l_suppkey->supplier", li, "l_suppkey",
        Tables.supplier(s, dir), "s_suppkey"),
      edge("orders.o_custkey->customer", ord, "o_custkey",
        Tables.customer(s, dir), "c_custkey"),
      edge("customer.c_nationkey->nation", Tables.customer(s, dir),
        "c_nationkey", Tables.nation(s, dir), "n_nationkey"),
      edge("supplier.s_nationkey->nation", Tables.supplier(s, dir),
        "s_nationkey", Tables.nation(s, dir), "n_nationkey"),
      edge("nation.n_regionkey->region", Tables.nation(s, dir),
        "n_regionkey", Tables.region(s, dir), "r_regionkey"))
      .reduce(_ unionByName _)
      .select(col("fk"), col("n_child"), col("n_orphan_rows"),
        col("n_orphan_keys"), (col("n_orphan_rows") === 0).as("ok"))
      .orderBy(col("fk"))
  }

  /** q213: revenue-concentration audit — decile Lorenz curve + Gini
    * (★ — the "what share of revenue do the top customers carry"
    * report every account-risk review runs). SCALE-HONEST decile
    * assignment: cut values come from the deterministic hash-ranked
    * 256-customer sample (the q151/q152 sketch posture — no global
    * sort, no single-partition rank over the customer universe), the
    * 9 cuts broadcast as one sorted array, and assignment is a
    * per-row count of exceeded cuts. Per-decile masses are exact
    * decimal sums; shares and cumulative shares round to 6; the Gini
    * folds the 10 trapezoid terms over the SORTED decile array (a
    * scalar-double fold — the struct traps don't apply) and attaches
    * via the metadata-sized cross. On this uniform synthetic book the
    * Gini reads LOW — like q184/q203, the diagnostic's value is the
    * verified reading, not a dramatic number. */
  val q213LorenzGini: QuerySpec = {
    import graft.operators.{QuantileSketch, Sampling}
    val cutPs = (1 to 9).map(_ / 10.0)
    val cutSelects = cutPs.map(p =>
      QuantileSketch.sqlAtRank("(SELECT vs FROM vs)", p))
      .mkString("[", ",\n      |    ", "]")
    QuerySpec(
      "q213_lorenz_gini",
      s"""WITH rev AS (
        |  SELECT o_custkey,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev,
        |    round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |      AS DOUBLE), 6) AS rv
        |  FROM orders GROUP BY 1),
        |sk AS (
        |  SELECT rv AS value FROM rev
        |  ORDER BY ${Sampling.sqlReservoirOrder("o_custkey")}
        |  LIMIT 256),
        |vs AS (SELECT list_sort(list(value)) AS vs FROM sk),
        |cuts AS (SELECT $cutSelects AS cs),
        |assigned AS (
        |  SELECT r.o_custkey, r.rev, r.rv,
        |    CAST(list_reduce(list_prepend(0,
        |      list_transform((SELECT cs FROM cuts),
        |        c -> CASE WHEN r.rv > c THEN 1 ELSE 0 END)),
        |      (a, b) -> a + b) AS INTEGER) AS decile
        |  FROM rev r),
        |dec AS (
        |  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(rev) AS rev_sum
        |  FROM assigned GROUP BY 1),
        |tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_tot,
        |    SUM(rev) AS rev_tot FROM assigned),
        |sh AS (
        |  SELECT d.decile, d.n,
        |    round(CAST(d.n AS DOUBLE) / t.n_tot, 6) AS pop_share,
        |    round(CAST(d.rev_sum AS DOUBLE) / CAST(t.rev_tot AS DOUBLE),
        |      6) AS rev_share,
        |    round(CAST(SUM(d.rev_sum) OVER (ORDER BY d.decile
        |        ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |      / CAST(t.rev_tot AS DOUBLE), 6) AS cum_rev
        |  FROM dec d CROSS JOIN tot t),
        |terms AS (
        |  SELECT decile, n, pop_share, rev_share, cum_rev,
        |    round((cum_rev + COALESCE(lag(cum_rev)
        |      OVER (ORDER BY decile), 0.0)) * pop_share, 6) AS term
        |  FROM sh),
        |garr AS (
        |  SELECT list_sort(list({'d': decile, 't': term})) AS ts
        |  FROM terms)
        |SELECT t.decile, t.n, t.pop_share, t.rev_share, t.cum_rev,
        |  round(1 - list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(g.ts, x -> x.t)), (a, b) -> a + b), 6) + 0.0
        |    AS gini
        |FROM terms t CROSS JOIN garr g
        |ORDER BY t.decile""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      val rev = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 4))).as("rev"),
          round(sum(col("o_totalprice").cast(DecimalType(18, 4)))
            .cast("double"), 6).as("rv"))
      val sk = QuantileSketch.sketch(rev, Seq.empty, "o_custkey", "rv",
        256)
      val cuts = QuantileSketch.estimate(sk, cutPs)
        .agg(array_sort(collect_list(col("est"))).as("cs"))
      val assigned = rev.crossJoin(broadcast(cuts))
        .select(col("o_custkey"), col("rev"), col("rv"),
          aggregate(transform(col("cs"),
            c => when(col("rv") > c, 1).otherwise(0)),
            lit(0), (a, b) => a + b).cast("int").as("decile"))
      val dec = assigned.groupBy(col("decile"))
        .agg(count(lit(1)).as("n"), sum(col("rev")).as("rev_sum"))
      val tot = assigned.agg(count(lit(1)).as("n_tot"),
        sum(col("rev")).as("rev_tot"))
      import org.apache.spark.sql.expressions.Window
      // unpartitioned windows BOUNDED: input is the 10-row decile frame
      val w = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sh = dec.crossJoin(broadcast(tot))
        .select(col("decile"), col("n"),
          round(col("n").cast("double") / col("n_tot"), 6)
            .as("pop_share"),
          round(col("rev_sum").cast("double")
            / col("rev_tot").cast("double"), 6).as("rev_share"),
          round(sum(col("rev_sum")).over(w).cast("double")
            / col("rev_tot").cast("double"), 6).as("cum_rev"))
      val wl = Window.orderBy(col("decile"))
      val terms = sh.withColumn("term",
        round((col("cum_rev") + coalesce(lag(col("cum_rev"), 1).over(wl),
          lit(0.0))) * col("pop_share"), 6))
      val garr = terms.agg(array_sort(collect_list(
        struct(col("decile").as("d"), col("term").as("t")))).as("ts"))
      terms.crossJoin(broadcast(garr))
        .select(col("decile"), col("n"), col("pop_share"),
          col("rev_share"), col("cum_rev"),
          (round(lit(1) - aggregate(transform(col("ts"), x => x("t")),
            lit(0.0).cast("double"), (a, b) => a + b), 6) + lit(0.0))
            .as("gini"))
        .orderBy(col("decile"))
    }
  }

  /** q214: Poisson-bootstrap confidence interval (★ — the
    * PRODUCTION-scale bootstrap: the classic multinomial resample
    * needs global coordination per replicate, so large systems give
    * every row an independent deterministic Poisson(1) weight per
    * replicate instead ([[graft.operators.Sampling.poissonWeight]] —
    * one scan computes all B replicates map-side; the approximation
    * is exact as n→∞). B = 64 replicate means of the customer
    * balance, each an exact-decimal weighted sum closed to a round-6
    * double; the percentile CI takes EXACT elements of the sorted
    * (mean, r) array (type-1, the q151 rank rule) and the bootstrap
    * SE folds the sorted array through the pinned
    * round(var,6)→sqrt→round(6) sequence (the q186 discipline). The
    * 64-row replicate spine is the only cross — metadata-sized. */
  val q214BootstrapCi: QuerySpec = {
    import graft.operators.Sampling
    val b = 64
    QuerySpec(
      "q214_bootstrap_ci",
      s"""WITH reps AS (SELECT unnest(range(0, $b)) AS r),
        |w AS (
        |  SELECT r.r,
        |    ${Sampling.sqlPoissonWeight("c.c_custkey", "r.r")} AS wt,
        |    CAST(c.c_acctbal AS DECIMAL(18,4)) AS x
        |  FROM customer c CROSS JOIN reps r),
        |means AS (
        |  SELECT r,
        |    round(CAST(SUM(wt * x) AS DOUBLE) / SUM(wt), 6) AS m
        |  FROM w GROUP BY r HAVING SUM(wt) > 0),
        |arr AS (
        |  SELECT list_sort(list({'m': m, 'r': r})) AS ms,
        |    CAST(COUNT(*) AS BIGINT) AS nb
        |  FROM means),
        |obs AS (
        |  SELECT round(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4)))
        |    AS DOUBLE) / COUNT(*), 6) AS mean_obs
        |  FROM customer),
        |folds AS (
        |  SELECT nb, ms,
        |    round(list_reduce(list_prepend(0.0,
        |      list_transform(ms, x -> x.m)), (a, v) -> a + v) / nb, 6)
        |      AS mean_boot
        |  FROM arr)
        |SELECT o.mean_obs, f.nb AS b,
        |  f.ms[GREATEST(1, CAST(ceil(0.025 * f.nb) AS BIGINT))].m
        |    AS ci_lo,
        |  f.ms[GREATEST(1, CAST(ceil(0.975 * f.nb) AS BIGINT))].m
        |    AS ci_hi,
        |  round(sqrt(round(list_reduce(list_prepend(0.0,
        |    list_transform(f.ms,
        |      x -> (x.m - f.mean_boot) * (x.m - f.mean_boot))),
        |    (a, v) -> a + v) / (f.nb - 1), 6)), 6) + 0.0 AS se_boot
        |FROM obs o CROSS JOIN folds f""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      val reps = s.range(b).select(col("id").cast("int").as("r"))
      val cust = Tables.customer(s, dir)
      val w = cust.crossJoin(broadcast(reps))
        .select(col("r"),
          Sampling.poissonWeight(col("c_custkey"), col("r")).as("wt"),
          col("c_acctbal").cast(DecimalType(18, 4)).as("x"))
      val means = w.groupBy(col("r"))
        .agg(round(sum(col("wt") * col("x")).cast("double")
          / sum(col("wt")), 6).as("m"),
          sum(col("wt")).as("nw"))
        .filter(col("nw") > 0).drop("nw")
      val arr = means.agg(
        array_sort(collect_list(struct(col("m").as("m"), col("r").as("r"))))
          .as("ms"),
        count(lit(1)).as("nb"))
      val obs = cust.agg(
        round(sum(col("c_acctbal").cast(DecimalType(18, 4)))
          .cast("double") / count(lit(1)), 6).as("mean_obs"))
      val folds = arr.withColumn("mean_boot",
        round(aggregate(transform(col("ms"), x => x("m")), lit(0.0),
          (a, v) => a + v) / col("nb"), 6))
      def atR(p: Double) = element_at(col("ms"),
        greatest(lit(1L), ceil(lit(p) * col("nb"))).cast("int"))("m")
      obs.crossJoin(broadcast(folds))
        .select(col("mean_obs"), col("nb").as("b"),
          atR(0.025).as("ci_lo"), atR(0.975).as("ci_hi"),
          (round(sqrt(round(aggregate(transform(col("ms"),
            x => (x("m") - col("mean_boot")) * (x("m") - col("mean_boot"))),
            lit(0.0), (a, v) => a + v) / (col("nb") - 1), 6)), 6)
            + lit(0.0)).as("se_boot"))
    }
  }

  val specs: Seq[QuerySpec] = Seq(
    q01PricingSummary, q02MonthlyRollup, q03FilterProject, q04RegionRevenue,
    q05CustomersNoOrders, q06UrgentCustomers, q07UnionBatches, q08TopOrders,
    q09TopCustomersPerSegment, q10PivotPriority, q11RollupYearMonth,
    q12DistinctParts, q13SegmentBuckets, q14StringFuncs, q15ShipDelay,
    q16MonthlySpine, q17MacroSeriesJoin, q18SetOps, q19ApproxDistinct,
    q55RangeJoin, q63CorrRegression, q64SkewJoin, q70Percentiles, q76Profile,
    q78BucketedJoin, q79BloomSemiJoin, q81ZOrderedScan, q86Melt,
    q88IqrOutliers, q89TableChecksum, q90Resample, q91Zscore,
    q96ReservoirSample, q97WeightedSample, q98JoinDelta,
    q100Histogram, q102DictEncode, q110ImputeMean,
    q118CsvRoundtrip, q122OrcRoundtrip, q123KmvRollup, q124PageRank,
    q125EpochShuffle, q126SchemaEvolution, q133SketchRetention,
    q143CountMinFreq, q151QuantileSketch, q250StreamingQuantile,
    q172JsonlShards,
    q197RecordLinkage, q199KAnonymity, q201Hits, q203Benford,
    q204FdViolations, q205BasketRules, q206NeymanAllocation,
    q207EmLinkage, q212FkOrphans, q213LorenzGini, q214BootstrapCi,
    q229Triangles, q233SkewReport, q238CorrMatrix,
    q239KCorePeel, q240Assortativity, q241MadOutliers, q242Changepoint,
    q243Acf, q244TheilSen, q245DowAnova, q253GraphSuite,
    q257BackboneStore)
}

/** The Fellegi–Sunter oracle chain shared by q197 (pair scoring) and
  * q207 (EM weight refinement) so the two queries' registry seeding,
  * blocking, u-estimation, and weight arithmetic are generated from
  * one source (the KnSql/IvfSql discipline). Emits CTEs through
  * `w(a_key, b_key, name_eq, seg_eq, band_eq, w_name_eq, w_seg_eq,
  * w_band_eq)` and `s(a_key, b_key, pattern, score)`; callers open
  * with `WITH` and append their own SELECT (and further CTEs).
  *
  * NB: stored with `|` margins INTACT (no stripMargin here) — the
  * caller's template stripMargins the whole assembled string once. A
  * pre-stripped constant would lose one bar of every `||` string
  * concat to the second strip (found the hard way: DuckDB then binds
  * bitwise `|` on VARCHAR). */
/** The part co-purchase top-8 kNN backbone (q229's edge set) shared
  * by the graph-diagnostic family q229/q239/q240 so the truncation
  * and tie rules are generated from one source (the IvfSql/KnSql
  * discipline). Emits CTEs `li, lic, pc, dir, knn` ending in
  * `e(a, b)` — the undirected deduped backbone edges.
  *
  * The pair generation is per-order quadratic, so each order's item
  * list is PRE-TRUNCATED to its [[maxItemsPerOrder]] smallest
  * partkeys before the self-join (the q205 prune-before-pair-gen
  * discipline): one pathological mega-basket at corpus scale would
  * otherwise create an O(items²) pocket BEFORE the top-8 kNN
  * truncation could prune it. TPC-H orders carry ≤ 7 items, so the
  * cap is hash-invisible on the fixtures; a 64-item cap bounds any
  * basket's contribution at 2016 pairs while co-purchase structure
  * above 64 items is noise, not signal (standard basket-graph
  * practice). Each registry query rebuilds the backbone — honest
  * per-query pricing; a composite caller running the q229/q239/q240
  * trio together should build [[edges]] once, `localCheckpoint(true)`
  * it, and free the blocks via `Graph.checkpointRdd` after. */
private[queries] object BackboneSql {
  val maxItemsPerOrder = 64

  val ctes: String =
    s"""li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
      |lic AS (
      |  SELECT ok, p FROM (
      |    SELECT ok, p, row_number() OVER (PARTITION BY ok
      |      ORDER BY p) AS rn
      |    FROM li) WHERE rn <= $maxItemsPerOrder),
      |pc AS (
      |  SELECT x.p AS a, y.p AS b, CAST(COUNT(*) AS BIGINT) AS w
      |  FROM lic x JOIN lic y ON x.ok = y.ok AND x.p < y.p GROUP BY 1, 2),
      |dir AS (SELECT a AS u, b AS v, w FROM pc
      |        UNION ALL SELECT b, a, w FROM pc),
      |knn AS (
      |  SELECT u, v FROM (
      |    SELECT u, v, row_number() OVER (PARTITION BY u
      |      ORDER BY w DESC, v) AS rn
      |    FROM dir) WHERE rn <= 8),
      |e AS MATERIALIZED (
      |  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM knn)"""
      .stripMargin

  /** The q229 degree-oriented wedge chain over edge CTE `e`: `deg`
    * (node degrees), `orient` (each edge oriented low-degree →
    * high-degree, ties by id), `tri` (closed wedges = triangles,
    * each counted once), `tn` (per-node triangle counts). Shared by
    * q229 and the q253 composite so the orientation/tie rules have
    * one source. */
  val triCtes: String =
    s"""deg AS MATERIALIZED (
      |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
      |    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
      |  GROUP BY 1),
      |orient AS MATERIALIZED (
      |  SELECT
      |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
      |      THEN e.a ELSE e.b END AS src,
      |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
      |      THEN e.b ELSE e.a END AS dst,
      |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
      |      THEN db.deg ELSE da.deg END AS ddst
      |  FROM e JOIN deg da ON da.node = e.a
      |  JOIN deg db ON db.node = e.b),
      |tri AS (
      |  SELECT x.src AS u, x.dst AS v, y.dst AS w
      |  FROM orient x JOIN orient y ON x.src = y.src
      |    AND (x.ddst < y.ddst OR (x.ddst = y.ddst AND x.dst < y.dst))
      |  JOIN orient z ON z.src = x.dst AND z.dst = y.dst),
      |tn AS (
      |  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
      |    SELECT u AS node FROM tri UNION ALL SELECT v FROM tri
      |    UNION ALL SELECT w FROM tri)
      |  GROUP BY 1)""".stripMargin

  /** The q239 k-core peel unrolled as generated MATERIALIZED CTEs
    * over edge CTE `e` (the q219 inlining lesson — without the hint
    * DuckDB re-inlines each round's references exponentially):
    * rounds `d<i>/keep<i>/e<i>/s<i>`, with `s<i>` the per-round stats
    * row. Shared by q239 and the q253 composite so the peel SQL has
    * one source. */
  def peelCtes(k: Int, rounds: Int): String =
    (1 to rounds).map { i =>
      val prev = if (i == 1) "e" else s"e${i - 1}"
      s"""d$i AS MATERIALIZED (
         |  SELECT node, CAST(COUNT(*) AS BIGINT) AS dg FROM (
         |    SELECT a AS node FROM $prev UNION ALL SELECT b FROM $prev)
         |  GROUP BY 1),
         |keep$i AS MATERIALIZED (SELECT node FROM d$i WHERE dg >= $k),
         |e$i AS MATERIALIZED (
         |  SELECT p.a, p.b FROM $prev p
         |  JOIN keep$i ka ON ka.node = p.a
         |  JOIN keep$i kb ON kb.node = p.b),
         |s$i AS (
         |  SELECT CAST($i AS BIGINT) AS round,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM d$i)
         |      - (SELECT CAST(COUNT(*) AS BIGINT) FROM keep$i)
         |      AS n_removed,
         |    (SELECT CAST(COUNT(DISTINCT node) AS BIGINT) FROM (
         |       SELECT a AS node FROM e$i UNION ALL SELECT b FROM e$i))
         |      AS n_nodes_left,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM e$i)
         |      AS n_edges_left)"""
        .stripMargin
    }.mkString(",\n")

  /** The Spark twin: the same backbone as a (a, b) edge frame.
    *
    * Shape (round 15, guide §2.4/§8 — use what we know that the
    * optimizer does not): the old chain paid FIVE exchanges —
    * distinct(ok, p), a window re-shuffle on ok, the lic⋈lic
    * self-join, groupBy(a, b), and a second full-frame window on u —
    * plus two window sorts. But both windows exist only to enforce
    * per-group bounds that are SMALL BY CONSTRUCTION (≤ 64 items per
    * order, top-8 picks per node), so each group fits one in-row
    * array: one groupBy(ok) with collect_set replaces
    * distinct+window (dedup and sorted truncation in the same
    * exchange), the a<b pair set then expands IN ROW from the sorted
    * bounded array (the self-join on ok was multiplying rows the
    * array already holds — ≤ 2016 pairs per order), and the top-8
    * pick is one groupBy(u) over a (−w, v)-struct sort. Three
    * exchanges, no window sorts, same edge set bit-for-bit (the
    * oracle CTEs keep the relational spelling and hash-match).
    * Per-group state is bounded (64 parts / ≤ node-degree structs of
    * 16 bytes), so the object-hash aggregates hold kilobytes per key
    * at any corpus size. */
  def edges(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    // distinct (ok, p) + "first maxItemsPerOrder parts by p asc" as
    // ONE keyed aggregate: collect_set dedups, array_sort orders,
    // slice truncates — identical rows to the old
    // distinct→row_number≤64 chain
    val perOrder = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .groupBy(col("ok"))
      .agg(slice(array_sort(collect_set(col("p"))), 1,
        maxItemsPerOrder).as("ps"))
    // all a<b pairs from the sorted in-row array: element i pairs
    // with every later element — the array is ascending and
    // distinct, so a<b holds by construction
    val pc = perOrder
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + lit(2), size(col("ps"))), y =>
          struct(x.as("a"), y.as("b")))))).as("pr"))
      .select(col("pr.a").as("a"), col("pr.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
    // both directions from ONE evaluation of the pair aggregate (the
    // connectedComponents explode discipline), then the top-8 picks
    // per node via a bounded struct sort: (−w, v) ascending ≡
    // (w desc, v asc), the old window's exact order
    val knn = pc
      .select(explode(array(
        struct(col("a").as("u"), col("b").as("v"), col("w")),
        struct(col("b").as("u"), col("a").as("v"), col("w")))).as("e"))
      .select(col("e.u").as("u"),
        struct((-col("e.w")).as("nw"), col("e.v").as("v")).as("t"))
      .groupBy(col("u"))
      .agg(slice(array_sort(collect_list(col("t"))), 1, 8).as("top"))
      .select(col("u"), explode(col("top")).as("t"))
      .select(col("u"), col("t.v").as("v"))
    knn.select(least(col("u"), col("v")).as("a"),
      greatest(col("u"), col("v")).as("b")).distinct()
  }
}

private[queries] object LinkageSql {
  val fields: Seq[String] = Seq("name_eq", "seg_eq", "band_eq")
  val m0: Seq[Double] = Seq(0.95, 0.9, 0.85)

  val scoredCtes: String =
    """a AS (
      |  SELECT c_custkey AS a_key, c_name AS a_name,
      |    c_nationkey AS block, c_mktsegment AS a_seg,
      |    CAST(floor(c_acctbal / 100) AS INTEGER) AS a_band
      |  FROM customer),
      |b AS (
      |  SELECT c_custkey + 1000000 AS b_key,
      |    CASE c_custkey % 3
      |      WHEN 2 THEN 'Ghost#' || c_name
      |      WHEN 1 THEN substring(c_name, 1, length(c_name) - 1)
      |      ELSE c_name END AS b_name,
      |    c_nationkey AS block, c_mktsegment AS b_seg,
      |    CAST(floor((CASE c_custkey % 3
      |      WHEN 2 THEN -c_acctbal
      |      WHEN 1 THEN c_acctbal + CAST(10.0 AS DOUBLE)
      |      ELSE c_acctbal END) / 100) AS INTEGER) AS b_band
      |  FROM customer),
      |p AS (
      |  SELECT a.a_key, b.b_key,
      |    a.a_name = b.b_name AS name_eq,
      |    a.a_seg = b.b_seg AS seg_eq,
      |    a.a_band = b.b_band AS band_eq
      |  FROM a JOIN b USING (block)),
      |g AS (
      |  SELECT CAST(SUM(CASE WHEN name_eq THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_name,
      |    CAST(SUM(CASE WHEN seg_eq THEN 1 ELSE 0 END) AS BIGINT) AS n_seg,
      |    CAST(SUM(CASE WHEN band_eq THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_band,
      |    CAST(COUNT(*) AS BIGINT) AS n FROM p),
      |u AS (
      |  SELECT
      |    least(greatest(CAST(n_name AS DOUBLE) / n, 1.0 / n),
      |      1.0 - 1.0 / n) AS u_name,
      |    least(greatest(CAST(n_seg AS DOUBLE) / n, 1.0 / n),
      |      1.0 - 1.0 / n) AS u_seg,
      |    least(greatest(CAST(n_band AS DOUBLE) / n, 1.0 / n),
      |      1.0 - 1.0 / n) AS u_band
      |  FROM g),
      |w AS (
      |  SELECT p.a_key, p.b_key, p.name_eq, p.seg_eq, p.band_eq,
      |    round(CASE WHEN name_eq
      |      THEN log2(CAST(0.95 AS DOUBLE) / u_name)
      |      ELSE log2((1.0 - CAST(0.95 AS DOUBLE)) / (1.0 - u_name))
      |      END, 6) AS w_name_eq,
      |    round(CASE WHEN seg_eq
      |      THEN log2(CAST(0.9 AS DOUBLE) / u_seg)
      |      ELSE log2((1.0 - CAST(0.9 AS DOUBLE)) / (1.0 - u_seg))
      |      END, 6) AS w_seg_eq,
      |    round(CASE WHEN band_eq
      |      THEN log2(CAST(0.85 AS DOUBLE) / u_band)
      |      ELSE log2((1.0 - CAST(0.85 AS DOUBLE)) / (1.0 - u_band))
      |      END, 6) AS w_band_eq
      |  FROM p CROSS JOIN u),
      |s AS (
      |  SELECT a_key, b_key,
      |    (CASE WHEN name_eq THEN '1' ELSE '0' END)
      |      || (CASE WHEN seg_eq THEN '1' ELSE '0' END)
      |      || (CASE WHEN band_eq THEN '1' ELSE '0' END) AS pattern,
      |    round(w_name_eq + w_seg_eq + w_band_eq, 6) + 0.0 AS score
      |  FROM w)"""
}
