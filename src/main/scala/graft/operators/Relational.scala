package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's relational operator inventory (SURVEY §2.2–§2.9) as
  * pure `DataFrame => DataFrame` transformations. Every function is
  * lazy/declarative: it builds a logical plan and lets Catalyst handle
  * pushdown, pruning, and join selection.
  */
object Relational {

  /** Date-part derivation (X1): decompose a timestamp column into
    * year/month/day INTEGER columns, as the reference does to every
    * source date (`daily_dag.py:62-66`, `weekly_dag.py:407-410`).
    * Unlike the reference, the original column is kept by default —
    * SURVEY §7.5.6: store the real date AND the parts.
    */
  def withDateParts(df: DataFrame, dateCol: String,
                    dropDate: Boolean = false): DataFrame = {
    val out = df
      .withColumn("year", year(col(dateCol)))
      .withColumn("month", month(col(dateCol)))
      .withColumn("day", dayofmonth(col(dateCol)))
    if (dropDate) out.drop(dateCol) else out                       // P1
  }

  /** Bulk positional rename (P2) — `df.columns = [...]`
    * (`daily_dag.py:104-105`). */
  def renameAll(df: DataFrame, names: Seq[String]): DataFrame = {
    require(names.length == df.columns.length,
      s"renameAll: ${names.length} names for ${df.columns.length} columns")
    df.toDF(names: _*)
  }

  /** Projection-to-declared-schema with per-column cast (P3) — the
    * reference's `.astype(...)` blocks (`daily_dag.py:107-116` etc.).
    * Column order and types come from the target schema; extra input
    * columns are dropped, missing ones are an analysis error.
    */
  def castToSchema(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.map(f => col(f.name).cast(f.dataType)): _*)

  /** Partition probe (F1/S5): conjunctive equality predicate on the
    * date-part key — `WHERE year={y} AND month={m} [AND day={d}]`
    * (`daily_dag.py:80`, `weekly_dag.py:112` ...). On a parquet layout
    * partitioned by (year, month) this is pure partition pruning.
    */
  def partitionProbe(df: DataFrame, year: Int, month: Int,
                     day: Option[Int] = None): DataFrame = {
    val base = df.filter(col("year") === year && col("month") === month)
    day.fold(base)(d => base.filter(col("day") === d))
  }

  /** Pin a model-sized frame to the driver and re-parallelize it as a
    * 1-partition local relation (the kCenterCoreset discipline): the
    * pinned frame re-broadcasts into later passes without recomputing
    * its plan and without leaving cache or checkpoint blocks behind.
    * `cap` bounds driver memory — the collect fetches at most cap+1
    * rows before the guard fires — and is the house invariant that
    * EVERY driver-side collect in main is mechanically guard-bounded
    * (centroid sets ≤4096, per-cell stats ≤256, moment rows = 1,
    * calendar spines ≤16384: a 44-year daily history before the
    * guard trips, and day count grows with history, not volume). */
  def pinSmall(df: DataFrame, cap: Int, what: String): DataFrame = {
    val rows = df.limit(cap + 1).collect()
    require(rows.length <= cap,
      s"$what frame exceeds the bounded-driver-materialization " +
        s"guard $cap")
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.parallelize(rows.toIndexedSeq, 1),
      df.schema)
  }

  /** Total order of a BOUNDED result in one task: `coalesce(1)` then a
    * local sort, instead of `orderBy`'s range-partitioned sort (a
    * sampling job, a shuffle-map job and a result job for a few dozen
    * rows). Same rows, same order, same NULL placement as
    * `orderBy(cols: _*)`.
    *
    * The rule: `coalesce(1)` is narrow, so it merges every partition of
    * the LAST STAGE, not only the result. The stage feeding it must be
    * bounded — it ends in an aggregate, a join or union of aggregates,
    * or a bounded store read. Each call site carries a one-line bound
    * proof; a result whose bound is not evident keeps `orderBy`. */
  def orderBounded(df: DataFrame, cols: Column*): DataFrame =
    df.coalesce(1).sortWithinPartitions(cols: _*)

  /** One named aggregate of a [[Slice]]: `fn` over `input`. */
  final case class SliceAgg(name: String, fn: Column => Column, input: Column)

  /** A filtered sub-relation for [[sliceAggregate]]: its rows are those
    * where `filter` is true, and its named aggregates run over them. */
  final case class Slice(name: String, filter: Column, aggs: SliceAgg*)

  /** Sibling aggregates of ONE relation in one scan and one shuffle:
    * the fused form of per-slice `filter.groupBy(keys).agg(...)` frames
    * that a caller would otherwise join ([[multiJoin]]) or anti-join
    * ([[newKeysOnly]]) on the keys: the per-slice scans, shuffles and
    * join exchanges collapse into one aggregate.
    *
    * `df` is pre-filtered to the OR of the slice filters; one
    * `groupBy(keys)` then evaluates every slice aggregate over
    * `when(filter, input)`, so a row feeds exactly the slices whose
    * filter holds (a NULL filter counts as false, as in `filter`).
    * Output columns: the keys, then per slice its count and its
    * aggregates. Per key, column `slice.name` is the slice's row count
    * — 0 where the separate aggregate would have had no row for the
    * key, which is what a caller tests to rebuild join semantics: all
    * slices > 0 for an inner join, "first present slice wins" for the
    * null-safe `newKeysOnly` ∪ union. Aggregates must ignore NULL
    * inputs (sum, count, min, max do); their values then equal the
    * separate aggregates' wherever the slice is present. NULL keys
    * group together, as in `groupBy`; an inner-join caller drops them. */
  def sliceAggregate(df: DataFrame, keys: Seq[Column],
                     slices: Seq[Slice]): DataFrame = {
    require(slices.nonEmpty, "sliceAggregate needs at least one slice")
    val aggs = slices.flatMap { s =>
      count(when(s.filter, lit(1))).as(s.name) +:
        s.aggs.map(a => a.fn(when(s.filter, a.input)).as(a.name))
    }
    df.filter(slices.map(_.filter).reduce(_ || _))
      .groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Multi-way inner equi-join fold (J1) — the reference's
    * `reduce(pd.merge, on=key)` over per-indicator series
    * (`weekly_dag.py:393-394`) built from SEPARATE relations (series of
    * one relation fuse with [[sliceAggregate]] instead). Catalyst picks
    * broadcast-hash for the small sides; the fold shape itself imposes
    * no execution order.
    */
  def multiJoin(dfs: Seq[DataFrame], keys: Seq[String]): DataFrame =
    dfs.reduce((l, r) => l.join(r, keys, "inner"))

  /** Left-anti "keep only new keys" (J2) — the distributed rewrite of
    * the reference's row-at-a-time dedup probe loop
    * (`weekly_dag.py:420-427`, author comment "This is super slow").
    * One anti-join replaces N sequential warehouse round-trips.
    * `existing` is projected to the key columns first so only the key
    * set shuffles/broadcasts, never the full sink table.
    *
    * NULL-SAFE on every key column (`<=>`): a NULL-keyed row already
    * present in the sink must read as present, or every re-run would
    * append it again — breaking the running-twice-equals-once
    * contract [[graft.operators.Sinks.dedupAppend]] promises. (The
    * reference's equality probe re-inserted NULL-keyed rows forever;
    * the ported contract is its INTENT — exactly-once per key — per
    * the §3.3 upsert precedent.) Still an equi-join to the planner:
    * EqualNullSafe extracts as hash-join keys, so the plan stays
    * broadcast/shuffled-hash — PlanAuditSpec's no-BNL rule holds
    * registry-wide. */
  def newKeysOnly(candidates: DataFrame, existing: DataFrame,
                  keys: Seq[String]): DataFrame = {
    val ex = existing.select(keys.map(col): _*).dropDuplicates(keys)
      .toDF(keys.map("__existing_" + _): _*)
    candidates.join(ex,
      keys.map(k => candidates(k) <=> ex(s"__existing_$k"))
        .reduce(_ && _),
      "left_anti")
  }

  /** Vertical union of homogeneous frames (U1) — `pd.concat`
    * (`daily_dag.py:96`). By-name to be robust to column order. */
  def unionAll(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_))

  /** Bag (multiset) equality (A2) — the reference's
    * `pulled_df.equals(newdf)` change-detection gate
    * (`weekly_dag.py:131,213,276,349`), order-insensitive. */
  def bagEquals(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** Key-value long → wide pivot (R1): replaces the reference's brittle
    * positional `.loc[idx, "Value"]` lookups (`weekly_dag.py:81-88`)
    * with a name-keyed pivot. `metrics` is the explicit value list —
    * always pass it so Spark skips the extra distinct-collect job and
    * the output schema is stable.
    *
    * The cell aggregate is `max`, not `first`: the contract is one
    * value per (key, metric), but a payload that violates it must
    * still pivot DETERMINISTICALLY — `first` is partition-order-
    * dependent, and any nondeterminism here poisons every downstream
    * digest (the [[graft.operators.Sinks.upsertPartitions]] change
    * detector would read a re-pivoted identical table as "changed"
    * and rewrite every partition on every run). `max` picks the same
    * arbitrary-but-stable value on every executor layout. */
  def pivotKV(long: DataFrame, keyCol: String, metricCol: String,
              valueCol: String, metrics: Seq[String]): DataFrame =
    long.groupBy(col(keyCol))
      .pivot(metricCol, metrics)
      .agg(max(col(valueCol)))

  /** Column profile (warehouse data-quality pass): one row per
    * requested column with row/non-null/distinct counts and min/max
    * (rendered to string for a uniform schema). Two hash-shaped tiers
    * instead of Spark's multi-`countDistinct` plan (an Expand whose
    * string min/max buffers force a SortAggregate over |cols|+1 × rows
    * with a wide sort key — the slow shape at any scale):
    *
    *  - distinct tier: a union of COLUMN-PRUNED single-column scans
    *    (each branch reads exactly one column, IsNotNull pushed),
    *    deduped by pure hash aggregation — no agg buffers, so no sort
    *    fallback; shuffle volume is the distinct sets themselves,
    *    identical to what countDistinct shuffles.
    *  - stats tier: one grouping-free aggregate for counts/min/max —
    *    empty grouping keys need no sort even with string buffers.
    *
    * Total bytes: each profiled column is read twice, column-pruned —
    * at 100 TB that beats pushing (|cols|+1)× the row count through a
    * wide-key sort. Float/double min/max render through a
    * DECIMAL(38,6) cast: a plain double→string cast goes scientific at
    * |x| ≥ 1e7 in Spark but stays positional in other engines, so the
    * fixed-point form is the cross-engine-stable spelling (mirror it
    * in any oracle). */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}
    val schema = df.schema
    // caller-supplied names feed a SQL string below: backtick-quote
    // every identifier (doubling embedded backticks) and escape the
    // string literal, so a name with spaces/dots/quotes profiles
    // instead of parsing as SQL of its own
    def qid(name: String): String = "`" + name.replace("`", "``") + "`"
    def slit(s: String): String =
      "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    def render(c: Column, name: String): Column =
      schema(name).dataType match {
        case DoubleType | FloatType =>
          c.cast(DecimalType(38, 6)).cast("string")
        case _ => c.cast("string")
      }
    val aggs = cols.flatMap(c => Seq(
      count(col(qid(c))).as(s"${c}__nn"),
      render(min(col(qid(c))), c).as(s"${c}__min"),
      render(max(col(qid(c))), c).as(s"${c}__max"))) :+ count(lit(1)).as("__n")
    val stats = df.agg(aggs.head, aggs.tail: _*)
    val branches = cols.zipWithIndex.map { case (c, i) =>
      val vcols = cols.zipWithIndex.map { case (c2, j) =>
        (if (j == i) col(qid(c2))
         else lit(null).cast(schema(c2).dataType)).as(s"__v$j")
      }
      df.filter(col(qid(c)).isNotNull)
        .select(lit(i).as("__gid") +: vcols: _*)
    }
    val perGid = branches.reduce(_.unionByName(_)).distinct()
      .groupBy(col("__gid")).agg(count(lit(1)).as("__ndc"))
    // fold per-column distinct counts into one row (all-null columns
    // have no branch rows → 0, matching countDistinct), then attach to
    // the stats row: a 1-row × 1-row cross by construction (the plan
    // audit whitelists this bounded broadcast)
    val ndAggs = cols.indices.map(i => coalesce(
      max(when(col("__gid") === i, col("__ndc"))), lit(0L))
      .as(s"${cols(i)}__nd"))
    val ndRow = perGid.agg(ndAggs.head, ndAggs.tail: _*)
    stats.crossJoin(ndRow)
      .select(expr(s"stack(${cols.size}, " + cols.map(c =>
          s"${slit(c)}, __n, ${qid(c + "__nn")}, ${qid(c + "__nd")}, " +
            s"${qid(c + "__min")}, ${qid(c + "__max")}")
          .mkString(", ") +
        ") AS (column, n_rows, n_nonnull, n_distinct, min_val, max_val)"))
  }

  /** Snapshot diff (CDC-style change detection — the set-valued form
    * of the reference's A2 bag-equality gate): classify every key of
    * two snapshots as added / removed / changed / unchanged. One full
    * outer join on the keys; value comparison is a null-safe struct
    * equality, so NULL-vs-value differences count as changed. At 100 TB
    * pre-aggregate or pre-hash wide value sets before calling — the
    * join ships the value struct. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   keys: Seq[String]): DataFrame = {
    val valCols = oldDf.columns.filterNot(keys.contains).toSeq
    require(valCols.nonEmpty, "snapshotDiff needs at least one value column")
    require(newDf.columns.sorted.sameElements(oldDf.columns.sorted),
      "old and new snapshots must share a schema")
    def packed(df: DataFrame, as: String) = df.select(
      keys.map(col) :+ struct(valCols.map(col): _*).as(as): _*)
    packed(oldDf, "_ov").join(packed(newDf, "_nv"), keys, "full_outer")
      .select(keys.map(col) :+
        when(col("_ov").isNull, "added")
          .when(col("_nv").isNull, "removed")
          .when(!(col("_ov") <=> col("_nv")), "changed")
          .otherwise("unchanged").as("change"): _*)
  }

  /** Per-group z-score normalization (feature engineering for the
    * training pipeline — the numeric sibling of TF-IDF's rescaling):
    * `(x − mean) / stddev` within each key group. Deliberately NOT
    * `stddev_samp()`: distributed float accumulation is not
    * cross-engine stable, so the moments (n, Σx, Σx²) are summed
    * decimal-exactly over 4-decimal-quantized values and the z-score
    * finishes in one identical double expression — the q63 recipe.
    * Two scale-shaped passes: group-cardinality moment aggregate,
    * broadcast join-back. Groups of one row (stddev undefined) get
    * null.
    *
    * Value-magnitude bound: the moment sum Σx² lives in DECIMAL(38,8),
    * so it overflows (an ANSI-mode throw, not silent corruption) when
    * Σx² ≥ 10^30 — at |x| ≤ 10^6 that is ~10^18 rows per group (never
    * reachable), but values near the DECIMAL(18,4) cap support only
    * ~100 rows per group. Z-scores are invariant under linear scaling,
    * so callers with larger magnitudes pre-divide the column by a
    * power of 10 and get the same scores with full headroom; the
    * operator keeps the one-pass exact form because the q91 oracle
    * computes the identical decimal sum on the other engine. */
  def zscoreNormalize(df: DataFrame, keys: Seq[String],
                      valueCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val xd = col(valueCol).cast(DecimalType(18, 4))
    val moments = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).cast("double").as("__n"),
        sum(xd).cast("double").as("__sx"),
        sum(xd * xd).cast("double").as("__sxx"))
    df.join(moments, keys)
      .withColumn("zscore",
        when(col("__n") > 1,
          (xd.cast("double") - col("__sx") / col("__n")) /
            sqrt((col("__n") * col("__sxx") - col("__sx") * col("__sx")) /
              (col("__n") * (col("__n") - 1))))
          .otherwise(lit(null)))
      .drop("__n", "__sx", "__sxx")
  }

  /** Cross-engine table checksum (the distributed, engine-portable
    * form of the A2 digest gate): an order-independent content hash —
    * per-row portable hash of the sentinel-joined rendered columns,
    * summed exactly (DECIMAL(38,0), so no overflow and no ordering
    * sensitivity). Two tables agree iff (n_rows, checksum) agree, on
    * ANY engine that can spell md5 — which is what lets a migration
    * validate this engine against the warehouse it replaces without
    * moving data. One scan, one scalar out; the shuffle is a single
    * partial-aggregated sum. Callers render non-portable columns
    * (doubles!) to a fixed-point spelling first (see q76's rule). */
  def tableChecksum(df: DataFrame, cols: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // \u0001 separates fields, \u0002 stands in for NULL: without the
    // sentinels ("a","b") and ("ab",null) would render identically
    val rowHash = graft.functions.Scalars.portableHash64(
      concat_ws("\u0001",
        cols.map(c => coalesce(c.cast("string"), lit("\u0002"))): _*))
    df.agg(count(lit(1)).as("n_rows"),
      sum(rowHash.cast(DecimalType(38, 0))).as("checksum"))
  }

  /** IQR outlier gate (numeric data-quality for training pipelines —
    * the quantitative sibling of the text quality score): flag rows
    * outside `[q1 − k·iqr, q3 + k·iqr]` within their key group. Two
    * passes, both scale-shaped: a per-group percentile aggregate
    * (group-cardinality rows — broadcasts) joined back onto the
    * stream. `roundBounds` rounds the fences to N decimals so the
    * flag is engine-portable (exact percentile interpolation differs
    * sub-ulp across engines; see q70's determinism rule). */
  def iqrOutliers(df: DataFrame, keys: Seq[String], valueCol: String,
                  k: Double = 1.5,
                  roundBounds: Option[Int] = None): DataFrame = {
    val iqr = col("__q3") - col("__q1")
    def r(c: Column) = roundBounds.map(d => round(c, d)).getOrElse(c)
    val bounds = df.groupBy(keys.map(col): _*)
      .agg(percentile(col(valueCol), lit(0.25)).as("__q1"),
        percentile(col(valueCol), lit(0.75)).as("__q3"))
      .select(keys.map(col) :+
        r(col("__q1") - lit(k) * iqr).as("__lo") :+
        r(col("__q3") + lit(k) * iqr).as("__hi"): _*)
    df.join(bounds, keys)
      .withColumn("is_outlier",
        col(valueCol) < col("__lo") || col(valueCol) > col("__hi"))
      .drop("__lo", "__hi")
  }

  /** Forward fill (last observation carried forward — the gap-repair
    * pass a sparse time series needs before joins or training): each
    * null in `valueCols` takes the latest preceding non-null within
    * its key group. One hash shuffle on the keys; the running frame
    * evaluates inside each partition with no further exchange — the
    * same scale shape as every window here. The ordering must be made
    * total (pass a tie-breaker) or fills on tied timestamps are
    * nondeterministic. */
  def fillForward(df: DataFrame, keys: Seq[String], orderCols: Seq[String],
                  valueCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    valueCols.foldLeft(df) { (acc, c) =>
      acc.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
  }

  /** Wide → tall melt (the inverse of the R1 pivot): one output row
    * per (id row, value column). Spark's native `unpivot` — an Expand
    * under the hood, shuffle-free and codegen'd; the value columns
    * must share a type (cast before calling). */
  def melt(df: DataFrame, idCols: Seq[String], valueCols: Seq[String],
           varName: String, valueName: String): DataFrame =
    df.unpivot(idCols.map(col).toArray, valueCols.map(col).toArray,
      varName, valueName)

  /** CDC APPLY (the inverse of [[snapshotDiff]] — the merge a change
    * feed needs to land in a warehouse table): fold a stream of keyed
    * insert/update/delete change rows into a base snapshot, latest
    * change per key winning. `changes` carries the base schema plus
    * `opCol` ('I'/'U'/'D') and a monotonically increasing `seqCol`
    * (commit version / log offset) that totally orders changes to the
    * same key.
    *
    * Shape at scale: one window over `changes` (partitioned by key —
    * change feeds are small relative to the base), then ONE anti-join
    * of the base against touched keys (broadcastable: change-feed
    * sized) and a union of the surviving change rows. The base table
    * streams through exactly once, no shuffle on the base side when
    * the anti-join broadcasts. */
  def applyChanges(base: DataFrame, changes: DataFrame, keys: Seq[String],
                   opCol: String, seqCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(keys.nonEmpty, "applyChanges needs at least one key column")
    val dataCols = base.columns.toSeq
    require(
      changes.columns.toSet == (dataCols.toSet + opCol + seqCol),
      s"changes must carry the base schema plus $opCol and $seqCol")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(seqCol).desc, col(opCol)) // op tie-break: D < I < U
    val latest = changes
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    // null-safe anti via newKeysOnly: the window above groups a NULL
    // key as ONE partition, so the join must match it too — under
    // plain equality a NULL-keyed base row survived every change
    // (an Update then DUPLICATED it in the union below, and a Delete
    // could never delete it)
    val untouched = newKeysOnly(base, latest, keys)
    val applied = latest.filter(col(opCol) =!= "D")
      .select(dataCols.map(col): _*)
    untouched.unionByName(applied)
  }

  /** Top-k per group (SURVEY §2.6 ★) via row_number — the scalable
    * pattern (no global sort; one hash-partitioned window). */
  def topKPerGroup(df: DataFrame, partitionCols: Seq[Column],
                   orderCols: Seq[Column], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(partitionCols: _*).orderBy(orderCols: _*)
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** Equi-width histogram of a numeric column (profiling's
    * distribution tier — q76 gives moments, this gives shape):
    * `(bucket, lo, hi, n)`, empty buckets absent. Two passes, both
    * scale-flat: a 2-scalar bounds aggregate broadcast onto the scan,
    * then one groupBy on the bucket id. The max value closes into the
    * last bucket; a constant column lands entirely in bucket 0.
    * Bounds are ROUNDED in the output only — bucket assignment uses
    * the raw double formula, identical on any engine. */
  def histogram(df: DataFrame, valueCol: String, nBuckets: Int): DataFrame = {
    require(nBuckets >= 1 && nBuckets <= 100000,
      s"nBuckets=$nBuckets outside [1, 100000]")
    val vals = df.select(col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
    val bounds = vals.agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"))
    val width = (col("vmax") - col("vmin")) / nBuckets
    vals.crossJoin(broadcast(bounds))
      .select(
        when(col("vmin") === col("vmax"), 0)
          .when(col("v") === col("vmax"), nBuckets - 1)
          .otherwise(least(floor((col("v") - col("vmin")) / width),
            lit(nBuckets - 1).cast("long"))).cast("int").as("bucket"),
        col("vmin"), col("vmax"))
      .groupBy(col("bucket"), col("vmin"), col("vmax"))
      .agg(count(lit(1)).as("n"))
      .select(col("bucket"),
        round(col("vmin") + col("bucket") * width, 6).as("lo"),
        round(col("vmin") + (col("bucket") + 1) * width, 6).as("hi"),
        col("n"))
  }

  /** Gap-based sessionization (the row-level sibling of the
    * `session_window` aggregate — q43 counts sessions, this TAGS every
    * row with one, which is what downstream per-session joins need):
    * a new session starts at each row whose gap from the previous row
    * of the same key exceeds `gapSeconds`. One shuffle on the key; the
    * running sum and lag share the same window sort. Rows with equal
    * timestamps always share a session (gap 0), so the assignment is
    * deterministic under any tie order. */
  def sessionize(df: DataFrame, keyCol: String, timeCol: String,
                 gapSeconds: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(gapSeconds > 0, s"gapSeconds=$gapSeconds must be positive")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(timeCol))
    val us = expr(s"unix_micros($timeCol)")
    val newSession = when(
      lag(us, 1).over(w).isNull ||
        us - lag(us, 1).over(w) > gapSeconds * 1000000L, 1L).otherwise(0L)
    df.withColumn("session_seq",
      sum(newSession).over(w.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)))
  }

  /** Per-group mean imputation (feature engineering — the repair step
    * before normalization/training): NULLs in `valueCol` fill with
    * their group's mean, computed decimal-exactly (the q63/q91 moment
    * rule) so the imputed values are cross-engine identical where a
    * float `avg` is not. Groups that are entirely NULL stay NULL.
    * Same two-pass shape as [[zscoreNormalize]]: one tiny aggregate,
    * one broadcast join-back over the streamed corpus. */
  def imputeMean(df: DataFrame, keys: Seq[String],
                 valueCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val xd = col(valueCol).cast(DecimalType(18, 4))
    val means = df.groupBy(keys.map(col): _*)
      .agg((sum(xd).cast("double") / count(col(valueCol)).cast("double"))
        .as("__gmean"))
    df.join(broadcast(means), keys)
      .withColumn(valueCol,
        coalesce(col(valueCol).cast("double"), col("__gmean")))
      .drop("__gmean")
  }

  /** SCD2 dimension build: turn a change log (key, change time,
    * attributes) into versioned rows with validity intervals —
    * `valid_from` = the change time, `valid_to` = the next change's
    * time (null while current), `is_current` on the open row. The
    * warehouse-standard "type 2 slowly changing dimension" shape; a
    * fact joins it with `fact.ts >= valid_from AND (fact.ts < valid_to
    * OR valid_to IS NULL)` (the [[RangeJoin]] containment tier at
    * scale). One shuffle on the key; one window sort feeds the lead. */
  def buildScd2(changes: DataFrame, keys: Seq[String], timeCol: String,
                tieBreak: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((timeCol +: tieBreak).map(col): _*)
    changes
      .withColumn("valid_from", col(timeCol))
      .withColumn("valid_to", lead(col(timeCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Gaps-and-islands interval merge (the INTERVAL sibling of
    * [[sessionize]]'s point events): per key, overlapping-or-touching
    * [start, end] intervals coalesce into islands, emitted with their
    * span and member count. The classic shape: one window sort gives
    * the running max end; an island starts where the current start
    * exceeds it. One shuffle on the key; rows with equal starts merge
    * regardless of tie order (gap 0), so the islands are deterministic.
    */
  def mergeIntervals(df: DataFrame, keyCol: String, startCol: String,
                     endCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(startCol), col(endCol))
    val prevMaxEnd = max(col(endCol)).over(
      w.rowsBetween(Window.unboundedPreceding, -1))
    val newIsland = when(
      prevMaxEnd.isNull || col(startCol) > prevMaxEnd, 1L).otherwise(0L)
    df.withColumn("island",
        sum(newIsland).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .groupBy(col(keyCol), col("island"))
      .agg(min(col(startCol)).as("island_start"),
        max(col(endCol)).as("island_end"),
        count(lit(1)).as("n_intervals"))
  }

  /** Dictionary for a low-cardinality column: `(code, value)` with
    * dense 0-based codes in value order. The single-partition
    * row_number runs on the DISTINCT values only — dictionary-sized by
    * definition (the IVF-centroid bound pattern), never on the data.
    */
  def dictionary(df: DataFrame, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.select(col(valueCol).cast("string").as("value"))
      .filter(col("value").isNotNull).distinct()
      .withColumn("code",
        (row_number().over(Window.orderBy(col("value"))) - 1).cast("int"))
      .select(col("code"), col("value"))
  }

  /** Encode a string column through its [[dictionary]]: the column is
    * replaced by `<col>_code` (int). At scale the dictionary
    * broadcasts and the corpus streams — the standard layout move that
    * turns a wide string shuffle key into a 4-byte one. NULLs encode
    * as NULL (left join). */
  def dictionaryEncode(df: DataFrame, valueCol: String,
                       dict: DataFrame): DataFrame =
    df.join(broadcast(dict.select(col("value").as(valueCol),
        col("code").as(s"${valueCol}_code"))),
      Seq(valueCol), "left")
      .drop(valueCol)

  /** Top-p (nucleus) truncation per group: keep rows in
    * (score desc, tieBreak asc) order while the mass BEFORE a row is
    * < p·total — the smallest prefix covering at least share p, the
    * truncation data-mixing and sampling pipelines apply per source/
    * domain. Scores must be non-negative (negative mass makes the
    * prefix ill-defined). Use an exact (decimal/integer) score column
    * for cross-engine stability: the running and total sums are then
    * exact, and only the final share comparison happens in double.
    * Scale shape: ONE hash-partitioned window sort per group; the
    * total rides the same partition as an unordered frame — no second
    * shuffle, no driver-side totals. */
  def topP(df: DataFrame, groupCols: Seq[String], scoreCol: String,
           tieBreakCol: String, p: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(p > 0 && p <= 1, s"p=$p outside (0, 1]")
    val part = Window.partitionBy(groupCols.map(col): _*)
    val w = part.orderBy(col(scoreCol).desc, col(tieBreakCol))
    // enforce the documented non-negativity precondition (the
    // require() discipline, but per-row): the guard sits INSIDE the
    // window sums, so EVERY row's score passes through it — one
    // negative mass anywhere corrupts the whole group's prefix, and
    // raise_error names the culprit instead of silently returning an
    // ill-defined row set
    val guarded = when(col(scoreCol) < 0,
      raise_error(concat(lit(s"topP: negative score in '$scoreCol': "),
        col(scoreCol).cast("string")))).otherwise(col(scoreCol))
    val cum = sum(guarded)
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val tot = sum(guarded).over(part)
    df.withColumn("share",
        col(scoreCol).cast("double") / tot.cast("double"))
      .withColumn("__before",
        (cum - col(scoreCol)).cast("double") / tot.cast("double"))
      .filter(col("__before") < p)
      .drop("__before")
  }
}
