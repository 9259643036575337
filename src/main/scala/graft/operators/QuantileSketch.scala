package graft.operators

import graft.functions.Scalars
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructType}

/** Bottom-k quantile sketch — the mergeable rank/quantile summary
  * completing the sketch family (KMV cardinality / HLL rollup /
  * SpaceSaving top-k / Count-Min frequency / this one for quantiles).
  *
  * The classic streaming quantile sketches (GK, KLL, t-digest) are
  * arrival-order dependent, so their CONTENTS cannot be replayed by an
  * independent engine (the q73 problem). This summary instead is a
  * bottom-k sample in the Cohen & Kaplan 2007 sense: the rows whose
  * KEY draws the k smallest [[Scalars.portableHash64]] values — a
  * uniform without-replacement sample that is a pure function of the
  * key SET. Deterministic, so DuckDB replays sketch, merge, AND
  * estimate bit-for-bit; mergeable, because the global bottom-k of a
  * union is the bottom-k of the concatenated per-part bottom-k's (a
  * part row outside its part's bottom-k cannot be in the global one —
  * the Kmv / CountMin fold algebra); and the estimator is the
  * empirical (type-1) quantile of the sampled VALUES, carrying the
  * standard O(1/√k) rank error of a uniform k-sample.
  *
  * Scale shape: the per-group build is one hash-partitioned top-k
  * window ([[Sampling.reservoirPerGroup]]'s selection, k-bounded
  * output); the global build and the merge are TakeOrderedAndProject
  * (never a global sort); estimates touch only sketch rows (≤ k per
  * group) — the base data is read exactly once, at build.
  */
object QuantileSketch {

  /** Per-group sketch: `(groupCols*, h, key, value)`, the ≤ k rows of
    * each group with the smallest (hash, key); with no group columns,
    * the global sketch as a TakeOrderedAndProject.
    *
    * CONTRACT: `keyCol` must be unique within the build (a primary
    * key — doc_id, custkey). Duplicate keys make "pure function of
    * the key set" ill-defined AND the (hash, key) order non-total, so
    * the k-boundary could cut a tie group arbitrarily. The operator
    * does not dedup internally — that would charge the common
    * unique-key case a full shuffle the TakeOrdered path avoids;
    * callers with re-ingested keys collapse them first (what
    * [[foldIntoStore]] does for its batch). */
  def sketch(df: DataFrame, groupCols: Seq[String], keyCol: String,
             valueCol: String, k: Int): DataFrame = {
    require(k >= 2 && k <= 1000000, s"k=$k outside [2, 1e6]")
    val h = Scalars.portableHash64(col(keyCol))
    val base = df.select(groupCols.map(col) ++ Seq(h.as("h"),
      col(keyCol).as("key"), col(valueCol).as("value")): _*)
    if (groupCols.isEmpty)
      base.orderBy(col("h"), col("key")).limit(k)
    else {
      val w = Window.partitionBy(groupCols.map(col): _*)
        .orderBy(col("h"), col("key"))
      base.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= k).drop("__rn")
    }
  }

  /** Fold per-group sketches into ONE global sketch: re-take the
    * bottom-k over the concatenated sketch rows. Lossless relative to
    * sketching the union directly (proved value-equal by the q151
    * oracle and pinned by SketchSpec), and it never re-reads base
    * data. */
  def mergeToGlobal(sk: DataFrame, k: Int): DataFrame =
    sk.select(col("h"), col("key"), col("value"))
      .orderBy(col("h"), col("key")).limit(k)

  /** Type-1 empirical quantile estimates off a sketch: one row per
    * requested p with the sampled value at rank `max(1, ⌈p·n⌉)`. The
    * sort is an in-row `sort_array` over ≤ k values — no shuffle. */
  def estimate(sk: DataFrame, ps: Seq[Double],
               estCol: String = "est"): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1),
      s"quantiles $ps outside (0, 1]")
    val vs = sort_array(collect_list(col("value")))
    sk.agg(vs.as("__vs"))
      .select(explode(array(ps.map(p =>
        struct(lit(p).as("p"), atRank(col("__vs"), p).as(estCol))): _*))
        .as("e"))
      .select(col("e.p").as("p"), col(s"e.$estCol").as(estCol))
  }

  private def atRank(vs: Column, p: Double): Column =
    element_at(vs,
      greatest(lit(1L), ceil(lit(p) * size(vs))).cast("int"))

  /** DuckDB spelling of [[atRank]] over a sorted-list expression. */
  def sqlAtRank(vsExpr: String, p: Double): String =
    s"($vsExpr)[GREATEST(1, CAST(ceil($p * len($vsExpr)) AS BIGINT))]"

  /** Approximate CDF transform — each row's percentile rank estimated
    * against the broadcast k-sample (count of sampled values ≤ v,
    * over the sample size). This is the scan-speed alternative to an
    * exact `percent_rank`, which is a GLOBAL sort: one task sorts the
    * corpus (the q125 anti-pattern). Here the sample aggregates to a
    * single sorted array row, broadcasts, and every row scores with
    * an in-row O(k) filter — no shuffle of the data at all. Rank
    * error is the sample's O(1/√k) (SketchSpec pins a 4/√k bound
    * against the exact empirical CDF). */
  def approxPercentile(df: DataFrame, sk: DataFrame, valueCol: String,
                       outCol: String = "est_pct"): DataFrame = {
    val sample = sk.agg(sort_array(collect_list(col("value"))).as("__vs"))
    df.crossJoin(broadcast(sample))
      .withColumn(outCol,
        size(filter(col("__vs"), x => x <= col(valueCol))).cast("double") /
          size(col("__vs")).cast("double"))
      .drop("__vs")
  }

  /** DuckDB spelling of [[approxPercentile]]'s per-row estimate, over
    * a sorted-list expression. */
  def sqlApproxPercentile(vsExpr: String, valueExpr: String): String =
    s"CAST(len(list_filter($vsExpr, x -> x <= $valueExpr)) AS DOUBLE)" +
      s" / CAST(len($vsExpr) AS DOUBLE)"

  // ----- persisted store + incremental fold (the CountMin/MinHash
  // store discipline: the manifest travels with the rows and folds
  // sign with ITS k, so a drifted caller cannot corrupt the sample) --

  /** A persisted sketch: the sample rows plus the manifest k they
    * were selected under. Keys persist as strings (the hash is over
    * the string rendering anyway), so the store schema is stable
    * whatever the source key type. */
  final case class QuantileStore(rows: DataFrame, k: Int)

  /** Schema of a persisted sample's rows — pinned on every read, so
    * reading a store launches no schema-inference job. */
  val RowSchema: StructType = new StructType()
    .add("h", LongType).add("key", StringType).add("value", DoubleType)

  /** Layout: `<path>/params` is the one-line manifest `k=<k>`
    * ([[Stores.writeManifest]] — an atomic marker write, no Spark
    * job), `<path>/rows` the generation store of `(h, key, value)`
    * sample rows ([[RowSchema]]).
    *
    * Write ORDER is the crash contract (the [[CountMin.writeStore]]
    * discipline): params first, committed rows second, so the rows
    * commit (a [[Stores.commitPayload]] pointer flip) is the single
    * commit point — a crash in between leaves no committed rows and
    * the creation batch re-folds cleanly, instead of a
    * stamped-but-manifestless store that silently erases prior
    * samples on the next fold. */
  def writeStore(sk: DataFrame, path: String, k: Int,
                 applied: Long = -1L,
                 writer: Option[String] = None): Unit = {
    Stores.writeManifest(sk.sparkSession, s"$path/params", "k" -> k)
    writeRows(sk, path, applied, writer)
  }

  /** The commit write alone — the merge branch's write (manifest
    * immutable after creation, so rewriting it would reopen the
    * desync window the [[writeStore]] ordering closes). Lands in a
    * fresh generation dir and commits via the pointer flip, so a
    * crash mid-write can never erase the committed sample. */
  private def writeRows(sk: DataFrame, path: String,
                        applied: Long,
                        writer: Option[String] = None): Unit =
    Stores.commitPayload(sk.sparkSession, s"$path/rows",
        applied, writer) { dir =>
      sk.select(col("h"), col("key").cast("string").as("key"),
          col("value").cast("double").as("value"))
        .write.mode("overwrite").parquet(dir)
    }

  /** Read a [[writeStore]] sample back, manifest included. Zero Spark
    * jobs: the manifest is a marker read and the rows are read with
    * the pinned [[RowSchema]]. */
  def readStore(spark: org.apache.spark.sql.SparkSession,
                path: String): QuantileStore = {
    val p = Stores.readManifest(spark, s"$path/params").getOrElse(
      throw new IllegalStateException(s"no quantile manifest under $path"))
    QuantileStore(
      Stores.readPayload(spark, s"$path/rows", Some(RowSchema)),
      p("k").toInt)
  }

  /** Fold a batch into a persisted sketch: create the store with the
    * caller's k when absent, otherwise re-take the bottom-k under the
    * MANIFEST's k over the stored rows ∪ the batch's rows, collapsing
    * re-folded keys (a re-ingested key — within the batch or across
    * batches — keeps its smallest observed value, a deterministic
    * policy; callers whose values mutate should version their keys).
    * Collapse and re-take run as ONE aggregation plus a
    * TakeOrderedAndProject: a batch key outside the batch's own
    * bottom-k cannot enter the global one, so pre-sketching the batch
    * would only add a shuffle. The merge reads the current generation
    * and commits the next ([[Stores.commitPayload]]), so the read and
    * the write can never touch the same files; the store is ≤ k rows.
    *
    * `batchId` (a foreachBatch id) makes the fold replay-idempotent:
    * a batch whose id is already stamped into the store is a no-op
    * (see [[Stores]] for why the stamp rides the rows write).
    * Existence — and the replay guard — keys on the ROWS pointer, the
    * commit point: committed rows imply the params manifest (written
    * first), so stamp-present always means fully committed. */
  def foldIntoStore(batch: DataFrame, keyCol: String, valueCol: String,
                    path: String, k: Int,
                    batchId: Option[Long] = None,
                    writer: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val exists = Stores.payloadExists(spark, s"$path/rows")
    val last = Stores.lastApplied(spark, s"$path/rows")
    if (batchId.exists(_ <= last)) return // replayed micro-batch
    val applied = math.max(last, batchId.getOrElse(-1L))
    val key = col(keyCol).cast("string")
    val rows = batch.select(Scalars.portableHash64(key).as("h"),
      key.as("key"), col(valueCol).cast("double").as("value"))
    val collapse = (all: DataFrame, kk: Int) => {
      require(kk >= 2 && kk <= 1000000, s"k=$kk outside [2, 1e6]")
      mergeToGlobal(all.groupBy(col("h"), col("key"))
        .agg(min(col("value")).as("value")), kk)
    }
    if (!exists) writeStore(collapse(rows, k), path, k, applied, writer)
    else {
      val store = readStore(spark, path)
      // manifest immutable: rows only
      writeRows(collapse(store.rows.unionByName(rows), store.k), path,
        applied, writer)
    }
  }
}
