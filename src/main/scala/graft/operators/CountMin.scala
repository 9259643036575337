package graft.operators

import graft.functions.Scalars
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}

/** Count-Min sketch (Cormode & Muthukrishnan 2005) — the mergeable
  * point-frequency summary that, like [[Kmv]] and unlike SpaceSaving,
  * is exactly reproducible cross-engine: cells are addressed by
  * [[Scalars.portableHash64]] of a row-salted rendering of the value,
  * so DuckDB replays build, merge AND estimate bit-for-bit. (q73's
  * SpaceSaving estimates depend on encounter order and can only be
  * rows-only checked; this sketch closes that gap for the frequency
  * question the reference's trending-entity rollups keep asking.)
  *
  * The sketch is a depth×width counter grid kept as a SPARSE
  * `(row, pos, cnt)` frame — an absent cell is zero. Estimates take
  * the MIN over the `depth` addressed cells, so they never undercount
  * and overcount only when every row collides (probability ~
  * (load/width)^depth).
  *
  * Scale shape: build is ONE map-side-combined groupBy over the
  * depth-way exploded increments; the result is ≤ groups × depth ×
  * width rows regardless of input volume. Merge is counter addition —
  * associative and commutative, so per-partition / per-day sketches
  * fold upward without re-reading base data (the q123 rollup
  * posture). Point estimates broadcast the kilobyte-sized cell frame
  * to the probe side; nothing shuffles on corpus size.
  */
object CountMin {

  /** Row-`i` cell position of `v`: the portable hash of the
    * row-salted rendering (`"i|" + v`), mod `width`. The hash is
    * 60-bit positive, so `%` needs no pmod guard. */
  def position(v: Column, i: Int, width: Int): Column =
    Scalars.portableHash64(concat(lit(s"$i|"), v.cast("string"))) % width

  /** DuckDB spelling of [[position]] — same rendered salt string,
    * same md5 arithmetic. */
  def sqlPosition(e: String, i: Int, width: Int): String =
    s"(${Scalars.sqlPortableHash64(s"'$i|' || CAST($e AS VARCHAR)")} % $width)"

  /** Per-group sparse cells `(groupCols*, row, pos, cnt)`: each input
    * row increments one cell per sketch row. */
  def sketch(df: DataFrame, groupCols: Seq[String], valueCol: String,
             depth: Int, width: Int): DataFrame =
    increments(df, groupCols, valueCol, depth, width)
      .groupBy((groupCols :+ "row" :+ "pos").map(col): _*)
      .agg(count(lit(1)).as("cnt"))

  /** The un-aggregated increments `(groupCols*, row, pos)` behind
    * [[sketch]]: one row per input row and sketch row. */
  private def increments(df: DataFrame, groupCols: Seq[String],
                         valueCol: String, depth: Int,
                         width: Int): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth=$depth outside [1, 16]")
    require(width >= 2, s"width=$width — need at least 2 buckets")
    val incs = (0 until depth).map(i =>
      struct(lit(i).as("row"),
        position(col(valueCol), i, width).as("pos")))
    df.select(groupCols.map(col) :+ explode(array(incs: _*)).as("c"): _*)
      .select(groupCols.map(col) :+ col("c.row").as("row") :+
        col("c.pos").as("pos"): _*)
  }

  /** Merge sketches upward (e.g. month → global): counter addition.
    * Exactly the sketch of the concatenated base data, because cell
    * addressing is a pure function of the value. */
  def merge(cells: DataFrame, mergeTo: Seq[String]): DataFrame =
    cells.groupBy((mergeTo :+ "row" :+ "pos").map(col): _*)
      .agg(sum(col("cnt")).as("cnt"))

  /** A persisted grid: the cells plus the manifest parameters they
    * were addressed with. As with the MinHash store, a silent
    * parameter mismatch is the worst failure mode — cells addressed
    * at width 256 probed at width 512 return garbage that still
    * LOOKS like counts — so the manifest travels with the cells and
    * folds sign with ITS parameters, not the caller's. */
  final case class CountMinStore(cells: DataFrame, depth: Int, width: Int)

  /** Schema of a persisted grid's cells — pinned on every read, so
    * reading a store launches no schema-inference job. */
  val CellSchema: StructType = new StructType()
    .add("row", IntegerType).add("pos", LongType).add("cnt", LongType)

  /** Persist a merged grid (no group columns) with its manifest.
    * `applied` stamps the cells write with the highest foreachBatch
    * id folded in ([[Stores]]); -1 for batch-built stores.
    *
    * Layout: `<path>/params` is the one-line manifest
    * `depth=<d> width=<w>` ([[Stores.writeManifest]] — an atomic
    * marker write, no Spark job), `<path>/cells` the generation store
    * of `(row, pos, cnt)` cells ([[CellSchema]]).
    *
    * Write ORDER is the crash contract: params first, committed cells
    * second, so the cells commit (a [[Stores.commitPayload]] pointer
    * flip) is the single commit point. A crash after params but
    * before the flip leaves no committed cells — readers and
    * [[foldIntoStore]] treat the store as absent and the creation
    * batch re-folds cleanly. (The reverse order had a window where a
    * stamped-but-manifestless store made the replay a no-op while the
    * next batch took the creation branch and erased prior counts.) */
  def writeStore(cells: DataFrame, path: String, depth: Int,
                 width: Int, applied: Long = -1L,
                 writer: Option[String] = None): Unit = {
    Stores.writeManifest(cells.sparkSession, s"$path/params",
      "depth" -> depth, "width" -> width)
    writeCells(cells, path, applied, writer)
  }

  /** The commit write alone — used by the merge branch, where the
    * manifest is immutable and rewriting it would reopen the very
    * params/payload desync window [[writeStore]]'s ordering closes.
    * The write lands in a fresh generation dir and commits via the
    * pointer flip ([[Stores.commitPayload]]), so a crash mid-write
    * can never erase the previously committed grid. The `applied`
    * stamp rides the pointer (committed atomically with the flip),
    * keeping the payload schema free of bookkeeping columns. */
  private def writeCells(cells: DataFrame, path: String,
                         applied: Long,
                         writer: Option[String] = None): Unit =
    Stores.commitPayload(cells.sparkSession, s"$path/cells",
        applied, writer) { dir =>
      cells.write.mode("overwrite").parquet(dir)
    }

  /** Read a [[writeStore]] grid back, manifest included (the
    * idempotence stamp stays out of query plans). Zero Spark jobs:
    * the manifest is a marker read and the cells are read with the
    * pinned [[CellSchema]]. */
  def readStore(spark: org.apache.spark.sql.SparkSession,
                path: String): CountMinStore = {
    val p = Stores.readManifest(spark, s"$path/params").getOrElse(
      throw new IllegalStateException(s"no Count-Min manifest under $path"))
    CountMinStore(
      Stores.readPayload(spark, s"$path/cells", Some(CellSchema)),
      p("depth").toInt, p("width").toInt)
  }

  /** Fold a batch into a persisted grid by counter addition: create
    * the store with (`depth`, `width`) when absent, otherwise address
    * the batch with the MANIFEST's parameters (the caller's are for
    * creation only — a drifted caller cannot corrupt an existing
    * grid) and commit the merged cells. The merge is ONE aggregation:
    * the stored cells and the batch's per-row increments (`cnt = 1`)
    * are summed in a single `groupBy(row, pos)` — counter addition
    * is associative, so this equals sketching the batch and merging
    * the two grids, minus one shuffle. It reads the current
    * generation and writes the NEXT ([[Stores.commitPayload]]), so
    * the read and the write can never touch the same files; the grid
    * is ≤ depth×width rows, so this is kilobytes.
    *
    * `batchId` (a foreachBatch id) makes the fold replay-idempotent:
    * a batch whose id is already stamped into the store is a no-op
    * (see [[Stores]] for why the stamp rides the cells write).
    * Existence — and therefore the replay guard — keys on the CELLS
    * pointer, the commit point: a stamp can only exist inside
    * committed cells, and committed cells imply the params manifest
    * (written first), so stamp-present always means fully committed. */
  def foldIntoStore(batch: DataFrame, valueCol: String, path: String,
                    depth: Int, width: Int,
                    batchId: Option[Long] = None,
                    writer: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val exists = Stores.payloadExists(spark, s"$path/cells")
    val last = Stores.lastApplied(spark, s"$path/cells")
    if (batchId.exists(_ <= last)) return // replayed micro-batch
    val applied = math.max(last, batchId.getOrElse(-1L))
    if (!exists) {
      writeStore(sketch(batch, Seq.empty, valueCol, depth, width),
        path, depth, width, applied, writer)
    } else {
      val store = readStore(spark, path)
      val grown = merge(
        store.cells.unionByName(
          increments(batch, Seq.empty, valueCol, store.depth, store.width)
            .withColumn("cnt", lit(1L))),
        Seq.empty)
      // manifest immutable: cells only
      writeCells(grown, path, applied, writer)
    }
  }

  /** Point-frequency estimate per probe row: MIN over the `depth`
    * addressed cells, absent cells counting zero. `cells` must be a
    * single merged sketch (no group columns); it is broadcast — the
    * grid is kilobytes no matter what it summarized. Estimates are
    * ≥ the true count always (min of cells that each contain the true
    * count plus collision noise). */
  def pointEstimate(cells: DataFrame, probe: DataFrame, valueCol: String,
                    depth: Int, width: Int): DataFrame = {
    val keep: Seq[Column] = probe.columns.map(col).toSeq
    val incs = (0 until depth).map(i =>
      struct(lit(i).as("row"),
        position(col(valueCol), i, width).as("pos")))
    probe.select(keep :+ explode(array(incs: _*)).as("c"): _*)
      .select(keep :+ col("c.row").as("row") :+ col("c.pos").as("pos"): _*)
      .join(broadcast(cells), Seq("row", "pos"), "left")
      .groupBy(keep: _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }
}
