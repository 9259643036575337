package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Iterative graph analytics beyond connected components
  * ([[Dedup.connectedComponents]]): PageRank with a FIXED iteration
  * count and reproducible arithmetic in two modes.
  *
  * Oracle mode (default, the q121 discipline): every per-node inbound
  * sum folds a SORTED (src, contribution) array instead of using a
  * parallel double SUM, pinning float addition order across
  * partitionings and engines; all other arithmetic (rank/outdeg,
  * damping multiply, base add) is scalar double ops with one
  * deterministic result. By induction every iteration's ranks are
  * bit-identical wherever they're computed — and replayable by the
  * DuckDB oracle. Per-node state is the in-degree-sized sorted array,
  * fine for near-uniform graphs, wrong for a power-law hub.
  *
  * Production mode (`exactDecimalSum = true`): contributions are
  * quantized to 1e-15 units (exact in double space — 1e15 < 2^53) and
  * summed as Decimal(38,0) — exact integer addition is associative
  * and commutative, so the result is bit-reproducible under ANY
  * partitioning with O(1) per-node state: a celebrity node with
  * in-degree 10^9 sums to ≤ 1e24, far inside the decimal range.
  * The 1e-15 per-term quantization makes this mode's ranks differ
  * from the float fold in the last ~2 ulps, so it is NOT the oracle
  * replay — it's the 100 TB path.
  *
  * Scale shape: per iteration, ONE equi-join of the edge list against
  * the rank vector (shuffle on src) and ONE grouped aggregation
  * (shuffle on dst) — the standard distributed PageRank step. Each
  * iteration ends in an EAGER localCheckpoint: the lineage would
  * otherwise nest one join per round (the plan outgrows the planner
  * well before iterations=10), and eager materialization lets the
  * previous round's blocks and the edge caches be dropped as soon as
  * they stop being reachable — the [[Dedup.connectedComponents]]
  * discipline.
  */
object Graph {

  /** Decimal quantum of the production sum: contributions (≤ 1) scale
    * to ≤ 1e15, below 2^53, so the double→long quantization itself is
    * exact arithmetic. */
  private val QuantumInv = 1e15

  /** Scale-adaptive width for the iteration loops' cached /
    * checkpointed frames (guide §2: derive partitioning from input
    * size, never from the cpu count). Cached and locally-checkpointed
    * plans are EXEMPT from AQE's partition coalescing (Spark keeps
    * `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` off
    * so cached output partitioning stays reusable), so without an
    * explicit width every per-iteration scan of the edge cache and
    * the rank checkpoint launches `spark.sql.shuffle.partitions`
    * tasks regardless of data size — at sf0.1 that was 32 tasks per
    * KB-sized frame, several such stages per iteration, and the
    * 8-core bench beat the 32-core one on every iterative graph
    * query (PERF_r14's inverse-scaling block). ~2M rows per
    * partition keeps partitions in the guide §2.2 100 MB–1 GB band
    * for the ≤ ~48-byte rows these loops carry; the 2^16 cap only
    * guards against a degenerate row-count estimate. */
  private def loopWidth(rows: Long): Int =
    math.max(1L, math.min(rows / (1L << 21) + 1L, 1L << 16)).toInt

  /** `(node, rank)` after `iterations` rounds of damped PageRank over
    * the DISTINCT directed edge set. Every node must have out-degree
    * ≥ 1 (symmetrize undirected graphs first): dangling nodes would
    * silently leak rank mass, so they're rejected up front — the
    * check is one metadata-sized count, the [[Similarity]] IVF /
    * as-of guard pattern. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int, damping: Double = 0.85,
               exactDecimalSum: Boolean = false): DataFrame = {
    require(iterations >= 1 && iterations <= 10,
      s"iterations=$iterations outside [1, 10] — raise only with the " +
        "checkpoint cadence in mind")
    require(damping > 0 && damping < 1, s"damping=$damping outside (0,1)")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct().cache()
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().cache()
    // ONE metadata-sized stats job: |V| (needed as the 1/N literal),
    // the dangling-node count (out-degree 0 would silently leak rank
    // mass), and |E| (Σ outdeg — sizes the loop frames below without
    // a second pass)
    val stats = nodes
      .join(outdeg.select(col("src").as("node"), col("outdeg")),
        Seq("node"), "left")
      .agg(count(lit(1)).as("n"),
        sum(when(col("outdeg").isNull, 1L).otherwise(0L)).as("dangling"),
        coalesce(sum(col("outdeg")), lit(0L)).as("edges"))
      .head()
    val n = stats.getLong(0)
    require(n > 0, "empty graph")
    val dangling = stats.getLong(1)
    require(dangling == 0,
      s"$dangling dangling node(s) — symmetrize or add self-loops first")
    val base = (1.0 - damping) / n.toDouble
    // size the loop's materialized frames from the DATA (see
    // loopWidth): the edge cache by |E|, the rank checkpoints by |V|
    val pE = loopWidth(stats.getLong(2))
    val pV = loopWidth(n)
    // consumed once per iteration — cache the joined edge list, not
    // just the raw edges; repartitioned ONCE (outside the loop, on
    // the join key the per-iteration probe uses) so every iteration
    // scans |E|-sized partitions instead of shuffle.partitions ones
    val eo = e.join(outdeg, Seq("src")).repartition(pE, col("src"))
      .cache()
    // the node frame is ALSO scanned once per iteration (the
    // rank-completion left join) — same width treatment; the initial
    // 32-wide nodes cache stays only for the stats job above
    val nodesW = nodes.repartition(pV, col("node")).cache()
    var rank = nodesW.withColumn("rank", lit(1.0 / n.toDouble))
    // the last checkpointed frame — tracked separately from `rank`
    // (which at odd iterations is an intermediate plan built ON TOP of
    // it) so the superseded checkpoint's blocks can be freed
    var prevCkpt: Option[DataFrame] = None
    for (it <- 1 to iterations) {
      val joined = eo.join(rank, eo("src") === rank("node"))
      val summed =
        if (exactDecimalSum)
          joined
            .select(col("dst").as("node"),
              round(col("rank") / col("outdeg") * lit(QuantumInv))
                .cast(DecimalType(38, 0)).as("ci"))
            .groupBy(col("node"))
            .agg(sum(col("ci")).as("si"))
            .select(col("node"),
              (lit(base) + lit(damping) *
                (col("si").cast("double") / lit(QuantumInv))).as("rank"))
        else
          joined
            .select(col("dst").as("node"),
              struct(col("src"), (col("rank") / col("outdeg")).as("c")).as("e"))
            .groupBy(col("node"))
            .agg(array_sort(collect_list(col("e"))).as("es"))
            .select(col("node"),
              (lit(base) + lit(damping) *
                aggregate(col("es"), lit(0.0), (a, x) => a + x("c")))
                .as("rank"))
      // eager checkpoint every SECOND round plus the last: truncates
      // the join lineage before it nests past two rounds, and the
      // final checkpoint makes the returned frame self-contained so
      // the edge/node caches below can be dropped. (Never unpersist
      // the frame being returned — a truncated lineage cannot
      // recompute.) Per-round checkpointing measured ~10% slower at
      // iterations=3 for no additional safety.
      val step = nodesW.join(summed, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("rank"), lit(base)).as("rank"))
      if (it % 2 == 0 || it == iterations) {
        // |V|-derived width on the checkpoint: the materialized rank
        // frame is what every LATER iteration (and the final consumer)
        // scans, so its partition count must track the node count,
        // not the shuffle default (see loopWidth)
        val next = step.repartition(pV, col("node"))
          .localCheckpoint(true)
        // `next` is materialized and self-contained — the PREVIOUS
        // checkpoint's blocks (two rounds back) are unreachable now.
        // Dropping them needs the RDD-level unpersist: localCheckpoint
        // persistence lives on the internal RDD, which the
        // CacheManager (Dataset.unpersist's path) does not track, and
        // at odd iterations `rank` isn't even the checkpointed frame
        // any more — so hold the checkpointed Dataset itself and free
        // its LogicalRDD's blocks directly.
        prevCkpt.foreach(d => checkpointRdd(d).foreach(_.unpersist(false)))
        prevCkpt = Some(next)
        rank = next
      } else rank = step
    }
    e.unpersist(); eo.unpersist(); nodes.unpersist()
    nodesW.unpersist()
    rank
  }

  /** HITS hubs & authorities (Kleinberg 1999) over the DISTINCT
    * directed edge set — the query-independent half of the algorithm
    * behind early web search and still the standard "who buys / who
    * is demanded" diagnostic on bipartite interaction graphs (unlike
    * PageRank, hub and authority scores are distinct only on a
    * DIRECTED graph — don't symmetrize).
    *
    * Arithmetic follows the production PageRank discipline: each
    * mutual-reinforcement sum quantizes its inputs to 1e-15 units and
    * adds them as Decimal(38,0) — order-insensitive, bit-reproducible
    * under any partitioning, O(1) per-node state on power-law hubs.
    * Normalization is by the MAXIMUM (∞-norm) rather than L2: the max
    * of exactly-reproducible doubles is itself exact and order-free,
    * and it keeps every score in [0, 1] so the next round's
    * quantization domain never grows — an L2 norm would put a libm
    * sqrt inside the iteration and break bit-parity. The two per-round
    * maxima are metadata-sized scalar aggregates collected on the
    * driver (the pageRank stats-job posture).
    *
    * Scale shape per iteration: two edge⋈score equi-joins + two
    * grouped decimal aggregations; every half-round ends in an eager
    * localCheckpoint (superseded checkpoints freed) so lineage stays
    * flat and blocks don't accumulate.
    *
    * Returns `(node, hub, authority)` — zero for nodes with no
    * out-/in-edges respectively. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iterations: Int): DataFrame = {
    require(iterations >= 1 && iterations <= 10,
      s"iterations=$iterations outside [1, 10]")
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct().cache()
    val nodes0 = e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node"))).distinct().cache()
    // one stats job for |V| and |E| (materializes both caches); the
    // counts size the loop's cached/checkpointed frames — see
    // loopWidth for why AQE cannot do this for us
    val nV = nodes0.count()
    require(nV > 0, "empty graph")
    val nE = e0.count()
    val pV = loopWidth(nV)
    val e = e0.repartition(loopWidth(nE), col("src")).cache()
    val nodes = nodes0.repartition(pV, col("node")).cache()
    var h = nodes.withColumn("h", lit(1.0))
    var a: DataFrame = null
    val ckpts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (_ <- 1 to iterations) {
      val ar = e.join(h, e("src") === h("node"))
        .select(e("dst").as("node"),
          round(col("h") * lit(QuantumInv))
            .cast(DecimalType(38, 0)).as("ci"))
        .groupBy(col("node")).agg(sum(col("ci")).as("si"))
      // checkpoint the UNNORMALIZED frame first: the max aggregate and
      // the normalized projection then both read the materialized
      // blocks instead of re-running the join (one materialization per
      // half-round, not two)
      val arf = nodes.join(ar, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("si").cast("double") / lit(QuantumInv), lit(0.0))
            .as("a"))
        .repartition(pV, col("node"))
        .localCheckpoint(true)
      ckpts += arf
      val amax = arf.agg(max(col("a"))).head().getDouble(0)
      require(amax > 0, "authority mass vanished — no edges reachable")
      a = arf.select(col("node"), (col("a") / lit(amax)).as("a"))
      val hr = e.join(a, e("dst") === a("node"))
        .select(e("src").as("node"),
          round(col("a") * lit(QuantumInv))
            .cast(DecimalType(38, 0)).as("ci"))
        .groupBy(col("node")).agg(sum(col("ci")).as("si"))
      val hrf = nodes.join(hr, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("si").cast("double") / lit(QuantumInv), lit(0.0))
            .as("h"))
        .repartition(pV, col("node"))
        .localCheckpoint(true)
      ckpts += hrf
      val hmax = hrf.agg(max(col("h"))).head().getDouble(0)
      require(hmax > 0, "hub mass vanished — no edges reachable")
      h = hrf.select(col("node"), (col("h") / lit(hmax)).as("h"))
    }
    val out = h.join(a, Seq("node"))
      .select(col("node"), col("h").as("hub"), col("a").as("authority"))
    // free every superseded checkpoint; the final h and a frames stay
    // persisted — they ARE the returned plan's leaves
    ckpts.dropRight(2).foreach(d =>
      checkpointRdd(d).foreach(_.unpersist(false)))
    e.unpersist(); nodes.unpersist()
    e0.unpersist(); nodes0.unpersist()
    out
  }

  /** Triangle count and local clustering coefficient per node over an
    * UNDIRECTED simple graph (self-loops dropped, edges deduped to
    * a < b) — the community-structure audit next to [[pageRank]] and
    * [[hits]] (a link farm shows high degree with near-zero
    * coefficient; organic neighborhoods close their wedges).
    *
    * Algorithm: degree-ordered orientation (the MapReduce
    * node-iterator++ of Suri & Vassilvitskii 2011 / Cohen 2009) —
    * every edge points from its lower-(degree, id) endpoint to the
    * higher, every wedge (u→v, u→w) with (deg, id)(v) < (deg, id)(w)
    * closes against the oriented edge (v, w). Orientation bounds every
    * out-neighborhood by O(√m), so the wedge join — the only
    * super-linear term — does Σ outdeg² = O(m^1.5) work instead of
    * the Σ deg² a hub would explode, and EVERY join is an equi-join
    * (src for wedges, (v, w) for closure): shuffle-partitioned,
    * skew-shielded by construction, no broadcast anywhere. Each
    * triangle is produced exactly once and credits its three corners
    * via one explode.
    *
    * Output: one row per node — (node, deg, n_tri,
    * coeff = 2·n_tri / (deg·(deg−1)), 0 below degree 2); exact
    * integers plus one rounded division, so the whole report replays
    * bit-for-bit in SQL. */
  def triangleStats(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = edges.select(
        least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val lower = col("dega") < col("degb") ||
      (col("dega") === col("degb") && col("a") < col("b"))
    val oriented = e
      .join(deg.select(col("node").as("a"), col("deg").as("dega")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("degb")), Seq("b"))
      .select(when(lower, col("a")).otherwise(col("b")).as("src"),
        when(lower, col("b")).otherwise(col("a")).as("dst"),
        when(lower, col("degb")).otherwise(col("dega")).as("ddst"))
    val wx = oriented.select(col("src"), col("dst").as("v"),
      col("ddst").as("dv"))
    val wy = oriented.select(col("src"), col("dst").as("w"),
      col("ddst").as("dw"))
    val wedges = wx.join(wy, Seq("src"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
    val tri = wedges.join(
        oriented.select(col("src").as("v"), col("dst").as("w")),
        Seq("v", "w"))
      .select(col("src").as("u"), col("v"), col("w"))
    val triPerNode = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    deg.join(triPerNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("deg") >= 2,
          round((lit(2L) * coalesce(col("n_tri"), lit(0L))).cast("double") /
            (col("deg") * (col("deg") - 1L)).cast("double"), 6))
          .otherwise(lit(0.0)).as("coeff"))
  }

  /** k-core peeling profile — `rounds` deterministic peel passes
    * toward the `k`-core (Seidman 1983; the BZ/peeling family's
    * distributed form): each round drops every node of degree < k,
    * then every edge touching a dropped node. The per-round removal
    * counts are the DIAGNOSTIC — how fast the graph collapses toward
    * its cohesive core separates organic community structure (slow
    * decay to a dense residue) from star/hub topologies (one round
    * strips almost everything). A FIXED round count keeps both
    * engines' unrolled computations identical whether or not the
    * fixpoint has been reached; the last row's n_removed = 0 IS the
    * convergence certificate when it holds.
    *
    * Scale shape: per round ONE degree aggregate and two semi-joins
    * (a, then b) against the surviving-node set — all equi, the
    * connected-components round shape — with an eager localCheckpoint
    * per round so the lineage never nests (the [[pageRank]]
    * discipline); the result is rounds×4 numbers, materialized and
    * the round checkpoints freed before returning (the kCenterCoreset
    * cache hygiene).
    *
    * Output per round 1..`rounds`: (round, n_removed, n_nodes_left,
    * n_edges_left); n_nodes_left counts nodes still incident to a
    * surviving edge. */
  def kCorePeelProfile(edges: DataFrame, aCol: String, bCol: String,
                       k: Int, rounds: Int): DataFrame = {
    require(k >= 2 && k <= 64, s"k=$k outside [2, 64]")
    require(rounds >= 1 && rounds <= 16,
      s"rounds=$rounds outside [1, 16]: each round is a full pass")
    val spark = edges.sparkSession
    import spark.implicits._
    def nodesOf(e: DataFrame): DataFrame =
      e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
    var cur = edges.select(
        least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(true)
    var kept = Vector.empty[org.apache.spark.rdd.RDD[_]]
    kept ++= checkpointRdd(cur)
    val stats = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Long, Long)]
    for (r <- 1 to rounds) {
      val deg = nodesOf(cur).groupBy(col("node"))
        .agg(count(lit(1)).as("dg"))
      val keep = deg.filter(col("dg") >= k).select(col("node"))
      val next = cur
        .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .localCheckpoint(true)
      kept ++= checkpointRdd(next)
      // ONE aggregate over deg derives both counts (the old code paid
      // two jobs), and ONE aggregate over the checkpointed next's node
      // bag derives edges (count/2 — every edge contributes its a and
      // its b) and surviving nodes — 2 stat jobs per round, not 4
      val d = deg.agg(count(lit(1)).as("n_prev"),
        coalesce(sum(when(col("dg") >= k, 1L).otherwise(0L)), lit(0L))
          .as("n_keep")).head()
      val e = nodesOf(next).agg(
        (count(lit(1)) / lit(2)).cast("long").as("n_edges"),
        countDistinct(col("node")).as("n_nodes")).head()
      stats += ((r, d.getLong(0) - d.getLong(1),
        e.getLong(1), e.getLong(0)))
      cur = next
    }
    val out = stats.toSeq
      .toDF("round", "n_removed", "n_nodes_left", "n_edges_left")
      .select(col("round").cast("long").as("round"), col("n_removed"),
        col("n_nodes_left"), col("n_edges_left"))
    kept.foreach(_.unpersist(false))
    out
  }

  /** The RDD a `localCheckpoint(true)`ed Dataset persisted: eager
    * local checkpointing rewrites the plan to a [[LogicalRDD]] leaf
    * wrapping the materialized internal RDD — that RDD (not any
    * Dataset-level cache entry) is what holds the storage blocks. */
  private[graft] def checkpointRdd(df: DataFrame)
      : Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  // -- persisted edge store (the q139/q147 store posture for the
  //    graph tier: derive the edge set ONCE, read it everywhere) --

  /** Persist an (a, b) edge frame as a reusable graph artifact:
    * `edges` parquet plus a one-line `params` manifest
    * ([[Stores.writeManifest]]) recording the
    * SOURCE row count the build derived from AND the source key
    * column's additive checksum ([[Stores.keyStamp]] — the SAME
    * (count, checksum) currency the MinHash/IVF gate stores stamp, so
    * staleness means one thing across all three store families). The
    * checksum catches any same-count source mutation — including an
    * interior key swapped for another, which neither the count nor
    * the max key moves. Cost note: the checksum side of the probe is a
    * key-column scan folded into the SAME single aggregation as the
    * count (it cannot come from parquet footer statistics the way a
    * max can) — one column of the source table per scheduled probe,
    * the price of exact currency; the probe never touches the edge
    * payload. Written edges FIRST, manifest LAST, so manifest-present
    * implies a complete store and a crash mid-build reads as absent.
    * At 100 TB this is the artifact that turns every graph diagnostic
    * from "rebuild li → pairs → kNN" into one bounded edge-set scan —
    * the build amortizes across the whole diagnostic family and every
    * scheduled re-run until the source table actually changes. */
  def writeEdgeStore(edges: DataFrame, path: String,
                     nSourceRows: Long, srcCheck: Long): Unit = {
    // the old manifest goes first: a rebuild that crashed mid-write
    // must not read as current over partially rewritten edges
    Stores.clearGateState(edges.sparkSession, path, Seq.empty)
    edges.write.mode("overwrite").parquet(s"$path/edges")
    Stores.writeManifest(edges.sparkSession, s"$path/params",
      "n_source_rows" -> nSourceRows, "src_check" -> srcCheck)
  }

  /** True when `path` holds a completed edge store built from exactly
    * `nSourceRows` source rows whose key checksum was `srcCheck`
    * ([[Stores.keyStamp]]). False on absent/partial stores, so callers
    * fall back to [[writeEdgeStore]]. */
  def edgeStoreIsCurrent(spark: org.apache.spark.sql.SparkSession,
                         path: String, nSourceRows: Long,
                         srcCheck: Long): Boolean =
    try Stores.readManifest(spark, s"$path/params").exists(p =>
      p("n_source_rows").toLong == nSourceRows &&
        p("src_check").toLong == srcCheck)
    catch { case _: Exception => false }

  /** Read a persisted edge store's (a, b) frame plus its staleness
    * stamp. */
  def readEdgeStore(spark: org.apache.spark.sql.SparkSession,
                    path: String): (DataFrame, Long) = {
    val stamp = Stores.readManifest(spark, s"$path/params").getOrElse(
      throw new IllegalStateException(s"no edge-store manifest under $path"))
    (spark.read.parquet(s"$path/edges").select(col("a"), col("b")),
      stamp("n_source_rows").toLong)
  }
}
