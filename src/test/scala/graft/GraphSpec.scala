package graft

import graft.operators.{Graph, Stores}
import org.apache.spark.sql.functions._

/** PageRank semantics: mass conservation, hub dominance, dangling
  * rejection, and the reproducibility contract (partitioning
  * invariance of the bit-exact ranks). */
class GraphSpec extends SparkSpecBase {
  import spark.implicits._

  // star: hub 1 ↔ leaves 2..6 (symmetrized, so no dangling nodes)
  private lazy val star = {
    val spokes = (2L to 6L).flatMap(l => Seq((1L, l), (l, 1L)))
    spokes.toDF("src", "dst")
  }

  test("mass conservation: ranks sum to 1 when no node dangles") {
    val total = Graph.pageRank(star, "src", "dst", 3)
      .agg(sum(col("rank"))).head.getDouble(0)
    assert(math.abs(total - 1.0) < 1e-9, s"sum=$total")
  }

  test("hub outranks leaves; leaves tie exactly") {
    val ranks = Graph.pageRank(star, "src", "dst", 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ranks(1L) > ranks(2L) * 2, s"hub=${ranks(1L)} leaf=${ranks(2L)}")
    assert((2L to 6L).map(ranks).distinct.size == 1,
      "symmetric leaves must have bit-identical ranks")
  }

  test("dangling nodes are rejected, not silently leaked") {
    val dangling = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst") // 3 dangles
    intercept[IllegalArgumentException] {
      Graph.pageRank(dangling, "src", "dst", 2)
    }
  }

  test("production decimal sum: hub with in-degree >> others, " +
      "bit-identical under repartitioning, agrees with the fold") {
    // power-law-ish: 200 spokes all point at hub 0; hub points back at
    // spoke 1 (no dangling). Hub in-degree 200 vs 1 everywhere else —
    // the shape whose per-node sorted array the fold mode accumulates
    // and the decimal mode reduces with O(1) state.
    val edges = ((1L to 200L).map(s => (s, 0L)) :+ (0L, 1L))
      .toDF("src", "dst")
    val dec = Graph.pageRank(edges, "src", "dst", 4,
        exactDecimalSum = true).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val dec7 = Graph.pageRank(edges.repartition(7), "src", "dst", 4,
        exactDecimalSum = true).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(dec == dec7,
      "decimal-sum ranks must not depend on partitioning")
    val fold = Graph.pageRank(edges, "src", "dst", 4).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    fold.foreach { case (node, r) =>
      assert(math.abs(dec(node) - r) < 1e-9,
        s"node $node: decimal=${dec(node)} fold=$r")
    }
    val total = dec.values.sum
    assert(math.abs(total - 1.0) < 1e-9, s"sum=$total")
    assert(dec(0L) > dec(2L) * 50, "hub must dominate spokes")
  }

  test("superseded checkpoints are freed; only the result's blocks remain") {
    // drain any leftovers from other tests so the count below is ours
    Harness.reset(spark)
    // 7 iterations → checkpoints at 2, 4, 6, 7; everything but the
    // final (returned) one must have its blocks dropped, and the
    // edge/node caches must be gone too
    val ranks = Graph.pageRank(star, "src", "dst", 7)
    assert(math.abs(
      ranks.agg(sum(col("rank"))).head.getDouble(0) - 1.0) < 1e-9)
    val left = spark.sparkContext.getPersistentRDDs
    assert(left.size == 1,
      s"expected only the returned frame's checkpoint blocks, found " +
        s"${left.size}: ${left.values.map(_.name).mkString(", ")}")
    ranks.collect() // the survivor must still be readable
  }

  test("ranks are bit-identical under repartitioning") {
    val edges = (0L until 60L).flatMap { i =>
      val j = (i * i + 1) % 60
      if (i == j) Seq.empty else Seq((i, j), (j, i))
    }.toDF("src", "dst")
    val a = Graph.pageRank(edges, "src", "dst", 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = Graph.pageRank(edges.repartition(7), "src", "dst", 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a == b, "fold-pinned ranks must not depend on partitioning")
  }

  test("HITS: bipartite roles separate — buyers hub, suppliers " +
    "authority, and the best of each normalizes to 1") {
    // buyers 1..3 → suppliers 11..13; supplier 11 demanded by all
    // three, buyer 1 buys from all three
    val edges = Seq(
      (1L, 11L), (1L, 12L), (1L, 13L),
      (2L, 11L), (2L, 12L),
      (3L, 11L)).toDF("src", "dst")
    val out = Graph.hits(edges, "src", "dst", 3).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // pure buyers have zero authority; pure suppliers zero hub
    Seq(1L, 2L, 3L).foreach(n => assert(out(n)._2 == 0.0))
    Seq(11L, 12L, 13L).foreach(n => assert(out(n)._1 == 0.0))
    // ∞-norm: the top hub and top authority score exactly 1
    assert(out(1L)._1 == 1.0, s"buyer 1 is the top hub: ${out(1L)}")
    assert(out(11L)._2 == 1.0, s"supplier 11 is the top authority")
    // strict order by degree under mutual reinforcement
    assert(out(1L)._1 > out(2L)._1 && out(2L)._1 > out(3L)._1)
    assert(out(11L)._2 > out(12L)._2 && out(12L)._2 > out(13L)._2)
  }

  test("HITS is bit-identical under repartitioning and frees its " +
    "superseded checkpoints") {
    val edges = (0L until 40L).map(i => (i % 7, 100L + (i * 3) % 11))
      .toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val a = Graph.hits(edges, "src", "dst", 4).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val b = Graph.hits(edges.repartition(5), "src", "dst", 4).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(a == b, "decimal sums + ∞-norm must not depend on partitioning")
    val now = spark.sparkContext.getPersistentRDDs.keySet -- before
    // only the two result-leaf checkpoints per call may remain
    assert(now.size <= 4, s"checkpoint blocks accumulated: ${now.size}")
  }

  test("triangleStats: a 4-clique closes every wedge, a path closes " +
      "none, a pendant dilutes its anchor") {
    // K4 on 1..4: deg 3 everywhere, 3 triangles per node, coeff 1
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).toDF("a", "b")
    val got = Graph.triangleStats(k4, "a", "b").orderBy(col("node"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.toSeq === (1L to 4L).map(n => (n, 3L, 3L, 1.0)))

    // path 1-2-3: no triangle anywhere
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val p = Graph.triangleStats(path, "a", "b").orderBy(col("node"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(p.toSeq === Seq((1L, 0L, 0.0), (2L, 0L, 0.0), (3L, 0L, 0.0)))

    // K3 on 1..3 plus pendant 4-1: the anchor's coefficient drops to
    // 1/3, the two pure-triangle corners stay at 1, the pendant is 0
    val mixed = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L)).toDF("a", "b")
    val m = Graph.triangleStats(mixed, "a", "b").orderBy(col("node"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(m.toSeq === Seq((1L, 3L, 1L, 0.333333), (2L, 2L, 1L, 1.0),
      (3L, 2L, 1L, 1.0), (4L, 1L, 0L, 0.0)))
  }

  test("kCorePeelProfile: pendants peel in round 1 and the triangle " +
      "survives as the 2-core fixpoint") {
    // K3 on 1..3 plus pendants 4-1 and 5-2: at k = 2 the pendants
    // (degree 1) peel in round 1, the triangle survives as the 2-core
    // fixpoint; rounds 2..3 remove nothing
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 5L))
      .toDF("a", "b")
    val out = Graph.kCorePeelProfile(g, "a", "b", k = 2, rounds = 3)
      .orderBy(col("round")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq((1L, 2L, 3L, 3L), (2L, 0L, 3L, 3L),
      (3L, 0L, 3L, 3L)))
  }

  test("kCorePeelProfile: a path collapses fully under k = 2 and the " +
      "cascade takes one round per layer") {
    // path 1-2-3-4-5: ends peel first, the collapse cascades inward
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val out = Graph.kCorePeelProfile(g, "a", "b", k = 2, rounds = 3)
      .orderBy(col("round")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    // round 1: nodes 1,5 go -> edges (2,3),(3,4); round 2: 2,4 go ->
    // no edges; round 3: node 3 (degree 0 already gone from frame)
    assert(out(0) === ((1L, 2L, 2L)))
    assert(out(1) === ((2L, 2L, 0L)))
    assert(out(2)._3 === 0L)
  }

  test("kCorePeelProfile is invariant under repartitioning and frees " +
      "its round checkpoints") {
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L),
      (4L, 6L), (5L, 6L)).toDF("a", "b")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val r1 = Graph.kCorePeelProfile(g, "a", "b", 2, 4)
      .orderBy(col("round")).collect().toSeq
    val r2 = Graph.kCorePeelProfile(g.repartition(5), "a", "b", 2, 4)
      .orderBy(col("round")).collect().toSeq
    assert(r1 == r2)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"peel rounds leaked checkpoints: $leaked")
  }

  test("edge store lifecycle: round-trip, staleness on source growth, " +
      "and a crash mid-build reads as absent") {
    val root = tempRoot("graft_estore")
    val path = root.resolve("bb").toString
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("a", "b")
    // a crash between the edges write and the manifest write must read
    // as absent (manifest-present ⇒ complete)
    edges.write.parquet(s"$path/edges")
    assert(!Graph.edgeStoreIsCurrent(spark, path, 100L, 7L),
      "a manifestless (mid-build crash) store read as current")
    Graph.writeEdgeStore(edges, path, 100L, 7L)
    assert(Graph.edgeStoreIsCurrent(spark, path, 100L, 7L))
    val (read, stamp) = Graph.readEdgeStore(spark, path)
    assert(stamp == 100L)
    assert(read.orderBy(col("a"), col("b")).collect().toSeq ==
      edges.orderBy(col("a"), col("b")).collect().toSeq)
    // the source table grew → the store is stale and a caller rebuilds
    assert(!Graph.edgeStoreIsCurrent(spark, path, 101L, 7L),
      "a stale store (source count moved) read as current")
    // rebuild over the grown source replaces the artifact
    val grown = edges.unionByName(Seq((3L, 4L)).toDF("a", "b"))
    Graph.writeEdgeStore(grown, path, 101L, 7L)
    assert(Graph.edgeStoreIsCurrent(spark, path, 101L, 7L) &&
      !Graph.edgeStoreIsCurrent(spark, path, 100L, 7L))
    assert(Graph.readEdgeStore(spark, path)._1.count() == 4L)
    // a rebuild that fails mid-write reads as absent, not as current
    // over partially rewritten edges: the old manifest goes first
    val failing = grown.select(col("a"),
      when(col("a") > 0L, raise_error(lit("crash mid-build")))
        .otherwise(col("b")).as("b"))
    intercept[Exception](Graph.writeEdgeStore(failing, path, 101L, 7L))
    assert(!Graph.edgeStoreIsCurrent(spark, path, 101L, 7L),
      "a rebuild that failed mid-write read as current")
    Graph.writeEdgeStore(grown, path, 101L, 7L)
    // key-checksum stamp (Stores.keyStamp — the gate stores'
    // currency): a SAME-COUNT source mutation reads stale even when
    // it moves neither the count nor the max key — an INTERIOR key
    // swapped for another
    val src = Seq(10L, 20L, 30L, 500L).toDF("k")
    val srcSwapped = Seq(10L, 25L, 30L, 500L).toDF("k") // same n, same max
    val (n0, c0) = Stores.keyStamp(src, "k")
    val (n1, c1) = Stores.keyStamp(srcSwapped, "k")
    assert(n0 == n1 && c0 != c1, "keyStamp missed the interior swap")
    val path2 = root.resolve("bb2").toString
    Graph.writeEdgeStore(grown, path2, n0, c0)
    assert(Graph.edgeStoreIsCurrent(spark, path2, n0, c0))
    assert(!Graph.edgeStoreIsCurrent(spark, path2, n1, c1),
      "a same-count same-max interior mutation read as current")
  }

  test("triangleStats normalizes duplicates, reversed edges, and " +
      "self-loops, and is invariant under repartitioning") {
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 2L), (1L, 1L), (1L, 3L),
      (3L, 2L)).toDF("a", "b")
    val clean = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("a", "b")
    val g1 = Graph.triangleStats(messy, "a", "b").orderBy(col("node"))
      .collect().toSeq
    val g2 = Graph.triangleStats(clean, "a", "b").orderBy(col("node"))
      .collect().toSeq
    val g3 = Graph.triangleStats(messy.repartition(5), "a", "b")
      .orderBy(col("node")).collect().toSeq
    assert(g1 == g2 && g1 == g3)
    assert(g1.map(r => (r.getLong(0), r.getLong(2))) ===
      Seq((1L, 1L), (2L, 1L), (3L, 1L)))
  }
}
