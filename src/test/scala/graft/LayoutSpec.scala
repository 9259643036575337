package graft

import graft.operators.Layout
import org.apache.spark.sql.functions._

/** Clustered layout must actually produce the disjoint per-file key
  * ranges that make footer min/max pruning work at scale. */
class LayoutSpec extends SparkSpecBase {

  test("writeClustered gives every file a disjoint key range") {
    val dir = tempRoot("graft_layout").toString
    Layout.writeClustered(
      Tables.orders(spark, sf), dir, Seq("o_orderdate"), numFiles = 4)
    val ranges = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("o_orderdate")).as("lo"), max(col("o_orderdate")).as("hi"))
      .collect()
      .map(r => (r.getAs[java.time.LocalDateTime](1),
        r.getAs[java.time.LocalDateTime](2)))
      .sortBy(_._1.toString)
    assert(ranges.length == 4, s"expected 4 files, got ${ranges.length}")
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) =>
        assert(!hi.isAfter(lo),
          s"file ranges overlap: [$hi] vs [$lo] — clustering broken")
      case _ =>
    }
    // and nothing was lost in the rewrite
    assert(spark.read.parquet(dir).count() ==
      Tables.orders(spark, sf).count())
  }

  test("z-order bounds every file in BOTH dimensions — the linear layout can't") {
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val zDir = tempRoot("graft_z").toString
    val linDir = tempRoot("graft_lin").toString
    Layout.writeZOrdered(o, zDir, Seq("o_custkey", "o_totalprice"), 8)
    Layout.writeClustered(o, linDir, Seq("o_custkey"), 8)
    def boxes(dir: String): Array[(Double, Double)] =
      spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg(min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
        .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    // a band on the SECOND clustering dimension only: files whose
    // footer [lo, hi] misses the band are never read
    val Array(mn, mx) = o.agg(min(col("o_totalprice")), max(col("o_totalprice")))
      .collect().map(r => Array(r.getDouble(0), r.getDouble(1))).head
    val (bandLo, bandHi) = (mn + 0.40 * (mx - mn), mn + 0.45 * (mx - mn))
    def touched(bs: Array[(Double, Double)]): Int =
      bs.count { case (lo, hi) => hi >= bandLo && lo <= bandHi }
    val (zb, lb) = (boxes(zDir), boxes(linDir))
    assert(zb.length == 8 && lb.length == 8)
    // linear layout on o_custkey: every file spans ~the full price
    // range, so the band touches all of them
    assert(touched(lb) == 8,
      s"expected the linear layout to touch all files, got ${touched(lb)}")
    // z-order consumes two price bits in the top three z bits of an
    // 8-file split, so each file is boxed to ≤ half the price range
    assert(touched(zb) < 8,
      s"z-order pruned nothing: ${touched(zb)} of 8 files touch the band")
    // and the layout rewrite lost nothing
    assertBagEqual(spark.read.parquet(zDir), o)
  }

  test("snapshotDiff classifies added/removed/changed/unchanged") {
    import spark.implicits._
    val oldDf = Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0),
      (4, null.asInstanceOf[String], 40.0))
      .toDF("k", "s", "v")
    val newDf = Seq((2, "b", 20.0), (3, "c", 31.0),
      (4, "now-set", 40.0), (5, "e", 50.0))
      .toDF("k", "s", "v")
    val diff = graft.operators.Relational.snapshotDiff(oldDf, newDf, Seq("k"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(diff == Map(1 -> "removed", 2 -> "unchanged", 3 -> "changed",
      4 -> "changed", 5 -> "added"))
  }
}
