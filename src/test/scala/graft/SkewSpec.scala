package graft

import graft.operators.Skew
import org.apache.spark.sql.functions._

class SkewSpec extends SparkSpecBase {

  test("salted join equals the plain join on a skewed key") {
    // lineitem⋈supplier: 10 suppliers over 6k rows — every key is
    // "hot" relative to the small side, the salting worst case.
    val li = Tables.lineitem(spark, sf)
      .select(col("l_suppkey").as("s_suppkey"), col("l_orderkey"),
        col("l_extendedprice"))
    val sup = Tables.supplier(spark, sf)
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
    val plain = li.join(sup, Seq("s_suppkey"))
    val salted = Skew.saltedJoin(li, sup, Seq("s_suppkey"), saltBuckets = 8)
    assertBagEqual(salted.select(plain.columns.map(col): _*), plain)
  }

  test("AQE splits a skewed sort-merge partition at runtime (skew=true)") {
    // The zero-code path for skew at scale: AQE re-plans the join from
    // runtime shuffle stats. Thresholds here are shrunk so the ~90%-hot
    // key trips the same detection a hot key trips at 100 TB defaults;
    // salting (above) remains the fallback where AQE can't see skew
    // (e.g. skewed aggregations).
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val hot = spark.range(60000).select(lit(1L).as("k"),
        concat(lit("x"), col("id").cast("string")).as("payload"))
      val cold = spark.range(2000)
        .select((col("id") % 64 + 2).as("k"), col("id").as("payload2"))
      val left = hot.unionByName(
        cold.select(col("k"), col("payload2").cast("string").as("payload")))
      val right = spark.range(65).select(col("id").as("k"),
        col("id").cast("string").as("name"))
      val joined = left.join(right, Seq("k"))
      // run THIS QueryExecution (count() would plan its own) so the
      // adaptive plan finalizes before we inspect it
      Harness.drain(joined)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the hot partition as skewed:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("skewReport: hand-computed shares, cumulative shares, and the " +
      "salt recommendation on a planted 80/10/10 key") {
    import spark.implicits._
    val df = (Seq.fill(80)("hot") ++ Seq.fill(10)("a") ++
      Seq.fill(10)("b")).toDF("k")
    val out = Skew.skewReport(df, "k", topK = 2, partitions = 10)
      .orderBy(col("rank")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5), r.getLong(6),
        r.getLong(7)))
    // topK = 2 truncates the tail; ties on cnt break by key asc
    assert(out.toSeq === Seq(
      (1L, "hot", 80L, 0.8, 0.8, 3L, 100L, 8L),
      (2L, "a", 10L, 0.1, 0.9, 3L, 100L, 8L)))
  }

  test("skewReport is invariant under repartitioning") {
    val e = Tables.lineitem(spark, sf).limit(500)
    val r1 = Skew.skewReport(e, "l_returnflag", 10, 32)
      .orderBy(col("rank")).collect().toSeq
    val r2 = Skew.skewReport(e.repartition(7), "l_returnflag", 10, 32)
      .orderBy(col("rank")).collect().toSeq
    assert(r1 == r2)
  }
}
