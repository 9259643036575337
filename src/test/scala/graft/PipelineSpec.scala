package graft

import graft.streaming.IncrementalLoad
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end incremental pipeline runs — the reference's DAG
  * semantics (§3.1 daily fact load, §3.3 weekly snapshot upsert)
  * executed twice with overlapping batches to prove idempotency, plus
  * the streaming AvailableNow form surviving a replay. */
class PipelineSpec extends SparkSpecBase {

  private def tmp(): String = tempRoot("graft_pipe").toString

  test("daily fact load: overlapping re-runs never duplicate") {
    val wh = tmp()
    val o = Tables.orders(spark, sf)
    val run1 = o.filter(col("o_orderdate") < to_timestamp(lit("1997-01-01 00:00:00")))
    val run2 = o.filter(col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00")))
    IncrementalLoad.loadFacts(spark, run1, "o_orderdate", Seq("o_orderkey"), wh)
    IncrementalLoad.loadFacts(spark, run2, "o_orderdate", Seq("o_orderkey"), wh)
    IncrementalLoad.loadFacts(spark, run2, "o_orderdate", Seq("o_orderkey"), wh)
    val loaded = spark.read.parquet(wh)
    assert(loaded.count() == run2.count())
    assert(loaded.select("o_orderkey").distinct().count() == run2.count())
    // layout is partition-pruned on the probe key
    assert(loaded.filter(col("year") === 1996 && col("month") === 2)
      .queryExecution.executedPlan.toString.contains("PartitionFilters"))
  }

  test("weekly snapshot load: restatement replaces only its partitions") {
    val wh = tmp()
    val o = Tables.orders(spark, sf)
      .select(col("o_orderdate"), col("o_orderkey"), col("o_totalprice"))
    val v1 = o.filter(col("o_orderdate") < to_timestamp(lit("1996-01-01 00:00:00")))
    IncrementalLoad.loadSnapshot(spark, v1, "o_orderdate", wh)
    // restate 1995-06 with doubled prices
    val restated = v1
      .filter(year(col("o_orderdate")) === 1995 && month(col("o_orderdate")) === 6)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    IncrementalLoad.loadSnapshot(spark, restated, "o_orderdate", wh)
    val loaded = spark.read.parquet(wh)
    assert(loaded.count() == v1.count())
    val junTotal = loaded.filter(col("year") === 1995 && col("month") === 6)
      .agg(sum(col("o_totalprice"))).head.getDouble(0)
    val origJun = v1.filter(year(col("o_orderdate")) === 1995
        && month(col("o_orderdate")) === 6)
      .agg(sum(col("o_totalprice"))).head.getDouble(0)
    assert(math.abs(junTotal - 2 * origJun) < 1e-6)
    // untouched partition unchanged
    val mayCount = loaded.filter(col("year") === 1995 && col("month") === 5).count()
    assert(mayCount == v1.filter(year(col("o_orderdate")) === 1995
      && month(col("o_orderdate")) === 5).count())
  }

  test("streaming AvailableNow load is exactly-once across replays") {
    val wh = tmp(); val ckpt1 = tmp(); val ckpt2 = tmp()
    val srcDir = tempRoot("graft_pipe_src")
    Tables.events(spark, sf).limit(200)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .coalesce(1).write.parquet(srcDir.resolve("f1").toString)
    def stream = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE")
      .parquet(srcDir.toString + "/*/")
    // first drain
    val q1 = IncrementalLoad.streamingDedupAppend(spark, stream, "ts",
      Seq("event_id"), wh, ckpt1)
    q1.awaitTermination(60000)
    // full REPLAY: fresh checkpoint reprocesses the same files — the
    // warehouse-side anti-join must hold the line
    val q2 = IncrementalLoad.streamingDedupAppend(spark, stream, "ts",
      Seq("event_id"), wh, ckpt2)
    q2.awaitTermination(60000)
    val loaded = spark.read.parquet(wh)
    assert(loaded.count() == 200)
    assert(loaded.select("event_id").distinct().count() == 200)
  }
}
