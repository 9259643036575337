package graft

import org.apache.spark.sql.functions.{assert_true, col}
import org.apache.spark.storage.StorageLevel

/** The run harness every entry point shares: the drain that `count()`
  * is not, the session config, the reset and the job recorder. */
class HarnessSpec extends SparkSpecBase {

  test("drain evaluates a projected column that count() prunes") {
    val df = spark.range(5).select(col("id"),
      assert_true(col("id") < 3).as("checked"))
    assert(df.count() == 5L)
    val e = intercept[Exception](Harness.drain(df))
    assert(e.getMessage.contains("'(id < 3)' is not true"), e.getMessage)
    assert(Harness.drain(spark.range(5).toDF()) == 5L)
  }

  test("session: one shuffle partition per core, UTC, AQE on, the " +
      "cached-plan partitioning rule at Spark's default") {
    import org.apache.spark.sql.internal.SQLConf
    val s = Harness.session(cpus = 4)
    assert(s eq spark)
    assert(s.sparkContext.master == "local[4]")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
    val cached = SQLConf.CAN_CHANGE_CACHED_PLAN_OUTPUT_PARTITIONING
    assert(s.conf.get(cached.key) == cached.defaultValueString)
  }

  test("reset leaves no catalog cache and no localCheckpoint RDD") {
    val cached = spark.range(100).selectExpr("id % 7 AS k").cache()
    cached.count()
    spark.range(100).toDF("v").localCheckpoint()
    assert(cached.storageLevel != StorageLevel.NONE)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    Harness.reset(spark)
    assert(cached.storageLevel == StorageLevel.NONE)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      spark.sparkContext.getPersistentRDDs.values.map(_.name).mkString(", "))
  }

  test("recordJobs counts a pooled runConcurrently action's jobs, not an " +
      "untagged job of another thread") {
    val sc = spark.sparkContext
    val go = new java.util.concurrent.CountDownLatch(1)
    // started before recordJobs tags this thread, so it inherits no tag
    val other = new Thread(() => {
      go.await()
      sc.parallelize(1 to 10, 3).count(): Unit
    })
    other.start()
    val jobs = Harness.recordJobs(spark) {
      go.countDown()
      graft.operators.Stores.runConcurrently(spark, Seq(
        "harness a" -> (() => sc.parallelize(1 to 10, 2).count(): Unit),
        "harness b" -> (() => sc.parallelize(1 to 10, 2).count(): Unit)))
      other.join()
    }
    assert(jobs.map(_.description).sorted == Seq("harness a", "harness b"),
      jobs.toString)
    assert(jobs.forall(j => j.stages == 1 && j.tasks == 2 &&
      j.endMs >= j.startMs), jobs.toString)
  }
}
