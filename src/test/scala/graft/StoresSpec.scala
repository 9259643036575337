package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.concurrent.TrieMap

import graft.operators.Stores
import org.apache.spark.sql.functions.col

/** The generation-store layout, and `Stores.runConcurrently` under
  * failure: the store writers rely on it to await every sibling write
  * before a failure surfaces, so a caller never returns while another
  * write is still mutating the store root, and on it to leave the
  * caller's job label as it found it. */
class StoresSpec extends SparkSpecBase {

  private val Desc = "spark.job.description"

  test("runConcurrently: a failed action rethrows only after its " +
      "siblings finish, and the caller's label survives") {
    val sc = spark.sparkContext
    val failed = new CountDownLatch(1)
    val done = TrieMap.empty[String, String]
    val lateFinished = new AtomicBoolean(false)
    // each sibling records the label its job ran under; "late" waits
    // until "boom" has thrown, so only an await-all can see it finish
    def sibling(name: String, waitForFailure: Boolean) = () => {
      if (waitForFailure) assert(failed.await(60, TimeUnit.SECONDS))
      spark.range(10).count()
      done.put(name, sc.getLocalProperty(Desc))
      if (waitForFailure) lateFinished.set(true)
    }
    sc.setJobDescription("caller")
    try {
      val err = intercept[IllegalStateException] {
        Stores.runConcurrently(spark, Seq(
          "late" -> sibling("late", waitForFailure = true),
          "boom" -> (() => {
            failed.countDown()
            throw new IllegalStateException("boom")
          }),
          "quick" -> sibling("quick", waitForFailure = false),
          "second" -> (() => throw new IllegalStateException("second"))))
      }
      assert(err.getMessage == "boom", "the first action's failure is rethrown")
      assert(lateFinished.get, "a sibling was still running at the rethrow")
      assert(done.toMap == Map("late" -> "late", "quick" -> "quick"))
      assert(sc.getLocalProperty(Desc) == "caller")
      // the single-action path runs on the caller's thread and restores
      // the label in a finally
      intercept[IllegalStateException] {
        Stores.runConcurrently(spark,
          Seq("alone" -> (() => throw new IllegalStateException("alone"))))
      }
      assert(sc.getLocalProperty(Desc) == "caller")
    } finally sc.setJobDescription(null)
  }

  private def names(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).map(_.toSet).getOrElse(Set.empty)

  test("current layout: a fold store's root holds the pointer pair and " +
      "one generation; a gatelog holds the pointer pair alone") {
    import spark.implicits._
    import graft.operators.{CountMin, Dedup}
    val root = tempRoot("graft_layout")
    val cm = root.resolve("cm").toString
    CountMin.foldIntoStore((1L to 40L).toDF("v"), "v", cm, 4, 32,
      batchId = Some(0L))
    CountMin.foldIntoStore((1L to 30L).toDF("v"), "v", cm, 4, 32,
      batchId = Some(1L))
    assert(names(s"$cm/cells") == Set("PTR", ".PTR.crc", "g1"),
      names(s"$cm/cells").toString)
    assert(Stores.lastApplied(spark, s"$cm/cells") == 1L)
    val mh = root.resolve("mh").toString
    Dedup.writeMinhashStore(Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 10),
      "doc_id", "text", mh)
    Seq(7000L, 7001L).foreach { k =>
      Dedup.appendToMinhashStore(
        Seq((k, s"zebra quark lantern voyage ember crystal $k"))
          .toDF("doc_id", "text"), "text", mh)
    }
    assert(names(s"$mh/gatelog") == Set("PTR", ".PTR.crc"),
      names(s"$mh/gatelog").toString)
    assert(Stores.lastApplied(spark, s"$mh/gatelog") == 1L)
    assert(Stores.admittedStamp(spark, mh)._1 == 2L)
  }

  test("a root of bare Parquet files with no pointer reads as absent") {
    val root = tempRoot("graft_bare")
      .resolve("hist").toString
    spark.range(3).toDF("bucket").write.parquet(root)
    assert(!Stores.payloadExists(spark, root))
    assert(Stores.lastApplied(spark, root) == -1L)
  }

  test("a checkpoint with committed batches but no incarnation marker " +
      "is refused") {
    import spark.implicits._
    import graft.streaming.IncrementalLoad
    val root = tempRoot("graft_nomarker")
    (1L to 20L).toDF("v").coalesce(1)
      .write.parquet(root.resolve("in/b1").toString)
    def stream = spark.readStream.schema("v BIGINT")
      .option("maxFilesPerTrigger", "1")
      .parquet(root.toString + "/in/*/")
    val store = root.resolve("store").toString
    val ckpt = root.resolve("ckpt")
    val q = IncrementalLoad.streamingCountMinFold(spark, stream, "v",
      store, ckpt.toString, 4, 32)
    assert(q.awaitTermination(120000), "the fold wire did not drain")
    q.stop()
    Seq("graft-gate-offset", ".graft-gate-offset.crc")
      .foreach(n => java.nio.file.Files.deleteIfExists(ckpt.resolve(n)))
    assert(names(ckpt.resolve("commits").toString).contains("0"))
    val ex = intercept[IllegalArgumentException] {
      IncrementalLoad.streamingCountMinFold(spark, stream, "v", store,
        ckpt.toString, 4, 32)
    }
    assert(ex.getMessage.contains("committed batches but no " +
      "graft-gate-offset marker"), ex.getMessage)
    assert(Stores.lastApplied(spark, s"$store/cells") == 0L)
    assert(!java.nio.file.Files.exists(ckpt.resolve("graft-gate-offset")),
      "the refused start must not mint a marker")
  }
}
