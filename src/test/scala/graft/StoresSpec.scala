package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.concurrent.TrieMap

import graft.operators.Stores

/** `Stores.runConcurrently` under failure: the store writers rely on it
  * to await every sibling write before a failure surfaces, so a caller
  * never returns while another write is still mutating the store root,
  * and on it to leave the caller's job label as it found it. */
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
}
