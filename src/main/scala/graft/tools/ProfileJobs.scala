package graft.tools

import graft.Harness

/** Dev profiler (guide §1: measure first): runs named registered
  * queries once warm, then once under [[Harness.recordJobs]], printing
  * every Spark job's wall time, stage count, task count and bytes — the
  * local-mode stand-in for the UI's Jobs page (the UI is off in the
  * harness session). Output: per-job lines in job order, so a multi-job
  * operator (store lifecycle, iterative graph, streaming gate) shows
  * WHERE its seconds live. The session, drain and reset are the
  * bench's own.
  *
  * Usage: sbt "runMain graft.tools.ProfileJobs q251_streaming_neardup_gate"
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- args) {
      val fn = graft.SparkEntry.queries(name)
      // warm pass (JIT + codegen), uninstrumented
      Harness.reset(spark)
      val tw0 = System.nanoTime(); Harness.drain(fn(spark, dir))
      val warm = (System.nanoTime() - tw0) / 1e9
      // instrumented pass
      Harness.reset(spark)
      var tot = 0.0
      val jobs = Harness.recordJobs(spark) {
        val t0 = System.nanoTime(); Harness.drain(fn(spark, dir))
        tot = (System.nanoTime() - t0) / 1e9
      }
      println(f"===== $name warm=$warm%.2f s instrumented=$tot%.2f s " +
        f"jobs=${jobs.size} =====")
      val jobSum = jobs.map(j => j.endMs - j.startMs).sum / 1e3
      println(f"  sum-of-job-wall=$jobSum%.2f s (gaps = driver-side time)")
      jobs.foreach { j =>
        println(f"  ${(j.endMs - j.startMs) / 1e3}%7.3f s job=${j.id}%4d " +
          f"stages=${j.stages}%2d tasks=${j.tasks}%4d " +
          f"in=${j.inputBytes / 1024}%8d KB sr=${j.shuffleReadBytes / 1024}%7d KB " +
          f"sw=${j.shuffleWriteBytes / 1024}%7d KB  ${j.description.replace('\n', ' ').take(90)} " +
          j.stageNames.map(_.take(70)).distinct.mkString(" | "))
      }
    }
    spark.stop()
  }
}
