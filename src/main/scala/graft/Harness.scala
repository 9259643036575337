package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one run harness: every entry point (`Bench`, `Verify`,
  * `Explain`, the dev profilers, the test base) builds its session,
  * drains its plans, resets its caches and records its jobs here, so a
  * profiler measures under the bench's own session config. */
object Harness {

  /** `SPARK_GRAFT_CPUS`, else the machine's core count. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .map(_.trim.toInt).getOrElse(Runtime.getRuntime.availableProcessors())

  /** The one session builder: `local[cpus]`, one shuffle partition per
    * core, AQE on, UTC, no UI, managed (bucketed) tables under `/tmp`,
    * log level WARN. `GraftExtensions` is deliberately not installed:
    * its `ApproxDistinctRewrite` would change the benched plans. */
  def session(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Fully evaluate a query's plan — every output column of every row —
    * without collecting to the driver. `count()` is NOT that: the
    * optimizer prunes the final projections and drops the top sort
    * under an aggregate, so a query whose cost lives in its per-row
    * output transforms times as a bare scan (q150's rule gate measured
    * 0.17 s under count() and 9.4 s when a filter forced it — the
    * benchmark must charge the real price). Iterating the plan's
    * InternalRow RDD materializes every projection and keeps the sort. */
  def drain(df: DataFrame): Long =
    df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      Iterator.single(n)
    }.fold(0L)(_ + _)

  /** Drop every catalog-cached frame and every persisted RDD, so one
    * query's storage does not eat the next one's execution memory.
    * `localCheckpoint` RDDs (the iterative operators' lineage
    * truncation) are not catalog-cached, hence the second sweep. */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  /** One Spark job `recordJobs` saw: its label (`spark.job.description`,
    * "" when unset), wall span, and the stages it ran (skipped stages
    * are not counted) with their tasks and bytes. */
  final case class Job(id: Int, description: String, startMs: Long,
                       endMs: Long, stages: Int, tasks: Int,
                       inputBytes: Long, shuffleReadBytes: Long,
                       shuffleWriteBytes: Long, stageNames: Seq[String])

  private val TagKey = "graft.harness.recordJobs"

  /** The jobs `body` launches, in id order. Jobs are attributed through
    * a local property, which threads started inside `body` (pooled
    * writers, stream executions) inherit, so jobs of other threads
    * never count; a nested `recordJobs` keeps its jobs to itself. The
    * listener bus is asynchronous: a fence job tagged separately is
    * submitted last, and since the bus delivers events in order, once
    * its start is seen every earlier job's events have been seen. */
  def recordJobs(spark: SparkSession)(body: => Unit): Seq[Job] = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val fence = s"$tag-fence"
    val fenced = new CountDownLatch(1)
    val jobs = scala.collection.mutable.Map[Int, Job]()
    val stageToJob = scala.collection.mutable.Map[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        props.map(_.getProperty(TagKey)).orNull match {
          case `tag` => jobs.synchronized {
            val desc = props.flatMap(p =>
              Option(p.getProperty("spark.job.description"))).getOrElse("")
            jobs(e.jobId) = Job(e.jobId, desc, e.time, 0L, 0, 0, 0L, 0L,
              0L, Nil)
            e.stageIds.foreach(stageToJob(_) = e.jobId)
          }
          case `fence` => fenced.countDown()
          case _ =>
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          val si = e.stageInfo
          val m = si.taskMetrics
          stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
            jobs(j.id) = j.copy(stages = j.stages + 1,
              tasks = j.tasks + si.numTasks,
              inputBytes = j.inputBytes + m.inputMetrics.bytesRead,
              shuffleReadBytes = j.shuffleReadBytes +
                m.shuffleReadMetrics.totalBytesRead,
              shuffleWriteBytes = j.shuffleWriteBytes +
                m.shuffleWriteMetrics.bytesWritten,
              stageNames = j.stageNames :+ si.name)
          }
        }
    }
    val prev = sc.getLocalProperty(TagKey)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(TagKey, tag)
      body
      sc.setLocalProperty(TagKey, fence)
      sc.parallelize(Seq(1), 1).count()
      require(fenced.await(60, TimeUnit.SECONDS),
        "the listener bus did not deliver the fence job")
      jobs.synchronized(jobs.values.toSeq.sortBy(_.id))
    } finally {
      sc.setLocalProperty(TagKey, prev)
      sc.removeSparkListener(listener)
    }
  }
}
