package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Closed-loop run of one benchmark workload: one client issues the
  * workload's registered queries one after another in a single JVM.
  *
  * It touches the engine only from outside: it calls `QuerySpec.run`,
  * drains the returned plan, and (traced runs only) listens on Spark's
  * public listener APIs. Session settings, the full-plan drain and the
  * per-query cache reset are those of `graft.Bench`.
  *
  * Phases of a run:
  *   1. set-up, timed from JVM start: build the session, read every input
  *      table's footers, and run `--warmup` untimed warm-up passes over the
  *      query list. The first one's results are written for the oracle
  *      compare.
  *   2. measured passes over the query list until `--seconds` have passed
  *      (at least one). With `--trace 1` untraced and traced passes
  *      alternate in pairs (at least two), so that their difference is the
  *      tracing overhead.
  *
  * Writes `result.json` (samples) and, when traced, `spans.jsonl` into
  * `--out`. Arithmetic over the samples is left to the caller.
  *
  * Usage: Harness --data DIR --queries q1,q2 --out DIR --seconds S
  *        --trace 0|1 --warmup N --cpus N
  */
object Harness {
  private final case class Conf(data: String, queries: Seq[String], out: Path,
      seconds: Double, trace: Boolean, warmup: Int, cpus: Int)

  private val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Local property naming the span a job is submitted under. Spark copies
    * local properties into child threads and into every job's properties,
    * so jobs launched from pooled or streaming threads keep their parent. */
  private val SpanKey = "perfbench.span"

  private def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("data"), m("queries").split(',').map(_.trim).filter(_.nonEmpty).toSeq,
      Paths.get(m("out")), m("seconds").toDouble, m("trace") == "1",
      m("warmup").toInt, m("cpus").toInt)
  }

  // ---- clock: epoch seconds with nanoTime resolution --------------------
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  private def now(): Double = anchorMs / 1e3 + (System.nanoTime() - anchorNs) / 1e9

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuSeconds(): Double = osBean.getProcessCpuTime / 1e9
  private val jitBean = ManagementFactory.getCompilationMXBean
  /** Time the JIT compiler threads have spent compiling since JVM start. */
  private def jitSeconds(): Double = jitBean.getTotalCompilationTime / 1e3

  /** Machine-wide (steal, total) CPU jiffies from /proc/stat, or zeros.
    * Steal is time a virtual CPU was ready but the hypervisor ran another
    * guest; on a shared host it is the main cause of run-to-run spread. */
  private def stealJiffies(): (Long, Long) = try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  } catch { case _: Exception => (0L, 0L) }

  // ---- graft.Bench's session, drain and reset ---------------------------
  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def drain(df: DataFrame): Long =
    df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      Iterator.single(n)
    }.fold(0L)(_ + _)

  private def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def describe(t: Throwable): String =
    (t.getClass.getSimpleName + ": " + Option(t.getMessage).getOrElse("")).take(300)

  // ---- minimal JSON ------------------------------------------------------
  private def js(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => js(x)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(js).mkString("[", ",", "]")
    case other => js(other.toString)
  }

  // ---- tracing -----------------------------------------------------------
  private final class Span(val id: Long, val parent: Long, val kind: String,
      val name: String, val start: Double) {
    var end: Double = Double.NaN
    def json: String = js(mutable.LinkedHashMap("id" -> id, "parent" -> parent,
      "kind" -> kind, "name" -> name, "start" -> start, "end" -> end))
  }

  /** Everything a traced pass records. Spans of the harness's own calls are
    * opened and closed on the driver thread; job, plan and micro-batch
    * records arrive on Spark's listener bus. */
  private final class Tracer(spark: SparkSession) {
    private var nextId = 0L
    val spans = mutable.ArrayBuffer[Span]()
    val records = mutable.ArrayBuffer[String]() // listener records, as JSON
    private var fenceJob = -1
    private var fenceSeen = false
    private val openJobs = mutable.Set[Int]()
    private var streamsStarted = 0
    private var streamsEnded = 0

    def open(kind: String, name: String, parent: Long): Span = synchronized {
      nextId += 1
      val s = new Span(nextId, parent, kind, name, now())
      spans += s
      s
    }

    // jobs, with their stages' task metrics folded in
    private final class Job(val id: Int, val parent: Long, val label: String, val start: Double) {
      var end = Double.NaN
      var ok = true
      val m = mutable.LinkedHashMap[String, Double]("stages" -> 0, "tasks" -> 0,
        "run_s" -> 0, "cpu_s" -> 0, "gc_s" -> 0, "deserialize_s" -> 0,
        "shuffle_read_b" -> 0, "shuffle_write_b" -> 0, "spill_b" -> 0,
        "scan_read_b" -> 0, "sink_write_b" -> 0)
      def add(k: String, v: Double): Unit = m(k) += v
    }
    private val jobs = mutable.LinkedHashMap[Int, Job]()
    private val stageJob = mutable.HashMap[Int, Int]()

    val jobListener: SparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
        val props = Option(e.properties)
        def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
        if (prop("perfbench.fence").isDefined) { fenceJob = e.jobId; return }
        val parent = prop(SpanKey).map(_.toLong).getOrElse(-1L)
        jobs(e.jobId) = new Job(e.jobId, parent,
          prop("spark.job.description").getOrElse(""), e.time / 1e3)
        openJobs += e.jobId
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
        if (e.jobId == fenceJob) fenceSeen = true
        jobs.get(e.jobId).foreach { j =>
          j.end = e.time / 1e3
          j.ok = e.jobResult == JobSucceeded
          openJobs -= e.jobId
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Tracer.this.synchronized {
          val si = e.stageInfo
          for (jid <- stageJob.get(si.stageId); j <- jobs.get(jid)) {
            j.add("stages", 1)
            j.add("tasks", si.numTasks)
            Option(si.taskMetrics).foreach { t =>
              j.add("run_s", t.executorRunTime / 1e3)
              j.add("cpu_s", t.executorCpuTime / 1e9)
              j.add("gc_s", t.jvmGCTime / 1e3)
              j.add("deserialize_s", t.executorDeserializeTime / 1e3)
              j.add("shuffle_read_b", t.shuffleReadMetrics.totalBytesRead.toDouble)
              j.add("shuffle_write_b", t.shuffleWriteMetrics.bytesWritten.toDouble)
              j.add("spill_b", t.diskBytesSpilled.toDouble)
              j.add("scan_read_b", t.inputMetrics.bytesRead.toDouble)
              j.add("sink_write_b", t.outputMetrics.bytesWritten.toDouble)
            }
          }
        }
    }

    val qeListener: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plan(qe, -1L)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plan(qe, -1L)
    }

    val streamListener: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        Tracer.this.synchronized(streamsStarted += 1)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        Tracer.this.synchronized(streamsEnded += 1)
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli / 1e3
        val rec = js(mutable.LinkedHashMap("kind" -> "batch", "parent" -> -1L,
          "start" -> start, "end" -> (start + p.batchDuration / 1e3),
          "attrs" -> Map("input_rows" -> p.numInputRows)))
        Tracer.this.synchronized(records += rec)
      }
    }

    /** Catalyst phase times and `graft.plans` operators of one executed
      * plan. `parent` is the query span when known (the drained plan);
      * listener-reported plans are placed by time. */
    def plan(qe: QueryExecution, parent: Long): Unit = {
      val phases = qe.tracker.phases
      def phase(k: String) = phases.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
      val ends = phases.values.map(_.endTimeMs)
      val at = if (ends.isEmpty) now() else ends.max / 1e3
      var nodes = 0
      var codegenMs = 0L
      try walk(qe.executedPlan) { p =>
        if (isGraft(p)) nodes += 1
        p match {
          case w: WholeStageCodegenExec if stageNodes(w.child).exists(isGraft) =>
            codegenMs += w.metrics.get("pipelineTime").map(_.value).getOrElse(0L)
          case _ =>
        }
      } catch { case _: Exception => () } // a plan that failed to build
      val rec = js(mutable.LinkedHashMap("kind" -> "qe", "parent" -> parent,
        "start" -> at, "end" -> at, "attrs" -> mutable.LinkedHashMap(
          "analysis_s" -> phase("analysis"), "optimization_s" -> phase("optimization"),
          "planning_s" -> phase("planning"), "plans_nodes" -> nodes,
          "codegen_s" -> codegenMs / 1e3)))
      synchronized(records += rec)
    }

    private def isGraft(p: SparkPlan): Boolean =
      p.getClass.getName.startsWith("graft.") ||
        p.expressions.exists(_.exists(_.getClass.getName.startsWith("graft.plans.")))

    /** Operators of one whole-stage-codegen stage: stop at its inputs. */
    private def stageNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case other => other +: other.children.flatMap(stageNodes)
    }

    private def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case s: QueryStageExec => walk(s.plan)(f)
      case _: ReusedExchangeExec => ()
      case other =>
        f(other)
        other.children.foreach(walk(_)(f))
        other.subqueries.foreach(walk(_)(f))
    }

    def attach(): Unit = {
      spark.sparkContext.addSparkListener(jobListener)
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
    }

    /** Wait (bounded) until the listener bus has delivered every event of
      * the traced passes, then detach. A fence job's end proves the shared
      * queue is drained up to it. */
    def detach(): Unit = {
      val sc = spark.sparkContext
      synchronized { fenceSeen = false }
      sc.setLocalProperty(SpanKey, null)
      sc.setLocalProperty("perfbench.fence", "1")
      sc.parallelize(Seq(1), 1).count()
      sc.setLocalProperty("perfbench.fence", null)
      val deadline = System.nanoTime() + 10000000000L
      def settled = synchronized(fenceSeen && openJobs.isEmpty && streamsEnded >= streamsStarted)
      while (!settled && System.nanoTime() < deadline) Thread.sleep(20)
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
    }

    def write(path: Path): Unit = synchronized {
      val jobLines = jobs.values.map { j =>
        js(mutable.LinkedHashMap("kind" -> "job", "id" -> j.id, "parent" -> j.parent,
          "name" -> j.label, "start" -> j.start, "end" -> j.end, "ok" -> j.ok, "attrs" -> j.m))
      }
      val lines = spans.map(_.json) ++ jobLines ++ records
      Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    }
  }

  // ---- live heap ----------------------------------------------------------
  /** Heap in use right after each garbage collection, from the collectors'
    * notifications: (GC end in ms of JVM uptime, bytes in the heap pools). */
  private final class LiveHeap {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    private val events = mutable.ArrayBuffer[(Long, Long)]()
    private val listener = new NotificationListener {
      override def handleNotification(n: Notification, handback: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val gc = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
          val after = gc.getMemoryUsageAfterGc.asScala.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          LiveHeap.this.synchronized(events += ((gc.getEndTime, after)))
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }

    def uptimeMs(): Long = ManagementFactory.getRuntimeMXBean.getUptime

    /** Largest live heap, in MB, after a collection that ended in [from, to],
      * and the number of such collections. */
    def peak(from: Long, to: Long): (Double, Int) = synchronized {
      val in = events.filter { case (end, _) => end >= from && end <= to }.map(_._2)
      (if (in.isEmpty) Double.NaN else in.max / 1048576.0, in.size)
    }
  }

  // ---- the run -------------------------------------------------------------
  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    Files.createDirectories(conf.out)
    val specs = conf.queries.map(n => graft.Queries.byName.getOrElse(n,
      throw new IllegalArgumentException(s"unknown query $n")))
    val heap = new LiveHeap

    // 1. set-up, timed from JVM start: session, input footers, warm-up pass
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val spark = session(conf.cpus)
    Tables.foreach(t => spark.read.parquet(s"${conf.data}/$t.parquet"))
    val sessionS = now() - jvmStart
    System.err.println(f"perfbench: session and footers $sessionS%.2f s after JVM start")

    val tracer = if (conf.trace) Some(new Tracer(spark)) else None
    var run: Option[Span] = None
    val passes = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
    val checkErrors = mutable.LinkedHashMap[String, String]()

    def open(traced: Boolean, kind: String, name: String, parent: Option[Span]) =
      tracer.filter(_ => traced).map(_.open(kind, name, parent.fold(0L)(_.id)))
    def close(s: Option[Span]): Unit = s.foreach(x => if (x.end.isNaN) x.end = now())
    def under(s: Option[Span]): Unit =
      spark.sparkContext.setLocalProperty(SpanKey, s.map(_.id.toString).orNull)

    /** One pass over the workload. Work that is not the workload's is kept
      * out of the pass's wall and CPU time: writing each result for the
      * oracle compare (`check`) and reading a traced query's executed plan.
      * Returns the time kept out. */
    def pass(traced: Boolean, check: Boolean, phase: String): Double = {
      val ps = open(traced, "pass", s"pass${passes.size}", run)
      val t0 = now()
      val c0 = cpuSeconds()
      val st0 = stealJiffies()
      val j0 = jitSeconds()
      val up0 = heap.uptimeMs()
      var asideWall, asideCpu = 0.0
      def aside(body: => Unit): Unit = {
        val (w, c) = (now(), cpuSeconds())
        body
        asideWall += now() - w
        asideCpu += cpuSeconds() - c
      }
      val rows = specs.map { q =>
        reset(spark)
        val qs = open(traced, "query", q.name, ps)
        val bs = open(traced, "build", q.name, qs)
        var ds: Option[Span] = None
        var build, drained = Double.NaN
        var df: DataFrame = null
        under(bs)
        val q0 = now()
        val error = try {
          df = q.run(spark, conf.data)
          build = now() - q0
          close(bs)
          ds = open(traced, "drain", q.name, qs)
          under(ds)
          drain(df)
          drained = now() - q0 - build
          None
        } catch { case t: Throwable => Some(describe(t)) }
        val latency = now() - q0
        under(None)
        Seq(bs, ds, qs).foreach(close)
        aside {
          for (s <- qs; t <- tracer if df != null) t.plan(df.queryExecution, s.id)
          if (check) try {
            error.foreach(e => throw new RuntimeException(e))
            // the drained RDD once more: its finished shuffle stages are
            // reused and the plan is not planned again
            val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
            val rows = df.queryExecution.toRdd.map(_.copy()).collect()
              .map(r => toRow(r).asInstanceOf[Row])
            spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
              .write.parquet(conf.out.resolve("check").resolve(q.name).toString)
          } catch { case t: Throwable => checkErrors(q.name) = describe(t) }
        }
        mutable.LinkedHashMap("name" -> q.name, "latency_s" -> latency,
          "build_s" -> build, "drain_s" -> drained, "error" -> error)
      }
      val wall = now() - t0 - asideWall
      val cpu = cpuSeconds() - c0 - asideCpu
      val up1 = heap.uptimeMs()
      close(ps)
      val st1 = stealJiffies()
      val steal = (st1._1 - st0._1).toDouble / math.max(1L, st1._2 - st0._2)
      val jit = jitSeconds() - j0
      System.err.println(f"perfbench: pass ${passes.size} ($phase%s${if (traced) ", traced" else ""})" +
        f" wall $wall%.2f s cpu $cpu%.2f s, aside $asideWall%.2f s steal $steal%.3f jit $jit%.2f s")
      passes += mutable.LinkedHashMap("phase" -> phase, "traced" -> traced,
        "wall_s" -> wall, "cpu_s" -> cpu, "uptime_ms" -> Seq(up0, up1), "steal" -> steal,
        "jit_s" -> jit, "queries" -> rows)
      asideWall
    }

    // The warm-up passes end the set-up; the first one's results are the
    // ones checked. Writing them for the check is not set-up time.
    val warmAside = (1 to conf.warmup).map(i => pass(traced = false, check = i == 1, "warmup")).sum
    val setupS = now() - jvmStart - warmAside
    System.err.println(f"perfbench: set-up $setupS%.2f s after JVM start")

    // 2. measured passes until --seconds have passed. A traced run
    // alternates untraced and traced passes in pairs, swapping which goes
    // first from pair to pair, and runs at least one pair of each order so
    // that a drift from pass to pass cancels out of the tracing overhead;
    // the traced passes give the per-layer metrics.
    run = open(conf.trace, "run", "run", None)
    val start = now()
    var i = 0
    do {
      val traced = conf.trace && ((i / 2) % 2 == 0) == (i % 2 == 1)
      // Each pass starts on a compacted heap, as a batch in a fresh process
      // does. Without it G1 never collects the old generation of a heap
      // this size within a run, and heap in use after a young collection
      // counts everything promoted since JVM start instead of live data.
      System.gc()
      if (traced) tracer.foreach(_.attach())
      pass(traced, check = false, "measure")
      if (traced) tracer.foreach(_.detach())
      i += 1
    } while (now() - start < conf.seconds || (conf.trace && (i < 4 || i % 2 == 1)))
    close(run)
    tracer.foreach(_.write(conf.out.resolve("spans.jsonl")))
    Files.write(conf.out.resolve("oracle_sql.json"),
      js(specs.flatMap(q => q.oracle.map(q.name -> _)).toMap).getBytes(UTF_8))

    // collector notifications arrive shortly after each collection
    Thread.sleep(200)
    val withHeap = passes.map { p =>
      val Seq(from, to) = p("uptime_ms").asInstanceOf[Seq[Long]]
      val (mb, gcs) = heap.peak(from, to)
      p ++= Seq("mem_peak_mb" -> mb, "gcs" -> gcs)
    }
    val result = mutable.LinkedHashMap("cpus" -> conf.cpus, "setup_s" -> setupS,
      "session_s" -> sessionS, "check_errors" -> checkErrors, "passes" -> withHeap)
    Files.write(conf.out.resolve("result.json"), js(result).getBytes(UTF_8))
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
  }
}
