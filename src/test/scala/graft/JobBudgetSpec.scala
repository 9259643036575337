package graft

import org.apache.spark.sql.functions.col

/** Job budgets for the streaming fold-store path, the warehouse table
  * loaders and the warehouse ETL plans: the number of Spark jobs each
  * launches, pinned as COUNTS (not timings) so an edit that brings back
  * a metadata-only job — a Parquet manifest write or `head()`, a
  * schema-inference read, a second merge shuffle, a second staging
  * scan, a range-partitioned sort of a bounded result — fails here.
  * The PlanAuditSpec posture applied to the scheduler layer; the
  * warehouse ETL plans and the streaming fold wires also carry a
  * codegen budget, the number of classes a warm pass compiles.
  */
class JobBudgetSpec extends SparkSpecBase {

  /** Spark jobs `body` launches, attributed by [[Harness.recordJobs]]
    * (jobs of other threads never count). */
  private def jobsOf(body: => Unit): Int = Harness.recordJobs(spark)(body).size

  private def tmp(tag: String): String =
    tempRoot(tag).toString

  test("CountMin store: create and merge fold in ≤ 2 jobs each, " +
      "readStore launches none") {
    import spark.implicits._
    import graft.operators.CountMin
    val path = tmp("graft_budget_cm")
    val b1 = (1L to 400L).map(_ % 37).toDF("v")
    val b2 = (1L to 300L).map(i => (i * 7) % 41).toDF("v")
    val create = jobsOf(CountMin.foldIntoStore(b1, "v", path, 4, 64,
      batchId = Some(0L)))
    val merge = jobsOf(CountMin.foldIntoStore(b2, "v", path, 4, 64,
      batchId = Some(1L)))
    val read = jobsOf(CountMin.readStore(spark, path))
    val replay = jobsOf(CountMin.foldIntoStore(b2, "v", path, 4, 64,
      batchId = Some(1L)))
    assert(create <= 2, s"create fold took $create jobs")
    assert(merge <= 2, s"merge fold took $merge jobs")
    assert(read == 0, s"readStore took $read jobs")
    assert(replay == 0, s"a replayed batch took $replay jobs")
  }

  test("quantile and histogram stores: folds at their one-shuffle " +
      "counts, reads launch none") {
    import spark.implicits._
    import graft.operators.{Audit, QuantileSketch}
    val qs = tmp("graft_budget_qs")
    val q1 = (1L to 300L).map(i => (i, (i * 13 % 97).toDouble))
      .toDF("key", "v")
    val q2 = (200L to 500L).map(i => (i, (i * 7 % 89).toDouble))
      .toDF("key", "v")
    val qCreate = jobsOf(QuantileSketch.foldIntoStore(q1, "key", "v", qs,
      40, batchId = Some(0L)))
    val qMerge = jobsOf(QuantileSketch.foldIntoStore(q2, "key", "v", qs,
      40, batchId = Some(1L)))
    val qRead = jobsOf(QuantileSketch.readStore(spark, qs))
    assert(qCreate <= 2, s"quantile create fold took $qCreate jobs")
    assert(qMerge <= 2, s"quantile merge fold took $qMerge jobs")
    assert(qRead == 0, s"quantile readStore took $qRead jobs")
    val hist = tmp("graft_budget_hist")
    val h1 = (1L to 100L).map(_ % 11).toDF("bucket")
    val h2 = (1L to 80L).map(i => (i * 3) % 13).toDF("bucket")
    val hCreate = jobsOf(Audit.histogramFoldIntoStore(h1, "bucket", hist,
      batchId = Some(0L)))
    val hMerge = jobsOf(Audit.histogramFoldIntoStore(h2, "bucket", hist,
      batchId = Some(1L)))
    val hRead = jobsOf(Audit.readHistogramStore(spark, hist))
    assert(hCreate <= 2, s"histogram create fold took $hCreate jobs")
    assert(hMerge <= 2, s"histogram merge fold took $hMerge jobs")
    assert(hRead == 0, s"readHistogramStore took $hRead jobs")
  }

  test("q248 streaming Count-Min wire: build + drain in ≤ 8 jobs") {
    val q = Queries.byName("q248_streaming_countmin")
    val n = jobsOf(Harness.drain(q.run(spark, sf)))
    assert(n <= 8, s"q248 build + drain took $n jobs")
  }

  test("gate stores: base reads, the edge-store probe and the append " +
      "commits launch no metadata job") {
    import spark.implicits._
    import graft.operators.{Dedup, Graph, Similarity}
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 20)
    val mh = tmp("graft_budget_mh")
    Dedup.writeMinhashStore(docs, "doc_id", "text", mh)
    val mhBase = jobsOf(Dedup.readMinhashStoreBase(spark, mh))
    val mhAppend = jobsOf(Dedup.appendToMinhashStore(
      Seq((7000L, "zebra quark lantern voyage ember crystal meadow"))
        .toDF("doc_id", "text"), "text", mh))
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val ivf = tmp("graft_budget_ivf")
    Similarity.writeIvfStore(vecs.filter(col("vec_id") < 32), "vec_id",
      "embedding", ivf, numCells = 4)
    val ivfBase = jobsOf(Similarity.readIvfStoreBase(spark, ivf))
    val ivfAppend = jobsOf(Similarity.appendToIvfStore(
      vecs.filter(col("vec_id") === 40), "embedding", ivf))
    val edges = tmp("graft_budget_edges")
    Graph.writeEdgeStore(Seq((1L, 2L), (2L, 3L)).toDF("a", "b"), edges,
      3L, 11L)
    val edgeProbe = jobsOf(Graph.edgeStoreIsCurrent(spark, edges, 3L, 11L))
    val edgeRead = jobsOf(Graph.readEdgeStore(spark, edges))
    info(s"readMinhashStoreBase $mhBase, appendToMinhashStore $mhAppend, " +
      s"readIvfStoreBase $ivfBase, appendToIvfStore $ivfAppend, " +
      s"edgeStoreIsCurrent $edgeProbe, readEdgeStore $edgeRead")
    assert(mhBase == 0, s"readMinhashStoreBase took $mhBase jobs")
    assert(ivfBase == 0, s"readIvfStoreBase took $ivfBase jobs")
    assert(edgeProbe == 0, s"edgeStoreIsCurrent took $edgeProbe jobs")
    // the edges dataset's schema inference is the one job left
    assert(edgeRead <= 1, s"readEdgeStore took $edgeRead jobs")
    // a shuffle-map job and a result job for each of the bucket write,
    // the shingle write (both distinct) and the distinct-key stamp; the
    // gatelog commit is a pointer flip with no payload, and the base
    // read launches none
    assert(mhAppend <= 6, s"appendToMinhashStore took $mhAppend jobs")
    assert(ivfAppend <= 6, s"appendToIvfStore took $ivfAppend jobs")
  }

  test("streaming gates and gate compactions: build + drain at their " +
      "measured job counts") {
    // no manifest head() or schema-inference job on a base read, no
    // one-row gatelog payload write per commit. q251 measures 104–107
    // on one tree: in a micro-batch's "store probe + admit" plan, AQE
    // turns a join over the cached batch frame into a broadcast join
    // once the other side's stats arrive; when the cached side's
    // shuffle stage was submitted first, it still runs and is read back
    // for the broadcast (a shuffle-map job plus a read job), so the
    // count follows which concurrent query stage finishes first
    val budgets = Seq("q251_streaming_neardup_gate" -> 107,
      "q252_streaming_semantic_gate" -> 56, "q259_gate_compaction" -> 43,
      "q260_ivf_compaction" -> 39)
    val counts = budgets.map { case (name, budget) =>
      (name, budget, jobsOf(Harness.drain(Queries.byName(name).run(spark, sf))))
    }
    info(counts.map { case (n, _, j) => s"$n $j" }.mkString(", "))
    val over = counts.filter { case (_, budget, n) => n > budget }
    assert(over.isEmpty, over.map { case (name, budget, n) =>
      s"$name build + drain took $n jobs (budget $budget)" }.mkString("; "))
  }

  test("every Tables loader, registerViews and eventsStream launch no job") {
    val loaders: Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)] = Seq(
      "region" -> (Tables.region _), "nation" -> (Tables.nation _),
      "customer" -> (Tables.customer _), "supplier" -> (Tables.supplier _),
      "part" -> (Tables.part _), "orders" -> (Tables.orders _),
      "lineitem" -> (Tables.lineitem _), "events" -> (Tables.events _),
      "documents" -> (Tables.documents _), "embeddings" -> (Tables.embeddings _))
    assert(loaders.map(_._1) == Tables.names)
    loaders.foreach { case (name, load) =>
      val n = jobsOf(load(spark, sf))
      assert(n == 0, s"Tables.$name took $n jobs")
    }
    val views = jobsOf(Tables.registerViews(spark, sf))
    assert(views == 0, s"Tables.registerViews took $views jobs")
    val dir = tmp("graft_budget_stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(dir, "events.parquet"))
    val stream = jobsOf(graft.streaming.Streams.eventsStream(spark, dir))
    assert(stream == 0, s"Streams.eventsStream took $stream jobs")
  }

  private val warehouseEtl = Seq("q11_rollup_year_month",
    "q17_macro_series_join", "q69_kv_scrape_pivot", "q48_dedup_append",
    "q49_upsert_partition")

  test("warehouse ETL plans: build + drain at their measured job counts") {
    // per query: the aggregate's shuffle-map job(s) plus the one result
    // job that orders the bounded output (no schema inference job, no
    // range-sort sample and shuffle jobs); q17/q48/q49 build their
    // sibling aggregates in one sliceAggregate, so one shuffle-map job
    val budgets = Seq(2, 2, 3, 2, 2)
    val over = warehouseEtl.zip(budgets).map { case (name, budget) =>
      (name, budget, jobsOf(Harness.drain(Queries.byName(name).run(spark, sf))))
    }.filter { case (_, budget, n) => n > budget }
    assert(over.isEmpty, over.map { case (name, budget, n) =>
      s"$name build + drain took $n jobs (budget $budget)" }.mkString("; "))
  }

  /** Generated classes compiled by building and draining `names`.
    * Counted, not timed: every codegen cache miss is one compilation
    * on this metric. */
  private def compiles(names: Seq[String]): Long = {
    import org.apache.spark.metrics.source.CodegenMetrics
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    names.foreach(n => Harness.drain(Queries.byName(n).run(spark, sf)))
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("warehouse ETL plans: a warm pass compiles at most 0 classes") {
    // Spark's generated-class cache holds 100 entries
    // (spark.sql.codegen.cache.maxEntries, static) in 4 LRU segments; a
    // pass whose working set overflows it recompiles classes it
    // compiled one pass earlier
    val first = compiles(warehouseEtl)
    val warm = compiles(warehouseEtl)
    info(s"compiled classes: first pass $first, warm pass $warm")
    assert(warm <= 0, s"the warm pass compiled $warm classes (first pass $first)")
  }

  test("streaming fold wires: a warm run compiles at most 0 classes") {
    // the cache is keyed by class loader; micro-batch jobs issued on
    // the stream's clone session ran in a fresh executor class loader
    // per stream run, so every run recompiled its classes (q248: 13).
    // The gates (q251, q252) are not pinned: one run compiles more
    // classes than the cache holds, so their warm count depends on what
    // ran before it in the JVM
    val over = Seq("q248_streaming_countmin", "q249_streaming_drift",
        "q250_streaming_quantile").map { n =>
      val first = compiles(Seq(n))
      val warm = compiles(Seq(n))
      info(s"$n compiled classes: first run $first, warm run $warm")
      (n, first, warm)
    }.filter(_._3 > 0)
    assert(over.isEmpty, over.map { case (n, first, warm) =>
      s"$n: the warm run compiled $warm classes (first run $first)"
    }.mkString("; "))
  }
}
