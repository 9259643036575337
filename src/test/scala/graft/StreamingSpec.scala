package graft

import graft.streaming.Streams
import org.apache.spark.sql.functions._

/** Structured Streaming semantics driven to completion with a memory
  * sink (AvailableNow-style: processAllAvailable over the static
  * parquet), compared against the batch twins. */
class StreamingSpec extends SparkSpecBase {

  /** The file stream source needs a directory; stage the single
    * events.parquet into one. */
  private lazy val eventsDir: String = {
    val dir = tempRoot("graft_stream", perSuite = true)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  private def runToMemory(df: org.apache.spark.sql.DataFrame,
                          name: String,
                          mode: String = "append"): org.apache.spark.sql.DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  test("streaming tumbling counts match the batch q41") {
    val streamed = runToMemory(
      Streams.tumblingCounts(Streams.eventsStream(spark, eventsDir)),
      "t_tumbling", mode = "append")
    // watermark "1 hour": every window closes except the tail; compare
    // against batch on the windows the stream emitted
    val batch = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))
    val joined = streamed.alias("s").join(batch.alias("b"),
      Seq("win_start", "event_type"))
    assert(streamed.count() > 0)
    assert(joined.filter(col("s.n") =!= col("b.n")).isEmpty)
  }

  test("dropDuplicatesWithinWatermark dedups replayed events") {
    val replayed = Streams.eventsStream(spark, eventsDir)
      .unionByName(Streams.eventsStream(spark, eventsDir))
    val deduped = runToMemory(
      Streams.dedupWithinWatermark(replayed), "t_dedup")
    val expected = Tables.events(spark, sf).select("event_id").distinct().count()
    assert(deduped.count() == expected)
  }

  test("flatMapGroupsWithState running totals end at the batch totals") {
    val streamed = runToMemory(
      Streams.runningUserTotals(spark, Streams.eventsStream(spark, eventsDir)),
      "t_state", mode = "append")
    // final state per user = last emitted row per user (one batch → one row)
    val finalRows = streamed.groupBy("user_id")
      .agg(max(col("n_events")).as("n_events"))
    val batch = Tables.events(spark, sf).groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
    assert(finalRows.exceptAll(batch).isEmpty)
  }

  test("stream-static dimension join enriches every batch like the batch join") {
    val dim = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_mktsegment"))
    val streamed = runToMemory(
      Streams.enrichWithDim(Streams.eventsStream(spark, eventsDir), dim,
        "user_id", "c_custkey"),
      "t_enrich")
    val batch = Streams.enrichWithDim(Tables.events(spark, sf), dim,
      "user_id", "c_custkey")
    assert(streamed.count() == Tables.events(spark, sf).count(),
      "left enrichment must not drop or duplicate events")
    assertBagEqual(
      streamed.select("event_id", "user_id", "c_mktsegment"),
      batch.select("event_id", "user_id", "c_mktsegment"))
  }

  test("streaming sessionization emits exactly the batch operator's closed sessions") {
    import graft.operators.Relational
    val streamed = runToMemory(
      Streams.sessionizeStream(spark, Streams.eventsStream(spark, eventsDir)),
      "t_sessions")
    val batch = Relational.sessionize(Tables.events(spark, sf),
        "user_id", "ts", 1800)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
    assert(streamed.count() > 0, "no sessions closed — timeouts never fired")
    // soundness: every emitted session is exactly a batch session
    assert(streamed.exceptAll(batch).isEmpty,
      "stream emitted a session the batch operator doesn't have")
    // completeness: every session the final watermark passed was emitted
    val maxTs = Tables.events(spark, sf)
      .agg(max(expr("unix_micros(ts)"))).head().getLong(0)
    val closedCutoffUs = maxTs - 3600L * 1000000 - 1800L * 1000000
    val mustClose = batch.filter(
      expr("unix_micros(session_end)") + lit(1800L * 1000000) <
        lit(closedCutoffUs + 1800L * 1000000))
    assert(mustClose.exceptAll(streamed).isEmpty,
      "a watermark-passed session was never emitted")
    // emitted at most once (Append-mode exactly-once per session)
    assert(streamed.count() == streamed.distinct().count())
  }

  test("sessionization drops watermark-late rows; emitted sessions stay final") {
    import java.nio.file.attribute.FileTime
    // batch 1: the full events file advances the watermark to
    // max(ts) − 1h; batch 2: one event a year in the past — it must
    // NOT resurrect or contradict an already-emitted session
    val dir = tempRoot("graft_sess_late")
    Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .coalesce(1).write.parquet(dir.resolve("b1").toString)
    import spark.implicits._
    Seq((888888L, java.sql.Timestamp.valueOf("2023-01-01 00:00:00"), 1L,
        "late", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(dir.resolve("b2").toString)
    def touch(sub: String, t: Long): Unit =
      java.nio.file.Files.walk(dir.resolve(sub)).forEach(p =>
        java.nio.file.Files.setLastModifiedTime(p, FileTime.fromMillis(t)))
    val now = System.currentTimeMillis()
    touch("b1", now - 60000); touch("b2", now)
    val stream = spark.readStream.schema(Tables.events(spark, sf).schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val q = graft.streaming.Streams
      .sessionizeStream(spark, stream)
      .writeStream.format("memory").queryName("t_sess_late")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("t_sess_late")
    // no emitted session contains the 2023 late row
    assert(streamed.filter(year(col("session_start")) < lit(2024)).isEmpty,
      "a watermark-late row leaked into an emitted session")
    // and the on-time sessions still match the batch operator
    val batch = graft.operators.Relational
      .sessionize(Tables.events(spark, sf), "user_id", "ts", 1800)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"), count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
    assert(streamed.exceptAll(batch).isEmpty,
      "stream emitted a session the batch operator doesn't have")
  }

  test("watermark advances across micro-batches; on-time windows emit exactly once") {
    import spark.implicits._
    // two micro-batches via maxFilesPerTrigger=1: batch 1 advances the
    // watermark to ~max(ts) - 10min; batch 2 is one event far in the
    // past → its window is below the watermark and must be dropped.
    val dir = tempRoot("graft_late")
    val base = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
    base.coalesce(1).write.parquet(dir.resolve("b1").toString)
    val late = Seq((999999L, java.sql.Timestamp.valueOf("2023-06-01 00:00:00"),
        1L, "late", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    late.coalesce(1).write.parquet(dir.resolve("b2").toString)
    // the file source orders by modification time: force b1 strictly
    // before b2 so the watermark advances before the late row arrives
    import java.nio.file.attribute.FileTime
    def touch(sub: String, t: Long): Unit =
      java.nio.file.Files.walk(dir.resolve(sub)).forEach(p =>
        java.nio.file.Files.setLastModifiedTime(p, FileTime.fromMillis(t)))
    val now = System.currentTimeMillis()
    touch("b1", now - 60000)
    touch("b2", now)
    val stream = spark.readStream
      .schema(base.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString + "/*/")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = stream.writeStream.format("memory").queryName("t_late")
      .outputMode("append").start()
    q.processAllAvailable()
    val wms = q.recentProgress.filter(_.numInputRows > 0)
      .map(_.eventTime.get("watermark")).toSeq
    q.stop()
    // watermark must advance between the two micro-batches (epoch → the
    // first batch's max(ts) - 10min)
    assert(wms.length == 2 && wms(0) < wms(1),
      s"watermark did not advance: $wms")
    val out = spark.table("t_late")
    // on-time windows emit exactly once (append mode: emit on eviction)
    assert(out.groupBy("window", "event_type").count()
      .filter(col("count") > 1).isEmpty, "a window emitted more than once")
    // the late row must not merge into any on-time window: Spark's
    // watermark guarantee is one-directional (in-watermark data is
    // never dropped; beyond-watermark data MAY still emit as its own
    // closed group), so assert non-contamination, not absence
    val lateOut = out.filter(col("event_type") === "late")
    assert(lateOut.count() <= 1)
    // append mode emits a window only once the watermark passes its
    // end: windows still open at the final watermark stay in state, so
    // expected emissions = events whose 10-min window closed
    val finalWm = java.sql.Timestamp.from(java.time.Instant.parse(wms(1)))
    val closed = base.filter(
      window(col("ts"), "10 minutes")("end") <= lit(finalWm)).count()
    assert(out.filter(col("event_type") =!= "late")
      .agg(sum(col("n"))).head.getLong(0) == closed)
  }

  test("stream-stream interval join matches its batch twin") {
    val streamed = runToMemory(
      Streams.purchaseClickJoin(Streams.eventsStream(spark, eventsDir)),
      "t_ssjoin", mode = "append")
    val batch = Streams.purchaseClickJoin(Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value"))
    // a watermarked stream-stream join may hold back pairs whose
    // eviction bound never passes (tail of the stream) — every emitted
    // pair must be correct and the on-time bulk must be present
    val got = streamed.count()
    val want = batch.count()
    assert(streamed.exceptAll(batch).isEmpty,
      "stream emitted a pair the batch twin does not contain")
    assert(got >= (want * 0.95).toLong,
      s"stream emitted $got of $want batch pairs — more than the tail missing")
  }

  test("streaming session windows produce the q43 session starts") {
    val streamed = runToMemory(
      Streams.sessionCounts(Streams.eventsStream(spark, eventsDir)), "t_sessions")
    val batch = Queries.byName("q43_session_windows").run(spark, sf)
      .select(col("user_id"), col("session_start"), col("n_events"))
    val joined = streamed.join(batch, Seq("user_id", "session_start"))
    assert(streamed.count() > 0)
    assert(joined.count() == streamed.count())
  }

  test("streaming funnel emits exactly the batch per-user stages at the horizon") {
    import graft.operators.Funnel
    val stages = Seq("signup", "view", "click", "purchase")
    // horizon: far enough below max(ts) − 1h that the final watermark
    // passes it and every user's timeout fires
    val maxUs = Tables.events(spark, sf)
      .agg(max(expr("unix_micros(ts)"))).head().getLong(0)
    val horizonUs = maxUs - 2L * 3600 * 1000000
    val streamed = runToMemory(
      Streams.funnelStream(spark, Streams.eventsStream(spark, eventsDir),
        stages, horizonUs),
      "t_funnel")
    val batch = Funnel.reachedPerUser(
        Tables.events(spark, sf)
          .filter(expr("unix_micros(ts)") <= lit(horizonUs)),
        "user_id", "event_type", "ts", stages)
      .select(col("u").as("user_id"), col("reached"))
    assert(streamed.count() > 0, "no funnel emissions — timeout never fired")
    // exactly once per user, and exactly the batch fold's result
    assert(streamed.count() == streamed.select("user_id").distinct().count())
    assertBagEqual(streamed, batch)
  }

  test("streaming near-dup gate: a later micro-batch rejects a near-dup " +
      "of an earlier ADMITTED doc (the index grows mid-stream)") {
    import spark.implicits._
    import graft.operators.Dedup
    val root = tempRoot("graft_sgate")
    val storePath = root.resolve("store").toString
    val admittedPath = root.resolve("admitted").toString
    val corpus = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 40)
    Dedup.writeMinhashStore(corpus, "doc_id", "text", storePath)
    val novel = "zebra quark lantern voyage ember crystal meadow pylon"
    // micro-batch 1: a near-dup of store doc 0 + a novel doc;
    // micro-batch 2: a near-dup of the BATCH-1 novel doc — only a gate
    // that admitted 7001's signatures into the index can reject it
    val b1 = corpus.filter(col("doc_id") === 0)
      .select(lit(7000L).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"))
      .unionByName(Seq((7001L, novel)).toDF("doc_id", "text"))
    val b2 = Seq((8000L, novel.split(" ").drop(1).mkString(" ")))
      .toDF("doc_id", "text")
    b1.coalesce(1).write.parquet(root.resolve("in/b1").toString)
    b2.coalesce(1).write.parquet(root.resolve("in/b2").toString)
    // file source orders by modification time — force b1 before b2 so
    // the micro-batches arrive in the intended order
    import java.nio.file.attribute.FileTime
    def touch(sub: String, t: Long): Unit =
      java.nio.file.Files.walk(root.resolve(sub)).forEach(p =>
        java.nio.file.Files.setLastModifiedTime(p, FileTime.fromMillis(t)))
    val now = System.currentTimeMillis()
    touch("in/b1", now - 60000); touch("in/b2", now)
    val stream = spark.readStream.schema(b2.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(root.toString + "/in/*/")
    val q = graft.streaming.IncrementalLoad.streamingNearDupGate(
      spark, stream, "text", storePath, admittedPath,
      root.resolve("ckpt").toString)
    assert(q.awaitTermination(120000), "gate did not drain in time")
    val admitted = spark.read.parquet(admittedPath)
      .select("doc_id").as[Long].collect().toSet
    // 7000 rejected against the base index, 8000 against the GROWN one
    assert(admitted == Set(7001L), s"admitted: $admitted")
    // and the grown index really carries 7001's signatures
    val grown = Dedup.readMinhashStore(spark, storePath)
    assert(grown.buckets.filter(col("doc_id") === 7001L).count() > 0)
  }

  test("streaming near-dup gate: two near-dups arriving in ONE " +
      "micro-batch admit only the min key (intra-batch self-probe)") {
    import spark.implicits._
    import graft.operators.Dedup
    val root = tempRoot("graft_intragate")
    val storePath = root.resolve("store").toString
    val admittedPath = root.resolve("admitted").toString
    val corpus = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 40)
    Dedup.writeMinhashStore(corpus, "doc_id", "text", storePath)
    val novel = "zebra quark lantern voyage ember crystal meadow pylon"
    // ONE staged file = ONE micro-batch carrying a near-dup pair,
    // neither in the store: the store probe alone would admit both
    // (the index contains neither at probe time) — only the
    // within-batch self-probe can reject the larger key
    val b1 = Seq(
      (7000L, novel),
      (7001L, novel.split(" ").drop(1).mkString(" "))
    ).toDF("doc_id", "text")
    b1.coalesce(1).write.parquet(root.resolve("in/b1").toString)
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(root.toString + "/in/*/")
    val q = graft.streaming.IncrementalLoad.streamingNearDupGate(
      spark, stream, "text", storePath, admittedPath,
      root.resolve("ckpt").toString)
    assert(q.awaitTermination(120000), "gate did not drain in time")
    val admitted = spark.read.parquet(admittedPath)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(7000L), s"admitted: $admitted")
    // the index carries exactly the admitted doc's signatures
    val grown = Dedup.readMinhashStore(spark, storePath)
    assert(grown.buckets.filter(col("doc_id") === 7000L).count() > 0)
    assert(grown.buckets.filter(col("doc_id") === 7001L).isEmpty,
      "a rejected intra-batch near-dup leaked into the index")
  }

  test("streaming semantic gate: two copies arriving in ONE " +
      "micro-batch admit only the min id (intra-batch self-probe)") {
    import graft.operators.Similarity
    val root = tempRoot("graft_intravgate")
    val storePath = root.resolve("store").toString
    val admittedPath = root.resolve("admitted").toString
    val e = Tables.embeddings(spark, sf)
    val corpus = e.filter(col("vec_id") < 100)
      .select(col("vec_id"), col("embedding"))
    Similarity.writeIvfStore(corpus, "vec_id", "embedding", storePath,
      numCells = 8, kmeansIters = 1)
    // two copies of the same novel vector (corpus vec 200, absent from
    // the 100-vector store) in ONE micro-batch
    val b1 = e.filter(col("vec_id") === 200)
      .select(lit(7000L).as("vec_id"), col("embedding"))
      .unionByName(e.filter(col("vec_id") === 200)
        .select(lit(7001L).as("vec_id"), col("embedding")))
    b1.coalesce(1).write.parquet(root.resolve("in/b1").toString)
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(root.toString + "/in/*/")
    val q = graft.streaming.IncrementalLoad.streamingSemanticGate(
      spark, stream, "embedding", storePath, admittedPath,
      root.resolve("ckpt").toString)
    assert(q.awaitTermination(120000), "gate did not drain in time")
    val admitted = spark.read.parquet(admittedPath)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(7000L), s"admitted: $admitted")
    val grown = Similarity.readIvfStore(spark, storePath)
    assert(grown.vectors.filter(col("vec_id") === 7000L).count() == 1)
    assert(grown.vectors.filter(col("vec_id") === 7001L).isEmpty,
      "a rejected intra-batch copy leaked into the index")
  }

  test("streaming semantic gate: a later micro-batch rejects a copy of an " +
      "earlier ADMITTED vector (the vector index grows mid-stream)") {
    import graft.operators.Similarity
    val root = tempRoot("graft_vgate")
    val storePath = root.resolve("store").toString
    val admittedPath = root.resolve("admitted").toString
    val e = Tables.embeddings(spark, sf)
    val corpus = e.filter(col("vec_id") < 100)
      .select(col("vec_id"), col("embedding"))
    Similarity.writeIvfStore(corpus, "vec_id", "embedding", storePath,
      numCells = 8, kmeansIters = 1)
    // micro-batch 1: a copy of store vec 5 + a novel vector (corpus
    // vec 200, absent from the 100-vector store); micro-batch 2: a
    // copy of the batch-1 NOVEL vector — only a gate that admitted
    // 7001's vector into the index can reject it
    val b1 = e.filter(col("vec_id") === 5)
      .select(lit(7000L).as("vec_id"), col("embedding"))
      .unionByName(e.filter(col("vec_id") === 200)
        .select(lit(7001L).as("vec_id"), col("embedding")))
    val b2 = e.filter(col("vec_id") === 200)
      .select(lit(8000L).as("vec_id"), col("embedding"))
    b1.coalesce(1).write.parquet(root.resolve("in/b1").toString)
    b2.coalesce(1).write.parquet(root.resolve("in/b2").toString)
    import java.nio.file.attribute.FileTime
    def touch(sub: String, t: Long): Unit =
      java.nio.file.Files.walk(root.resolve(sub)).forEach(p =>
        java.nio.file.Files.setLastModifiedTime(p, FileTime.fromMillis(t)))
    val now = System.currentTimeMillis()
    touch("in/b1", now - 60000); touch("in/b2", now)
    val stream = spark.readStream.schema(b2.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(root.toString + "/in/*/")
    val q = graft.streaming.IncrementalLoad.streamingSemanticGate(
      spark, stream, "embedding", storePath, admittedPath,
      root.resolve("ckpt").toString)
    assert(q.awaitTermination(120000), "gate did not drain in time")
    val admitted = spark.read.parquet(admittedPath)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // 7000 rejected against the base index, 8000 against the GROWN one
    assert(admitted == Set(7001L), s"admitted: $admitted")
    // and the grown index really carries 7001's vector
    val grown = Similarity.readIvfStore(spark, storePath)
    assert(grown.vectors.filter(col("vec_id") === 7001L).count() == 1)
  }

  test("gate wire crash hygiene: a stale temp root from a killed run " +
      "is swept at the next wire start; live roots survive") {
    import spark.implicits._
    import graft.streaming.IncrementalLoad
    import java.nio.file.attribute.FileTime
    val tag = "graft_q251"
    // a killed run's leftovers: staging + a per-run index fragment,
    // EVERY file aged past the sweep horizon (a genuinely dead run
    // stopped writing, so its whole tree is old — the sweep requires
    // this, because a single fresh file marks the root as live)
    val stale = tempRoot(tag)
    java.nio.file.Files.createDirectories(stale.resolve("in/a"))
    java.nio.file.Files.createDirectories(stale.resolve("store"))
    java.nio.file.Files.write(stale.resolve("in/a/part-0.parquet"),
      Array[Byte](1, 2, 3))
    val aged = FileTime.fromMillis(System.currentTimeMillis() - 7200000L)
    java.nio.file.Files.walk(stale).forEach(p =>
      java.nio.file.Files.setLastModifiedTime(p, aged))
    // a long-lived run with ONE recent write inside an otherwise aged
    // tree must be judged live (the paused-JVM / slow-drain case the
    // root-mtime heuristic got wrong)
    val paused = tempRoot(tag)
    java.nio.file.Files.createDirectories(paused.resolve("ckpt"))
    java.nio.file.Files.write(paused.resolve("ckpt/offsets.0"),
      Array[Byte](1))
    java.nio.file.Files.setLastModifiedTime(paused, aged)
    java.nio.file.Files.setLastModifiedTime(paused.resolve("ckpt"), aged)
    // ckpt/offsets.0 keeps its fresh mtime — the live signal
    // a concurrent LIVE run's root: same tag, recent mtime
    val live = tempRoot(tag)
    val df = Seq((1L, "a b c d"), (2L, "e f g h")).toDF("doc_id", "text")
    val (_, root) = IncrementalLoad.stageTwoFileStream(
      df, col("doc_id") < 2L, tag)
    assert(!java.nio.file.Files.exists(stale),
      "a killed run's aged root survived the next wire start")
    assert(java.nio.file.Files.exists(paused.resolve("ckpt/offsets.0")),
      "a root with one recent inner write was swept as aged")
    assert(java.nio.file.Files.exists(live),
      "a live (recent) sibling root was swept")
    assert(java.nio.file.Files.exists(root.resolve("in")))
    // the wire's own root is not a tempRoot: leave nothing behind
    IncrementalLoad.cleanStaging(root, Seq("in"))
    java.nio.file.Files.deleteIfExists(root)
  }

  test("stageTwoFileStream routes NULL-split rows to the second half: " +
      "no row is lost and micro-batch 0 is exactly the first half") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val df = Seq[(Long, Option[Long])]((1L, Some(1L)), (2L, Some(9L)),
      (3L, None), (4L, Some(2L)), (5L, None), (6L, Some(7L)))
      .toDF("id", "split")
    val (stream, root) = graft.streaming.IncrementalLoad
      .stageTwoFileStream(df, col("split") < 5L, "graft_nullsplit")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
    val q = stream.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.select("id").collect().foreach(r => seen.add((id, r.getLong(0))))
      }
      .start()
    assert(q.awaitTermination(120000), "staged stream did not drain")
    val got = seen.asScala.toSeq
    assert(got.map(_._2).sorted == (1L to 6L),
      s"rows lost or duplicated by the staging: $got")
    assert(got.filter(_._1 == 0L).map(_._2).toSet == Set(1L, 4L),
      s"micro-batch 0 is not exactly the first half: $got")
    assert(got.filter(_._1 == 1L).map(_._2).toSet == Set(2L, 3L, 5L, 6L),
      s"NULL-split rows did not arrive in the second half: $got")
    graft.streaming.IncrementalLoad.cleanStaging(root)
    java.nio.file.Files.deleteIfExists(root)
  }

  test("wires rebound to the caller's session keep their progress " +
      "accounting and the caller thread's job properties") {
    import spark.implicits._
    import graft.streaming.IncrementalLoad
    // Count-Min wire over two staged halves (7 + 5 rows)
    val vs = (1L to 12L).map(i => (i, i % 5)).toDF("id", "v")
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    // only jobs tagged from this thread are recorded, so the micro-batch
    // jobs must inherit the caller's properties to show up
    val jobs = Harness.recordJobs(spark) {
      val (stream, root) = IncrementalLoad.stageTwoFileStream(vs,
        col("id") <= 7L, "graft_rebound_cm")
      q = IncrementalLoad.streamingCountMinFold(spark, stream, "v",
        root.resolve("store").toString, root.resolve("ckpt").toString,
        depth = 2, width = 8)
      IncrementalLoad.awaitDrained(q, root, Seq("in", "ckpt", "store"),
        120000L)
      java.nio.file.Files.deleteIfExists(root)
      // a gate wire, whose micro-batch thread sets its own job labels
      val groot = tempRoot("graft_rebound_gate")
      val storePath = groot.resolve("store").toString
      graft.operators.Dedup.writeMinhashStore(
        Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text"),
        "doc_id", "text", storePath)
      val docs = Seq((7001L, "zebra quark lantern voyage ember crystal"))
        .toDF("doc_id", "text")
      val (gstream, gin) = IncrementalLoad.stageTwoFileStream(docs,
        col("doc_id") > 0L, "graft_rebound_gate_in")
      val gate = IncrementalLoad.streamingNearDupGate(spark, gstream,
        "text", storePath, groot.resolve("admitted").toString,
        groot.resolve("ckpt").toString)
      IncrementalLoad.awaitDrained(gate, groot,
        Seq("store", "admitted", "ckpt"), 120000L)
      IncrementalLoad.cleanStaging(gin, Seq("in"))
      java.nio.file.Files.deleteIfExists(gin)
    }
    // perfbench's streaming.input_rows reads these figures
    assert(q.recentProgress.map(_.numInputRows).sum == 12L,
      q.recentProgress.map(_.numInputRows).mkString(", "))
    // the labels the gate sets on the micro-batch thread still reach
    // the tagged jobs
    val labels = jobs.map(_.description)
    assert(labels.exists(_.startsWith("neardup gate gen=")),
      s"no tagged gate admit job: $labels")
  }

  test("awaitDrained stops a stream that does not drain in time and " +
      "removes its staging") {
    import graft.streaming.IncrementalLoad
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = tempRoot("graft_undrained")
    java.nio.file.Files.createDirectories(root.resolve("in"))
    java.nio.file.Files.write(root.resolve("in/part-0"), Array[Byte](1))
    val input = MemoryStream[Long](
      org.apache.spark.sql.Encoders.scalaLong, spark)
    input.addData(1L, 2L, 3L)
    // a processing-time trigger never terminates on its own
    val q = input.toDF().writeStream.format("noop")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .start()
    val e = intercept[IllegalArgumentException] {
      IncrementalLoad.awaitDrained(q, root, Seq("in", "ckpt"), 1000L)
    }
    assert(e.getMessage.contains("did not drain"), e.getMessage)
    assert(!q.isActive, "the undrained stream is still running")
    assert(!spark.streams.active.exists(_.id == q.id),
      "the undrained stream is still registered as active")
    assert(!java.nio.file.Files.exists(root.resolve("in")) &&
      !java.nio.file.Files.exists(root.resolve("ckpt")),
      "the staging of an undrained stream survived")
  }

  test("streaming Count-Min fold: the drained store equals the batch grid " +
      "over the concatenated stream") {
    import spark.implicits._
    import graft.operators.CountMin
    val root = tempRoot("graft_scms")
    // the leak check below diffs against this snapshot: the session is
    // shared across suites, so blocks cached by earlier (or, under
    // parallel execution, concurrent) suites are not this test's leak
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val b1 = (1L to 400L).map(_ % 37).toDF("v")
    val b2 = (1L to 300L).map(i => (i * 7) % 41).toDF("v")
    b1.coalesce(1).write.parquet(root.resolve("in/b1").toString)
    b2.coalesce(1).write.parquet(root.resolve("in/b2").toString)
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(root.toString + "/in/*/")
    val storePath = root.resolve("store").toString
    val q = graft.streaming.IncrementalLoad.streamingCountMinFold(
      spark, stream, "v", storePath, root.resolve("ckpt").toString,
      depth = 4, width = 64)
    assert(q.awaitTermination(120000), "fold did not drain in time")
    val store = CountMin.readStore(spark, storePath)
    assert((store.depth, store.width) == (4, 64), "manifest drifted")
    val direct = CountMin.sketch(b1.unionByName(b2), Seq.empty, "v", 4, 64)
    assertBagEqual(store.cells.select(col("row"), col("pos"),
      col("cnt").cast("long")), direct)
    // and a caller with drifted parameters cannot corrupt the grid:
    // folds sign with the manifest's depth/width, not the caller's
    CountMin.foldIntoStore(Seq(1L).toDF("v"), "v", storePath, 2, 8)
    val after = CountMin.readStore(spark, storePath)
    assert((after.depth, after.width) == (4, 64))
    assert(after.cells.agg(sum(col("cnt"))).head.getLong(0) ==
      (700L + 1L) * 4, "fold lost or double-counted increments")
    // nothing cached leaks out of the fold path (scoped to blocks
    // created since this test started — see cachedBefore)
    val leaked =
      spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty, s"fold path leaked cached RDDs: $leaked")
  }

  test("a second fold-wire incarnation with a FRESH checkpoint keeps " +
      "folding instead of skipping its first batches as phantom replays") {
    import spark.implicits._
    import graft.operators.CountMin
    val root = tempRoot("graft_cms2")
    val storePath = root.resolve("store").toString
    val b1 = (1L to 400L).map(_ % 37).toDF("v")
    val b2 = (1L to 300L).map(i => (i * 7) % 41).toDF("v")
    b1.coalesce(1).write.parquet(root.resolve("in1/b1").toString)
    b2.coalesce(1).write.parquet(root.resolve("in2/b1").toString)
    def drain(in: String, ckpt: String): Unit = {
      val s = spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(root.toString + s"/$in/*/")
      val q = graft.streaming.IncrementalLoad.streamingCountMinFold(
        spark, s, "v", storePath, root.resolve(ckpt).toString,
        depth = 4, width = 64)
      assert(q.awaitTermination(120000), s"$in did not drain")
      q.stop()
      val deadline = System.nanoTime() + 60e9.toLong
      while (spark.streams.active.nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(100)
    }
    // incarnation 1 folds b1 and stamps the store at its horizon;
    // incarnation 2 (fresh checkpoint — foreachBatch ids restart at 0)
    // must fold b2 rather than judging its batch 0 a committed replay
    drain("in1", "ckpt1")
    drain("in2", "ckpt2")
    val total = CountMin.readStore(spark, storePath).cells
      .agg(sum(col("cnt"))).head.getLong(0)
    assert(total == (400L + 300L) * 4,
      s"second incarnation skipped its batch: total=$total")
  }

  test("fold stores are replay-idempotent: re-executing a committed " +
      "foreachBatch id is a no-op, later ids still fold") {
    import spark.implicits._
    import graft.operators.{Audit, CountMin, QuantileSketch}
    val root = tempRoot("graft_replay")
    val b1 = (1L to 100L).map(_ % 11).toDF("v")
    val b2 = (1L to 80L).map(i => (i * 3) % 13).toDF("v")
    // Count-Min: fold 0, fold 1, replay 1 (must not double-count),
    // then 2 still folds
    val cm = root.resolve("cm").toString
    CountMin.foldIntoStore(b1, "v", cm, 4, 64, batchId = Some(0L))
    CountMin.foldIntoStore(b2, "v", cm, 4, 64, batchId = Some(1L))
    def cmTotal(): Long = CountMin.readStore(spark, cm).cells
      .agg(sum(col("cnt"))).head.getLong(0)
    val afterTwo = cmTotal()
    assert(afterTwo === (100L + 80L) * 4)
    CountMin.foldIntoStore(b2, "v", cm, 4, 64, batchId = Some(1L))
    assert(cmTotal() === afterTwo, "replayed batch was double-folded")
    CountMin.foldIntoStore(b1, "v", cm, 4, 64, batchId = Some(2L))
    assert(cmTotal() === (100L + 80L + 100L) * 4,
      "a NEW batch id after a replay must still fold")
    // histogram: same protocol
    val hist = root.resolve("hist").toString
    Audit.histogramFoldIntoStore(b1.withColumnRenamed("v", "bucket"),
      "bucket", hist, batchId = Some(0L))
    def histTotal(): Long = Audit.readHistogramStore(spark, hist)
      .agg(sum(col("cnt"))).head.getLong(0)
    Audit.histogramFoldIntoStore(b1.withColumnRenamed("v", "bucket"),
      "bucket", hist, batchId = Some(0L))
    assert(histTotal() === 100L, "replayed histogram batch re-folded")
    Audit.histogramFoldIntoStore(b2.withColumnRenamed("v", "bucket"),
      "bucket", hist, batchId = Some(1L))
    assert(histTotal() === 180L)
    // quantile sketch: a replayed batch leaves the store's rows
    // bit-identical (min-value policy would mask pure re-folds of the
    // same keys, so replay with DIFFERENT values to prove the skip)
    val qs = root.resolve("qs").toString
    val q1 = (1L to 60L).map(i => (i, i.toDouble)).toDF("key", "v")
    QuantileSketch.foldIntoStore(q1, "key", "v", qs, 40,
      batchId = Some(0L))
    val before = QuantileSketch.readStore(spark, qs).rows.collect().toSet
    QuantileSketch.foldIntoStore(
      q1.withColumn("v", col("v") - lit(100.0)), "key", "v", qs, 40,
      batchId = Some(0L))
    val after = QuantileSketch.readStore(spark, qs).rows.collect().toSet
    assert(after === before, "replayed quantile batch mutated the store")
    // and a batch-mode caller (no batchId) still folds unguarded:
    // re-ingesting the keys with lower values pulls every stored
    // value down under the min-value policy
    QuantileSketch.foldIntoStore(
      q1.withColumn("v", col("v") - lit(1000.0)), "key", "v", qs, 40)
    val unguarded = QuantileSketch.readStore(spark, qs).rows
    assert(unguarded.agg(max(col("value"))).head.getDouble(0) < 0.0,
      "an unguarded (batch-mode) fold must still apply")
  }

  test("streaming quantile fold: the drained store equals the " +
      "batch-built sketch over the concatenated stream") {
    import spark.implicits._
    import graft.operators.QuantileSketch
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val root = tempRoot("graft_sqs")
    val b1 = (1L to 300L).map(i => (i, (i * 31 % 997).toDouble))
      .toDF("key", "v")
    val b2 = (301L to 700L).map(i => (i, (i * 31 % 997).toDouble))
      .toDF("key", "v")
    b1.coalesce(1).write.parquet(root.resolve("in/b1").toString)
    b2.coalesce(1).write.parquet(root.resolve("in/b2").toString)
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(root.toString + "/in/*/")
    val storePath = root.resolve("store").toString
    val q = graft.streaming.IncrementalLoad.streamingQuantileFold(
      spark, stream, "key", "v", storePath,
      root.resolve("ckpt").toString, k = 80)
    assert(q.awaitTermination(120000), "fold did not drain in time")
    val store = QuantileSketch.readStore(spark, storePath)
    assert(store.k == 80, "manifest drifted")
    val direct = QuantileSketch.sketch(
      b1.unionByName(b2).select(col("key").cast("string").as("key"),
        col("v")), Seq.empty, "key", "v", 80)
    assertBagEqual(store.rows, direct)
    // a caller with a drifted k cannot corrupt the store: folds sign
    // with the manifest's k
    QuantileSketch.foldIntoStore(Seq((9999L, 1.0)).toDF("key", "v"),
      "key", "v", storePath, 7)
    val after = QuantileSketch.readStore(spark, storePath)
    assert(after.k == 80 && after.rows.count() == 80)
    // and re-folding an already-stored key neither duplicates it nor
    // perturbs the sample beyond the deterministic min-value policy
    QuantileSketch.foldIntoStore(b1.limit(50), "key", "v", storePath, 80)
    val refolded = QuantileSketch.readStore(spark, storePath)
    assert(refolded.rows.groupBy(col("key")).count()
      .filter(col("count") > 1).count() == 0, "re-fold duplicated keys")
    val leaked =
      spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty, s"fold path leaked cached RDDs: $leaked")
  }

  test("streaming drift fold: the drained histogram equals the batch " +
      "one and its PSI against the reference matches the batch PSI") {
    import graft.operators.Audit
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val root = tempRoot("graft_sdrift")
    def buckets(df: org.apache.spark.sql.DataFrame) =
      df.select(least(lit(4L),
        floor(length(col("text")).cast("double") / lit(150.0))
          .cast("long")).as("bucket"))
    val docs = Tables.documents(spark, sf)
    // the q183 drifted snapshot, split into two micro-batch files
    val drifted = docs.select(
      when(col("doc_id") % 3 === 0,
        concat(col("text"),
          lit(" padding tokens extra appended here now for drift")))
        .when(col("doc_id") % 5 === 1,
          array_join(slice(split(col("text"), " "), 1, 10), " "))
        .otherwise(col("text")).as("text"),
      col("doc_id"))
    val b1 = buckets(drifted.filter(col("doc_id") % 2 === 0))
    val b2 = buckets(drifted.filter(col("doc_id") % 2 =!= 0))
    b1.coalesce(1).write.parquet(root.resolve("in/b1").toString)
    b2.coalesce(1).write.parquet(root.resolve("in/b2").toString)
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(root.toString + "/in/*/")
    val storePath = root.resolve("store").toString
    val q = graft.streaming.IncrementalLoad.streamingDriftFold(
      spark, stream, "bucket", storePath,
      root.resolve("ckpt").toString)
    assert(q.awaitTermination(120000), "fold did not drain in time")
    // drained store == one batch histogram over the whole stream
    val direct = b1.unionByName(b2).groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    assertBagEqual(Audit.readHistogramStore(spark, storePath), direct)
    // and PSI from the kilobyte store matches the all-batch PSI
    val ref = buckets(docs).groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val fromStore = Audit.psiTerms(ref,
      Audit.readHistogramStore(spark, storePath), 5)
    val fromBatch = Audit.psiTerms(ref, direct, 5)
    assertBagEqual(fromStore, fromBatch)
    // seeded drift must register (the q183 positivity contract)
    val total = fromStore.agg(sum(col("psi_term"))).head.getDouble(0)
    assert(total > 0.001, s"seeded drift not detected: $total")
    val leaked =
      spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty, s"fold path leaked cached RDDs: $leaked")
  }

  test("streaming token-histogram fold scores JS against a reference " +
      "from the kilobyte store, equal to the all-batch value") {
    import graft.operators.Audit
    val root = tempRoot("graft_sjs")
    // token stream as hashed buckets (the q232 discipline: the store's
    // bucket column is long)
    def tokens(df: org.apache.spark.sql.DataFrame) =
      df.select(explode(split(col("text"), " ")).as("t"), col("doc_id"))
        .select(graft.functions.Scalars.portableHash64(col("t"))
          .as("bucket"), col("doc_id"))
    val docs = Tables.documents(spark, sf).limit(200)
    // drifted current corpus: every 3rd doc gains alien tokens
    val cur = docs.select(col("doc_id"),
      when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" zz1 zz2 zz3 zz4 zz5")))
        .otherwise(col("text")).as("text"))
    val b1 = tokens(cur.filter(col("doc_id") % 2 === 0)).drop("doc_id")
    val b2 = tokens(cur.filter(col("doc_id") % 2 =!= 0)).drop("doc_id")
    b1.coalesce(1).write.parquet(root.resolve("in/b1").toString)
    b2.coalesce(1).write.parquet(root.resolve("in/b2").toString)
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(root.toString + "/in/*/")
    val storePath = root.resolve("store").toString
    val q = graft.streaming.IncrementalLoad.streamingDriftFold(
      spark, stream, "bucket", storePath,
      root.resolve("ckpt").toString)
    assert(q.awaitTermination(120000), "fold did not drain in time")
    val ref = tokens(docs).groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val direct = b1.unionByName(b2).groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val fromStore = Audit.jsFromHistograms(ref,
      Audit.readHistogramStore(spark, storePath), topK = 64).head
    val fromBatch = Audit.jsFromHistograms(ref, direct, topK = 64).head
    assert(fromStore === fromBatch,
      "store-scored JS must equal the all-batch JS")
    assert(fromStore.getDouble(2) > 0.0, "planted drift not detected")
    // identical histograms score exactly 0
    val zero = Audit.jsFromHistograms(ref, ref, topK = 64).head
    assert(zero.getDouble(2) === 0.0)
  }

  test("streaming Holt forecast ends exactly at the batch q202 state") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val streamed = runToMemory(
      Streams.holtStream(spark, Streams.eventsStream(spark, eventsDir)),
      "t_holt")
    val last = streamed.withColumn("rn",
        row_number().over(Window.partitionBy(col("event_type"))
          .orderBy(col("n_days").desc)))
      .filter(col("rn") === 1).drop("rn")
    val daily = Tables.events(spark, sf).filter(col("value").isNotNull)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(round(sum(col("value").cast(DecimalType(18, 4)))
        .cast("double"), 6).as("v"))
    val batch = graft.operators.Resample
      .holt(daily, "event_type", "day", "v", 0.5, 0.25)
      .select(col("event_type"), col("n_obs").as("n_days"),
        col("level"), col("trend"), col("fc1"))
    assert(last.count() > 0)
    val joined = last.alias("s").join(batch.alias("b"), Seq("event_type"))
    assert(joined.filter(col("s.n_days") =!= col("b.n_days") ||
      col("s.level") =!= col("b.level") ||
      col("s.trend") =!= col("b.trend") ||
      col("s.fc1") =!= col("b.fc1")).isEmpty,
      "streaming state must replay the batch fold bit-for-bit")
  }

  test("holtStream commits day boundaries across micro-batches the " +
    "same as in one batch") {
    import spark.implicits._
    val day = 86400000L
    def t(d: Int, h: Int) = new java.sql.Timestamp(d * day + h * 3600000L)
    val rows = Seq(
      ("k", t(0, 1), 10.0), ("k", t(0, 5), 2.5),
      ("k", t(1, 2), 20.0),
      ("k", t(2, 3), 7.0), ("k", t(2, 9), 3.0),
      ("k", t(3, 4), 30.0))
    val root = tempRoot("graft_holt")
    val (b1, b2) = rows.splitAt(3)
    b1.toDF("event_type", "ts", "value").coalesce(1)
      .write.parquet(root.resolve("in/b1").toString)
    b2.toDF("event_type", "ts", "value").coalesce(1)
      .write.parquet(root.resolve("in/b2").toString)
    val schema = b1.toDF("event_type", "ts", "value").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(root.toString + "/in/*/")
    val streamed = runToMemory(
      Streams.holtStream(spark, stream), "t_holt_toy")
    // emissions: after batch 1 (days 0-1 seen) and after batch 2
    assert(streamed.count() === 2)
    val fin = streamed.orderBy(col("n_days").desc).head()
    assert(fin.getAs[Long]("n_days") === 4)
    // replay the operator arithmetic: daily sums 12.5, 20, 10, 30
    var (l, b) = (12.5, 20.0 - 12.5)
    Seq(10.0, 30.0).foreach { y =>
      val nl = 0.5 * y + 0.5 * (l + b)
      val nb = 0.25 * (0.5 * (y - l) + 0.5 * b) + 0.75 * b
      l = nl; b = nb
    }
    def r6(v: Double) = math.round(v * 1e6) / 1e6
    assert(fin.getAs[Double]("level") === r6(l))
    assert(fin.getAs[Double]("trend") === r6(b))
  }

  test("store commit protocol: params-without-payload reads as an " +
      "uncommitted creation and the batch re-folds cleanly") {
    import spark.implicits._
    import graft.operators.{CountMin, QuantileSketch}
    val root = tempRoot("graft_crash")
    val b1 = (1L to 100L).map(_ % 11).toDF("v")
    // simulate a creation fold that crashed BETWEEN the params write
    // and the cells write (the commit point): params present, no cells
    val cm = root.resolve("cm").toString
    graft.operators.Stores.writeManifest(spark, s"$cm/params",
      "depth" -> 4, "width" -> 64)
    // the replayed creation batch must fold in full — the half-written
    // store reads as absent, not as "batch 0 already applied"
    CountMin.foldIntoStore(b1, "v", cm, 4, 64, batchId = Some(0L))
    val store = CountMin.readStore(spark, cm)
    assert((store.depth, store.width) == (4, 64))
    assert(store.cells.agg(sum(col("cnt"))).head.getLong(0) == 100L * 4,
      "the re-folded creation batch must count in full")
    // and the next id folds on top as usual
    CountMin.foldIntoStore(b1, "v", cm, 4, 64, batchId = Some(1L))
    assert(CountMin.readStore(spark, cm).cells
      .agg(sum(col("cnt"))).head.getLong(0) == 200L * 4)
    // same protocol for the quantile store (rows = commit point)
    val qs = root.resolve("qs").toString
    graft.operators.Stores.writeManifest(spark, s"$qs/params", "k" -> 40)
    val q1 = (1L to 60L).map(i => (i, i.toDouble)).toDF("key", "v")
    QuantileSketch.foldIntoStore(q1, "key", "v", qs, 40,
      batchId = Some(0L))
    val qstore = QuantileSketch.readStore(spark, qs)
    assert(qstore.k == 40 && qstore.rows.count() == 40,
      "the re-folded creation batch must populate the sample")
  }

  test("handoffCompacted refuses a fold-store root by its kind probe, " +
      "not with a Parquet read error") {
    import spark.implicits._
    import graft.operators.{CountMin, QuantileSketch}
    val root = tempRoot("graft_foldkind")
    val cm = root.resolve("cm").toString
    CountMin.foldIntoStore((1L to 50L).toDF("v"), "v", cm, 4, 32)
    val qs = root.resolve("qs").toString
    QuantileSketch.foldIntoStore(
      (1L to 50L).map(i => (i, i.toDouble)).toDF("key", "v"),
      "key", "v", qs, 10)
    Seq(cm, qs).zipWithIndex.foreach { case (store, i) =>
      val ex = intercept[IllegalArgumentException] {
        graft.streaming.IncrementalLoad.handoffCompacted(spark, store,
          root.resolve(s"new$i").toString,
          root.resolve(s"ckpt$i").toString)
      }
      assert(ex.getMessage.contains("none of the registered gate " +
        "store kinds"), ex.getMessage)
    }
  }

  test("mid-merge crash: a generation written without a pointer flip " +
      "leaves the committed history intact and the batch re-folds") {
    import spark.implicits._
    import graft.operators.{Audit, CountMin, Stores}
    val root = tempRoot("graft_midcrash")
    val b1 = (1L to 100L).map(_ % 11).toDF("v")
    val b2 = (1L to 80L).map(i => (i * 3) % 13).toDF("v")
    val cm = root.resolve("cm").toString
    CountMin.foldIntoStore(b1, "v", cm, 4, 64, batchId = Some(0L))
    def cmTotal(): Long = CountMin.readStore(spark, cm).cells
      .agg(sum(col("cnt"))).head.getLong(0)
    assert(cmTotal() == 100L * 4)
    // simulate batch 1 crashing AFTER its merged generation was
    // written but BEFORE the pointer flip — the window where the old
    // mode("overwrite") protocol had already DELETED the committed
    // payload, so a crash silently rebuilt the store from only the
    // replayed batch
    CountMin.sketch(b2, Seq.empty, "v", 4, 64)
      .write.parquet(s"$cm/cells/g1")
    assert(cmTotal() == 100L * 4,
      "an uncommitted generation leaked into reads")
    assert(Stores.lastApplied(spark, s"$cm/cells") == 0L,
      "an uncommitted generation's stamp suppressed the replay")
    // the re-delivered batch folds onto the intact history (its next
    // generation write clobbers the garbage dir at the same number)
    CountMin.foldIntoStore(b2, "v", cm, 4, 64, batchId = Some(1L))
    assert(cmTotal() == (100L + 80L) * 4,
      "history lost across the simulated mid-merge crash")
    // exactly one committed generation remains after the sweep
    val gens = new java.io.File(s"$cm/cells").listFiles()
      .filter(f => f.isDirectory && f.getName.matches("g\\d+"))
    assert(gens.map(_.getName).toSeq == Seq("g1"),
      s"superseded generations not swept: ${gens.mkString(",")}")
    // and the replay of the now-committed batch is a no-op
    CountMin.foldIntoStore(b2, "v", cm, 4, 64, batchId = Some(1L))
    assert(cmTotal() == (100L + 80L) * 4)
    // the histogram store (root-level payload) honors the same flip
    val hist = root.resolve("hist").toString
    Audit.histogramFoldIntoStore(b1.withColumnRenamed("v", "bucket"),
      "bucket", hist, batchId = Some(0L))
    b2.groupBy(col("v").cast("long").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .write.parquet(s"$hist/g1")
    assert(Audit.readHistogramStore(spark, hist)
      .agg(sum(col("cnt"))).head.getLong(0) == 100L,
      "uncommitted histogram generation leaked into reads")
    Audit.histogramFoldIntoStore(b2.withColumnRenamed("v", "bucket"),
      "bucket", hist, batchId = Some(1L))
    assert(Audit.readHistogramStore(spark, hist)
      .agg(sum(col("cnt"))).head.getLong(0) == 180L,
      "histogram history lost across the simulated mid-merge crash")
  }

  test("an uncommitted gate generation is invisible to non-gate store " +
      "readers until its batch commits") {
    import graft.operators.{Dedup, Stores}
    val root = tempRoot("graft_uncommitted")
    val storePath = root.resolve("store").toString
    val corpus = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 40)
    Dedup.writeMinhashStore(corpus, "doc_id", "text", storePath)
    val baseBuckets = Dedup.readMinhashStore(spark, storePath)
      .buckets.count()
    // a gate batch that crashed after its generation writes but before
    // its gatelog flip: the generation exists, the marker does not
    val admitted = corpus.filter(col("doc_id") === 0)
      .select((col("doc_id") + 7000L).as("doc_id"), col("text"))
    Dedup.writeGateAppend(
      Dedup.minhashBandBuckets(admitted, "doc_id", "text"),
      storePath, "buckets", 0L)
    Dedup.writeGateAppend(
      Dedup.portableShingleHashes(admitted, "doc_id", "text"),
      storePath, "shingles", 0L)
    val beforeCommit = Dedup.readMinhashStore(spark, storePath)
    assert(beforeCommit.buckets.count() == baseBuckets,
      "an uncommitted generation leaked into a non-gate reader")
    assert(beforeCommit.buckets.filter(col("doc_id") === 7000L).isEmpty)
    // once the batch commits its gatelog marker, the generation is
    // visible to every reader
    Stores.commitStamp(spark, s"$storePath/gatelog", 0L, None,
      Some(Stores.keyStamp(admitted, "doc_id")))
    assert(Dedup.readMinhashStore(spark, storePath)
      .buckets.filter(col("doc_id") === 7000L).count() > 0,
      "a committed generation must be visible to non-gate readers")
  }

  test("fresh-checkpoint gate after batch appends: the generation " +
      "offset maps batch ids past the store's gatelog horizon, so no " +
      "micro-batch is silently skipped as a phantom replay") {
    import spark.implicits._
    import graft.operators.Dedup
    val root = tempRoot("graft_offsetgate")
    val storePath = root.resolve("store").toString
    val corpus = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 40)
    Dedup.writeMinhashStore(corpus, "doc_id", "text", storePath)
    // two BATCH appends advance the store's gatelog to 1 before any
    // stream exists — the foreachBatch ids of a later fresh-checkpoint
    // gate restart at 0, and without the offset mapping its first two
    // micro-batches would read as already-committed replays and be
    // dropped on the floor
    val novel1 = "zebra quark lantern voyage ember crystal meadow pylon"
    Dedup.appendToMinhashStore(
      Seq((7000L, novel1)).toDF("doc_id", "text"), "text", storePath)
    Dedup.appendToMinhashStore(
      Seq((7001L, "orchid basalt nimbus ferret cobalt prairie sonnet"))
        .toDF("doc_id", "text"), "text", storePath)
    // one micro-batch: a genuinely novel doc (must admit — the old
    // guard silently skipped it) plus a near-dup of an APPENDED doc
    // (must reject against the grown horizon)
    val b1 = Seq(
      (8000L, "quartz fjord umbra lattice pinion sable grove tundra"),
      (8001L, novel1.split(" ").drop(1).mkString(" "))
    ).toDF("doc_id", "text")
    b1.coalesce(1).write.parquet(root.resolve("in/b1").toString)
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(root.toString + "/in/*/")
    val q = graft.streaming.IncrementalLoad.streamingNearDupGate(
      spark, stream, "text", storePath,
      root.resolve("admitted").toString, root.resolve("ckpt").toString)
    assert(q.awaitTermination(120000), "gate did not drain")
    val admitted = spark.read.parquet(root.resolve("admitted").toString)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(8000L),
      s"admitted: $admitted (empty ⇒ the batch was skipped as a " +
        "phantom replay; 8001 present ⇒ the grown horizon was ignored)")
    // the admission landed as generation 2 — past the append horizon
    assert(graft.operators.Stores.lastApplied(
        spark, s"$storePath/gatelog") == 2L)
    val grown = Dedup.readMinhashStore(spark, storePath)
    assert(grown.buckets.filter(col("doc_id") === 8000L).count() > 0)
  }

  test("a store grown by another writer under a live gate checkpoint " +
      "fails the wire LOUDLY at restart instead of silently dropping " +
      "batches") {
    import spark.implicits._
    import graft.operators.Dedup
    val root = tempRoot("graft_owncheck")
    val storePath = root.resolve("store").toString
    val ckpt = root.resolve("ckpt").toString
    val corpus = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 40)
    Dedup.writeMinhashStore(corpus, "doc_id", "text", storePath)
    val novel = "zebra quark lantern voyage ember crystal meadow pylon"
    Seq((7000L, novel)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(root.resolve("in/b1").toString)
    def stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(root.toString + "/in/*/")
    val q1 = graft.streaming.IncrementalLoad.streamingNearDupGate(
      spark, stream, "text", storePath,
      root.resolve("admitted").toString, ckpt)
    assert(q1.awaitTermination(120000), "first drain did not finish")
    q1.stop()
    val deadline = System.nanoTime() + 60e9.toLong
    while (spark.streams.active.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    // a resumed incarnation with an UNMOVED horizon is fine (marker
    // present, nothing new to drain)
    val qOk = graft.streaming.IncrementalLoad.streamingNearDupGate(
      spark, stream, "text", storePath,
      root.resolve("admitted").toString, ckpt)
    assert(qOk.awaitTermination(120000)); qOk.stop()
    while (spark.streams.active.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    // another writer grows the store while the checkpoint is live —
    // the gate's mapped generations are now shadowed; restarting on
    // the same checkpoint must refuse, naming the handoff remedy
    Dedup.appendToMinhashStore(
      Seq((7500L, "orchid basalt nimbus ferret cobalt prairie sonnet"))
        .toDF("doc_id", "text"), "text", storePath)
    val ex = intercept[IllegalArgumentException] {
      graft.streaming.IncrementalLoad.streamingNearDupGate(
        spark, stream, "text", storePath,
        root.resolve("admitted").toString, ckpt)
    }
    assert(ex.getMessage.contains("another writer"),
      s"wrong failure: ${ex.getMessage}")
  }

  test("minhash store compaction: committed generations fold into a " +
      "fresh base root — same rows, same probe verdicts, uncommitted " +
      "generations excluded, manifest-last crash window") {
    import spark.implicits._
    import graft.operators.Dedup
    val root = tempRoot("graft_compact")
    val storePath = root.resolve("store").toString
    val newPath = root.resolve("compacted").toString
    val corpus = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 40)
    Dedup.writeMinhashStore(corpus, "doc_id", "text", storePath)
    // two committed generations, novel texts so the behavioral probe
    // below can only match through the generation rows
    val novel1 = "zebra quark lantern voyage ember crystal meadow pylon"
    val novel2 = "orchid basalt nimbus ferret cobalt prairie sonnet glint"
    Dedup.appendToMinhashStore(
      Seq((7000L, novel1)).toDF("doc_id", "text"), "text", storePath)
    Dedup.appendToMinhashStore(
      Seq((7001L, novel2)).toDF("doc_id", "text"), "text", storePath)
    // plus one UNCOMMITTED generation (a crash before the gatelog flip)
    val orphan = Seq((7002L, "umber krill zephyr doctrine marble onset"))
      .toDF("doc_id", "text")
    Dedup.writeGateAppend(
      Dedup.minhashBandBuckets(orphan, "doc_id", "text"),
      storePath, "buckets", 99L)
    Dedup.writeGateAppend(
      Dedup.portableShingleHashes(orphan, "doc_id", "text"),
      storePath, "shingles", 99L)
    // the TARGET root is dirty from a prior life: a committed-looking
    // generation plus its gatelog — compaction must clear it, or the
    // compacted reader would union the stale 7600 rows into the fresh
    // base (the writeMinhashStore rebuild rule, applied to the
    // compaction target)
    val stale = Seq((7600L, "stale row from the target root's past"))
      .toDF("doc_id", "text")
    Dedup.writeGateAppend(
      Dedup.minhashBandBuckets(stale, "doc_id", "text"),
      newPath, "buckets", 0L)
    graft.operators.Stores.commitStamp(spark, s"$newPath/gatelog", 0L,
      None, Some(graft.operators.Stores.keyStamp(stale, "doc_id")))
    Dedup.compactMinhashStore(spark, storePath, newPath)
    // the compacted root is a plain base store: no generation roots,
    // no gatelog to list per probe
    for (d <- Seq("buckets-batches", "shingles-batches", "gatelog"))
      assert(!java.nio.file.Files.exists(
          root.resolve("compacted").resolve(d)),
        s"compacted root must not carry $d")
    // reader equivalence, row for row (committed horizon only)
    val grown = Dedup.readMinhashStore(spark, storePath)
    val compacted = Dedup.readMinhashStore(spark, newPath)
    assertBagEqual(compacted.buckets, grown.buckets)
    assertBagEqual(compacted.shingles, grown.shingles)
    assert(compacted.buckets.filter(col("doc_id") === 7002L).isEmpty,
      "an uncommitted generation leaked into the compaction")
    assert(compacted.buckets.filter(col("doc_id") === 7600L).isEmpty,
      "the dirty target root's stale generation leaked into the " +
        "compaction")
    // the compacted manifest counts the grown corpus, so the staleness
    // probe accepts exactly base ∪ admitted
    val grownCorpus = corpus.unionByName(
      Seq((7000L, novel1), (7001L, novel2)).toDF("doc_id", "text"))
    assert(Dedup.minhashStoreIsCurrent(grownCorpus, newPath),
      "compacted manifest must count base + admitted docs")
    // behavioral: a near-dup of a generation-admitted doc flags against
    // the compacted store exactly as against the grown one
    val probe = Seq((9000L, novel1.split(" ").drop(1).mkString(" ")))
      .toDF("doc_id", "text")
    val flagged = Dedup.minhashNearDupAgainstStore(
      probe, "text", compacted, 0.5)
    assert(flagged.select("b", "best_match").as[(Long, Long)]
        .collect().toSet == Set((9000L, 7000L)),
      "compacted store must flag a near-dup of an admitted doc")
    // self-compaction is refused before anything is touched (the
    // target clear would delete the generations being folded)
    val exSelf = intercept[IllegalArgumentException] {
      Dedup.compactMinhashStore(spark, storePath, storePath)
    }
    assert(exSelf.getMessage.contains("FRESH root"), exSelf.getMessage)
    assert(graft.operators.Stores.lastApplied(
        spark, s"$storePath/gatelog") == 1L,
      "the refused self-compaction touched the source store")
    // manifest-last: a compaction that crashed before its params write
    // reads as "no store" and never half-probes
    val crashed = root.resolve("crashed").toString
    Dedup.compactMinhashStore(spark, storePath, crashed)
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(
        java.nio.file.Files.walk(root.resolve("crashed/params"))) {
      _.iterator().asScala.toSeq
    }.sortBy(-_.getNameCount)
      .foreach(java.nio.file.Files.deleteIfExists(_))
    assert(!Dedup.minhashStoreIsCurrent(grownCorpus, crashed),
      "a params-less compaction must read as absent")
  }

  test("gate handoff across compaction: a new gate incarnation on the " +
      "compacted root (fresh checkpoint) keeps rejecting near-dups of " +
      "pre-compaction admissions") {
    import spark.implicits._
    import graft.operators.Dedup
    val root = tempRoot("graft_handoff")
    val store1 = root.resolve("store1").toString
    val store2 = root.resolve("store2").toString
    val corpus = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 40)
    Dedup.writeMinhashStore(corpus, "doc_id", "text", store1)
    // incarnation 1: admit one novel doc through the gate
    val novel = "zebra quark lantern voyage ember crystal meadow pylon"
    Seq((7001L, novel)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(root.resolve("in1/b1").toString)
    val s1 = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(root.toString + "/in1/*/")
    val q1 = graft.streaming.IncrementalLoad.streamingNearDupGate(
      spark, s1, "text", store1, root.resolve("adm1").toString,
      root.resolve("ckpt1").toString)
    assert(q1.awaitTermination(120000), "first incarnation did not drain")
    // "when do I compact?" — one FS listing, no Spark job: the gate's
    // single admitting batch wrote one generation per dataset
    val St = graft.operators.Stores
    assert(St.generationCount(spark, store1, "buckets") == 1L)
    assert(St.generationCount(spark, store1, "shingles") == 1L)
    assert(St.shouldCompact(spark, store1, Seq("buckets", "shingles"),
      threshold = 1L))
    assert(!St.shouldCompact(spark, store1, Seq("buckets", "shingles")),
      "one generation must not trip the default threshold")
    // the documented maintenance move, as ONE call: compact into a
    // fresh root AND pin the next incarnation's checkpoint marker
    graft.streaming.IncrementalLoad.handoffCompacted(
      spark, store1, store2, root.resolve("ckpt2").toString)
    assert(java.nio.file.Files.exists(
        root.resolve("ckpt2").resolve("graft-gate-offset")),
      "handoff did not pin the new incarnation's marker")
    // a used checkpoint is refused — replaying its batch ids against
    // the compacted store's renumbered horizon is the silent-loss trap
    val exNf = intercept[IllegalArgumentException] {
      graft.streaming.IncrementalLoad.handoffCompacted(
        spark, store1, root.resolve("store3").toString,
        root.resolve("ckpt1").toString)
    }
    assert(exNf.getMessage.contains("not fresh"), exNf.getMessage)
    // incarnation 2: a near-dup of the PRE-COMPACTION admission plus a
    // genuinely novel doc, in one batch through the new gate
    val b2 = Seq(
      (8001L, novel.split(" ").drop(1).mkString(" ")),
      (8002L, "quartz fjord umbra lattice pinion sable grove tundra")
    ).toDF("doc_id", "text")
    b2.coalesce(1).write.parquet(root.resolve("in2/b1").toString)
    val s2 = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(root.toString + "/in2/*/")
    val q2 = graft.streaming.IncrementalLoad.streamingNearDupGate(
      spark, s2, "text", store2, root.resolve("adm2").toString,
      root.resolve("ckpt2").toString)
    assert(q2.awaitTermination(120000), "second incarnation did not drain")
    val admitted2 = spark.read.parquet(root.resolve("adm2").toString)
      .select("doc_id").as[Long].collect().toSet
    // 8001 rejected against the COMPACTED index (7001's signatures
    // folded into the new base), 8002 admitted as the new horizon's
    // first generation
    assert(admitted2 == Set(8002L), s"admitted: $admitted2")
    val grown2 = Dedup.readMinhashStore(spark, store2)
    assert(grown2.buckets.filter(col("doc_id") === 8002L).count() > 0)
    assert(grown2.buckets.filter(col("doc_id") === 8001L).isEmpty)
  }

  test("end-to-end operational loop: gate wire grows past " +
      "shouldCompact, handoffCompacted hands off in one call, and the " +
      "resumed incarnation keeps gating with the staleness stamp " +
      "current over base ∪ admitted") {
    import spark.implicits._
    import graft.operators.Dedup
    val St = graft.operators.Stores
    val root = tempRoot("graft_oploop")
    val store1 = root.resolve("store1").toString
    val store2 = root.resolve("store2").toString
    val corpus = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 40)
    Dedup.writeMinhashStore(corpus, "doc_id", "text", store1)
    // incarnation 1: two admitting micro-batches (one file each)
    val novel1 = "zebra quark lantern voyage ember crystal meadow pylon"
    val novel2 = "glacier orbit thistle quarry lagoon saffron tundra vex"
    val novel3 = "quartz fjord umbra lattice pinion sable grove onset"
    Seq((7001L, novel1)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(root.resolve("in1/b1").toString)
    Seq((7002L, novel2)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(root.resolve("in1/b2").toString)
    val s1 = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(root.toString + "/in1/*/")
    val q1 = graft.streaming.IncrementalLoad.streamingNearDupGate(
      spark, s1, "text", store1, root.resolve("adm1").toString,
      root.resolve("ckpt1").toString)
    assert(q1.awaitTermination(120000), "incarnation 1 did not drain")
    val deadline = System.nanoTime() + 60e9.toLong
    while (spark.streams.active.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    // the operational probe says "compact now" at this deployment's
    // threshold (one FS listing, no Spark job)
    assert(St.generationCount(spark, store1, "buckets") == 2L)
    assert(St.shouldCompact(spark, store1, Seq("buckets", "shingles"),
      threshold = 2L), "the probe must trip at its threshold")
    // the prescribed maintenance move, ONE call: compact + pin the
    // next incarnation's checkpoint marker
    graft.streaming.IncrementalLoad.handoffCompacted(
      spark, store1, store2, root.resolve("ckpt2").toString)
    // incarnation 2 on the compacted root: a near-dup of a
    // PRE-handoff admission is rejected, a novel doc admits
    Seq((8001L, novel1.split(" ").drop(1).mkString(" ")),
        (8002L, novel3)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(root.resolve("in2/b1").toString)
    val s2 = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(root.toString + "/in2/*/")
    val q2 = graft.streaming.IncrementalLoad.streamingNearDupGate(
      spark, s2, "text", store2, root.resolve("adm2").toString,
      root.resolve("ckpt2").toString)
    assert(q2.awaitTermination(120000), "incarnation 2 did not drain")
    while (spark.streams.active.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    val admitted2 = spark.read.parquet(root.resolve("adm2").toString)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted2 == Set(8002L), s"admitted: $admitted2")
    // compaction reset the generation bound: only the resumed batch's
    // generation stands, and the probe is quiet again
    assert(St.generationCount(spark, store2, "buckets") == 1L)
    assert(!St.shouldCompact(spark, store2, Seq("buckets", "shingles"),
      threshold = 2L))
    // staleness currency across the whole loop: the resumed store
    // reads CURRENT against base ∪ every admission (both incarnations,
    // through the compaction), via the pointer's running stamp — and
    // a same-count key mutation reads stale
    val fullCorpus = corpus.unionByName(Seq(
      (7001L, novel1), (7002L, novel2), (8002L, novel3)
    ).toDF("doc_id", "text"))
    assert(Dedup.minhashStoreIsCurrent(fullCorpus, store2),
      "grown store must read current against base ∪ admitted")
    val mutated = fullCorpus.withColumn("doc_id",
      when(col("doc_id") === 7002L, 7777L).otherwise(col("doc_id")))
    assert(!Dedup.minhashStoreIsCurrent(mutated, store2),
      "a same-count key mutation must read stale")
  }

  test("gate-wire slot ownership: the wire's own commit at its next " +
      "slot replays as a no-op; a batch append that took the slot " +
      "fails loudly") {
    import spark.implicits._
    import graft.operators.{Dedup, Stores}
    val root = tempRoot("graft_gateslot")
    val corpus = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 40)
    val novel = "zebra quark lantern voyage ember crystal meadow pylon"
    val novel2 = "glacier orbit thistle quarry lagoon saffron tundra vex"
    val deadline = System.nanoTime() + 300e9.toLong
    def settle(): Unit =
      while (spark.streams.active.nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(100)
    // one gate per case: batch 0 (7001) drained, batch 1 (9001) staged
    // with a later mtime so it arrives second
    def stage(tag: String): (String, java.nio.file.Path,
        () => org.apache.spark.sql.streaming.StreamingQuery) = {
      val storePath = root.resolve(s"store_$tag").toString
      val ckpt = root.resolve(s"ckpt_$tag")
      Dedup.writeMinhashStore(corpus, "doc_id", "text", storePath)
      Seq((7001L, novel)).toDF("doc_id", "text").coalesce(1)
        .write.parquet(root.resolve(s"in_$tag/b1").toString)
      def stream = spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(root.toString + s"/in_$tag/*/")
      def start() = graft.streaming.IncrementalLoad.streamingNearDupGate(
        spark, stream, "text", storePath,
        root.resolve(s"adm_$tag").toString, ckpt.toString)
      val q = start()
      assert(q.awaitTermination(120000), s"$tag: batch 0 did not drain")
      q.stop(); settle()
      Seq((9001L, novel2)).toDF("doc_id", "text").coalesce(1)
        .write.parquet(root.resolve(s"in_$tag/b2").toString)
      (storePath, ckpt, () => start())
    }
    def admitted(tag: String): Seq[Long] =
      spark.read.parquet(root.resolve(s"adm_$tag").toString)
        .select("doc_id").as[Long].collect().toSeq.sorted
    // OWN crash window: batch 1 commits its gatelog stamp (tagged with
    // this checkpoint's token), then Spark's commit for it is lost; the
    // re-delivered batch lands on gen == stamp and must skip
    val (storeO, ckptO, startO) = stage("own")
    val qO1 = startO()
    assert(qO1.awaitTermination(120000), "batch 1 did not drain")
    qO1.stop(); settle()
    assert(Stores.lastApplied(spark, s"$storeO/gatelog") == 1L)
    assert(Stores.lastWriter(spark, s"$storeO/gatelog").nonEmpty,
      "the gate's commit must carry its writer token")
    val lastCommit = new java.io.File(s"$ckptO/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
    assert(lastCommit.getName.toLong == 1L && lastCommit.delete())
    new java.io.File(s"$ckptO/commits/.1.crc").delete()
    val qO2 = startO()
    assert(qO2.awaitTermination(120000),
      "the own crash-window replay must drain as a no-op")
    qO2.stop(); settle()
    assert(Stores.lastApplied(spark, s"$storeO/gatelog") == 1L,
      "the no-op replay must not advance the stamp")
    assert(admitted("own") == Seq(7001L, 9001L),
      s"admitted: ${admitted("own")}")
    // FOREIGN slot: the wire STARTED batch 1 (intent recorded before any
    // commit), its own commit never happened, and a batch append took
    // generation slot 1 meanwhile. The intent arithmetic cannot see
    // this (intent covers the slot); the untagged stamp at the slot
    // must fail the wire instead of skipping batch 1's admissions
    val (storeF, ckptF, startF) = stage("foreign")
    val marker = new org.apache.hadoop.fs.Path(ckptF.toString,
      "graft-gate-offset")
    val (offset, _, token) = graft.streaming.IncrementalLoad.parseMarker(
      Stores.readMarkerFile(spark, marker).get)
    Stores.writeMarkerFile(spark, marker, s"$offset 1 $token")
    Dedup.appendToMinhashStore(
      Seq((7500L, "orchid basalt nimbus ferret cobalt prairie sonnet"))
        .toDF("doc_id", "text"), "text", storeF)
    assert(Stores.lastApplied(spark, s"$storeF/gatelog") == 1L)
    val qF = startF()
    val ex = intercept[
        org.apache.spark.sql.streaming.StreamingQueryException] {
      qF.awaitTermination(120000)
    }
    assert(ex.getMessage.contains("not committed by this checkpoint"),
      ex.getMessage)
    settle()
    assert(admitted("foreign") == Seq(7001L))
  }

  test("incarnation marker layout round-trips through the one parser") {
    val IL = graft.streaming.IncrementalLoad
    Seq((0L, -1L, "ab12cd34ef56ab12"), (3L, 40L, "feedfacefeedface"))
      .foreach { c =>
        val content = IL.markerContent(c._1, c._2, c._3)
        assert(IL.parseMarker(content) == c,
          s"round-trip broke for $c via '$content'")
      }
    // a marker without its writer token is malformed, not a token-less
    // incarnation
    intercept[IllegalArgumentException](IL.parseMarker("0 5"))
  }

  test("fold-wire slot ownership: an untagged batch-fold stamp at the " +
      "wire's next slot replays as a no-op; a foreign token at the slot " +
      "fails loudly") {
    import spark.implicits._
    import graft.operators.{CountMin, Stores}
    val root = tempRoot("graft_foldslot")
    val df = Seq("a", "b", "c").toDF("v")
    df.coalesce(1).write.parquet(root.resolve("in/b1").toString)
    def stream = spark.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(root.toString + "/in/*/")
    // CASE 1: the stamp at the wire's next slot was committed WITHOUT
    // a writer token — a batch fold with an explicit batchId commits
    // exactly that, and the store holds the fold the stamp names, so
    // the wire's replay of that slot is a no-op
    val storeA = root.resolve("cmA").toString
    CountMin.foldIntoStore(df, "v", storeA, 4, 32, batchId = Some(1L))
    assert(Stores.lastWriter(spark, s"$storeA/cells").isEmpty)
    val cellsBefore = CountMin.readStore(spark, storeA).cells
      .collect().toSet
    // a marker claiming offset 1, intent through batch 0: batch 0
    // maps to gen 1 == the store's stamp
    val ckptA = root.resolve("ckptA")
    Stores.writeMarkerFile(spark,
      new org.apache.hadoop.fs.Path(ckptA.toString, "graft-gate-offset"),
      "1 0 aaaa5555aaaa5555")
    val qA = graft.streaming.IncrementalLoad.streamingCountMinFold(
      spark, stream, "v", storeA, ckptA.toString, 4, 32)
    assert(qA.awaitTermination(120000), "tolerant replay did not drain")
    qA.stop()
    val deadline = System.nanoTime() + 60e9.toLong
    while (spark.streams.active.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(CountMin.readStore(spark, storeA).cells.collect().toSet ==
      cellsBefore, "the tolerated replay must not re-fold")
    assert(Stores.lastApplied(spark, s"$storeA/cells") == 1L)
    // CASE 2: the slot's stamp carries ANOTHER post-token stream's
    // token — processing would silently drop the batch; the wire must
    // fail loudly instead
    val storeB = root.resolve("cmB").toString
    CountMin.foldIntoStore(df, "v", storeB, 4, 32, batchId = Some(0L))
    Stores.commitPayload(spark, s"$storeB/cells", 1L,
        Some("feedfacefeedface")) { dir =>
      CountMin.readStore(spark, storeB).cells
        .write.mode("overwrite").parquet(dir)
    }
    val ckptB = root.resolve("ckptB")
    Stores.writeMarkerFile(spark,
      new org.apache.hadoop.fs.Path(ckptB.toString, "graft-gate-offset"),
      "1 0 bbbb6666bbbb6666")
    val qB = graft.streaming.IncrementalLoad.streamingCountMinFold(
      spark, stream, "v", storeB, ckptB.toString, 4, 32)
    val ex = intercept[
        org.apache.spark.sql.streaming.StreamingQueryException] {
      qB.awaitTermination(120000)
    }
    assert(ex.getMessage.contains("not committed by this checkpoint"),
      ex.getMessage)
  }

  test("IVF store compaction: committed vector generations fold into " +
      "a fresh base root under the FROZEN centroids — same rows, same " +
      "probe verdicts, uncommitted generations excluded") {
    import graft.operators.Similarity
    val root = tempRoot("graft_vcompact")
    val storePath = root.resolve("store").toString
    val newPath = root.resolve("compacted").toString
    val all = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val vecs = all.filter(col("vec_id") < 64)
    Similarity.writeIvfStore(vecs, "vec_id", "embedding", storePath)
    // one committed generation: a vector OUTSIDE the base store under
    // a fresh id, admitted through the generation protocol
    val g1 = all.filter(col("vec_id") === 100)
      .select(lit(7000L).as("vec_id"), col("embedding"))
    Similarity.appendToIvfStore(g1, "embedding", storePath)
    // plus one UNCOMMITTED generation (crash before the gatelog flip)
    val base = Similarity.readIvfStoreBase(spark, storePath)
    val orphan = all.filter(col("vec_id") === 101)
      .select(lit(7001L).as("vec_id"), col("embedding"))
    Similarity.writeGateVectors(
      Similarity.ivfStoreRows(orphan, "vec_id", "embedding",
        base.centroids), storePath, 99L)
    Similarity.compactIvfStore(spark, storePath, newPath)
    for (d <- Seq("vectors-batches", "gatelog"))
      assert(!java.nio.file.Files.exists(
          root.resolve("compacted").resolve(d)),
        s"compacted root must not carry $d")
    val grown = Similarity.readIvfStore(spark, storePath)
    val compacted = Similarity.readIvfStore(spark, newPath)
    // centroids verbatim (frozen — cell assignments depend on them)
    assertBagEqual(compacted.centroids, grown.centroids)
    assertBagEqual(
      compacted.vectors.select(col("vec_id"), col("cell")),
      grown.vectors.select(col("vec_id"), col("cell")))
    assert(compacted.vectors.filter(col("vec_id") === 7001L).isEmpty,
      "an uncommitted generation leaked into the compaction")
    // the compacted base count IS the grown count the staleness probe
    // compares against
    assert(Similarity.ivfStoreIsCurrent(
        vecs.unionByName(g1), newPath),
      "compacted manifest must count base + admitted vectors")
    // behavioral: a copy of the admitted vector flags against the
    // compacted store, best match = the generation-admitted id
    val probe = all.filter(col("vec_id") === 100)
      .select(lit(9000L).as("vec_id"), col("embedding"))
    val flagged = Similarity.semanticDedupAgainstStore(
      probe, "embedding", compacted.centroids, compacted.vectors,
      "vec_id", 0.999)
    val hit = flagged.select(col("b"), col("best_match"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hit == Set((9000L, 7000L)), s"flagged: $hit")
  }

  test("crash replay through a real checkpoint: rewinding the commit " +
      "log past a folded batch re-delivers it as a no-op") {
    import spark.implicits._
    import graft.operators.CountMin
    val root = tempRoot("graft_ckpt")
    val b1 = (1L to 400L).map(_ % 37).toDF("v")
    val b2 = (1L to 300L).map(i => (i * 7) % 41).toDF("v")
    b1.coalesce(1).write.parquet(root.resolve("in/b1").toString)
    b2.coalesce(1).write.parquet(root.resolve("in/b2").toString)
    def stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(root.toString + "/in/*/")
    val storePath = root.resolve("store").toString
    val ckpt = root.resolve("ckpt").toString
    val q1 = graft.streaming.IncrementalLoad.streamingCountMinFold(
      spark, stream, "v", storePath, ckpt, depth = 4, width = 64)
    assert(q1.awaitTermination(120000), "first drain did not finish")
    // release the checkpoint-path lock before the restart: termination
    // unregisters asynchronously, and Spark refuses a second query on
    // a checkpoint it still considers in use
    q1.stop()
    val deadline = System.nanoTime() + 60e9.toLong
    while (spark.streams.active.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(spark.streams.active.isEmpty, "first query never unregistered")
    def total(): Long = CountMin.readStore(spark, storePath).cells
      .agg(sum(col("cnt"))).head.getLong(0)
    assert(total() == (400L + 300L) * 4)
    // simulate a failure BETWEEN the store overwrite and the checkpoint
    // commit of the last micro-batch: the store already folded batch 1,
    // but the engine never recorded it — delete its commit-log entry so
    // a restart re-delivers batch 1 with the same id (at-least-once)
    val lastCommit = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
    assert(lastCommit.getName.toLong == 1L && lastCommit.delete(),
      "commit-log rewind failed")
    // drop the Hadoop checksum sibling too — a stale .1.crc makes the
    // replayed commit write look like a concurrent writer's
    new java.io.File(s"$ckpt/commits/.1.crc").delete()
    val q2 = graft.streaming.IncrementalLoad.streamingCountMinFold(
      spark, stream, "v", storePath, ckpt, depth = 4, width = 64)
    assert(q2.awaitTermination(120000), "replay drain did not finish")
    // the stamped batch id makes the re-delivered fold a no-op: the
    // drained store still equals the single-application batch build
    assert(total() == (400L + 300L) * 4,
      "a checkpoint-rewound replay must not double-fold")
    assertBagEqual(
      CountMin.readStore(spark, storePath).cells
        .select(col("row"), col("pos"), col("cnt").cast("long")),
      CountMin.sketch(b1.unionByName(b2), Seq.empty, "v", 4, 64))
  }

  test("gate replay: a checkpoint rewind plus a lost gatelog marker " +
      "re-folds the batch idempotently — no duplicate admits, no " +
      "desynced index") {
    import spark.implicits._
    import graft.operators.{Dedup, Stores}
    val root = tempRoot("graft_gatereplay")
    val storePath = root.resolve("store").toString
    val admittedPath = root.resolve("admitted").toString
    val corpus = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 40)
    Dedup.writeMinhashStore(corpus, "doc_id", "text", storePath)
    val novel = "zebra quark lantern voyage ember crystal meadow pylon"
    val novel2 = "glacier orbit thistle quarry lagoon saffron tundra vex"
    // batch 0 admits 7001; batch 1 rejects a near-dup of 7001 against
    // the GROWN index and admits the second novel doc 9001
    val b1 = Seq((7001L, novel)).toDF("doc_id", "text")
    val b2 = Seq(
      (8000L, novel.split(" ").drop(1).mkString(" ")),
      (9001L, novel2)).toDF("doc_id", "text")
    b1.coalesce(1).write.parquet(root.resolve("in/b1").toString)
    b2.coalesce(1).write.parquet(root.resolve("in/b2").toString)
    import java.nio.file.attribute.FileTime
    def touch(sub: String, t: Long): Unit =
      java.nio.file.Files.walk(root.resolve(sub)).forEach(p =>
        java.nio.file.Files.setLastModifiedTime(p, FileTime.fromMillis(t)))
    val now = System.currentTimeMillis()
    touch("in/b1", now - 60000); touch("in/b2", now)
    def stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(root.toString + "/in/*/")
    val ckpt = root.resolve("ckpt").toString
    val q1 = graft.streaming.IncrementalLoad.streamingNearDupGate(
      spark, stream, "text", storePath, admittedPath, ckpt)
    assert(q1.awaitTermination(120000), "first drain did not finish")
    q1.stop()
    val deadline = System.nanoTime() + 60e9.toLong
    while (spark.streams.active.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(spark.streams.active.isEmpty, "first query never unregistered")
    def admittedIds(): Seq[Long] = spark.read.parquet(admittedPath)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(admittedIds() == Seq(7001L, 9001L), "first drain admit set")
    // simulate a crash BETWEEN batch 1's generation writes and its
    // gatelog flip: the generation dirs exist, but the gatelog still
    // holds batch 0's commit (its stamp, token and admitted total)
    val gatelog = s"$storePath/gatelog"
    Stores.commitStamp(spark, gatelog, 0L, Stores.lastWriter(spark, gatelog),
      Some(Stores.keyStamp(Seq(7001L).toDF("doc_id"), "doc_id")))
    // and rewind the commit log so batch 1 re-delivers
    val lastCommit = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
    assert(lastCommit.getName.toLong == 1L && lastCommit.delete(),
      "commit-log rewind failed")
    new java.io.File(s"$ckpt/commits/.1.crc").delete()
    val q2 = graft.streaming.IncrementalLoad.streamingNearDupGate(
      spark, stream, "text", storePath, admittedPath, ckpt)
    assert(q2.awaitTermination(120000), "replay drain did not finish")
    // decide-once: the replay probed only generations BEFORE batch 1
    // (so 8000 is still rejected against admitted 7001, and 9001 is
    // still admitted) and REWROTE generation 1 — under the old append
    // protocol 9001 would now appear twice in the admitted sink and
    // twice in the index
    assert(admittedIds() == Seq(7001L, 9001L),
      "replay changed the admit decisions")
    assert(spark.read.parquet(admittedPath).count() == 2,
      "replay duplicated admitted rows")
    assert(Stores.admittedStamp(spark, storePath) ==
      Stores.keyStamp(Seq(7001L, 9001L).toDF("doc_id"), "doc_id"),
      "the replayed commit's running admitted stamp")
    val grown = Dedup.readMinhashStore(spark, storePath)
    assert(grown.buckets.filter(col("doc_id") === 9001L).count() ==
      grown.buckets.filter(col("doc_id") === 7001L).count(),
      "replay duplicated the bucket generation")
    // buckets and shingles agree on the admitted key set — the crash
    // can no longer desync the two datasets
    assert(grown.buckets.filter(col("doc_id") >= 7000L)
      .select("doc_id").distinct().as[Long].collect().toSet ==
      grown.shingles.filter(col("doc_id") >= 7000L)
        .select("doc_id").distinct().as[Long].collect().toSet)
  }

  test("semantic gate replay: a checkpoint rewind plus a lost gatelog " +
      "marker re-folds the batch idempotently — no duplicate admits, " +
      "no duplicated index vectors") {
    import spark.implicits._
    import graft.operators.{Similarity, Stores}
    val root = tempRoot("graft_vgatereplay")
    val storePath = root.resolve("store").toString
    val admittedPath = root.resolve("admitted").toString
    val e = Tables.embeddings(spark, sf)
    val corpus = e.filter(col("vec_id") < 100)
      .select(col("vec_id"), col("embedding"))
    Similarity.writeIvfStore(corpus, "vec_id", "embedding", storePath,
      numCells = 8, kmeansIters = 1)
    // batch 0 admits the novel 7001 (corpus vec 200, absent from the
    // 100-vector store); batch 1 rejects a COPY of it against the
    // grown index and admits a second novel vector 9001 (vec 300)
    val b1 = e.filter(col("vec_id") === 200)
      .select(lit(7001L).as("vec_id"), col("embedding"))
    val b2 = e.filter(col("vec_id") === 200)
      .select(lit(8000L).as("vec_id"), col("embedding"))
      .unionByName(e.filter(col("vec_id") === 300)
        .select(lit(9001L).as("vec_id"), col("embedding")))
    b1.coalesce(1).write.parquet(root.resolve("in/b1").toString)
    b2.coalesce(1).write.parquet(root.resolve("in/b2").toString)
    import java.nio.file.attribute.FileTime
    def touch(sub: String, t: Long): Unit =
      java.nio.file.Files.walk(root.resolve(sub)).forEach(p =>
        java.nio.file.Files.setLastModifiedTime(p, FileTime.fromMillis(t)))
    val now = System.currentTimeMillis()
    touch("in/b1", now - 60000); touch("in/b2", now)
    def stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(root.toString + "/in/*/")
    val ckpt = root.resolve("ckpt").toString
    val q1 = graft.streaming.IncrementalLoad.streamingSemanticGate(
      spark, stream, "embedding", storePath, admittedPath, ckpt)
    assert(q1.awaitTermination(120000), "first drain did not finish")
    q1.stop()
    val deadline = System.nanoTime() + 60e9.toLong
    while (spark.streams.active.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(spark.streams.active.isEmpty, "first query never unregistered")
    def admittedIds(): Seq[Long] = spark.read.parquet(admittedPath)
      .select("vec_id").as[Long].collect().toSeq.sorted
    assert(admittedIds() == Seq(7001L, 9001L), "first drain admit set")
    // crash BETWEEN batch 1's generation writes and its gatelog flip:
    // the vector generation exists, but the gatelog still holds batch
    // 0's commit
    val gatelog = s"$storePath/gatelog"
    Stores.commitStamp(spark, gatelog, 0L, Stores.lastWriter(spark, gatelog),
      Some(Stores.keyStamp(Seq(7001L).toDF("vec_id"), "vec_id")))
    val lastCommit = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
    assert(lastCommit.getName.toLong == 1L && lastCommit.delete(),
      "commit-log rewind failed")
    new java.io.File(s"$ckpt/commits/.1.crc").delete()
    val q2 = graft.streaming.IncrementalLoad.streamingSemanticGate(
      spark, stream, "embedding", storePath, admittedPath, ckpt)
    assert(q2.awaitTermination(120000), "replay drain did not finish")
    // decide-once: 8000 is still rejected against the batch-0
    // admission, 9001 is still admitted, and generation 1 was
    // REWRITTEN, not appended — no duplicate sink rows, no
    // duplicated index vectors
    assert(admittedIds() == Seq(7001L, 9001L),
      "replay changed the admit decisions")
    assert(spark.read.parquet(admittedPath).count() == 2,
      "replay duplicated admitted rows")
    assert(Stores.admittedStamp(spark, storePath) ==
      Stores.keyStamp(Seq(7001L, 9001L).toDF("vec_id"), "vec_id"),
      "the replayed commit's running admitted stamp")
    val grown = Similarity.readIvfStore(spark, storePath)
    assert(grown.vectors.filter(col("vec_id") >= 7000L)
      .groupBy(col("vec_id")).count()
      .filter(col("count") =!= 1L).isEmpty,
      "replay duplicated an index vector generation")
    assert(grown.vectors.filter(col("vec_id") >= 7000L)
      .select("vec_id").as[Long].collect().toSet == Set(7001L, 9001L))
  }
}
