package graft.streaming

import graft.operators.{Relational, Sinks}
import org.apache.spark.sql.{DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's scheduled incremental loads (SURVEY §2.10, §3.1-3.3:
  * Airflow cron + probe-then-append/upsert) as idempotent engine jobs.
  *
  * Batch form: one call per scheduled run — derive the date-part
  * partition key, then dedup-append (exactly-once per key across
  * re-runs) or partition-upsert (restatements). Streaming form: the
  * same sink protocol applied per micro-batch via foreachBatch with
  * Trigger.AvailableNow — the modern spelling of "cron a batch job"
  * that also absorbs continuous arrivals unchanged.
  */
object IncrementalLoad {

  /** Stage a frame as TWO single-file parquet datasets split by the
    * `firstHalf` predicate under a fresh temp root, and return the
    * file-source stream over them (`maxFilesPerTrigger = 1` → exactly
    * two micro-batches) plus the root for store/checkpoint paths —
    * the q216 wire's staging, shared by every end-to-end streaming
    * query so the split/glob/trigger plumbing has one source.
    *
    * Both halves are written by ONE `coalesce(1)` job partitioned on
    * an `a`/`b` tag (`in/graft_half=a`, `in/graft_half=b`). The single
    * writer task sorts on the tag and finishes the `a` file before it
    * opens the `b` file, and the file source orders new files by
    * modification time, ties by path, so the first half is always
    * micro-batch 0 — the arrival order the first-arrival gates rely
    * on. A row whose `firstHalf` evaluates to NULL goes to the
    * SECOND half (never dropped). A half with no rows writes no file,
    * so the stream then has one micro-batch. */
  def stageTwoFileStream(df: DataFrame, firstHalf: org.apache.spark.sql.Column,
                         tag: String): (DataFrame, java.nio.file.Path) = {
    import org.apache.spark.sql.functions.{lit, when}
    val half = "graft_half"
    require(!df.columns.contains(half),
      s"stageTwoFileStream reserves the column name $half")
    // crash hygiene first: a prior run of this wire killed mid-drain
    // (JVM death — beyond any try/finally) left its staging and
    // per-run index behind; retire such roots before creating ours
    sweepAgedRoots(tag)
    val root = java.nio.file.Files.createTempDirectory(tag)
    df.withColumn(half, when(firstHalf, lit("a")).otherwise(lit("b")))
      .coalesce(1).write.partitionBy(half)
      .parquet(root.resolve("in").toString)
    val stream = df.sparkSession.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(root.toString + s"/in/$half=*/")
    (stream, root)
  }

  /** Delete temp roots of a prior `tag` run older than `maxAgeMs`
    * (default 1 h) — the crash half of the wires' temp hygiene. The
    * normal path sweeps its own root after the drain (and the gate
    * wires do so in a `finally`, covering exceptions), but a run
    * killed outright — OOM, SIGKILL, driver loss — leaves its staging
    * plus per-run signature index (megabytes) behind until the OS tmp
    * cleaner runs; the NEXT invocation of the same wire retires them
    * here. The age guard keeps concurrent LIVE runs (bench
    * parallelism, test suites on the same host) untouched: a root is
    * aged only when EVERY file under it is older than the cutoff —
    * the root directory's own mtime is frozen near creation, but a
    * live run's staging/checkpoint writes keep refreshing file
    * mtimes inside, so a long-lived active stream (paused JVM, slow
    * drain) is never judged by its birth time. */
  def sweepAgedRoots(tag: String, maxAgeMs: Long = 3600000L): Unit = {
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"))
    val cutoff = System.currentTimeMillis() - maxAgeMs
    // short-circuits at the first fresh file (the common case for a
    // live root); any walk/stat failure — including the
    // UncheckedIOException Files.walk throws when a concurrent run
    // deletes entries mid-iteration — reads as "live", never as a
    // crash and never as a sweep
    def isAged(p: java.nio.file.Path): Boolean =
      try scala.util.Using.resource(java.nio.file.Files.walk(p)) {
        !_.iterator().asScala.exists(q =>
          (try java.nio.file.Files.getLastModifiedTime(q).toMillis
           catch { case _: java.io.IOException => Long.MaxValue })
            >= cutoff)
      } catch {
        case _: java.io.IOException => false
        case _: java.io.UncheckedIOException => false
      }
    if (java.nio.file.Files.isDirectory(tmp)) {
      val aged = scala.util.Using.resource(
          java.nio.file.Files.list(tmp)) {
        _.iterator().asScala
          .filter(_.getFileName.toString.startsWith(tag))
          .filter(isAged)
          .toSeq
      }
      aged.foreach { p =>
        try {
          val paths = scala.util.Using.resource(
            java.nio.file.Files.walk(p))(_.iterator().asScala.toSeq)
          paths.sortBy(-_.getNameCount).foreach(q =>
            try java.nio.file.Files.deleteIfExists(q)
            catch { case _: java.io.IOException => () })
        } catch { case _: java.io.IOException => () }
      }
    }
  }

  /** Delete a drained wire's STAGING and CHECKPOINT dirs (the store
    * stays — the query's returned plan reads it), bounding the temp
    * footprint to the kilobyte store instead of leaking a table copy
    * per invocation (bench runs each wire 3+ times per session).
    * Gate wires whose returned plan reads only the ADMITTED rows pass
    * `dirs = Seq("in", "ckpt", "store")` to also drop their per-run
    * signature index (megabytes, not kilobytes — it must not leak
    * per invocation). */
  def cleanStaging(root: java.nio.file.Path,
                   dirs: Seq[String] = Seq("in", "ckpt")): Unit =
    dirs.foreach { d =>
      val p = root.resolve(d)
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        // materialize under Using so the walk's directory handles are
        // closed even when the traversal throws mid-stream
        val paths = scala.util.Using.resource(java.nio.file.Files.walk(p)) {
          _.iterator().asScala.toSeq
        }
        paths.sortBy(-_.getNameCount)
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }

  /** Wait up to `timeoutMs` for a wire started with
    * `Trigger.AvailableNow` to drain, then — drained or not — stop it
    * and delete its `dirs` under `root` ([[cleanStaging]]). A stream
    * that did not drain in time (or failed) fails the caller and
    * leaves neither a running query nor its staging behind. */
  def awaitDrained(q: StreamingQuery, root: java.nio.file.Path,
                   dirs: Seq[String], timeoutMs: Long): Unit =
    try require(q.awaitTermination(timeoutMs),
      s"stream ${q.id} did not drain within $timeoutMs ms")
    finally {
      // stopping a terminated query only logs a failed job-group cancel
      if (q.isActive) try q.stop() catch { case _: Exception => () }
      cleanStaging(root, dirs)
    }

  /** The one stream start every wire shares: `body` runs as the
    * foreachBatch sink of a `Trigger.AvailableNow` query over
    * `stream`, checkpointed at `checkpoint`, and receives each
    * micro-batch REBOUND to `spark`, the wire's caller session.
    *
    * Why rebound: Spark runs a streaming query in a clone of its
    * session (`cloneSession`, a fresh session UUID) and hands
    * foreachBatch a Dataset of that clone. Jobs issued on it run under
    * the clone's artifact state, so the executor builds a fresh
    * isolated session — with its own class loader — for every stream
    * run, and Spark's generated-class cache, keyed by class loader,
    * misses on every lookup: each run recompiled byte-identical
    * classes (q248: 13 per run). The batch's plan is already a
    * materialized `LogicalRDD`, so rebinding it changes no result; the
    * batch, the store reads through `batch.sparkSession` and the
    * writes then all run under the one long-lived caller session. */
  private def startAvailableNow(spark: SparkSession, stream: DataFrame,
                                checkpoint: String)
                               (body: (DataFrame, Long) => Unit)
      : StreamingQuery =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        body(GraftSqlShim.ofRows(spark, batch.queryExecution.logical),
          batchId)
      }
      .start()

  /** Daily fact load (`daily_dag.py:89-117` semantics, plus the J2
    * dedup the reference forgot on this path — SURVEY §7.5.5):
    * date-part derivation + key-deduped partitioned append. */
  def loadFacts(spark: SparkSession, batch: DataFrame, dateCol: String,
                keys: Seq[String], warehousePath: String): Unit = {
    val withParts = Relational.withDateParts(batch, dateCol)
    Sinks.dedupAppend(spark, withParts, warehousePath,
      keys ++ Seq("year", "month", "day"), Seq("year", "month"))
  }

  /** Weekly snapshot load (`weekly_dag.py:55-147` intent): replace
    * changed partitions, append new, no-op identical. */
  def loadSnapshot(spark: SparkSession, batch: DataFrame, dateCol: String,
                   warehousePath: String): Unit = {
    val withParts = Relational.withDateParts(batch, dateCol)
    Sinks.upsertPartitions(spark, withParts, warehousePath,
      Seq("year", "month"))
  }

  /** Streaming dedup-append: every micro-batch runs the J2 protocol
    * against the warehouse, so the sink is exactly-once-per-key even
    * if the source replays (at-least-once upstream is fine). With
    * Trigger.AvailableNow the query drains what exists and stops —
    * a scheduled incremental run. */
  def streamingDedupAppend(spark: SparkSession, stream: DataFrame,
                           dateCol: String, keys: Seq[String],
                           warehousePath: String,
                           checkpoint: String): StreamingQuery =
    startAvailableNow(spark, stream, checkpoint) { (batch, _) =>
      val withParts = Relational.withDateParts(batch, dateCol)
      Sinks.dedupAppend(spark, withParts, warehousePath,
        keys, Seq("year", "month"))
    }

  /** Map a gate incarnation's foreachBatch ids into the store's
    * gatelog generation space. foreachBatch ids restart at 0 with
    * every FRESH checkpoint, but the gatelog counter is a property of
    * the STORE: batch appends ([[graft.operators.Dedup
    * .appendToMinhashStore]] / [[graft.operators.Similarity
    * .appendToIvfStore]]) advance it too, and a prior stream
    * incarnation may have left it anywhere. Without the mapping, a
    * fresh-checkpoint gate attached to a store whose gatelog sits at
    * N would judge its first N+1 micro-batches "already committed"
    * and SKIP them silently — data loss with no error. The offset
    * (gatelog horizon + 1 at incarnation start) is computed once and
    * persisted INSIDE the checkpoint dir, so it shares the
    * checkpoint's fate: replays of this incarnation read the same
    * mapping (decide-once semantics preserved — the offset file is
    * written before any batch commits, so every crash window replays
    * to the same generation ids), while a fresh checkpoint computes a
    * fresh offset aligned past the store's current horizon. A fresh
    * store (no gatelog) resolves to offset 0, i.e. generation ids
    * equal batch ids. The fold wires
    * (Count-Min / quantile / drift) share the protocol against their
    * stores' own stamp markers — a stream incarnation advances the
    * stamp too, which is the same trap.
    *
    * The marker is written before the stream starts, so a checkpoint
    * with committed batches but no marker was not written by a wire:
    * it is refused, because a fresh offset would map a committed
    * batch to a NEW generation above the stamp and fold it twice.
    *
    * The marker also records the incarnation's INTENT high-water: the
    * largest batch id this incarnation has STARTED, written
    * (atomically) at the top of every foreachBatch, BEFORE any store
    * commit. Intent-before-commit makes the ownership test exact:
    * every generation this incarnation can ever have stamped is
    * ≤ `offset + intentThrough`, so at wire start a store stamp
    * beyond that bound proves ANOTHER WRITER grew the store while this
    * checkpoint was live — batch appends between incarnation runs, or
    * a second stream — and [[requireHorizonOwned]] fails the wire
    * LOUDLY instead of letting the shadowed generations silently
    * swallow batches. Crash windows replay cleanly:
    * intent-written-but-uncommitted re-runs the batch (its generation
    * is still above the stamp), committed-but-checkpoint-uncommitted
    * re-delivers and skips (its generation equals the stamp).
    * Recovery from the loud failure: hand off with a fresh checkpoint
    * (and a compacted root —
    * [[graft.operators.Dedup.compactMinhashStore]]). `writer` is the
    * token the incarnation's commits carry ([[writerToken]]). */
  private final case class Incarnation(offset: Long,
                                       committedThrough: Long,
                                       writer: String) {
    def gen(batchId: Long): Long = offset + batchId
  }

  private def markerPath(checkpoint: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(checkpoint, "graft-gate-offset")

  /** Marker file layout: `offset intent writer`, positional. */
  private[graft] def markerContent(offset: Long, intent: Long,
                                   writer: String): String =
    s"$offset $intent $writer"

  /** Deterministic writer identity for an incarnation: md5 of the
    * checkpoint path PLUS the store horizon the incarnation started
    * from (its initial offset). The path alone is not an identity —
    * deleting and recreating a checkpoint dir at the same path starts
    * a NEW life, and a path-only token would let a slot stamped by
    * the previous life (a zombie stream's late commit) read as this
    * incarnation's own at the gen == stamp boundary. Mixing in the
    * creation-time offset separates two lives whenever the store
    * moved between them; the token is minted ONCE and persisted in
    * the marker, so restarts of the same life read it back rather
    * than re-derive it. Residue: two lives of the same path starting
    * from an UNMOVED store horizon still collide — but then the
    * previous life committed nothing, so the slot a zombie could
    * stamp carries the same mapping this life would commit there.
    * Deterministic by design (the repo's no-ambient-randomness
    * discipline). */
  private def writerToken(checkpoint: String, offset: Long): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"$checkpoint@$offset".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  /** Parse a marker file's positional fields (see [[markerContent]]):
    * (offset, intent, writer). The ONE parser for every marker
    * reader, so a layout change cannot drift between them. */
  private[graft] def parseMarker(content: String): (Long, Long, String) = {
    val parts = content.split("\\s+")
    require(parts.length == 3,
      s"malformed incarnation marker '$content': want 'offset intent writer'")
    (parts(0).toLong, parts(1).toLong, parts(2))
  }

  private def incarnation(spark: SparkSession, checkpoint: String,
                          markerRoot: String): Incarnation = {
    val S = graft.operators.Stores
    S.readMarkerFile(spark, markerPath(checkpoint)) match {
      case Some(content) =>
        val (offset, intent, writer) = parseMarker(content)
        Incarnation(offset, intent, writer)
      case None =>
        val commits = new org.apache.hadoop.fs.Path(checkpoint, "commits")
        val fs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
        require(!fs.exists(commits) || fs.listStatus(commits).isEmpty,
          s"checkpoint $checkpoint has committed batches but no " +
            "graft-gate-offset marker: every wire writes its marker " +
            "before the stream starts, so this checkpoint was not written " +
            "by a wire, and a fresh offset would fold its committed " +
            "batches twice. Start the wire on a FRESH checkpoint.")
        val offset = S.lastApplied(spark, markerRoot) + 1L
        val inc = Incarnation(offset, -1L, writerToken(checkpoint, offset))
        S.writeMarkerFile(spark, markerPath(checkpoint),
          markerContent(inc.offset, inc.committedThrough, inc.writer))
        inc
    }
  }

  /** The incarnation-start ownership check (see [[incarnation]]):
    * refuse to run a wire whose store was grown by another writer
    * while this checkpoint was live — the shadowed generations would
    * otherwise be skipped silently. Exact under the
    * intent-before-commit marker discipline: this incarnation's
    * stamps never exceed `offset + intentThrough`. */
  private def requireHorizonOwned(spark: SparkSession, inc: Incarnation,
                                  markerRoot: String): Unit = {
    val last = graft.operators.Stores.lastApplied(spark, markerRoot)
    require(last <= inc.offset + inc.committedThrough,
      s"store marker at $markerRoot sits at $last, past this " +
        s"checkpoint's horizon (offset=${inc.offset}, committed " +
        s"through batch ${inc.committedThrough}): another writer " +
        "(a batch append between incarnation runs, or a second " +
        "stream) grew the store while this checkpoint was live. " +
        "Hand off with a FRESH checkpoint — for the dedup gates, " +
        "IncrementalLoad.handoffCompacted(storePath, newPath, " +
        "newCheckpoint) performs the compact-and-handoff in one " +
        "call — so the new incarnation starts from a clean horizon.")
  }

  /** Wire start, shared by the gate and fold shells: pin the
    * incarnation ([[incarnation]]), refuse a store another writer grew
    * ([[requireHorizonOwned]]), and seed the intent high-water
    * [[recordIntent]] advances. */
  private def startIncarnation(spark: SparkSession, checkpoint: String,
                               markerRoot: String)
      : (Incarnation, java.util.concurrent.atomic.AtomicLong) = {
    val id = incarnation(spark, checkpoint, markerRoot)
    requireHorizonOwned(spark, id, markerRoot)
    (id, new java.util.concurrent.atomic.AtomicLong(
      id.committedThrough))
  }

  /** Pre-batch intent update: record that this incarnation is about
    * to run `batchId`, BEFORE any store commit — the ownership
    * check's exactness depends on this ordering (a commit can never
    * outrun the recorded intent). Atomic rename; idempotent across
    * replays. */
  private def recordIntent(spark: SparkSession, checkpoint: String,
                           id: Incarnation,
                           intent: java.util.concurrent.atomic.AtomicLong,
                           batchId: Long): Unit =
    if (batchId > intent.get()) {
      graft.operators.Stores.writeMarkerFile(spark,
        markerPath(checkpoint),
        markerContent(id.offset, batchId, id.writer))
      intent.set(batchId)
    }

  /** The gen == stamp boundary disambiguator: a slot exactly AT the
    * store's stamp is either this checkpoint's own crash-window
    * commit (gatelog flipped, Spark's checkpoint commit lost — the
    * replay must skip, a no-op) or another writer's append that took
    * the intended slot during the crash window — the ONE interleave
    * the intent arithmetic cannot see (intent already covers the
    * batch, and one append advances the stamp exactly into its
    * slot). The writer token in the pointer stamp tells them apart:
    * own commit ⇒ token matches ⇒ skip; foreign append ⇒ no token ⇒
    * fail loudly (processing would silently drop the batch).
    *
    * `tolerateUntagged` is the FOLD-store variant: a batch
    * `CountMin` / `QuantileSketch` / `Audit` fold commits an UNTAGGED
    * stamp — one with an explicit `batchId` records that id, and any
    * batch fold after a stream commit re-records the committed id
    * with no writer — and the store's contents at that stamp are the
    * fold the stamp names, so replaying this slot as the fold's no-op
    * skip loses nothing; failing would blame a foreign writer for a
    * batch fold. The GATE stores pass false: their batch-append path
    * (appendToMinhashStore / appendToIvfStore) advances the stamp
    * with admitted rows but without a token, so an untagged slot
    * there really is the foreign interleave the check exists to
    * catch. */
  private def requireOwnSlot(spark: SparkSession, id: Incarnation,
                             markerRoot: String, gen: Long,
                             tolerateUntagged: Boolean = false): Unit = {
    val lastWriter = graft.operators.Stores.lastWriter(spark, markerRoot)
    require(lastWriter.contains(id.writer) ||
        (tolerateUntagged && lastWriter.isEmpty),
      s"generation $gen at $markerRoot is the store's latest stamp " +
        "but was not committed by this checkpoint: another writer " +
        "(a batch append between incarnation runs) took this " +
        "checkpoint's next generation slot during a crash window. " +
        "Hand off with a FRESH checkpoint — for the dedup gates, " +
        "IncrementalLoad.handoffCompacted(storePath, newPath, " +
        "newCheckpoint) performs the compact-and-handoff in one " +
        "call — so the new incarnation starts from a clean horizon.")
  }

  /** The gate-store families [[handoffCompacted]] services — each
    * kind registered BESIDE its compactor, so the dispatch list and
    * the family list cannot drift apart. */
  private val gateStoreKinds: Seq[graft.operators.Stores.GateStoreKind] =
    Seq(graft.operators.Dedup.gateStoreKind,
      graft.operators.Similarity.gateStoreKind)

  /** The compact-and-handoff maintenance move as ONE operation — the
    * remedy every loud ownership failure (and the gates' generation-
    * accumulation KNOWN BOUND) prescribes, previously a four-step
    * manual procedure (stop wire → compact → fresh checkpoint → new
    * incarnation):
    *
    *  1. refuses a non-fresh `newCheckpoint` (reusing a live
    *     checkpoint would replay its batch ids against the compacted
    *     store's renumbered horizon — the very trap the incarnation
    *     protocol exists to catch);
    *  2. folds the QUIESCED store's committed generations into a
    *     fresh base at `newStorePath` (store family resolved from the
    *     manifest through the [[gateStoreKinds]] registry —
    *     compaction scans only index artifacts, never corpus text);
    *  3. pins the new incarnation's marker INSIDE `newCheckpoint`
    *     (offset past the compacted root's horizon — 0 on a fresh
    *     root — intent −1, a checkpoint-derived writer token), so the
    *     next gate start adopts the mapping instead of computing it.
    *
    * Call only after the old wire has STOPPED (single-writer
    * discipline); then start the gate with (`newStorePath`,
    * `newCheckpoint`) and any batch the old incarnation had staged
    * but not committed re-arrives through the source. "When do I
    * compact?" is [[graft.operators.Stores.generationCount]] /
    * [[graft.operators.Stores.shouldCompact]] — one filesystem
    * listing, no Spark job; SCALING.md's round-14 section prices the
    * default threshold. */
  def handoffCompacted(spark: SparkSession, storePath: String,
                       newStorePath: String,
                       newCheckpoint: String): Unit = {
    val S = graft.operators.Stores
    val cp = new org.apache.hadoop.fs.Path(newCheckpoint)
    val fs = cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(cp) || fs.listStatus(cp).isEmpty,
      s"handoff checkpoint $newCheckpoint is not fresh: a used " +
        "checkpoint's batch ids would replay against the compacted " +
        "store's renumbered horizon — hand off to a NEW checkpoint " +
        "dir")
    val fields = S.readManifest(spark, s"$storePath/params")
      .map(_.keySet).getOrElse(Set.empty[String])
    val kinds = gateStoreKinds.filter(k =>
      fields.contains(k.manifestField))
    require(kinds.size == 1,
      s"store at $storePath matches " +
        (if (kinds.isEmpty) "none" else "more than one") +
        " of the registered gate store kinds (" +
        gateStoreKinds.map(k => s"${k.name} via ${k.manifestField}")
          .mkString(", ") +
        ") — handoffCompacted only services the gate stores")
    kinds.head.compact(spark, storePath, newStorePath)
    val offset =
      S.lastApplied(spark, s"$newStorePath/gatelog") + 1L
    S.writeMarkerFile(spark, markerPath(newCheckpoint),
      markerContent(offset, -1L, writerToken(newCheckpoint, offset)))
  }

  /** The two gates' shared foreachBatch protocol shell — the
    * structural twin the gate wires re-rolled, factored once:
    * incarnation pin + horizon ownership at wire start, then per
    * micro-batch intent-before-commit, slot ownership at the
    * gen == stamp boundary, decide-once skip of committed
    * generations, and the atomic gatelog commit carrying the stamp,
    * the writer token, and the running admitted stamp the body
    * returns. `admit(batch, gen)` performs the store-type-specific
    * middle — probe, admitted-rows write, generation writes — and
    * returns the NEW running admitted (count, checksum) total to
    * commit. */
  private def runGateWire(spark: SparkSession, stream: DataFrame,
                          storePath: String, checkpoint: String)
                         (admit: (DataFrame, Long) => (Long, Long))
      : StreamingQuery = {
    val gatelog = s"$storePath/gatelog"
    val (id, seen) = startIncarnation(spark, checkpoint, gatelog)
    startAvailableNow(spark, stream, checkpoint) { (batch, batchId) =>
      // job labels (thread-local, set on the micro-batch thread) make
      // the gate's many small jobs attributable in profiles/the UI;
      // the reset sits in a FINALLY so a thrown admit()/commit can't
      // leak a stale 'gate …' label onto the stream thread's later
      // jobs (the retry batch's recordIntent would be mislabeled)
      val sc = spark.sparkContext
      recordIntent(spark, checkpoint, id, seen, batchId)
      val gen = id.gen(batchId)
      val last = graft.operators.Stores.lastApplied(spark, gatelog)
      if (gen == last) requireOwnSlot(spark, id, gatelog, gen)
      if (gen > last) try {
        sc.setJobDescription(s"gate admit gen=$gen")
        val total = admit(batch, gen)
        // the stamp rides the pointer flip, atomic with the running
        // admitted total
        graft.operators.Stores.commitStamp(spark, gatelog, gen,
          Some(id.writer), Some(total))
      } finally sc.setJobDescription(null)
    }
  }

  /** The three fold wires' shared foreachBatch shell — the fold-store
    * twin of [[runGateWire]], against the store's stamp marker
    * `stampRoot`: incarnation pin + horizon ownership at wire start
    * (a fresh checkpoint restarts foreachBatch ids at 0, but the
    * store's stamp horizon survives from prior incarnations — without
    * the mapping, the new stream's first batches would read as
    * replays), then per micro-batch intent-before-commit and the
    * gen == stamp disambiguation, fold-store variant: own crash-window
    * commit (token matches) or an untagged batch-fold commit replays
    * as the fold's no-op skip; another stream's commit fails loudly
    * here instead of silently dropping the batch.
    * `fold(batch, gen, writer)` folds the batch into the store,
    * stamping generation `gen` with the writer token. */
  private def runFoldWire(spark: SparkSession, stream: DataFrame,
                          stampRoot: String, checkpoint: String)
                         (fold: (DataFrame, Long, Option[String]) => Unit)
      : StreamingQuery = {
    val (id, seen) = startIncarnation(spark, checkpoint, stampRoot)
    startAvailableNow(spark, stream, checkpoint) { (batch, batchId) =>
      recordIntent(spark, checkpoint, id, seen, batchId)
      val gen = id.gen(batchId)
      if (gen == graft.operators.Stores.lastApplied(spark, stampRoot))
        requireOwnSlot(spark, id, stampRoot, gen, tolerateUntagged = true)
      fold(batch, gen, Some(id.writer))
    }
  }

  /** Streaming NEAR-dup gate (★ — the nightly-ingest posture run as a
    * stream): every micro-batch first self-probes for WITHIN-batch
    * near-dups (keep the min key —
    * [[graft.operators.Dedup.minhashIntraBatchFlags]], so two
    * near-dups arriving in one micro-batch cannot both admit), then
    * probes the survivors against the persisted MinHash signature
    * index ([[graft.operators.Dedup.writeMinhashStore]]'s layout),
    * appends the ADMITTED rows to `admittedPath`, and admits their
    * signatures into the index — so a near-dup arriving in a LATER
    * micro-batch of the same stream is rejected against the grown
    * index, exactly like a later nightly batch would be. Net
    * contract: the admitted set is near-dup-free regardless of how
    * batch boundaries fall.
    *
    * Scale shape per micro-batch = the q139 probe: only the batch is
    * signed (fused expression), candidates from the batch⋈store
    * bucket equi-join with the batch side broadcast, exact Jaccard on
    * candidates only. The store parquet is re-read per batch — at
    * 100 TB that's the point (the corpus is never re-signed), and the
    * probe plan reads only the store's (band, bucket) / (key, shingle)
    * columns. Micro-batches serialize through the sink (standard
    * foreachBatch semantics), so index append and next-batch probe
    * cannot race.
    *
    * EXACTLY-ONCE under foreachBatch's at-least-once replay, by
    * decide-once + idempotent rewrites (no plain append anywhere):
    *  - the probe composes the BASE index with gate generations from
    *    batches STRICTLY BEFORE this id, so a replay — with its own
    *    partial writes present, or later generations present after a
    *    checkpoint rewind — recomputes the identical admit set;
    *  - admitted rows, their band buckets, and their shingles each
    *    OVERWRITE a per-batch generation dir (`.../batch=<id>`), so a
    *    replayed batch rewrites rather than duplicates, and the
    *    buckets/shingles pair can never desync (a crash between the
    *    two writes is healed by the rewrite);
    *  - a committed batch is recorded in the `gatelog` marker (the
    *    [[graft.operators.Stores]] pointer protocol) and replays of
    *    it are skipped outright; losing the marker mid-flip merely
    *    degrades to one idempotent re-fold.
    *
    * KNOWN BOUND: each admitting micro-batch adds one generation dir
    * per dataset (`batch=<id>`), so a long-running continuous stream
    * accumulates directories whose LISTING cost eventually shows in
    * the per-batch probe (thousands of batches ⇒ thousands of parquet
    * leaf dirs). The idempotent-rewrite protocol deliberately has no
    * in-place compaction (any partial rewrite of a generation would
    * reopen the duplicate-admission window the protocol closes);
    * the production remedy is [[handoffCompacted]] (one call: fold
    * base ∪ committed generations into a FRESH root with no
    * re-signing — the generations already hold the admitted
    * signatures; measured 2.9–4.4× cheaper than a corpus re-sign and
    * sub-linear across a decade, SCALING.md — then pin the next
    * incarnation's checkpoint marker), triggered when
    * [[graft.operators.Stores.shouldCompact]] says the generation
    * count crossed the deployment's threshold. The same pair services
    * [[streamingSemanticGate]]. */
  def streamingNearDupGate(spark: SparkSession, stream: DataFrame,
                           textCol: String, storePath: String,
                           admittedPath: String, checkpoint: String,
                           threshold: Double = 0.5): StreamingQuery = {
    val D = graft.operators.Dedup
    // the BASE index (params manifest + base dataset frames) is a
    // property of the WIRE, not of any micro-batch — the gate's own
    // writes land in generation dirs, never in the base, and the
    // single-writer discipline forbids concurrent base rewrites — so
    // it is read ONCE per incarnation instead of re-reading the
    // manifest (a head() job plus two parquet-footer reads) inside
    // every foreachBatch invocation
    val base = D.readMinhashStoreBase(spark, storePath)
    runGateWire(spark, stream, storePath, checkpoint) { (batch, gen) =>
      import org.apache.spark.sql.functions.col
      def upTo(ds: String, b: DataFrame): DataFrame =
        graft.operators.Stores.withGenerations(spark, storePath,
          ds, b, gen, strict = true)
      // the batch is signed exactly ONCE per micro-batch: these two
      // CACHED frames feed the intra pass, the store probe, AND the
      // admission append (re-deriving them per consumer signs the
      // batch three times). cache(), not localCheckpoint: the
      // shingle frame is the batch × shingles row explosion, and
      // checkpointing it writes gigabytes to the block store at
      // scale where memory-speed reuse is the whole point. The
      // distinct() INSIDE the cached node is the set-semantics guard
      // (the appendToMinhashStore rule): a doc delivered twice in
      // one micro-batch — even with non-signed metadata columns
      // differing — would otherwise double its bucket/shingle rows
      // and skew every later Jaccard against it; on the derived
      // frames (only the signed columns) it is deterministic, and
      // being inside the cache it costs one batch-sized exchange per
      // micro-batch, paid once.
      val bb = D.minhashBandBuckets(batch, base.keyCol, textCol,
        base.k, base.numHashes, base.bands).distinct().cache()
      val bsh = D.portableShingleHashes(batch, base.keyCol, textCol,
        base.k).distinct().cache()
      // intra-batch pass FIRST: two near-dups arriving in the SAME
      // micro-batch are invisible to the store probe (neither is
      // in the index yet) and would both admit — self-probe the
      // batch and keep the min key (the q32 within-corpus rule),
      // exactly the within-batch dedup a nightly-batch posture
      // composes before its store probe. Deterministic, so replays
      // recompute the identical survivor set.
      val sc = spark.sparkContext
      sc.setJobDescription(s"neardup gate gen=$gen: intra self-probe")
      val intra = D.intraFlagsCore(bb, bsh, base.keyCol, threshold)
        .localCheckpoint(true)
      val survBB = bb.join(intra, Seq(base.keyCol), "left_anti")
      val survSH = bsh.join(intra, Seq(base.keyCol), "left_anti")
      val flagged = D.nearDupProbeCore(survBB, survSH, base.keyCol,
          upTo("buckets", base.buckets),
          upTo("shingles", base.shingles), threshold)
        .select(col("b").as(base.keyCol))
      sc.setJobDescription(s"neardup gate gen=$gen: store probe + admit")
      val admitted = batch
        .join(intra, Seq(base.keyCol), "left_anti")
        .join(flagged, Seq(base.keyCol), "left_anti")
        .localCheckpoint(true)
      // ALWAYS overwrite this generation — an empty admit set
      // still writes empty datasets, so an orphan generation left
      // at this id by a crashed prior incarnation (fresh-
      // checkpoint handoff: new offset = old stamp + 1 lands
      // exactly on the orphan's slot) is clobbered rather than
      // silently adopted when the stamp advances past it.
      //
      // The admitted-rows write, the two generation writes, and the
      // running-stamp aggregate are INDEPENDENT once `admitted` is
      // checkpointed (disjoint target dirs; the stamp reads the
      // gatelog pointer plus the checkpointed admitted blocks), so
      // they run CONCURRENTLY (guide §2.6) — the serial chain was
      // the per-micro-batch tail the round-14 verdict flagged. A
      // failure mid-set leaves this generation uncommitted (the
      // shell's pointer flip never happens) and the replay
      // overwrites every partial dataset — the wire's existing
      // crash window, unchanged.
      val keys = admitted.select(col(base.keyCol))
      // running admitted stamp = prior total (a gatelog pointer read)
      // + this batch's admitted keys, DISTINCT-ed within the batch so
      // a key delivered twice counts once — committed atomically with
      // the generation by the shell, so minhashStoreIsCurrent stays a
      // marker read
      var total: (Long, Long) = (0L, 0L)
      graft.operators.Stores.runConcurrently(spark, Seq(
        (s"neardup gate gen=$gen: admitted write",
          () => admitted.write.mode("overwrite")
            .parquet(s"$admittedPath/batch=$gen")),
        (s"neardup gate gen=$gen: buckets generation",
          () => D.writeGateAppend(
            bb.join(keys, Seq(base.keyCol), "left_semi"),
            storePath, "buckets", gen)),
        (s"neardup gate gen=$gen: shingles generation",
          () => D.writeGateAppend(
            bsh.join(keys, Seq(base.keyCol), "left_semi"),
            storePath, "shingles", gen)),
        (s"neardup gate gen=$gen: admitted stamp",
          () => { total = graft.operators.Stores.addStamp(
            graft.operators.Stores.admittedStamp(spark, storePath),
            graft.operators.Stores.keyStamp(
              admitted.select(col(base.keyCol)).distinct(),
              base.keyCol)) })))
      bb.unpersist(blocking = false)
      bsh.unpersist(blocking = false)
      Seq(intra, admitted).foreach(df =>
        graft.operators.Graph.checkpointRdd(df)
          .foreach(_.unpersist(false)))
      total
    }
  }

  /** Streaming SEMANTIC gate — the [[streamingNearDupGate]] posture
    * for the embedding tier: every micro-batch first self-probes for
    * within-batch semantic near-dups (keep the min id —
    * [[graft.operators.Similarity.semanticIntraBatchFlags]], under
    * the index's frozen centroids), then probes the survivors against
    * the persisted IVF vector index
    * ([[graft.operators.Similarity.writeIvfStore]]'s layout), appends
    * ADMITTED rows to `admittedPath`, and admits their vectors into
    * the index (cells assigned by the index's own frozen centroids),
    * so a semantic near-dup arriving in a later micro-batch is
    * rejected against the grown index — and the admitted set is
    * near-dup-free regardless of batch boundaries.
    *
    * Scale shape per micro-batch = the q147 probe: the batch assigns
    * against the broadcast-bounded centroid set and broadcasts into
    * the cell join, so the store vectors stream in place (PlanAuditSpec
    * pins this); the store parquet is re-read per batch — the corpus
    * is never re-assigned. Micro-batches serialize through
    * foreachBatch, so index append and next-batch probe cannot race.
    *
    * EXACTLY-ONCE under replay by the [[streamingNearDupGate]]
    * protocol: decide-once probes (base index + generations strictly
    * before this batch id), per-batch OVERWRITE generations for both
    * the admitted sink and the index vectors, and the `gatelog`
    * committed-batch marker. */
  def streamingSemanticGate(spark: SparkSession, stream: DataFrame,
                            vecCol: String, storePath: String,
                            admittedPath: String, checkpoint: String,
                            threshold: Double = 0.999): StreamingQuery = {
    val S = graft.operators.Similarity
    // base index read ONCE per incarnation (the near-dup gate's
    // hoist): the gate's writes land in generation dirs, never in
    // the base datasets or the manifest
    val base = S.readIvfStoreBase(spark, storePath)
    runGateWire(spark, stream, storePath, checkpoint) { (batch, gen) =>
      import org.apache.spark.sql.functions.col
      val vectors = graft.operators.Stores.withGenerations(spark,
        storePath, "vectors", base.vectors, gen, strict = true)
      // the batch is assigned exactly ONCE per micro-batch: this
      // CACHED frame feeds the intra pass, the store probe, AND
      // the admission append (the near-dup gate's sign-once rule);
      // the distinct() inside the cached node is the set-semantics
      // guard (the near-dup gate's rule — see that wire)
      val rows = S.ivfStoreRows(batch, base.idCol, vecCol,
        base.centroids).distinct().cache()
      // intra-batch pass FIRST (the near-dup gate's rule for the
      // embedding tier): two semantic near-dups arriving in one
      // micro-batch would both admit against an index containing
      // neither — self-probe the batch within the index's own
      // cells and keep the min id before the store probe.
      val intra = S.semanticIntraFlagsCore(rows, base.idCol,
        threshold).localCheckpoint(true)
      val survRows = rows.join(intra, Seq(base.idCol), "left_anti")
      val flagged = S.semanticProbeCore(survRows, vectors,
          base.idCol, threshold)
        .select(col("b").as(base.idCol))
      val admitted = batch
        .join(intra, Seq(base.idCol), "left_anti")
        .join(flagged, Seq(base.idCol), "left_anti")
        .localCheckpoint(true)
      // always overwrite this generation (the near-dup gate's
      // orphan-clobber rule). The admitted write, the vector
      // generation write, and the running-stamp aggregate are
      // independent once `admitted` is checkpointed — run them
      // concurrently (the near-dup gate's §2.6 overlap; a failure
      // leaves the generation uncommitted and the replay overwrites
      // every partial dataset)
      var total: (Long, Long) = (0L, 0L)
      graft.operators.Stores.runConcurrently(spark, Seq(
        (s"semantic gate gen=$gen: admitted write",
          () => admitted.write.mode("overwrite")
            .parquet(s"$admittedPath/batch=$gen")),
        (s"semantic gate gen=$gen: vectors generation",
          () => S.writeGateVectors(
            rows.join(admitted.select(col(base.idCol)),
              Seq(base.idCol), "left_semi"),
            storePath, gen)),
        (s"semantic gate gen=$gen: admitted stamp",
          // running admitted stamp, committed with the generation by
          // the shell (the near-dup gate's rule, including its
          // per-batch DISTINCT — see that wire's stamp note)
          () => { total = graft.operators.Stores.addStamp(
            graft.operators.Stores.admittedStamp(spark, storePath),
            graft.operators.Stores.keyStamp(
              admitted.select(col(base.idCol)).distinct(),
              base.idCol)) })))
      rows.unpersist(blocking = false)
      Seq(intra, admitted).foreach(df =>
        graft.operators.Graph.checkpointRdd(df)
          .foreach(_.unpersist(false)))
      total
    }
  }

  /** Streaming Count-Min fold — the sketch-store posture of the gate
    * above: every micro-batch's increments fold into the persisted
    * grid by counter addition ([[graft.operators.CountMin
    * .foldIntoStore]]), so the store always summarizes the stream so
    * far and point estimates come from reading the kilobyte grid, not
    * from any reprocessing. Because the fold is exactly the batch
    * merge algebra, the drained store equals the grid a single batch
    * build over the concatenated stream would produce (StreamingSpec
    * pins this) — the streaming and batch answers cannot drift.
    * Micro-batches serialize through foreachBatch, so read-merge-write
    * on the store cannot race, and the foreachBatch id is stamped
    * into the store write itself, so foreachBatch's at-least-once
    * replay of a committed batch is a no-op (the fold stays exact
    * across failure recovery — see [[graft.operators.Stores]]). */
  def streamingCountMinFold(spark: SparkSession, stream: DataFrame,
                            valueCol: String, storePath: String,
                            checkpoint: String, depth: Int,
                            width: Int): StreamingQuery =
    runFoldWire(spark, stream, s"$storePath/cells", checkpoint) {
      (batch, gen, writer) =>
        graft.operators.CountMin.foldIntoStore(batch, valueCol,
          storePath, depth, width, batchId = Some(gen), writer = writer)
    }

  /** Fold every micro-batch into a persisted bottom-k quantile sketch
    * (the [[streamingCountMinFold]] posture for the rank summary).
    * The fold algebra — union, collapse re-folded keys, re-take
    * bottom-k under the manifest's k — is associative, so for a
    * stream whose keys are unique the drained store equals the
    * batch-built sketch of the concatenated stream regardless of
    * micro-batch boundaries (StreamingSpec pins it); a key arriving
    * twice — within one batch or across batches — collapses under
    * the store's deterministic min-value policy rather than being
    * double-sampled. Replay-idempotent via the stamped foreachBatch
    * id ([[graft.operators.Stores]]). */
  def streamingQuantileFold(spark: SparkSession, stream: DataFrame,
                            keyCol: String, valueCol: String,
                            storePath: String, checkpoint: String,
                            k: Int): StreamingQuery =
    runFoldWire(spark, stream, s"$storePath/rows", checkpoint) {
      (batch, gen, writer) =>
        graft.operators.QuantileSketch.foldIntoStore(batch, keyCol,
          valueCol, storePath, k, batchId = Some(gen), writer = writer)
    }

  /** Streaming drift monitor (★ — the q183 PSI monitor run as an
    * ingestion stream would run it: every micro-batch's length
    * buckets fold into a persisted exact histogram
    * ([[graft.operators.Audit.histogramFoldIntoStore]]), and the
    * alert path reads the KILOBYTE store against the reference
    * histogram through [[graft.operators.Audit.psiTerms]] — the
    * arriving corpus is never reprocessed. The fold is counter
    * addition, so the drained store's PSI equals the batch PSI over
    * the concatenated stream regardless of micro-batch boundaries
    * (StreamingSpec pins it), including across foreachBatch's
    * at-least-once replays (the foreachBatch id is stamped into the
    * store write — [[graft.operators.Stores]]). */
  def streamingDriftFold(spark: SparkSession, stream: DataFrame,
                         bucketCol: String, storePath: String,
                         checkpoint: String): StreamingQuery =
    runFoldWire(spark, stream, storePath, checkpoint) {
      (batch, gen, writer) =>
        graft.operators.Audit.histogramFoldIntoStore(batch, bucketCol,
          storePath, batchId = Some(gen), writer = writer)
    }
}
