package graft.operators

import java.nio.charset.StandardCharsets
import java.util.EnumSet

import org.apache.hadoop.fs.{CreateFlag, FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Commit protocol for the persisted sketch stores
  * ([[CountMin.foldIntoStore]], [[QuantileSketch.foldIntoStore]],
  * [[Audit.histogramFoldIntoStore]]): replay idempotence plus an
  * atomic payload replace.
  *
  * '''Replay idempotence.''' Structured Streaming's `foreachBatch` is
  * at-least-once: a micro-batch that fails between the store write
  * and the checkpoint commit is re-executed, and a plain counter fold
  * would apply it twice. The guard stamps the foreachBatch `batchId`
  * into the SAME pointer file whose rename commits the payload
  * (`<root>/PTR`, content `<generation> <applied>`), so the stamp and
  * the data it describes commit in one atomic operation and reading
  * it back is a one-file read, not a payload scan. A replayed batch
  * (id ≤ the stamp read back) is skipped; a batch that failed before
  * its pointer flipped left the old stamp in place and re-folds
  * normally. A root without a pointer reads as −1: nothing committed.
  * The gate stores' `gatelog` is a pointer with no payload at all
  * ([[commitStamp]]): its stamp is the committed horizon of the
  * store's generation dirs.
  *
  * '''Atomic replace.''' A merge fold must REPLACE the payload, and a
  * plain `mode("overwrite")` is delete-then-write: a crash mid-
  * overwrite leaves no payload at all, the next fold takes the
  * creation branch, and all previously folded history is silently
  * lost. So payloads here are generation dirs `<root>/g<N>` selected
  * by a one-line pointer file `<root>/PTR`, and the commit point is
  * the pointer flip — a single-file `FileContext` rename with
  * `Options.Rename.OVERWRITE`, the same atomic primitive Spark's own
  * streaming checkpoint manager rests on (HDFS rename is atomic;
  * local rename is a filesystem move). A fold writes the merged
  * payload to the NEXT generation while the current one stays
  * committed, then flips the pointer, then best-effort deletes the
  * superseded generation. Every crash window now degrades to
  * "re-fold", never to "forget":
  *  - crash while writing `g<N+1>`: pointer still names `g<N>`; the
  *    garbage dir is overwritten by the next attempt at that number;
  *  - crash between payload write and pointer flip: pointer still
  *    names `g<N>` with the OLD stamp, so the re-delivered batch
  *    folds again — onto the intact history;
  *  - crash after the flip: the stamp in the new pointer marks the
  *    batch committed and the replay is a no-op;
  *  - crash before the superseded `g<N>` is deleted: an unreferenced
  *    dir lingers until the next fold's sweep — garbage, never
  *    corruption.
  *
  * '''Concurrency contract.''' The protocol assumes the repo's
  * single-writer, serialized-use discipline (foreachBatch serializes
  * micro-batches; registry queries run a store's lifecycle
  * sequentially). [[resolvePayload]]-then-read is NOT atomic against
  * a concurrent fold: the post-flip sweep deletes the superseded
  * generation immediately, so a reader that resolved `g<N>` while a
  * writer flips to `g<N+1>` can lose its scan mid-read. Do not run
  * concurrent folds, or folds concurrent with long readers, against
  * one store root.
  *
  * '''Manifests.''' Every store keeps its parameters in
  * `<store>/params`, a one-line `name=value` file written and read
  * through [[writeManifest]] / [[readManifest]] — the pointer's own
  * tmp+rename marker idiom, so the manifest costs no Spark job in
  * either direction. Write ORDER still matters at creation: manifest
  * first, committed payload second, so the pointer flip remains the
  * single commit point. Merge folds rewrite
  * ONLY the payload (the manifest is immutable after creation). Net
  * invariant: pointer-present ⇒ a fully written generation and the
  * params manifest, and the stamp read back describes exactly what
  * that generation folded. StreamingSpec exercises all three crash
  * windows (params-without-payload, generation-without-pointer-flip,
  * and a checkpoint rewound past a committed fold).
  *
  * '''Zero-job reads.''' Fold-store payloads are read with their
  * declared schema ([[readPayload]]'s `schema`), so resolving a store
  * — pointer, manifest, payload plan — launches no Parquet
  * schema-inference job; only the caller's action over the returned
  * frame does.
  */
object Stores {

  /** One gate-store family
    * [[graft.streaming.IncrementalLoad.handoffCompacted]] can
    * service: the params-manifest field that identifies it, and its
    * compaction fold. Each family registers its kind BESIDE its
    * compactor ([[graft.operators.Dedup.gateStoreKind]] /
    * [[graft.operators.Similarity.gateStoreKind]]) and the handoff
    * dispatches over the registered list — a third gate store family
    * is added by registering a kind, not by remembering to extend a
    * field-name switch inside the handoff. */
  private[graft] final case class GateStoreKind(
      name: String, manifestField: String,
      compact: (SparkSession, String, String) => Unit)

  private val PtrName = "PTR"

  private def fc(spark: SparkSession, p: Path): FileContext =
    FileContext.getFileContext(p.toUri,
      spark.sparkContext.hadoopConfiguration)

  /** Read a small single-file marker's UTF-8 content, if present —
    * the read half of the pointer idiom, exposed so other
    * single-file commit protocols (the streaming wires' incarnation
    * offset) share ONE implementation instead of re-rolling the
    * FileContext open/decode sequence. */
  private[graft] def readMarkerFile(spark: SparkSession,
                                    p: Path): Option[String] = {
    val ctx = fc(spark, p)
    if (!ctx.util().exists(p)) None
    else {
      val in = ctx.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim)
      finally in.close()
    }
  }

  /** Atomically (over)write a small single-file marker: create
    * `<p>.tmp`, rename onto `p` with OVERWRITE — the write half of
    * [[flipPointer]]'s commit idiom, shared for the same reason as
    * [[readMarkerFile]]. */
  private[graft] def writeMarkerFile(spark: SparkSession, p: Path,
                                     content: String): Unit = {
    val ctx = fc(spark, p)
    val tmp = new Path(p.getParent, p.getName + ".tmp")
    val out = ctx.create(tmp,
      EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try out.write(content.getBytes("UTF-8")) finally out.close()
    ctx.rename(tmp, p, Options.Rename.OVERWRITE)
  }

  /** Write a store's parameter manifest as ONE line of
    * space-separated `name=value` fields through [[writeMarkerFile]]
    * (atomic, no Spark job). A value holding whitespace or `=` (a
    * column name, say) could not be read back, so it is refused. */
  private[graft] def writeManifest(spark: SparkSession, path: String,
                                   fields: (String, Any)*): Unit =
    writeMarkerFile(spark, new Path(path), fields.map { case (k, v) =>
      val value = v.toString
      require(value.nonEmpty &&
          !value.exists(c => c == '=' || c.isWhitespace),
        s"manifest field $k=\"$value\" at $path is empty or holds " +
          "whitespace or '='")
      s"$k=$value"
    }.mkString(" "))

  /** Read a [[writeManifest]] manifest back; None when absent. */
  private[graft] def readManifest(spark: SparkSession,
                                  path: String): Option[Map[String, String]] =
    readMarkerFile(spark, new Path(path)).map(_.split("\\s+").map { f =>
      val Array(k, v) = f.split("=", 2)
      k -> v
    }.toMap)

  /** Delete a store root's params manifest, gate generation datasets,
    * and gatelog — a FULL rebuild
    * ([[graft.operators.Dedup.writeMinhashStore]] /
    * [[graft.operators.Similarity.writeIvfStore]] over an existing
    * root) supersedes every committed generation, and leaving them
    * behind would let readers union stale pre-rebuild rows into the
    * fresh base. Called BEFORE the rebuild's dataset writes, and the
    * PARAMS manifest goes first: an IN-PLACE rebuild over an
    * unchanged corpus (the q258 re-sign path) otherwise leaves the
    * old manifest matching the corpus count while the datasets are
    * only partially rewritten — manifest-present must imply complete
    * for same-count rebuilds too. With params gone, every crash
    * window leaves the store non-current, and the caller's
    * isCurrent-then-rebuild discipline retries. */
  private[graft] def clearGateState(spark: SparkSession, root: String,
                                    datasets: Seq[String]): Unit = {
    val ctx = fc(spark, new Path(root))
    ("params" +: datasets :+ "gatelog").foreach { d =>
      val p = new Path(root, d)
      // a failed clear MUST fail the rebuild loudly: swallowing it
      // would let the rebuild lay a fresh base over surviving stale
      // generations/gatelog, and every later reader would union the
      // pre-rebuild rows in — corruption, unlike the GC sweeps
      // (commitPayload / sweepAgedRoots) whose leftovers are
      // unreferenced garbage
      if (ctx.util().exists(p)) {
        ctx.delete(p, true)
        require(!ctx.util().exists(p),
          s"could not clear $p before rebuild — stale gate state " +
            "left under the root would be unioned into the fresh base")
      }
    }
  }

  /** One parsed pointer: committed generation, the `applied` stamp,
    * the optional writer token, and the optional running admitted-key
    * stamp (count, checksum) — absent on commits that do not carry
    * them. */
  private final case class Pointer(gen: Long, applied: Long,
                                   writer: Option[String],
                                   admitted: Option[(Long, Long)])

  /** Parse the pointer file. Field layout is positional
    * (`gen applied [writer [admittedCount admittedCheck]]`); a commit
    * that carries admitted counts but no writer token writes `-` in
    * the writer slot so the positions stay unambiguous. Reads through
    * [[readMarkerFile]] — one single-file read idiom. */
  private def readPointer(spark: SparkSession, root: String)
      : Option[Pointer] =
    readMarkerFile(spark, new Path(root, PtrName)).map { content =>
      val parts = content.split("\\s+").toSeq
      Pointer(parts(0).toLong, parts(1).toLong,
        parts.lift(2).filter(_ != "-"),
        (parts.lift(3), parts.lift(4)) match {
          case (Some(n), Some(c)) => Some((n.toLong, c.toLong))
          case _ => None
        })
    }

  /** Generation the pointer currently commits, if any. */
  private def currentGen(spark: SparkSession, root: String): Option[Long] =
    readPointer(spark, root).map(_.gen)

  /** The committed payload dir under `root`: the generation the
    * pointer names. None ⇒ the store is absent or uncommitted. NOTE:
    * resolve-then-read is only safe under the single-writer contract
    * above — a concurrent fold's sweep can delete a resolved
    * generation. */
  def resolvePayload(spark: SparkSession, root: String): Option[String] =
    currentGen(spark, root).map(g => s"$root/g$g")

  /** True when `root` holds a committed payload. */
  def payloadExists(spark: SparkSession, root: String): Boolean =
    resolvePayload(spark, root).isDefined

  /** Read the committed payload. With a `schema` the read is pinned
    * to it and launches no schema-inference job; without one Spark
    * infers the schema from the footers (one job). */
  def readPayload(spark: SparkSession, root: String,
                  schema: Option[StructType] = None): DataFrame =
    schema.fold(spark.read)(spark.read.schema).parquet(
      resolvePayload(spark, root).getOrElse(throw new IllegalStateException(
        s"no committed payload under $root")))

  /** Atomically replace the payload under `root`: `write` receives
    * the next generation dir (it must write with `mode("overwrite")`
    * so a garbage dir from a crashed prior attempt at the same
    * number is clobbered), then the pointer flips — carrying
    * `applied`, so the replay stamp commits atomically with the data
    * it describes — then superseded generation dirs are best-effort
    * swept. The flip is the commit point; everything before it leaves
    * the current generation committed and everything after it is
    * garbage collection. Single-writer only (object scaladoc). */
  def commitPayload(spark: SparkSession, root: String, applied: Long,
                    writer: Option[String] = None)
                   (write: String => Unit): Unit = {
    val next = currentGen(spark, root).getOrElse(-1L) + 1L
    write(s"$root/g$next")
    flipPointer(spark, root, next, applied, writer, None)
    val rp = new Path(root)
    val ctx = fc(spark, rp)
    ctx.util().listStatus(rp).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.length > 1 && n.head == 'g' &&
          n.tail.forall(_.isDigit) && n != s"g$next")
        try ctx.delete(st.getPath, true)
        catch { case _: java.io.IOException => () }
    }
  }

  /** Commit a pointer-only stamp: the gate stores' `gatelog`, whose
    * only content is the committed horizon `applied` of the store's
    * generation dirs, the writer token and the running admitted-key
    * stamp. No payload is written, so the commit is one marker rename
    * and launches no Spark job; the pointer's generation field repeats
    * `applied`. */
  private[graft] def commitStamp(spark: SparkSession, root: String,
                                 applied: Long, writer: Option[String],
                                 admitted: Option[(Long, Long)]): Unit =
    flipPointer(spark, root, applied, applied, writer, admitted)

  /** Single-file atomic pointer flip via [[writeMarkerFile]] (the
    * shared tmp+rename-OVERWRITE idiom; on local disk FileContext is
    * `LocalFs` — a `ChecksumFs` that DOES write `.crc` siblings, but
    * its create(OVERWRITE) and rename keep the crc pair consistent,
    * so no stale sibling can poison a later read). Content: the
    * generation number and the `applied` stamp, plus the writer
    * token when the commit carries one. A commit carrying the running
    * admitted-key stamp appends `count check` after the writer slot
    * (`-` when untagged), so the admitted total commits atomically
    * with the generation it describes. */
  private def flipPointer(spark: SparkSession, root: String,
                          gen: Long, applied: Long,
                          writer: Option[String],
                          admitted: Option[(Long, Long)]): Unit = {
    val content = admitted match {
      case None => writer.fold(s"$gen $applied")(w => s"$gen $applied $w")
      case Some((n, c)) => s"$gen $applied ${writer.getOrElse("-")} $n $c"
    }
    writeMarkerFile(spark, new Path(root, PtrName), content)
  }

  /** The writer token of the latest committed stamp, when the commit
    * carried one — the streaming wires use it to distinguish "my own
    * crash-window commit" from "another writer took my next
    * generation slot" (see
    * [[graft.streaming.IncrementalLoad]]'s incarnation protocol). */
  def lastWriter(spark: SparkSession, root: String): Option[String] =
    readPointer(spark, root).flatMap(_.writer)

  /** The running admitted-key stamp (count, checksum) of a gate store's
    * committed gate/append generations, read from its gatelog pointer
    * — ONE marker read instead of a distinct-count Spark job over every
    * committed generation (thousands of leaf dirs on a long-lived gate
    * store — the very listing cost compaction exists to retire). Every
    * gatelog commit carries it, so no gatelog means no committed
    * generation: (0, 0). The staleness probes
    * ([[graft.operators.Dedup.minhashStoreIsCurrent]] /
    * [[graft.operators.Similarity.ivfStoreIsCurrent]]), the compactors
    * and the gate commits read it. */
  def admittedStamp(spark: SparkSession, storePath: String)
      : (Long, Long) =
    readPointer(spark, s"$storePath/gatelog").flatMap(_.admitted)
      .getOrElse((0L, 0L))

  /** Highest foreachBatch id (or gatelog generation) committed under
    * `root`: the pointer's stamp, one file read; -1 when the store is
    * absent. */
  def lastApplied(spark: SparkSession, root: String): Long =
    readPointer(spark, root).fold(-1L)(_.applied)

  /** Modulus of the additive key checksum (2^61 − 1, Mersenne prime):
    * large enough that a same-count corpus mutation collides only by
    * design, small enough that the reduced value is a plain long. */
  private[graft] val StampMod: Long = (1L << 61) - 1

  /** (count, checksum) of a key column in ONE aggregation job: the
    * checksum is the sum of each key's portable 60-bit hash, reduced
    * mod [[StampMod]] (summed exactly as DECIMAL(38,0) — a long sum
    * would overflow under ANSI arithmetic). Additive and
    * order-independent, so the stamp of base ∪ admitted is the base
    * stamp plus the admitted stamps — the property that lets the gate
    * stores accumulate it per commit instead of rescanning. Catches
    * the same-count mutation a bare row count cannot (a key swapped
    * for a different key moves the sum). */
  private[graft] def keyStamp(df: DataFrame, keyCol: String)
      : (Long, Long) = {
    val r = df.agg(count(lit(1)),
      sum(graft.functions.Scalars.portableHash64(col(keyCol))
        .cast(org.apache.spark.sql.types.DataTypes
          .createDecimalType(38, 0)))).head()
    val n = r.getLong(0)
    val c = Option(r.getDecimal(1))
      .map(_.remainder(java.math.BigDecimal.valueOf(StampMod))
        .longValueExact())
      .getOrElse(0L)
    (n, c)
  }

  /** Sum two admitted stamps (counts add; checksums add mod
    * [[StampMod]]). */
  private[graft] def addStamp(a: (Long, Long), b: (Long, Long))
      : (Long, Long) =
    (a._1 + b._1, java.lang.Math.floorMod(a._2 + b._2, StampMod))

  /** All gate generations of dataset `ds` under a store root: each
    * admitting micro-batch / batch append lives in
    * `<storePath>/<ds>-batches/batch=<id>` — an idempotent per-batch
    * OVERWRITE, never an append, so a replayed batch rewrites its own
    * generation instead of duplicating rows. The partition column
    * `batch` is exposed for horizon filters. None when no generation
    * was ever written. One implementation for every generation-dir
    * store type (MinHash buckets/shingles, IVF vectors, and any
    * future store). */
  private[graft] def gateGenerations(spark: SparkSession,
                                     storePath: String,
                                     ds: String): Option[DataFrame] = {
    val root = s"$storePath/$ds-batches"
    val hp = new Path(root)
    if (!hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(hp)) None
    else Some(spark.read.parquet(root))
  }

  /** Union `base` with the gate generations of `ds` whose batch id is
    * within `maxBatch` (`strict = true` excludes the boundary — the
    * streaming gates' own-batch exclusion; false includes it — the
    * committed-horizon read). Column order follows `base`. The grown
    * read every store reader and compaction shares. */
  private[graft] def withGenerations(spark: SparkSession,
                                     storePath: String, ds: String,
                                     base: DataFrame, maxBatch: Long,
                                     strict: Boolean = false): DataFrame =
    gateGenerations(spark, storePath, ds)
      .map { g =>
        val cut = if (strict) col("batch") < maxBatch
                  else col("batch") <= maxBatch
        base.unionByName(g.filter(cut)
          .select(base.columns.map(col).toSeq: _*))
      }
      .getOrElse(base)

  /** The generation-fold core of store compaction
    * ([[graft.operators.Dedup.compactMinhashStore]] /
    * [[graft.operators.Similarity.compactIvfStore]] are thin
    * wrappers): for each (dataset, base frame), union the gatelog-
    * COMMITTED generations into the base and write the result as
    * `<newPath>/<ds>` — a plain dataset, no generation roots, no
    * gatelog. Returns the committed horizon that was folded. The
    * caller writes its params manifest LAST (manifest-present ⇒
    * complete), so a crash mid-fold reads as "no store at newPath"
    * and the old root stays authoritative. Generations beyond the
    * committed horizon are excluded exactly as every reader excludes
    * them. */
  private[graft] def foldGenerations(spark: SparkSession,
                                     storePath: String, newPath: String,
                                     folds: Seq[(String, DataFrame)])
      : Long = {
    val committed = lastApplied(spark, s"$storePath/gatelog")
    // independent datasets fold to disjoint target paths — run them
    // concurrently (guide §2.6); the caller's manifest write (LAST)
    // remains the commit point, so a partial parallel fold still
    // reads as "no store at newPath"
    runConcurrently(spark, folds.map { case (ds, base) =>
      (s"foldGenerations: $ds",
        () => withGenerations(spark, storePath, ds, base, committed)
          .write.mode("overwrite").parquet(s"$newPath/$ds"))
    })
    committed
  }

  /** A gate store's GROWN corpus stamp: its manifest `p`'s
    * (`countField`, `src_check`) plus the committed generations'
    * [[admittedStamp]] — the stamp of base ∪ admitted, which the
    * staleness probes compare against the corpus. */
  private[graft] def grownStamp(spark: SparkSession, storePath: String,
                                p: Map[String, String],
                                countField: String): (Long, Long) =
    addStamp((p(countField).toLong, p("src_check").toLong),
      admittedStamp(spark, storePath))

  /** The compaction's LAST write, after [[foldGenerations]]: the
    * source root's manifest at `newPath` with its [[grownStamp]] as
    * the corpus stamp, so the compacted root's staleness probe
    * accepts exactly base ∪ admitted. */
  private[graft] def writeCompactedManifest(spark: SparkSession,
                                            storePath: String,
                                            newPath: String,
                                            countField: String): Unit = {
    val p = readManifest(spark, s"$storePath/params").getOrElse(
      throw new IllegalStateException(s"no manifest under $storePath"))
    val (n, c) = grownStamp(spark, storePath, p, countField)
    writeManifest(spark, s"$newPath/params",
      (p ++ Map(countField -> n.toString, "src_check" -> c.toString))
        .toSeq: _*)
  }

  /** Number of gate generation dirs of dataset `ds` under a store
    * root — one filesystem listing, no Spark job. This is the
    * operational "when do I compact?" probe: each admitting
    * micro-batch adds one dir, and the per-probe listing cost grows
    * with it (the gates' KNOWN BOUND), so schedule
    * [[graft.streaming.IncrementalLoad.handoffCompacted]] once this
    * crosses the deployment's threshold ([[shouldCompact]] packages
    * the default). */
  def generationCount(spark: SparkSession, storePath: String,
                      ds: String): Long = {
    val root = new Path(s"$storePath/$ds-batches")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) 0L
    else fs.listStatus(root).count(st =>
      st.isDirectory && st.getPath.getName.startsWith("batch="))
  }

  /** Run INDEPENDENT Spark actions concurrently from a bounded local
    * thread pool and return once ALL have finished (guide §2.6:
    * Spark's scheduler happily runs several jobs at once — actions
    * are only sequential because the driver calls them sequentially,
    * and 2–4 jobs in flight let one job's task tail back-fill the
    * cores another job just freed). Used by the store writers whose
    * datasets are derived from the same inputs but written to
    * DISJOINT paths (MinHash buckets ∥ shingles, IVF vectors ∥ stamp,
    * the gates' per-batch admitted/generation writes): the actions
    * carry no ordering dependency, and every caller sits inside an
    * idempotent-overwrite protocol, so a failure that leaves the
    * OTHER actions completed is exactly the crash window the
    * protocols already heal (the generation is not committed until
    * the caller's later pointer flip).
    *
    * Every action runs with its own job description (thread-local —
    * set inside the worker thread, cleared in a finally so a pooled
    * thread cannot leak a stale label). All actions are awaited even
    * when one fails; the FIRST failure is then rethrown. */
  private[graft] def runConcurrently(spark: SparkSession,
      actions: Seq[(String, () => Unit)]): Unit =
    if (actions.size == 1) {
      val sc = spark.sparkContext
      val (desc, body) = actions.head
      val prev = sc.getLocalProperty("spark.job.description")
      if (desc != null) sc.setJobDescription(desc)
      try body() finally sc.setJobDescription(prev)
    } else if (actions.nonEmpty) {
      val sc = spark.sparkContext
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(actions.size)
      try {
        val futs = actions.map { case (desc, body) =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit = {
              if (desc != null) sc.setJobDescription(desc)
              try body() finally sc.setJobDescription(null)
            }
          })
        }
        // await EVERY action before surfacing the first failure —
        // throwing early would return control to the caller while
        // sibling writes are still mutating the store root
        val errs = futs.flatMap { f =>
          try { f.get(); None }
          catch {
            case e: java.util.concurrent.ExecutionException =>
              Some(e.getCause)
          }
        }
        errs.headOption.foreach(e => throw e)
      } finally pool.shutdown()
    }

  /** True when any of the store's generation datasets has accumulated
    * at least `threshold` generation dirs — the default compaction
    * trigger. The default 64 is PRICED in SCALING.md's round-14
    * section (`tools/ProfileCompaction`): at 64 the per-batch cost of
    * reading the grown store stays within ~⅓ of the probe itself and
    * one compaction amortizes to ~0.02 s per admitting batch, while
    * by 512 every batch pays ~0.9 s extra — more than a quarter of
    * the whole compaction. Lower it on object stores (per-dir listing
    * round-trips dominate); raise it when batches are rare. This
    * probe itself is one FS listing — 6 ms even at 512 dirs. */
  def shouldCompact(spark: SparkSession, storePath: String,
                    datasets: Seq[String],
                    threshold: Long = 64L): Boolean =
    datasets.exists(ds => generationCount(spark, storePath, ds)
      >= threshold)
}
