package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search (north-star ★, SURVEY §7.6 — the
  * broadcast-then-prune top-k structure from the EDBT'20/ICDE'21
  * similarity-search literature).
  *
  * Two tiers: brute-force cosine top-k (exact baseline — broadcast the
  * small query set, stream the corpus once, per-group heap via
  * row_number), and random-hyperplane LSH bucketing (the scale path:
  * bucket join instead of full cross product).
  */
object Similarity {

  /** Cosine similarity — the native codegen expression
    * (graft.plans.CosineSimilarity): one fused loop per row, no
    * intermediate arrays. Bit-identical to `cosineHof` (same
    * accumulation order; SimilaritySpec asserts equality). */
  def cosine(a: Column, b: Column): Column =
    graft.plans.CosineSimilarity(a.cast("array<double>"), b.cast("array<double>"))

  /** Built-in-HOF baseline (zip_with product + left-fold sum over
    * precomputable norms) — kept as the portability reference and for
    * the equivalence test. */
  def cosineHof(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    def norm(x: Column): Column =
      sqrt(aggregate(x, lit(0.0), (acc, v) => acc + v * v))
    dot(a, b) / (norm(a) * norm(b))
  }

  /** Exact top-k neighbors for each query vector. `queries` must be
    * the small side — it is broadcast, so the corpus is streamed once
    * with no shuffle before the per-query top-k window. Similarities
    * are rounded to `roundScale` decimals BEFORE ranking so that
    * ranking is stable across engines; ties break on candidate id.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     queryId: String = "q_id", queryVec: String = "q_vec",
                     corpusId: String = "c_id", corpusVec: String = "c_vec",
                     roundScale: Int = 6): DataFrame = {
    val joined = corpus.join(broadcast(queries),
        col(queryId) =!= col(corpusId))
      .withColumn("sim",
        round(cosine(col(queryVec).cast("array<double>"),
          col(corpusVec).cast("array<double>")), roundScale))
    Relational.topKPerGroup(
        joined.select(col(queryId), col(corpusId), col("sim")),
        Seq(col(queryId)),
        Seq(col("sim").desc, col(corpusId).asc), k)
  }

  /** Aggregator-based exact top-k (same contract as bruteForceTopK,
    * different physical plan): the per-group bounded buffer ships ≤2k
    * rows per group per partition through the shuffle instead of every
    * candidate row — the scale-preferred shape when |groups| is large.
    * Rounded sims + (score DESC, id ASC) ordering keep it
    * interchangeable with the window variant. */
  def bruteForceTopKAgg(queries: DataFrame, corpus: DataFrame, k: Int,
                        roundScale: Int = 6): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val scored = corpus.join(broadcast(queries), col("q_id") =!= col("c_id"))
      .select(col("q_id"),
        col("c_id"),
        round(cosine(col("q_vec").cast("array<double>"),
          col("c_vec").cast("array<double>")), roundScale).as("sim"))
      .as[(Long, Long, Double)]
    val agg = new TopK.TopKAggregator(k)
    scored.groupByKey(_._1)
      .mapValues(r => TopK.Scored(r._2, r._3))
      .agg(agg.toColumn)
      .flatMap { case (qId, top) =>
        top.zipWithIndex.map { case (s, i) => (qId, s.id, s.score, i + 1L) }
      }
      .toDF("q_id", "c_id", "sim", "rn")
  }

  /** Embedding-cosine near-dup pairs (north-star dedup tier 5): all
    * (a < b) pairs with cosine >= threshold, EXACT — via a block/grid
    * self-join, not a theta join. A naive `a.join(b, a < b)` plans as
    * a BroadcastNestedLoopJoin: the whole corpus broadcast regardless
    * of size and the O(n²) pair stream on a handful of tasks — the
    * scale-killer at 100 TB. Here each vector gets a block id
    * (hash mod `blocks`); a tiny exploded (i ≤ j) block-pair table
    * turns the triangle into B(B+1)/2 equi-join buckets, so the n²/2
    * comparisons spread evenly with per-task memory bounded by two
    * blocks (pick B ≈ n / rows-that-fit-per-task at scale). Each
    * unordered pair lands in exactly one bucket: off-diagonal pairs by
    * block orientation, diagonal ones by the id filter. Similarities
    * are rounded before thresholding for cross-engine set stability.
    * The approximate path swaps the grid for `lshBucket` equality
    * (see `cosineNearDupPairsLsh`). */
  def cosineNearDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, roundScale: Int = 6,
                         blocks: Int = 16): DataFrame = {
    require(blocks >= 1 && blocks <= 4096,
      s"blocks=$blocks out of range: the pair table is blocks(blocks+1)/2 rows")
    val spark = vectors.sparkSession
    import spark.implicits._
    // norms computed once per ROW (not per pair): sim =
    // dot/(norm_a*norm_b) is bit-identical to the fused cosine (same
    // accumulation order), at a third of the per-pair work
    def norm(v: Column): Column =
      sqrt(graft.plans.DotProduct(v, v))
    val prepped = vectors.select(col(idCol),
      col(vecCol).cast("array<double>").as("_v"))
      .withColumn("_n", norm(col("_v")))
      .withColumn("_blk", pmod(xxhash64(col(idCol)), lit(blocks)).cast("int"))
    val pairTable = broadcast(
      (for { i <- 0 until blocks; j <- i until blocks } yield (i, j))
        .toDF("_i", "_j"))
    // the a side owns grid row i, the b side grid column j; each side
    // is replicated ~B/2× (vs n× for the broadcast in a BNL join)
    val a = prepped.select(col(idCol).as("a"), col("_v").as("_va"),
        col("_n").as("_na"), col("_blk").as("_ba"))
      .join(pairTable, col("_ba") === col("_i"))
    val b = prepped.select(col(idCol).as("b"), col("_v").as("_vb"),
        col("_n").as("_nb"), col("_blk").as("_bb"))
      .join(pairTable, col("_bb") === col("_j"))
    a.join(b, Seq("_i", "_j"))
      // off-diagonal buckets already hold each unordered pair once
      // (orientation fixed by the blocks); the diagonal needs a < b
      .filter(col("_i") < col("_j") || col("a") < col("b"))
      .withColumn("sim", round(
        graft.plans.DotProduct(col("_va"), col("_vb")) /
          (col("_na") * col("_nb")), roundScale))
      .filter(col("sim") >= threshold)
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"), col("sim"))
  }

  /** LSH-bucketed near-dup pairs: candidates share a hyperplane
    * bucket, exact cosine verifies. Sub-quadratic; recall tied to the
    * plane count (near-identical vectors collide with prob. ~1). */
  def cosineNearDupPairsLsh(vectors: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, numPlanes: Int = 12): DataFrame = {
    val bucketed = vectors.select(col(idCol), col(vecCol),
      lshBucket(col(vecCol), numPlanes).as("bucket"))
    val a = bucketed.select(col(idCol).as("a"), col(vecCol).as("_va"), col("bucket"))
    val b = bucketed.select(col(idCol).as("b"), col(vecCol).as("_vb"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("a") < col("b"))
      .withColumn("sim", round(cosine(col("_va"), col("_vb")), 6))
      .filter(col("sim") >= threshold)
      .select(col("a"), col("b"), col("sim")).distinct()
  }

  /** Nearest-centroid assignment: each row of `df` gains the `cell` of
    * its top-`n` centroids by (rounded) cosine, ties on cell asc. The
    * centroid set is small BY CONTRACT (≤4096, guarded at the call
    * sites) — the `lit(true)` join is a deliberate broadcast cross
    * join against that bounded side, NOT a data-sized cross product. */
  // Assignment stays the explode+window form deliberately. Round-10
  // A/B'd two "join-free" alternatives at sf1/sf10: an in-row
  // `transform` over a collected centroid array (higher-order-function
  // lambdas run INTERPRETED — 1.3–1.7× slower end to end) and the
  // q227-style codegen'd literal-centroid rank (2× faster at sf0.1
  // but 2.5× slower at sf1 — the narrow scan input collapses the
  // downstream pair stage's parallelism under AQE coalescing). The
  // window form keeps every stage codegen'd and well-partitioned; its
  // N×numCells intermediate is the measured-cheapest of the three.
  private def assignCells(df: DataFrame, centroids: DataFrame,
                          id: String, vec: String, n: Int): DataFrame =
    Relational.topKPerGroup(
      df.join(broadcast(centroids), lit(true))
        .withColumn("cd", round(cosine(col(vec).cast("array<double>"),
          col("cent_vec").cast("array<double>")), 6)),
      Seq(col(id)), Seq(col("cd").desc, col("cell").asc), n)
      .select(df.columns.map(col) :+ col("cell"): _*)

  /** One Lloyd's (k-means) pass: assign every corpus vector to its
    * nearest centroid, recompute each centroid as the element-wise
    * mean of its members. The mean runs through DECIMAL sums so the
    * refined centroids are bit-deterministic across partitionings
    * (double accumulation order is not); cells that attract no member
    * keep their previous centroid. */
  private def lloydStep(corpus: DataFrame, corpusId: String,
                        corpusVec: String, centroids: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val assigned = assignCells(corpus, centroids, corpusId, corpusVec, 1)
    val comps = assigned.select(col("cell"),
      posexplode(col(corpusVec).cast("array<double>")).as(Seq("pos", "v")))
    val means = comps.groupBy(col("cell"), col("pos"))
      .agg((sum(col("v").cast(DecimalType(30, 18))).cast("double") /
        count(lit(1)).cast("double")).as("mv"))
    val refined = means.groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mv")))),
        s => s.getField("mv")).as("cent_vec"))
    centroids.select(col("cell"), col("cent_vec").as("seed_vec"))
      .join(refined, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("cent_vec"), col("seed_vec")).as("cent_vec"))
  }

  /** IVF (inverted-file) approximate top-k — the clustering-flavored
    * scale path next to hyperplane LSH: `numCells` seed centroids
    * (lowest ids), k-means-refined for `kmeansIters` deterministic
    * Lloyd's passes, corpus vectors assigned to their nearest centroid
    * once, queries probe their `nprobe` nearest cells. The search join
    * is a hash join on cell id over ~nprobe/numCells of the corpus. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              numCells: Int = 16, nprobe: Int = 3,
              queryId: String = "q_id", queryVec: String = "q_vec",
              corpusId: String = "c_id", corpusVec: String = "c_vec",
              kmeansIters: Int = 2): DataFrame = {
    require(numCells >= 1 && numCells <= 4096,
      s"numCells=$numCells out of range: centroids are broadcast to every " +
        "task — the cross join below is only safe against a bounded side")
    require(nprobe >= 1 && nprobe <= numCells,
      s"nprobe=$nprobe must be in [1, numCells=$numCells]")
    require(kmeansIters >= 0 && kmeansIters <= 16,
      s"kmeansIters=$kmeansIters out of range (each pass rescans the corpus)")
    val centroids = refinedCentroids(corpus, corpusId, corpusVec,
      numCells, kmeansIters)
    val corpusCells = assignCells(corpus, centroids, corpusId, corpusVec, 1)
    val queryCells = assignCells(queries, centroids, queryId, queryVec, nprobe)
    val joined = corpusCells.join(broadcast(queryCells), Seq("cell"))
      .filter(col(queryId) =!= col(corpusId))
      .withColumn("sim", round(cosine(col(queryVec).cast("array<double>"),
        col(corpusVec).cast("array<double>")), 6))
    Relational.topKPerGroup(
        joined.select(col(queryId), col(corpusId), col("sim")).distinct(),
        Seq(col(queryId)), Seq(col("sim").desc, col(corpusId).asc), k)
  }

  /** Seed-then-refine centroid set shared by [[ivfTopK]] and
    * [[semanticDedup]]: `numCells` lowest-id corpus vectors seed the
    * cells, `kmeansIters` deterministic Lloyd's passes refine them.
    * The refined-centroid plan embeds `kmeansIters` corpus scans and
    * is consumed by every assignment broadcast downstream —
    * materialize it ONCE into a local relation (bounded: ≤numCells
    * rows by the caller's guard) instead of caching, which would pin
    * an entry in the cache manager for the session's lifetime on
    * every call. */
  private def refinedCentroids(corpus: DataFrame, corpusId: String,
                               corpusVec: String, numCells: Int,
                               kmeansIters: Int): DataFrame = {
    val seed = corpus.orderBy(col(corpusId)).limit(numCells)
      .select(col(corpusId).as("cell"),
        col(corpusVec).cast("array<double>").as("cent_vec"))
    val refined = (0 until kmeansIters).foldLeft(seed)((c, _) =>
      lloydStep(corpus, corpusId, corpusVec, c))
    if (kmeansIters == 0) refined
    else {
      val spark = corpus.sparkSession
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(refined.collect().toSeq.asJava, refined.schema)
    }
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): embedding
    * near-duplicates are detected only WITHIN k-means cells, and each
    * similarity neighborhood keeps its lowest id — a row is dropped
    * iff a smaller-id vector in its cell sits at rounded cosine ≥
    * `threshold`. The greedy keep-min-id rule (rather than a full
    * transitive closure) is the published algorithm's and is
    * deterministic, so every flag replays in SQL.
    *
    * Output per vector: `cell`, `kept`, `n_smaller_dups` (smaller-id
    * near-dups in cell), `dup_of` (smallest such id, −1 if kept).
    *
    * Scale shape: this is the answer to q37's corpus-wide O(N²) —
    * pairs form only inside cells (Σ|cell|² work, tunable via
    * `numCells`), the centroid set is broadcast-bounded (≤4096), norms
    * compute once per row not per pair, and the pair join is a hash
    * join on cell id. Skew guard at 100 TB: numCells scales with
    * corpus size (the SemDeDup paper runs 50k cells for 5B
    * embeddings), keeping each cell's quadratic term bounded. */
  def semanticDedup(vectors: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, numCells: Int = 16,
                    kmeansIters: Int = 1): DataFrame = {
    require(numCells >= 1 && numCells <= 4096,
      s"numCells=$numCells out of range: centroids are broadcast to every " +
        "task — the assignment cross join is only safe against a bounded side")
    require(kmeansIters >= 0 && kmeansIters <= 16,
      s"kmeansIters=$kmeansIters out of range (each pass rescans the corpus)")
    val centroids = refinedCentroids(vectors, idCol, vecCol,
      numCells, kmeansIters)
    def norm(v: Column): Column = sqrt(graft.plans.DotProduct(v, v))
    val cells = assignCells(vectors, centroids, idCol, vecCol, 1)
      .select(col(idCol), col("cell"),
        col(vecCol).cast("array<double>").as("_v"))
      .withColumn("_n", norm(col("_v")))
      .cache() // consumed by both pair sides and the final join; the
               // assignment otherwise re-runs its broadcast per branch
               // (the simhashNearDupPairs chunk-cache precedent)
    val a = cells.select(col("cell"), col(idCol).as("a"),
      col("_v").as("_va"), col("_n").as("_na"))
    val b = cells.select(col("cell"), col(idCol).as("b"),
      col("_v").as("_vb"), col("_n").as("_nb"))
    // dot/(na*nb) is bit-identical to the fused cosine (same
    // accumulation order) at a third of the per-pair work
    val drops = a.join(b, Seq("cell")).filter(col("a") < col("b"))
      .withColumn("sim", round(
        graft.plans.DotProduct(col("_va"), col("_vb")) /
          (col("_na") * col("_nb")), 6))
      .filter(col("sim") >= threshold)
      .groupBy(col("b").as(idCol))
      .agg(count(lit(1)).as("n_smaller_dups"), min(col("a")).as("dup_of"))
    cells.select(col(idCol), col("cell"))
      .join(drops, Seq(idCol), "left")
      .select(col(idCol), col("cell"),
        col("dup_of").isNull.as("kept"),
        coalesce(col("n_smaller_dups"), lit(0L)).as("n_smaller_dups"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
  }

  /** Rounding scale applied to every cross-engine cosine before
    * ranking/thresholding — the arithmetic contract a persisted
    * vector index is signed under (manifest-recorded, the MinHash
    * HornerC/MinhashP discipline). */
  val CosineRoundScale: Int = 6

  /** A persisted IVF vector index read back from disk: the frozen
    * centroid set, the assigned corpus vectors, and the signing
    * parameters. */
  final case class IvfStore(centroids: DataFrame, vectors: DataFrame,
                            idCol: String, numCells: Int,
                            kmeansIters: Int)

  /** Batch rows in the store's on-disk shape — (id, vec double[],
    * cell) with cells assigned by the GIVEN centroid set. Shared by
    * [[writeIvfStore]], [[appendToIvfStore]] and in-plan index growth,
    * so an appended row can only ever be signed the way the store
    * itself is. */
  def ivfStoreRows(batch: DataFrame, idCol: String, vecCol: String,
                   centroids: DataFrame): DataFrame =
    assignCells(batch, centroids, idCol, vecCol, 1)
      .select(col(idCol), col(vecCol).cast("array<double>").as("vec"),
        col("cell"))

  /** Write the persisted semantic-dedup index for a vector corpus:
    * two parquet datasets under `path` — `centroids` (the
    * seed-then-refined cell set, FROZEN at build time: probes and
    * appends assign against these, the standard IVF posture) and
    * `vectors` (every corpus vector with its cell) — and a one-line
    * `params` manifest ([[graft.operators.Stores.writeManifest]]:
    * idCol and its type, numCells, kmeansIters, the
    * [[CosineRoundScale]] the index was signed under, and the corpus
    * stamp n_vecs/src_check for the staleness probe). Written LAST:
    * its presence implies the centroid/vector writes completed. */
  def writeIvfStore(vectors: DataFrame, idCol: String, vecCol: String,
                    path: String, numCells: Int = 16,
                    kmeansIters: Int = 1): Unit = {
    require(numCells >= 1 && numCells <= 4096,
      s"numCells=$numCells out of range: centroids broadcast to every task")
    // a full rebuild supersedes every gate generation and the gatelog
    // (the writeMinhashStore rule)
    graft.operators.Stores.clearGateState(vectors.sparkSession, path,
      Seq("vectors-batches"))
    val centroids = refinedCentroids(vectors, idCol, vecCol,
      numCells, kmeansIters)
    // n_vecs + src_check: corpus size and additive id checksum in one
    // aggregation job (the writeMinhashStore stamp discipline — the
    // checksum catches a same-count corpus mutation). The three
    // dataset/stamp actions are independent (disjoint paths; the
    // stamp reads only the id column) — run them concurrently
    // (guide §2.6); the params manifest below is still written LAST,
    // so a partial parallel write reads as "no store here". The
    // centroid set is require-bounded (≤ 4096 rows) and already
    // driver-local after refinement — one output task, not
    // defaultParallelism near-empty ones.
    var stamp: (Long, Long) = (0L, 0L)
    graft.operators.Stores.runConcurrently(vectors.sparkSession, Seq(
      ("writeIvfStore: centroids",
        () => centroids.coalesce(1).write.mode("overwrite")
          .parquet(s"$path/centroids")),
      ("writeIvfStore: vectors",
        () => ivfStoreRows(vectors, idCol, vecCol, centroids)
          .write.mode("overwrite").parquet(s"$path/vectors")),
      ("writeIvfStore: stamp",
        () => { stamp = graft.operators.Stores.keyStamp(
          vectors, idCol) })))
    graft.operators.Stores.writeManifest(vectors.sparkSession,
      s"$path/params", "id_col" -> idCol,
      "id_type" -> vectors.schema(idCol).dataType.catalogString,
      "num_cells" -> numCells, "kmeans_iters" -> kmeansIters,
      "round_scale" -> CosineRoundScale, "n_vecs" -> stamp._1,
      "src_check" -> stamp._2)
  }

  /** True when `path` holds a completed index signed over exactly
    * `corpus` under this library's rounding contract (the
    * minhashStoreIsCurrent shape: manifest present, constants match,
    * count and id checksum match). The stamp probed is the GROWN one —
    * the manifest's build-time (n_vecs, src_check) plus the committed
    * append/gate generations' admitted stamp from the gatelog pointer
    * — so a store grown past the original corpus is current against
    * base ∪ admitted. */
  def ivfStoreIsCurrent(corpus: DataFrame, path: String): Boolean =
    try {
      val spark = corpus.sparkSession
      val S = graft.operators.Stores
      S.readManifest(spark, s"$path/params").exists { p =>
        p("round_scale").toInt == CosineRoundScale &&
          S.keyStamp(corpus, p("id_col")) ==
            S.grownStamp(spark, path, p, "n_vecs")
      }
    } catch { case _: Exception => false }

  /** Read a [[writeIvfStore]] index back, refusing one signed under a
    * different rounding contract (a silently drifted probe ranks
    * candidates differently than the index's builder did). Includes
    * gate-COMMITTED vector generations only
    * ([[graft.operators.Stores.withGenerations]] up to the gatelog's
    * committed batch id): a generation written by a
    * batch that crashed before its gatelog flip stays invisible to
    * every reader until the stream replays and commits it — the same
    * decide-once horizon the gate itself probes with. */
  def readIvfStore(spark: org.apache.spark.sql.SparkSession,
                   path: String): IvfStore = {
    val base = readIvfStoreBase(spark, path)
    val committed = graft.operators.Stores.lastApplied(
      spark, s"$path/gatelog")
    base.copy(vectors = graft.operators.Stores.withGenerations(
      spark, path, "vectors", base.vectors, committed))
  }

  /** The base build alone — what [[writeIvfStore]] wrote (plus any
    * [[appendToIvfStore]] batch appends), without gate generations.
    * The streaming gate composes this with the generations committed
    * strictly before its own batch id (decide-once replay semantics —
    * see [[graft.streaming.IncrementalLoad.streamingSemanticGate]]).
    * Launches no Spark job: the manifest is a marker read and both
    * datasets are read with the schema the manifest's id type pins
    * (a centroid's cell is the id of the vector that seeded it). */
  private[graft] def readIvfStoreBase(
      spark: org.apache.spark.sql.SparkSession,
      path: String): IvfStore = {
    val p = graft.operators.Stores.readManifest(spark, s"$path/params")
      .getOrElse(throw new IllegalStateException(
        s"no IVF manifest under $path"))
    val rs = p("round_scale").toInt
    require(rs == CosineRoundScale,
      s"index at $path was signed at round_scale=$rs but this library " +
        s"rounds at $CosineRoundScale — re-sign the corpus")
    import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType,
      StructType}
    val idType = DataType.fromDDL(p("id_type"))
    val vec = ArrayType(DoubleType)
    IvfStore(
      spark.read.schema(new StructType().add("cell", idType)
        .add("cent_vec", vec)).parquet(s"$path/centroids"),
      spark.read.schema(new StructType().add(p("id_col"), idType)
        .add("vec", vec).add("cell", idType)).parquet(s"$path/vectors"),
      p("id_col"), p("num_cells").toInt, p("kmeans_iters").toInt)
  }

  /** Overwrite one gate generation — idempotent for a given batch id
    * by construction. */
  private[graft] def writeGateVectors(rows: DataFrame, path: String,
                                      batchId: Long): Unit =
    rows.write.mode("overwrite")
      .parquet(s"$path/vectors-batches/batch=$batchId")

  /** Admit a batch into a persisted index: cells assigned by the
    * INDEX's own frozen centroids (read, not caller-supplied — a
    * mismatch is inexpressible). Call with the ADMITTED subset of a
    * probed batch.
    *
    * Uses the streaming gate's generation protocol rather than a
    * plain parquet append (add-files: a crash mid-append left
    * PARTIAL vector rows visible): the batch lands in a fresh
    * `batch=<id>` generation committed by the `gatelog` marker —
    * readers include only committed generations, so a crash reads as
    * "append never happened" and the retry overwrites the garbage
    * generation. */
  def appendToIvfStore(batch: DataFrame, vecCol: String,
                       path: String): Unit = {
    val spark = batch.sparkSession
    // the BASE read suffices: assignment needs only the frozen
    // centroids and the manifest's id column — the grown read would
    // pay a gatelog read plus a generation-dir listing per append
    // just to discard the vector union
    val st = readIvfStoreBase(spark, path)
    val gatelog = s"$path/gatelog"
    // prior admitted stamp BEFORE the commit; the running total
    // commits atomically with the generation (the
    // appendToMinhashStore discipline)
    val prior = graft.operators.Stores.admittedStamp(spark, path)
    val next = graft.operators.Stores.lastApplied(spark, gatelog) + 1L
    // set semantics on the INDEX frame (the appendToMinhashStore
    // rule): an id delivered twice in one batch — even with metadata
    // columns differing — would store its vector twice and skew
    // count-based readers, while the stamp below counts it once;
    // distinct() on the derived rows (only the indexed columns) is
    // deterministic
    // the generation write and the batch stamp are disjoint passes
    // over the batch — run them concurrently (the
    // appendToMinhashStore §2.6 overlap); the pointer commit below
    // remains the single visibility point
    var batchStamp: (Long, Long) = (0L, 0L)
    graft.operators.Stores.runConcurrently(spark, Seq(
      ("appendToIvfStore: vectors",
        () => writeGateVectors(
          ivfStoreRows(batch, st.idCol, vecCol, st.centroids)
            .distinct(),
          path, next)),
      ("appendToIvfStore: stamp",
        // distinct ids per batch — the appendToMinhashStore stamp rule
        () => { batchStamp = graft.operators.Stores.keyStamp(
          batch.select(col(st.idCol)).distinct(), st.idCol) })))
    graft.operators.Stores.commitStamp(spark, gatelog, next, None,
      Some(graft.operators.Stores.addStamp(prior, batchStamp)))
  }

  /** Fold every gate-COMMITTED vector generation into a FRESH base
    * store at `newPath` — the
    * [[graft.operators.Dedup.compactMinhashStore]] maintenance move
    * for the semantic gate's index: a long-running stream adds one
    * `batch=<id>` dir per admitting micro-batch, and compaction
    * rewrites base ∪ committed generations as the new root's plain
    * `vectors` dataset. Centroids are copied VERBATIM — every stored
    * vector's cell was assigned under these frozen centroids, so
    * recomputing them here would silently stale every cell assignment
    * in the store; refreshing centroids is a REBUILD
    * ([[writeIvfStore]] over the grown corpus), not a compaction.
    * No re-assignment happens either: the generations already hold
    * (id, vec, cell) in the store's on-disk shape. The manifest is
    * written LAST (manifest-present ⇒ complete), so a crash
    * mid-compaction reads as "no store at newPath" and the old root
    * stays authoritative. Call only on a QUIESCED store; generations
    * beyond the gatelog's committed horizon are excluded exactly as
    * every reader excludes them — point the stream's next incarnation
    * at `newPath` with a FRESH checkpoint and the crashed batch
    * re-arrives through the source. */
  def compactIvfStore(spark: org.apache.spark.sql.SparkSession,
                      path: String, newPath: String): Unit = {
    // self-compaction is inexpressible (the compactMinhashStore rule:
    // the target clear would delete the generations being folded)
    require(new org.apache.hadoop.fs.Path(path) !=
        new org.apache.hadoop.fs.Path(newPath),
      s"compactIvfStore target equals the source root ($path) — " +
        "compaction folds into a FRESH root")
    val base = readIvfStoreBase(spark, path) // validates round_scale
    // enforce a fresh target root (the compactMinhashStore rule): a
    // gatelog or vector generations left at newPath by a prior life
    // would union stale rows into the compacted base
    graft.operators.Stores.clearGateState(spark, newPath,
      Seq("vectors-batches"))
    // centroid copy ∥ vector fold: disjoint target datasets, and the
    // manifest below is still the commit point (guide §2.6). The
    // centroid set is require-bounded (≤ 4096 rows) — one output task.
    graft.operators.Stores.runConcurrently(spark, Seq(
      ("compactIvfStore: centroids",
        () => base.centroids.coalesce(1).write.mode("overwrite")
          .parquet(s"$newPath/centroids")),
      ("compactIvfStore: vectors",
        () => { graft.operators.Stores.foldGenerations(spark, path,
          newPath, Seq("vectors" -> base.vectors)); () })))
    graft.operators.Stores.writeCompactedManifest(spark, path, newPath,
      "n_vecs")
  }

  /** The IVF gate store's [[graft.operators.Stores.GateStoreKind]]
    * registration — beside its compactor (the
    * [[graft.operators.Dedup.gateStoreKind]] discipline).
    * `round_scale` appears in every IVF manifest and no other
    * store's. */
  private[graft] val gateStoreKind
      : graft.operators.Stores.GateStoreKind =
    graft.operators.Stores.GateStoreKind("IVF", "round_scale",
      compactIvfStore)

  /** Probe a persisted/grown IVF index with a batch: each batch
    * vector is assigned to its nearest store centroid and compared
    * against ONLY that cell's store vectors; matches at rounded
    * cosine ≥ `threshold` summarize to one row per flagged batch id —
    * (b, best_match, sim, n_matches), best = (sim desc, store id asc),
    * the minhash probe's contract. Scale shape mirrors it too: the
    * batch side (the nightly increment) carries the broadcast hint,
    * so the store never shuffles — its only pass is the cell-join
    * scan; norms compute once per row. */
  def semanticDedupAgainstStore(batch: DataFrame, vecCol: String,
                                centroids: DataFrame,
                                storeVectors: DataFrame, idCol: String,
                                threshold: Double): DataFrame =
    semanticProbeCore(ivfStoreRows(batch, idCol, vecCol, centroids),
      storeVectors, idCol, threshold)

  /** The probe over a PRE-ASSIGNED batch — `assigned` =
    * [[ivfStoreRows]] rows (idCol, vec double[], cell) — so a caller
    * that already holds them (the streaming gate assigns its batch
    * exactly ONCE and feeds the same frame to the intra pass, this
    * probe, and the admission append) pays no re-assignment.
    * [[semanticDedupAgainstStore]] is the raw-batch wrapper. */
  private[graft] def semanticProbeCore(assigned: DataFrame,
                                       storeVectors: DataFrame,
                                       idCol: String,
                                       threshold: Double): DataFrame = {
    def norm(v: Column): Column = sqrt(graft.plans.DotProduct(v, v))
    val bc = assigned
      .select(col(idCol).as("b"), col("vec").as("_vb"), col("cell"))
      .withColumn("_nb", norm(col("_vb")))
    val sv = storeVectors.select(col(idCol).as("s"), col("vec").as("_vs"),
        col("cell"))
      .withColumn("_ns", norm(col("_vs")))
    val pairs = broadcast(bc).join(sv, Seq("cell"))
      .withColumn("sim", round(
        graft.plans.DotProduct(col("_vb"), col("_vs")) /
          (col("_nb") * col("_ns")), CosineRoundScale))
      .filter(col("sim") >= threshold)
    val w = Window.partitionBy(col("b"))
      .orderBy(col("sim").desc, col("s"))
    pairs
      .withColumn("n_matches",
        count(lit(1)).over(Window.partitionBy(col("b"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("b"), col("s").as("best_match"), col("sim"),
        col("n_matches"))
  }

  /** Store-reading overload: probe the index as read from disk. */
  def semanticDedupAgainstStore(batch: DataFrame, vecCol: String,
                                store: IvfStore,
                                threshold: Double): DataFrame =
    semanticDedupAgainstStore(batch, vecCol, store.centroids,
      store.vectors, store.idCol, threshold)

  /** Within-batch semantic near-dup flags under a FROZEN centroid set
    * (the intra-batch half of the streaming gate protocol — see
    * [[graft.streaming.IncrementalLoad.streamingSemanticGate]]): the
    * ids of batch vectors with a SMALLER-id near-dup in the same
    * batch, pairs scoped to the cell each vector assigns to under the
    * GIVEN centroids — [[semanticDedup]]'s keep-min-id rule, but with
    * the index's own cells so this pass and the store probe that
    * follows it agree by construction. Returns one column named
    * `idCol`. EAGER: the result is batch-bounded and materialized,
    * and the internal assignment cache is dropped before returning —
    * the gate runs this once per micro-batch. */
  def semanticIntraBatchFlags(batch: DataFrame, vecCol: String,
                              centroids: DataFrame, idCol: String,
                              threshold: Double): DataFrame = {
    val rows = ivfStoreRows(batch, idCol, vecCol, centroids)
      .cache() // both pair sides read it; the assignment otherwise
               // re-runs its broadcast per branch (semanticDedup's
               // chunk-cache precedent)
    val out = semanticIntraFlagsCore(rows, idCol, threshold)
      .localCheckpoint(true)
    rows.unpersist(blocking = true)
    out
  }

  /** Within-batch flags over a PRE-ASSIGNED batch (the
    * [[semanticProbeCore]] input shape): cell-scoped pairs a < b at
    * rounded cosine ≥ threshold, one `idCol` column of flagged
    * (larger) ids. LAZY — the caller owns materialization and the
    * input frame's lifetime. */
  private[graft] def semanticIntraFlagsCore(assigned: DataFrame,
                                            idCol: String,
                                            threshold: Double)
      : DataFrame = {
    def norm(v: Column): Column = sqrt(graft.plans.DotProduct(v, v))
    val withNorm = assigned.select(col(idCol), col("cell"),
        col("vec").as("_v"))
      .withColumn("_n", norm(col("_v")))
    val a = withNorm.select(col("cell"), col(idCol).as("a"),
      col("_v").as("_va"), col("_n").as("_na"))
    val b = withNorm.select(col("cell"), col(idCol).as("b"),
      col("_v").as("_vb"), col("_n").as("_nb"))
    a.join(b, Seq("cell")).filter(col("a") < col("b"))
      .withColumn("sim", round(
        graft.plans.DotProduct(col("_va"), col("_vb")) /
          (col("_na") * col("_nb")), CosineRoundScale))
      .filter(col("sim") >= threshold)
      .select(col("b").as(idCol)).distinct()
  }

  /** Deterministic pseudo-random hyperplane COMPONENTS (fixed seed —
    * no wall-clock, no engine hash). Public so the q36 oracle can
    * interpolate the same doubles into SQL: Double.toString is the
    * shortest round-trip form, so DuckDB's correctly-rounded literal
    * parse recovers bit-identical planes. */
  def planeValues(numPlanes: Int, dim: Int): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(20240801L)
    Seq.fill(numPlanes)(Seq.fill(dim)(rng.nextDouble() * 2 - 1))
  }

  /** The hyperplanes as literal array columns. */
  private def planes(numPlanes: Int, dim: Int): Seq[Column] =
    planeValues(numPlanes, dim).map(p => array(p.map(lit): _*))

  /** Random-hyperplane LSH bucket id per vector: one bit per plane
    * (sign of the dot product), packed into a long. Vectors in the
    * same bucket are near in angle with high probability. */
  def lshBucket(vec: Column, numPlanes: Int = 12, dim: Int = 64): Column = {
    val v = vec.cast("array<double>")
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    planes(numPlanes, dim).zipWithIndex.map { case (p, i) =>
      when(dot(v, p) > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Approximate top-k: candidates restricted to the query's LSH
    * bucket (plus hamming-1 neighbor buckets for recall), then exact
    * cosine on candidates only. The bucket join replaces the cross
    * product — at 100 TB this is the difference between a broadcast
    * NL join over everything and a hash join on a 2^p-ary key. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              queryId: String = "q_id", queryVec: String = "q_vec",
              corpusId: String = "c_id", corpusVec: String = "c_vec",
              numPlanes: Int = 12): DataFrame = {
    val dim = 64
    val cB = corpus.withColumn("bucket",
      lshBucket(col(corpusVec), numPlanes, dim))
    // probe multiple buckets per query: own bucket + hamming-1 flips
    val qB = queries.withColumn("bucket0",
        lshBucket(col(queryVec), numPlanes, dim))
      .withColumn("bucket", explode(array(
        (col("bucket0") +: (0 until numPlanes).map(i =>
          col("bucket0").bitwiseXOR(shiftleft(lit(1L), i)))): _*)))
    val joined = cB.join(broadcast(qB), Seq("bucket"))
      .filter(col(queryId) =!= col(corpusId))
      .withColumn("sim",
        round(cosine(col(queryVec).cast("array<double>"),
          col(corpusVec).cast("array<double>")), 6))
    Relational.topKPerGroup(
        joined.select(col(queryId), col(corpusId), col("sim")).distinct(),
        Seq(col(queryId)),
        Seq(col("sim").desc, col(corpusId).asc), k)
  }

  /** Mean-thresholded binary sketch (training-data pipeline ★ — the
    * 1-bit-per-dimension compression tier billion-scale search runs
    * when even PQ codes (q158) are too wide: bit j = [vⱼ > mⱼ] with
    * m the per-dimension corpus mean, packed into two 32-bit halves
    * (a full 64-bit pack would need the sign bit, which DuckDB BIGINT
    * shifts cannot produce without overflow — the q33 60-bit
    * reasoning). Hamming distance over the codes approximates angular
    * distance after centering; 16 bytes/vector → 8.
    *
    * Determinism: means are DECIMAL(30,18) sums → double (the q52
    * rule); the pack is an integer Horner fold over the reversed bit
    * slice (high bit first), replayed verbatim by the oracle.
    *
    * Scale shape: means are one dim-bounded aggregate; the pack is a
    * per-row Column fold (no shuffle); the code table is 2 longs +
    * id per vector. */
  def binaryCodes(df: DataFrame, idCol: String, vecCol: String,
                  dim: Int = 64): DataFrame = {
    require(dim == 64, s"dim=$dim — the packed layout is 2×32 bits")
    import org.apache.spark.sql.types.DecimalType
    val dv = col(vecCol).cast("array<double>")
    val n = df.count()
    require(n > 0, "empty corpus")
    val mRows = df.select(posexplode(dv).as(Seq("j", "vj")))
      .groupBy(col("j"))
      .agg((sum(col("vj").cast(DecimalType(30, 18))).cast("double") /
        lit(n.toDouble)).as("m"))
      .collect()
    require(mRows.length == dim, s"saw ${mRows.length} dims")
    val m = Array.ofDim[Double](dim)
    mRows.foreach(r => m(r.getInt(0)) = r.getDouble(1))
    val mLit = array(m.map(lit(_)): _*)
    val bits = zip_with(dv, mLit, (a, b) => (a > b).cast("long"))
    def pack(lo: Int): Column =
      aggregate(reverse(slice(bits, lo, 32)), lit(0L),
        (acc, b) => acc * 2 + b)
    df.select(col(idCol), pack(1).as("code_lo"), pack(33).as("code_hi"))
  }

  /** Hamming top-k over [[binaryCodes]]: queries (≤ a contract-bounded
    * set) broadcast against the code table; distance =
    * bit_count(xor(lo)) + bit_count(xor(hi)); rank = (hamming ASC,
    * candidate id). */
  def binaryHammingTopK(queries: DataFrame, corpus: DataFrame,
                        queryId: String, corpusId: String, k: Int)
                       : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col(queryId), col("code_lo").as("qlo"),
      col("code_hi").as("qhi"))
    val h = bit_count(col("code_lo").bitwiseXOR(col("qlo"))) +
      bit_count(col("code_hi").bitwiseXOR(col("qhi")))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("hamming"), col(corpusId))
    corpus.join(broadcast(q), col(queryId) =!= col(corpusId))
      .select(col(queryId), col(corpusId), h.cast("int").as("hamming"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** DuckDB replay of [[binaryCodes]] over `rel(id, dv)` (double
    * array): emits CTEs ending in `$tag(id, code_lo, code_hi)`. */
  def sqlBinaryCodes(tag: String, rel: String): String =
    s"""${tag}n AS (SELECT COUNT(*) AS n FROM $rel),
       |${tag}m AS (
       |  SELECT t.j AS j,
       |    CAST(SUM(CAST(v.dv[t.j] AS DECIMAL(30,18))) AS DOUBLE)
       |      / CAST(ANY_VALUE(${tag}n.n) AS DOUBLE) AS m
       |  FROM $rel v CROSS JOIN ${tag}n,
       |    LATERAL (SELECT unnest(range(1, 65)) AS j) t
       |  GROUP BY 1),
       |${tag}mv AS (SELECT list(m ORDER BY j) AS mv FROM ${tag}m),
       |$tag AS (
       |  SELECT id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_reverse(
       |      list_transform(range(1, 33),
       |        j -> CAST(v.dv[j] > mvt.mv[j] AS BIGINT)))),
       |      (a, b) -> a * 2 + b) AS code_lo,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_reverse(
       |      list_transform(range(33, 65),
       |        j -> CAST(v.dv[j] > mvt.mv[j] AS BIGINT)))),
       |      (a, b) -> a * 2 + b) AS code_hi
       |  FROM $rel v CROSS JOIN ${tag}mv mvt)""".stripMargin

  /** Margin-based bitext mining (q190 — Artetxe & Schwenk 2019's
    * ratio-margin criterion, the CCMatrix/WikiMatrix selection rule):
    * for each source vector, the best target by
    * margin = cos(x, y) / ((aₓ + b_y) / 2), where aₓ/b_y are the
    * round-6 means of each side's top-`k` neighborhood sims (folded
    * in rank order, so the oracle replays them; a neighborhood
    * smaller than k divides by its actual size, not k — the published
    * mean, not a deflated one); a pair is `accepted` when its margin
    * clears `threshold`. Absolute-cosine mining fails on hubness
    * vectors that score high against everything — the mutual-ranking
    * denominator is the published fix.
    *
    * `src` must be (q_id, q_vec) and CONTRACT-BOUNDED (it broadcasts
    * into the sim cross and the forward-mean join); `tgt` is
    * (c_id, c_vec), corpus-sized — the backward grouping on c_id is
    * the ONE corpus shuffle the criterion's mutual ranking needs: the
    * per-candidate neighborhood (≤|src| entries, bounded by contract)
    * is collected once there, b_y folds from it, and the rows explode
    * back out carrying b_y — no corpus-sized cache, and the forward
    * pass reuses the same exchange (ReuseExchange) instead of
    * recomputing the similarity cross. */
  def bitextMarginMine(src: DataFrame, tgt: DataFrame, k: Int = 4,
                       threshold: Double = 1.05): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sims = tgt.crossJoin(broadcast(src))
      .withColumn("sim", round(cosine(
        col("q_vec").cast("array<double>"),
        col("c_vec").cast("array<double>")), 6))
      .select(col("q_id"), col("c_id"), col("sim"))
    // rank-order sort key: round-6 sims are exact integers in micro
    // units, so descending sim = ascending (2e6 − micro) as an exact
    // LONG (negating the double would sort -0.0 before 0.0 and drift
    // tie order against the SQL replay)
    def rankKey: Column =
      (lit(2000000L) - round(col("sim") * lit(1e6), 0).cast("long"))
    // mean of the top-min(k, n) sims folded in rank order (sim desc,
    // tie-id asc) — the exact fold sequence the oracle replays
    def topMean(xs: Column): Column =
      round(aggregate(transform(slice(xs, 1, k), x => x("s")),
        lit(0.0), (a, x) => a + x) /
        least(lit(k), size(xs)).cast("double"), 6) + lit(0.0)
    val perC = sims.groupBy(col("c_id"))
      .agg(array_sort(collect_list(struct(rankKey.as("nk"),
        col("q_id").as("q"), col("sim").as("s")))).as("qs"))
      .withColumn("b_y", topMean(col("qs")))
    val rows = perC
      .select(col("c_id"), col("b_y"), explode(col("qs")).as("e"))
      .select(col("e.q").as("q_id"), col("c_id"),
        col("e.s").as("sim"), col("b_y"))
    // forward means keep the rank-then-filter shape (WindowGroupLimit
    // pushes the top-k per partition) — a groupBy(q_id) collect would
    // gather a CORPUS-sized array per query
    val wf = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("c_id"))
    val fwd = rows.withColumn("rn", row_number().over(wf))
      .filter(col("rn") <= k)
      .groupBy(col("q_id"))
      .agg((round(aggregate(
        transform(array_sort(collect_list(struct(col("rn").as("rn"),
          col("sim").as("s")))), x => x("s")),
        lit(0.0), (a, x) => a + x) /
        least(lit(k), count(lit(1))).cast("double"), 6) + lit(0.0))
        .as("a_x"))
    val wk = Window.partitionBy(col("q_id"))
      .orderBy(col("margin").desc, col("c_id"))
    rows.join(broadcast(fwd), Seq("q_id"))
      .withColumn("margin",
        round(col("sim") / ((col("a_x") + col("b_y")) / lit(2)), 6))
      .withColumn("rk", row_number().over(wk))
      .filter(col("rk") === 1)
      .select(col("q_id"), col("c_id"), col("sim"), col("a_x"),
        col("b_y"), col("margin"),
        (col("margin") > threshold).as("accepted"))
  }

  /** Per-label centroid-distance outlier audit (q186 — the geometric
    * mislabel check run before training on labeled vectors): each
    * vector's euclidean distance to its OWN label's centroid, z-scored
    * within the label; z > `zThreshold` flags probable mislabels.
    *
    * Determinism: centroids fold the SORTED per-(label, dim) value
    * array and round to 6 (the q136 discipline); distances fold the
    * dims in order and round to 6; per-label mean/std fold the SORTED
    * (id, dist) array with a pinned round(var, 6) → sqrt → round(6)
    * sequence, so z replays bit-for-bit in the oracle.
    *
    * Scale shape: ONE narrow posexplode shuffles on (label, dim) —
    * label×dim groups; the rounded centroid arrays (one per label) are
    * model-sized and BROADCAST into the distance pass, which never
    * shuffles. The per-label stats group already gathers every
    * (id, dist) of the label into its sorted determinism array, so the
    * z-scores EXPLODE that array back out instead of rescanning or
    * caching the distance frame — the corpus is read once, shuffled
    * once (on the label key), and nothing persists past the
    * operator. */
  def labelOutliers(vectors: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, zThreshold: Double = 2.0)
                   : DataFrame = {
    val centDims = vectors
      .select(col(labelCol), col(idCol),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col(labelCol), col("dim"))
      .agg(count(lit(1)).as("n"),
        array_sort(collect_list(struct(col(idCol).as("id"),
          col("v").cast("double").as("v")))).as("xs"))
      .select(col(labelCol), col("dim"),
        (round(aggregate(transform(col("xs"), x => x("v")), lit(0.0),
          (a, x) => a + x) / col("n"), 6) + lit(0.0)).as("c"))
    val cents = centDims.groupBy(col(labelCol))
      .agg(array_sort(collect_list(struct(col("dim"), col("c"))))
        .as("cs"))
      .select(col(labelCol), transform(col("cs"), x => x("c")).as("cv"))
    val withDist = vectors.join(broadcast(cents), Seq(labelCol))
      .select(col(idCol), col(labelCol),
        round(sqrt(aggregate(
          zip_with(col(vecCol).cast("array<double>"), col("cv"),
            (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x)), 6).as("dist"))
    // the stats group ALREADY gathers every (id, dist) of the label
    // into its sorted determinism array — z-scores explode that same
    // array back out, so the distance pass is consumed exactly once
    // and nothing caches or rescans
    withDist.groupBy(col(labelCol))
      .agg(count(lit(1)).as("n"),
        array_sort(collect_list(struct(col(idCol).as("id"),
          col("dist").as("d")))).as("ds"))
      .withColumn("mean_d",
        round(aggregate(transform(col("ds"), x => x("d")), lit(0.0),
          (a, x) => a + x) / col("n"), 6) + lit(0.0))
      .withColumn("std_d",
        round(sqrt(round(aggregate(
          transform(col("ds"), x => (x("d") - col("mean_d"))
            * (x("d") - col("mean_d"))),
          lit(0.0), (a, x) => a + x) / col("n"), 6)), 6) + lit(0.0))
      .select(col(labelCol), col("mean_d"), col("std_d"),
        explode(col("ds")).as("e"))
      .withColumn("z", when(col("std_d") > 0.0,
        round((col("e.d") - col("mean_d")) / col("std_d"), 6)
          + lit(0.0)).otherwise(lit(0.0)))
      .select(col("e.id").as(idCol), col(labelCol),
        col("e.d").as("dist"), col("z"),
        (col("z") > zThreshold).as("is_outlier"))
  }

  /** Greedy k-center coreset selection (Gonzalez 1985; the farthest-
    * point traversal Sener & Savarese 2018 use for active-learning /
    * data-pruning coresets): start from the lowest-id vector, then k−1
    * times add the point FARTHEST (max-min cosine distance, ties →
    * lowest id) from the current center set. The selected radius
    * sequence is the classic 2-approximation of the optimal k-center
    * cost and is non-increasing by construction.
    *
    * Scale shape: the center set is k literal vectors on the driver
    * (k ≤ 64 guarded — the q174 bounded-driver-iteration posture);
    * every round is ONE corpus scan computing min-distance-to-centers
    * per row (a per-row fold over ≤k literal arrays, no join, no
    * shuffle) topped by a TakeOrdered(1) argmax, and the final
    * assignment/count pass is one more scan + one k-group aggregate.
    * The corpus is cached across the k+1 scans and unpersisted before
    * returning (the Graph.pageRank cache discipline). Distances are
    * 1 − round(cosine, 6) — one shared IEEE op on both engines — so
    * selection, radii, and assignment replay bit-for-bit in SQL.
    *
    * Returns one row per round: (round, center_id, radius,
    * n_assigned); radius is the selection distance (NULL for round 0),
    * n_assigned the corpus count whose nearest center (min distance,
    * ties → lowest round) is this round's center. */
  def kCenterCoreset(df: DataFrame, idCol: String, vecCol: String,
                     k: Int): DataFrame = {
    require(k >= 1 && k <= 64,
      s"k=$k out of the bounded-driver-materialization guard [1, 64]")
    val spark = df.sparkSession
    import spark.implicits._
    val vecs = df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("dv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def distTo(center: Seq[Double]): Column =
      lit(1.0) - round(cosine(col("dv"), typedlit(center)), 6)
    val first = vecs.orderBy(col("id")).limit(1)
      .collect().headOption.getOrElse(
        throw new IllegalArgumentException("k-center on an empty frame"))
    var centers = Vector[(Long, Seq[Double], Option[Double])](
      (first.getLong(0), first.getSeq[Double](1), None))
    // Least requires ≥2 children — a 1-center set folds to its only term
    def minDistCol(cs: Seq[Seq[Double]]): Column =
      if (cs.size == 1) distTo(cs.head) else least(cs.map(distTo): _*)
    for (_ <- 1 until k) {
      val minDist = minDistCol(centers.map(_._2))
      // the winner's vector rides the argmax row (TakeOrdered carries
      // it for free) — ONE job per round, not an argmax plus a
      // second fetch-by-id scan
      val next = vecs.select(col("id"), minDist.as("d"), col("dv"))
        .orderBy(col("d").desc, col("id")).limit(1).collect().head
      centers :+= ((next.getLong(0), next.getSeq[Double](2),
        Some(next.getDouble(1))))
    }
    // nearest-center assignment: array_position takes the FIRST index
    // holding the min distance — lowest round on ties, the same total
    // order as SQL's min-distance + MIN(round) replay
    val dArr = array(centers.map(c => distTo(c._2)): _*)
    val counts = vecs
      .select((array_position(dArr, array_min(dArr)) - 1)
        .cast("int").as("round"))
      .groupBy(col("round")).agg(count(lit(1)).as("n_assigned"))
    val sel = centers.zipWithIndex.map { case ((id, _, rad), r) =>
      (r, id, rad)
    }.toDF("round", "center_id", "radius")
    val out = sel.join(counts, Seq("round"), "left")
      .select(col("round"), col("center_id"),
        col("radius").cast("double"),
        coalesce(col("n_assigned"), lit(0L)).as("n_assigned"))
      .orderBy(col("round"))
    val materialized = out.collect()
    vecs.unpersist(blocking = false)
    spark.createDataFrame(
      spark.sparkContext.parallelize(materialized.toIndexedSeq, 1),
      out.schema)
  }

  /** Clustering-quality audit over the IVF cell structure — the
    * report a curation run reads before trusting cell-bucketed
    * operators (semantic dedup q146, IVF probes q52/q181): per cell,
    * the SIMPLIFIED silhouette (Hruschka et al. 2004 — a(i) = distance
    * to own centroid, b(i) = distance to the nearest OTHER centroid,
    * s = (b−a)/max(a,b); the O(n·k) member of the silhouette family,
    * the O(n²) original being exactly the pairwise scan cell bucketing
    * exists to avoid) and the Davies–Bouldin term
    * max_{c'≠c} (S_c + S_c')/d(μ_c, μ_c') (Davies & Bouldin 1979),
    * whose mean over cells is the global DB index.
    *
    * Scale shape: centroids are seeded/refined exactly as [[ivfTopK]]
    * (lowest-id seeds + deterministic Lloyd's passes, DECIMAL means)
    * and materialized to ≤`numCells` driver rows (guarded); the
    * per-point audit is then ONE corpus scan with NO join and NO
    * per-point shuffle — each row computes its k centroid distances
    * as literal-vector expressions (the kCenterCoreset posture) and
    * in-row sorts the (d, cell) pairs, so a(i), b(i), and the owning
    * cell fall out of elements 1–2 — followed by a single k-group
    * aggregate. The DB ratio matrix is a k×k broadcast cross of the
    * LOCAL centroid relation joined to the k-row per-cell stats (all
    * metadata-sized). Means run through DECIMAL(27,6) sums of
    * 6-dp-rounded doubles, so every statistic replays bit-for-bit in
    * SQL. Distances are 1 − round(cosine, 6), the engine's shared
    * spelling.
    *
    * Returns one row per NONEMPTY cell: (cell, n, mean_sil, s_c,
    * db_c); db_c is 0.0 when no other nonempty cell sits at positive
    * centroid distance (identical centroids are excluded from the max
    * rather than emitting an infinity). */
  def clusterQualityAudit(df: DataFrame, idCol: String, vecCol: String,
                          numCells: Int = 16,
                          kmeansIters: Int = 1): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(numCells >= 2 && numCells <= 256,
      s"numCells=$numCells out of the audit guard [2, 256]: each row " +
        "evaluates numCells literal-centroid distances and the DB " +
        "matrix is numCells² driver-local rows")
    val spark = df.sparkSession
    import spark.implicits._
    val vecs = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("dv"))
    val cents = refinedCentroids(vecs, "id", "dv", numCells, kmeansIters)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toList))
      .sortBy(_._1).toList
    def distTo(center: Seq[Double]): Column =
      lit(1.0) - round(cosine(col("dv"), typedlit(center)), 6)
    // in-row sorted (d, cell) pairs: element 1 = own cell + a(i),
    // element 2 = nearest-other distance b(i); struct sort is
    // (d asc, cell asc) — the rounded-cosine-desc / cell-asc
    // assignment rank every IVF consumer uses
    val darr = array_sort(array(cents.map { case (cell, cv) =>
      struct(distTo(cv).as("d"), lit(cell).as("cell"))
    }: _*))
    val pt = vecs
      .select(element_at(darr, 1).getField("cell").as("cell"),
        element_at(darr, 1).getField("d").as("a_d"),
        element_at(darr, 2).getField("d").as("b_d"))
      .select(col("cell"), col("a_d"),
        when(greatest(col("a_d"), col("b_d")) === 0.0, lit(0.0))
          .otherwise(round((col("b_d") - col("a_d")) /
            greatest(col("a_d"), col("b_d")), 6)).as("sil"))
    def dmean(c: Column): Column =
      round(sum(c.cast(DecimalType(27, 6))).cast("double") /
        count(lit(1)).cast("double"), 6)
    val cs = pt.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), dmean(col("sil")).as("mean_sil"),
        dmean(col("a_d")).as("s_c"))
    // per-cell stats are ≤numCells rows consumed by three joins below —
    // materialize once (the bounded-model discipline) instead of
    // re-running the corpus aggregate per branch
    val csLocal =
      Relational.pinSmall(cs, 256, "clusterQualityAudit per-cell stats")
    val cdf = cents.toDF("cell", "cv")
    val pairs = cdf.select(col("cell"), col("cv").as("v1"))
      .crossJoin(broadcast(
        cdf.select(col("cell").as("cell2"), col("cv").as("v2"))))
      .filter(col("cell") =!= col("cell2"))
      .select(col("cell"), col("cell2"),
        (lit(1.0) - round(cosine(col("v1"), col("v2")), 6)).as("dcc"))
    val db = pairs
      .join(csLocal.select(col("cell"), col("s_c")), Seq("cell"))
      .join(csLocal.select(col("cell").as("cell2"), col("s_c").as("s_c2")),
        Seq("cell2"))
      .filter(col("dcc") > 0.0)
      .groupBy(col("cell"))
      .agg(round(max((col("s_c") + col("s_c2")) / col("dcc")), 6)
        .as("db_c"))
    csLocal.join(db, Seq("cell"), "left")
      .select(col("cell"), col("n"), col("mean_sil"), col("s_c"),
        coalesce(col("db_c"), lit(0.0)).as("db_c"))
  }

  /** Index-staleness (centroid-drift) audit — the "when do we rebuild"
    * report for a serving IVF structure: compare the index's
    * centroids C0 (seeded + `kmeansIters` Lloyd's passes, exactly the
    * structure [[ivfTopK]]/[[semanticDedup]] probe) against ONE more
    * refinement pass C1 over the current corpus, and measure per cell
    * how far the centroid has drifted and how many of its vectors
    * would change cells under the refreshed assignment. A cell whose
    * centroid has moved but whose members wouldn't reassign is
    * cosmetic; reassignment fraction is the statistic that actually
    * degrades probe recall.
    *
    * Scale shape: both centroid sets are ≤`numCells` driver rows
    * (guarded); the audit is then ONE corpus scan computing BOTH
    * nearest-cell assignments as literal-centroid argmins (the
    * [[clusterQualityAudit]] posture — no join, no per-point
    * shuffle), one k-group aggregate, and a k-row metadata join for
    * the shift column.
    *
    * Output per NONEMPTY C0 cell: (cell, n, shift, n_reassigned,
    * reassign_rate); shift = 1 − round(cosine(C0_c, C1_c), 6). */
  def centroidDriftAudit(df: DataFrame, idCol: String, vecCol: String,
                         numCells: Int = 16,
                         kmeansIters: Int = 1): DataFrame = {
    require(numCells >= 2 && numCells <= 256,
      s"numCells=$numCells out of the audit guard [2, 256]")
    require(kmeansIters >= 0 && kmeansIters <= 15,
      s"kmeansIters=$kmeansIters out of range (each pass rescans)")
    val spark = df.sparkSession
    import spark.implicits._
    val vecs = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("dv"))
    def materialize(c: DataFrame): List[(Long, List[Double])] =
      c.collect().map(r => (r.getLong(0), r.getSeq[Double](1).toList))
        .sortBy(_._1).toList
    val c0 = materialize(
      refinedCentroids(vecs, "id", "dv", numCells, kmeansIters))
    val c1 = materialize(lloydStep(vecs, "id", "dv",
      c0.toDF("cell", "cent_vec")))
    def nearest(cents: List[(Long, List[Double])]): Column =
      element_at(array_sort(array(cents.map { case (cell, cv) =>
        struct((lit(1.0) - round(cosine(col("dv"), typedlit(cv)), 6))
          .as("d"), lit(cell).as("cell"))
      }: _*)), 1).getField("cell")
    val per = vecs
      .select(nearest(c0).as("cell"),
        (nearest(c1) =!= nearest(c0)).cast("long").as("moved"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("moved")).as("n_reassigned"))
    val shiftDf = c0.zip(c1).map { case ((cell, v0), (cell1, v1)) =>
      require(cell == cell1, "Lloyd's step must preserve cell ids")
      (cell, v0, v1)
    }.toDF("cell", "v0", "v1")
      .select(col("cell"),
        (lit(1.0) - round(cosine(col("v0"), col("v1")), 6)).as("shift"))
    per.join(shiftDf, Seq("cell"))
      .select(col("cell"), col("n"), col("shift"), col("n_reassigned"),
        round(col("n_reassigned").cast("double") /
          col("n").cast("double"), 6).as("reassign_rate"))
  }

  /** IVF recall-vs-nprobe sweep — the tuning curve an index operator
    * reads before fixing `nprobe` ("which probe depth buys 95%
    * recall"): for every exact top-`k` (query, neighbor) pair, the
    * probe depth at which IVF first finds it is simply the RANK of
    * the neighbor's cell in the query's centroid-distance order — so
    * the whole sweep over nprobe = 1..numCells falls out of ONE
    * computation per pair, not one index scan per probe depth.
    *
    * Scale shape: the exact top-k truth pass is the audit's honest
    * cost (a brute-force broadcast-queries × corpus scan — the q34
    * shape, and the same stance as q176's recall audit: the detector
    * is cheap, the ground truth prices the audit); corpus cell
    * assignment is the [[clusterQualityAudit]] literal-centroid scan
    * (join-free); the query probe order is an in-row sorted array
    * posexploded to (q_id, cell, prank) — query-set-bounded; the
    * closing joins are equi (c_id; then (q_id, cell)); the sweep
    * spine is numCells rows with one cumulative window.
    *
    * Output: (nprobe, n_found, n_pairs, recall), nprobe =
    * 1..numCells; recall is non-decreasing and reaches 1.0 at
    * nprobe = numCells by construction. */
  def ivfRecallSweep(corpus: DataFrame, corpusId: String,
                     corpusVec: String, queries: DataFrame,
                     queryId: String, queryVec: String, k: Int,
                     numCells: Int = 16,
                     kmeansIters: Int = 1): DataFrame = {
    val (vecs, cc, cents) = inPlanAssignment(corpus, corpusId,
      corpusVec, numCells, kmeansIters)
    withRecall(recallSweepCore(vecs, cc, cents, queries, queryId,
      queryVec, k, numCells))
  }

  /** The recall sweep with a SAMPLED truth set plus the exact probe
    * cost — the q256 estimator applied to the nprobe tuning curve.
    * The brute-force truth pass (the sweep's honest linear term:
    * |queries| × corpus cosines) runs only for the deterministic 20%
    * QUERY stratum (portable 60-bit hash residues 0–1 of 10 — the
    * q256/q261 stratum applied to q_id), cutting it ~5× while the
    * OPERATOR's side stays full and exact: centroids refine over the
    * full corpus, every vector is cell-assigned, and `n_scanned`
    * reports, per probe depth, exactly how many stored vectors the
    * FULL query population would scan at that nprobe (cumulative cell
    * sizes in each query's centroid order — the verify cost the
    * setting buys, the q256 `n_candidates` analogue).
    *
    * Why sample QUERIES and not the corpus: kNN truth membership is
    * competitive — "rank ≤ k" depends on the whole corpus — so a
    * corpus stratum CHANGES the estimand (the sample's top-k are
    * farther neighbors, whose cells the probe order reaches later;
    * measured at sf0.01 the corpus-sampled curve reads nprobe=1
    * recall 0.65 where the exact row is 0.91 — biased, not noisy).
    * Per-query truth membership is evaluated against the FULL corpus
    * here, so the sampled queries' per-pair recall is an unbiased
    * estimator of the query population's recall at every depth, and
    * the Wilson interval (the [[graft.queries]] Wilson helper the
    * callers wrap it in) brackets the exact full-population curve —
    * the q256 contract, preserved. (Pairs within one query share its
    * draw — the standard mild-dependence caveat of query-sampled ANN
    * audits; the q256 vertex-sampling note's twin.)
    *
    * Output: (nprobe, n_scanned, n_found_sampled, n_true_sampled),
    * nprobe = 1..numCells; counts are exact ints. */
  def ivfRecallSweepSampled(corpus: DataFrame, corpusId: String,
                            corpusVec: String, queries: DataFrame,
                            queryId: String, queryVec: String, k: Int,
                            numCells: Int = 16,
                            kmeansIters: Int = 1): DataFrame = {
    val (vecs, cc, cents) = inPlanAssignment(corpus, corpusId,
      corpusVec, numCells, kmeansIters)
    recallSweepCore(vecs, cc, cents, queries, queryId, queryVec, k,
        numCells,
        truthQueryPred = Some(
          graft.functions.Scalars.portableHash64(col("q_id")) % 10 < 2),
        withScan = true)
      .select(col("nprobe"), col("n_scanned"),
        col("n_found").as("n_found_sampled"),
        col("n_pairs").as("n_true_sampled"))
  }

  /** Shared in-plan prelude of the sweep forms: cast the corpus,
    * refine centroids (guard-bounded collect — ≤ numCells rows),
    * assign every vector to its nearest centroid via the join-free
    * literal-centroid scan. */
  private def inPlanAssignment(corpus: DataFrame, corpusId: String,
                               corpusVec: String, numCells: Int,
                               kmeansIters: Int)
      : (DataFrame, DataFrame, List[(Long, List[Double])]) = {
    require(numCells >= 2 && numCells <= 256,
      s"numCells=$numCells out of the audit guard [2, 256]")
    val vecs = corpus.select(col(corpusId).cast("long").as("id"),
      col(corpusVec).cast("array<double>").as("dv"))
    val cents = refinedCentroids(vecs, "id", "dv", numCells, kmeansIters)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toList))
      .sortBy(_._1).toList
    def dArr(vcol: Column): Column =
      array_sort(array(cents.map { case (cell, cv) =>
        struct((lit(1.0) - round(cosine(vcol, typedlit(cv)), 6)).as("d"),
          lit(cell).as("cell"))
      }: _*))
    val cc = vecs.select(col("id").as("c_id"),
      element_at(dArr(col("dv")), 1).getField("cell").as("cell"))
    (vecs, cc, cents)
  }

  /** Close the sweep's public contract: recall = n_found / n_pairs,
    * round 6. */
  private def withRecall(df: DataFrame): DataFrame =
    df.select(col("nprobe"), col("n_found"), col("n_pairs"),
      round(col("n_found").cast("double") /
        col("n_pairs").cast("double"), 6).as("recall"))

  /** Store-reading overload: sweep the recall-vs-nprobe tuning curve
    * for a PERSISTED index ([[writeIvfStore]]'s layout) — the
    * operational form of the audit: "what probe depth does the index
    * we actually serve need?". Uses the store's FROZEN centroids and
    * its persisted cell assignments verbatim (no re-clustering, no
    * re-assignment), so the curve describes the index on disk —
    * including rows [[appendToIvfStore]] admitted after the build —
    * not a fresh rebuild of it. On an unappended store the curve is
    * identical to the in-plan sweep with the same parameters
    * (SimilaritySpec pins this), which closes the loop between the
    * q234 tuning curve and the q147 store lifecycle. */
  def ivfRecallSweep(store: IvfStore, queries: DataFrame,
                     queryId: String, queryVec: String,
                     k: Int): DataFrame = {
    val (vecs, cc, cents) = storeAssignment(store)
    withRecall(recallSweepCore(vecs, cc, cents, queries, queryId,
      queryVec, k, store.numCells))
  }

  /** [[ivfRecallSweepSampled]]'s store-reading overload — the q258
    * posture for the nprobe curve: the sampled audit run ENTIRELY off
    * the persisted index (frozen centroids, persisted cell
    * assignments, stored vectors as the truth universe — zero
    * re-clustering, zero re-assignment), so the routine tuning
    * instrument is one more reader of the index artifact. On an
    * unappended store the output is identical to the in-plan sampled
    * sweep with the same parameters (SimilaritySpec pins this,
    * closing the store-lifecycle loop the way q258 closed it for the
    * band sweep). */
  def ivfRecallSweepSampled(store: IvfStore, queries: DataFrame,
                            queryId: String, queryVec: String,
                            k: Int): DataFrame = {
    val (vecs, cc, cents) = storeAssignment(store)
    recallSweepCore(vecs, cc, cents, queries, queryId, queryVec, k,
        store.numCells,
        truthQueryPred = Some(
          graft.functions.Scalars.portableHash64(col("q_id")) % 10 < 2),
        withScan = true)
      .select(col("nprobe"), col("n_scanned"),
        col("n_found").as("n_found_sampled"),
        col("n_pairs").as("n_true_sampled"))
  }

  /** Shared store-reading prelude of the sweep forms: the persisted
    * vectors, their persisted cell assignments (verbatim — the curve
    * must describe the index on disk), and the frozen centroid list
    * (guard-bounded collect). */
  private def storeAssignment(store: IvfStore)
      : (DataFrame, DataFrame, List[(Long, List[Double])]) = {
    require(store.numCells >= 2 && store.numCells <= 256,
      s"numCells=${store.numCells} out of the audit guard [2, 256]")
    val vecs = store.vectors.select(
      col(store.idCol).cast("long").as("id"),
      col("vec").cast("array<double>").as("dv"))
    val cc = store.vectors.select(
      col(store.idCol).cast("long").as("c_id"), col("cell"))
    // the store's cell ids carry the RAW id type the index was built
    // from (writeIvfStore does not cast) — cast before the collect so
    // an IntegerType-keyed store doesn't ClassCastException here
    val cents = store.centroids
      .select(col("cell").cast("long").as("cell"), col("cent_vec"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toList))
      .sortBy(_._1).toList
    (vecs, cc, cents)
  }

  /** The sweep body shared by the in-plan, store-reading, and sampled
    * forms: exact truth pass (for the `truthQueryPred` query stratum
    * when given, else every query — truth is ALWAYS ranked against
    * the full `vecs`, see [[ivfRecallSweepSampled]] for why) +
    * probe-rank join + cumulative spine over the GIVEN centroid list
    * and cell assignment. `withScan` adds the exact per-depth scan
    * cost (cumulative full-corpus cell sizes in each query's probe
    * order, over the FULL query set). Returns
    * (nprobe, [n_scanned,] n_found, n_pairs); the recall ratio is the
    * callers' contract ([[withRecall]]). */
  private def recallSweepCore(vecs: DataFrame, cc: DataFrame,
                              cents: List[(Long, List[Double])],
                              queries: DataFrame, queryId: String,
                              queryVec: String, k: Int,
                              numCells: Int,
                              truthQueryPred: Option[Column] = None,
                              withScan: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && k <= 64, s"k=$k outside [1, 64]")
    val spark = vecs.sparkSession
    def dArr(vcol: Column): Column =
      array_sort(array(cents.map { case (cell, cv) =>
        struct((lit(1.0) - round(cosine(vcol, typedlit(cv)), 6)).as("d"),
          lit(cell).as("cell"))
      }: _*))
    val qv = queries.select(col(queryId).cast("long").as("q_id"),
      col(queryVec).cast("array<double>").as("q_dv"))
    val tqv = truthQueryPred.map(qv.filter).getOrElse(qv)
    // exact top-k ground truth: rounded cosine desc, candidate asc
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("c_id"))
    val truth = vecs
      .join(broadcast(tqv), col("q_id") =!= col("id"))
      .select(col("q_id"),  col("id").as("c_id"),
        round(cosine(col("q_dv"), col("dv")), 6).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("c_id"))
    // probe order per query: the sorted (d, cell) array posexploded —
    // prank = position in the centroid-distance order
    val porder = qv
      .select(col("q_id"), posexplode(dArr(col("q_dv"))).as(Seq("p", "e")))
      .select(col("q_id"), col("e").getField("cell").as("cell"),
        (col("p") + 1).cast("long").as("prank"))
    val found = truth.join(cc, Seq("c_id"))
      .join(porder, Seq("q_id", "cell"))
    val hits = found.groupBy(col("prank"))
      .agg(count(lit(1)).as("h"))
    val tot = truth.agg(count(lit(1)).as("n_pairs"))
    val spine = spark.range(1, numCells + 1)
      .select(col("id").as("nprobe"))
    // unpartitioned window is BOUNDED by construction: its input is
    // the numCells-row spine (require-capped at 4096), never the corpus
    val cum = Window.orderBy(col("nprobe"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = spine
      .join(hits, col("nprobe") === col("prank"), "left")
      .drop("prank")
      .crossJoin(broadcast(tot))
    if (!withScan)
      base.select(col("nprobe"),
        sum(coalesce(col("h"), lit(0L))).over(cum).as("n_found"),
        col("n_pairs"))
    else {
      // exact scan cost: FULL-corpus cell sizes (parquet-sized facts,
      // numCells rows after the agg) summed over the query set at
      // each probe rank, then accumulated down the spine
      val csize = cc.groupBy(col("cell")).agg(count(lit(1)).as("sz"))
      val scanAt = porder.join(csize, Seq("cell"), "left")
        .groupBy(col("prank"))
        .agg(sum(coalesce(col("sz"), lit(0L))).as("s"))
      base.join(scanAt, col("nprobe") === col("prank"), "left")
        .select(col("nprobe"),
          sum(coalesce(col("s"), lit(0L))).over(cum).as("n_scanned"),
          sum(coalesce(col("h"), lit(0L))).over(cum).as("n_found"),
          col("n_pairs"))
    }
  }
}
