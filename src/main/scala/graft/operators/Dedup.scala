package graft.operators

import graft.functions.Scalars
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operator family (north-star ★ — the training-data
  * pipeline operators layered over the reference's key-based dedup
  * protocol, SURVEY §2.10). Four tiers, cheapest first:
  *
  *  1. exact — hash-groupBy on content (or md5 fingerprint);
  *  2. n-gram Jaccard — exact set similarity via a shingle self-join
  *     (quadratic in colliding shingles; the verification tier);
  *  3. MinHash + LSH banding — sub-quadratic candidate generation that
  *     feeds tier 2 on candidates only (the 100 TB path);
  *  4. SimHash — bit-signature near-dup for hamming-style similarity.
  *
  * All pure Column expressions; the only shuffles are the groupBys and
  * the band-bucket join, each on a key that distributes uniformly.
  */
object Dedup {

  /** 1-based slice-start positions for `k`-shingles over `toks`;
    * empty (not a descending sequence) when the document has fewer
    * than `k` tokens, so short docs genuinely produce no shingles —
    * `sequence(1, n-k+1)` alone would yield the DESCENDING [1, 0] for
    * n = k-1 and `slice(_, 0, _)` throws under ANSI. */
  private[operators] def shinglePositions(toks: Column, k: Int): Column =
    when(size(toks) >= k, sequence(lit(1), size(toks) - lit(k - 1)))
      .otherwise(array().cast("array<int>"))

  /** `k`-token shingle string at 1-based position `i`: k O(1)
    * element_at probes + one concat. The slice(toks,i,k) +
    * array_join spelling allocates a fresh array per shingle and
    * measured 3x slower on the shingle explode — same output string,
    * so downstream hashes are unchanged. Indices stay in [1, n] by
    * construction (shinglePositions), so ANSI element_at can't
    * throw. */
  private[operators] def shingleAt(toks: Column, i: Column, k: Int): Column =
    concat_ws(" ", (0 until k).map(j => element_at(toks, i + lit(j))): _*)

  /** Word-shingle set per document, exploded to (key, shingle) rows.
    * Documents shorter than `k` tokens produce no shingles (matches
    * the oracle's `range(1, n-k+1)` semantics).
    *
    * PRECONDITION: `keyCol` is unique per document. The per-row
    * array_distinct dedups shingles WITHIN a row only — duplicate
    * keys emit duplicated (key, shingle) rows, which inflate n_sh
    * counts and Jaccard denominators downstream (ngramJaccardPairs,
    * decontaminate). The old global post-explode `.distinct()`
    * silently tolerated duplicate keys at the cost of a full-frame
    * shuffle; this spelling trades that tolerance for zero exchanges.
    *
    * Set semantics are PER DOCUMENT, so the dedup is an in-row
    * array_distinct before the explode — no exchange. (A global
    * `.distinct()` after the explode shuffles the whole shingle frame
    * to deduplicate pairs that are already unique across documents by
    * construction of the key.) The array build sits INSIDE the
    * generator argument on purpose: as a stacked projection,
    * CollapseProject would inline the token array into every
    * element_at reference and re-split (or re-hash) the text once per
    * probe — measured 25x slower; the Generate node is the barrier
    * that keeps `__toks` evaluated once per row. */
  def shingles(df: DataFrame, keyCol: String, textCol: String,
               k: Int = 3): DataFrame =
    df.select(col(keyCol), split(col(textCol), " ").as("__toks"))
      .select(col(keyCol),
        explode(array_distinct(transform(
          shinglePositions(col("__toks"), k),
          i => shingleAt(col("__toks"), i, k)))).as("shingle"))

  /** Exact dedup (tier 1): keep the first row (lowest tie-break key)
    * per identical content value. One shuffle on the content hash. */
  def exactDedup(df: DataFrame, contentCol: String,
                 tieBreakCol: String): DataFrame = {
    val w = Window.partitionBy(col(contentCol)).orderBy(col(tieBreakCol))
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** Exact pairwise n-gram Jaccard (tier 2): all pairs with
    * J(A,B) >= threshold, via a shingle equi-join. `left`/`right` key
    * ordering (a < b) dedups the symmetric pairs. The join and both
    * aggregates run on the shingle's 64-bit hash, not the string —
    * same counts (a 64-bit collision needs ~2^32 distinct shingles to
    * start mattering, and one collision perturbs a single n_common by
    * 1 against a ≥ threshold·|union| bar), a fraction of the shuffle
    * bytes — the same trade the MinHash tier already makes. */
  def ngramJaccardPairs(df: DataFrame, keyCol: String, textCol: String,
                        k: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sh = shingles(df, keyCol, textCol, k)
      .select(col(keyCol), xxhash64(col("shingle")).as("shingle"))
      .cache()
    val counts = sh.groupBy(col(keyCol)).agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col(keyCol).as("a"), col("shingle"))
    val b = sh.select(col(keyCol).as("b"), col("shingle"))
    val common = a.join(b, Seq("shingle"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_common"))
    common
      .join(counts.select(col(keyCol).as("a"), col("n_sh").as("n_a")), Seq("a"))
      .join(counts.select(col(keyCol).as("b"), col("n_sh").as("n_b")), Seq("b"))
      .select(col("a"), col("b"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Asymmetric shingle containment (Broder 1997's second resemblance
    * measure, q192): directed pairs with
    * C(src → dst) = |S(src) ∩ S(dst)| / |S(src)| ≥ threshold — the
    * quote/excerpt/subset detector symmetric Jaccard structurally
    * misses (a 20-token quote inside a 500-token article has J ≈ 0.04
    * but C = 1.0). Same inverted-index shape as
    * [[ngramJaccardPairs]]: the intersection is computed ONCE per
    * unordered pair on the shingle-hash equi-join, then both directed
    * normalizations are emitted from it — the join cost does not
    * double. Containment divides two exact ints, so the value is
    * oracle-exact. */
  def containmentPairs(df: DataFrame, keyCol: String, textCol: String,
                       k: Int = 3, threshold: Double = 0.8): DataFrame = {
    val sh = shingles(df, keyCol, textCol, k)
      .select(col(keyCol), xxhash64(col("shingle")).as("shingle"))
      .cache()
    val counts = sh.groupBy(col(keyCol)).agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col(keyCol).as("a"), col("shingle"))
    val b = sh.select(col(keyCol).as("b"), col("shingle"))
    val sized = a.join(b, Seq("shingle"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_common"))
      .join(counts.select(col(keyCol).as("a"), col("n_sh").as("n_a")),
        Seq("a"))
      .join(counts.select(col(keyCol).as("b"), col("n_sh").as("n_b")),
        Seq("b"))
    def directed(src: Column, dst: Column, nSrc: Column): DataFrame =
      sized.select(src.as("src"), dst.as("dst"), col("n_common"),
        nSrc.as("n_src"),
        (col("n_common").cast("double") / nSrc.cast("double"))
          .as("containment"))
    directed(col("a"), col("b"), col("n_a"))
      .unionByName(directed(col("b"), col("a"), col("n_b")))
      .filter(col("containment") >= threshold)
  }

  /** Modulus of the portable MinHash arithmetic: the Mersenne prime
    * 2^31 - 1. Residues are nonnegative and a product of two residues
    * tops out at (P-1)^2 ≈ 4.6e18 < Long.MaxValue, so the multiply-add
    * hash family below never wraps — safe under ANSI on Spark AND
    * replayable in DuckDB BIGINT arithmetic (which errors on
    * overflow). This is what makes the whole MinHash/LSH tier
    * oracle-verifiable, where an xxhash64 base was engine-private. */
  val MinhashP: Long = 2147483647L

  /** Horner-fold multiplier for combining token hashes into shingle
    * ids and signature rows into band buckets: acc = (acc*C + x) % P.
    * acc < P keeps acc*C ≤ ~2.1e15 — far inside the overflow margin. */
  val HornerC: Long = 1000003L

  /** Deterministic multiply-add family coefficients (a_i ∈ [1, P-1],
    * b_i ∈ [0, P-1]) from a fixed-seed SplitMix-style LCG — plain
    * Scala longs with wrapping arithmetic, evaluated once at
    * plan-build time, so both the Spark plan and the generated oracle
    * SQL interpolate the SAME literal constants. */
  def minhashCoeffs(n: Int): Seq[(Long, Long)] = {
    var x = 0x9E3779B97F4A7C15L
    def next(): Long = {
      x = x * 6364136223846793005L + 1442695040888963407L; x >>> 33
    }
    Seq.fill(n)((next() % (MinhashP - 1) + 1, next() % MinhashP))
  }

  /** Portable shingle ids: each token hashed ONCE with the md5-based
    * [[Scalars.portableHash64]] (reduced mod [[MinhashP]]), then each
    * k-window Horner-folded into a single residue — no per-shingle
    * string building at all, and every value is exactly replayable by
    * the DuckDB oracle (`md5` + BIGINT arithmetic). Collisions in the
    * 31-bit space (~n²/2³²) are deterministic and mirrored by the
    * oracle, so they cannot produce a mismatch. Same unique-`keyCol`
    * precondition as [[shingles]] (set semantics are per row). */
  def portableShingleHashes(df: DataFrame, keyCol: String, textCol: String,
                            k: Int = 3): DataFrame = {
    val ths = transform(split(col(textCol), " "),
      t => Scalars.portableHash64(t) % lit(MinhashP))
    df.select(col(keyCol), ths.as("__ths"))
      .select(col(keyCol),
        explode(array_distinct(transform(
          shinglePositions(col("__ths"), k),
          i => (1 until k).foldLeft(element_at(col("__ths"), i))(
            (acc, j) => (acc * lit(HornerC) + element_at(col("__ths"), i + lit(j)))
              % lit(MinhashP))))).as("shingle"))
  }

  /** MinHash signature (tier 3a): `numHashes` independent min-hashes
    * per key, as one groupBy with N min-aggregates (map-side combine
    * keeps the shuffle at |keys| × N longs). Feed it
    * [[portableShingleHashes]] output: member i is the classic
    * (a_i·s + b_i) mod P permutation — one multiply-add per member
    * instead of a full rehash, and bit-replayable by the oracle.
    * Input shingle ids MUST lie in [0, P) (the portable frame
    * guarantees it); larger inputs would overflow the product. */
  def minhashSignature(sh: DataFrame, keyCol: String,
                       numHashes: Int = 64): DataFrame = {
    val cs = minhashCoeffs(numHashes)
    def member(i: Int): Column =
      min((col("shingle") * lit(cs(i)._1) + lit(cs(i)._2)) % lit(MinhashP))
        .as(s"h$i")
    // n_sh rides the same aggregate: the Jaccard verify needs per-key
    // set sizes anyway, and folding the count in here saves a second
    // full pass over the shingle frame
    sh.groupBy(col(keyCol))
      .agg(member(0),
        (1 until numHashes).map(member) :+ count(lit(1)).as("n_sh"): _*)
  }

  /** Band-bucket struct columns over `hs` (the signature members in
    * order): per band, the Horner fold of its rows mod P. The ONE
    * band-derivation arithmetic, shared by the from-text
    * ([[minhashBandBuckets]]), from-signature-frame
    * ([[lshCandidatePairs]]), and store-build
    * ([[writeMinhashStore]] `withSignatures`) paths so they cannot
    * drift. */
  private def bandStructs(hs: Seq[Column], bands: Int): Seq[Column] = {
    val rows = hs.length / bands
    (0 until bands).map { bnd =>
      struct(lit(bnd).as("band"),
        (bnd * rows until (bnd + 1) * rows)
          .map(hs)
          .reduceLeft((acc, h) => (acc * lit(HornerC) + h) % lit(MinhashP))
          .as("bucket"))
    }
  }

  /** LSH banding (tier 3b): signature → (band, bucket) rows; keys
    * sharing any bucket are candidate pairs. bands×rowsPerBand must
    * equal the signature width. The bucket is the Horner fold of the
    * band's signature rows mod P — portable, and uniform enough for
    * the equi-join key (the fold is injective on the first row and
    * mixes the rest). The bucket join is the only shuffle. */
  def lshCandidatePairs(sig: DataFrame, keyCol: String,
                        bands: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    // NOT cached: both self-join sides re-derive the explode from the
    // caller's signature frame (every caller holds it cached) — a
    // projection-only recompute. An internal cache here has no release
    // hook, and the band-sweep audits (q254/q256/q258) call this once
    // per swept setting, so a pinned cache per call would accumulate
    // for the life of the session.
    val buckets = sig.select(col(keyCol),
      explode(array(bandStructs(
        (0 until bands * rowsPerBand).map(i => col(s"h$i")),
        bands): _*)).as("bb"))
      .select(col(keyCol), col("bb.band"), col("bb.bucket"))
    val l = buckets.select(col(keyCol).as("a"), col("band"), col("bucket"))
    val r = buckets.select(col(keyCol).as("b"), col("band"), col("bucket"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }

  /** Shingle set with each shingle reduced to its 64-bit hash —
    * everything downstream of shingling (signatures, banding, Jaccard
    * verification) only needs set identity, so the pipeline shuffles
    * 16-byte (key, long) rows instead of strings. Collisions
    * (~n²/2⁶⁴) are deterministic and negligible. Same unique-`keyCol`
    * precondition as [[shingles]] (set semantics are per row). */
  def shingleHashes(df: DataFrame, keyCol: String, textCol: String,
                    k: Int = 3): DataFrame =
    df.select(col(keyCol), split(col(textCol), " ").as("__toks"))
      .select(col(keyCol),
        explode(array_distinct(transform(
          shinglePositions(col("__toks"), k),
          i => xxhash64(shingleAt(col("__toks"), i, k))))).as("shingle"))

  /** End-to-end MinHash near-dup: candidates from LSH, verified with
    * exact Jaccard on the candidate set only — the 100 TB shape:
    * sub-quadratic candidates, exact verification where it's cheap.
    * Rides [[portableShingleHashes]], so the whole pipeline
    * (signatures, bands, candidates, verified pairs) is replayed
    * bit-for-bit by the DuckDB oracle. */
  def minhashNearDupPairs(df: DataFrame, keyCol: String, textCol: String,
                          k: Int = 3, numHashes: Int = 64, bands: Int = 16,
                          threshold: Double = 0.5): DataFrame =
    nearDupPairsPlan(df, keyCol, textCol, k, numHashes, bands,
      threshold)

  /** Within-batch near-dup flags (the intra-batch half of the
    * streaming gate protocol — see
    * [[graft.streaming.IncrementalLoad.streamingNearDupGate]]): the
    * keys of batch docs that have a verified near-dup with a SMALLER
    * key in the SAME batch — the q32 pairwise keep-min rule, signed
    * with the caller's (i.e. the index manifest's) parameters so this
    * pass and the store probe that follows it agree by construction.
    * Returns one column named `keyCol`. EAGER: the result is
    * batch-bounded and materialized, and every internal cache is
    * dropped before returning — the gate runs this once per
    * micro-batch, so a lazy cache would leak per batch. */
  def minhashIntraBatchFlags(batch: DataFrame, keyCol: String,
                             textCol: String, k: Int, numHashes: Int,
                             bands: Int, threshold: Double): DataFrame = {
    val bb = minhashBandBuckets(batch, keyCol, textCol, k, numHashes,
      bands).cache() // both self-join sides read it
    val bsh = portableShingleHashes(batch, keyCol, textCol, k).cache()
    val out = intraFlagsCore(bb, bsh, keyCol, threshold)
      .localCheckpoint(true)
    bb.unpersist(blocking = true)
    bsh.unpersist(blocking = true)
    out
  }

  /** The pairs plan behind [[minhashNearDupPairs]]: verified
    * (a, b, jaccard) pairs with a < b. LAZY — the two internal caches
    * (signature row, shingle frame) belong to the session, matching
    * the operator's one-shot registry usage. */
  private def nearDupPairsPlan(df: DataFrame, keyCol: String,
                               textCol: String, k: Int, numHashes: Int,
                               bands: Int, threshold: Double): DataFrame = {
    // signature + distinct-shingle count per document from the FUSED
    // codegen expression (graft.plans.MinHashSigExpr): one pass per
    // doc, no shingle explode and no 64-wide aggregate on this path —
    // bit-identical to the exploded formulation (DedupSpec pins it),
    // so the oracle replay is unchanged. |keys| × (numHashes+1)
    // values, cached for the band explode and the n_sh lookups.
    // NO isNotNull filter on the computed column: the predicate would
    // be pushed below the projection with the whole expression
    // substituted in (the prefixJaccardPairs lesson — 2x evaluation).
    // Shingle-less documents surface as all-NULL signature rows, which
    // are inert: a NULL band bucket never equi-joins and they are
    // never candidates, so they cost a few cached bytes and nothing
    // else.
    val sigRow = df
      .select(col(keyCol),
        graft.plans.MinHashSigExpr(col(textCol), k, numHashes).as("ms"))
      .select(col(keyCol) +:
        (0 until numHashes).map(i =>
          element_at(col("ms.sig"), i + 1).as(s"h$i")) :+
        col("ms.n_sh").as("n_sh"): _*)
      .cache()
    val cand = lshCandidatePairs(sigRow, keyCol, bands, numHashes / bands)
    val counts = sigRow.select(col(keyCol), col("n_sh"))
    // the exploded shingle frame remains for the verify join only —
    // set intersection genuinely needs the rows
    val sh = portableShingleHashes(df, keyCol, textCol, k).cache()
    // intersection size via equi-join on (b, shingle): the a-side
    // expansion is |cand|·|shingles(a)| rows, and the b-side probe is a
    // hash join on the composite key — never a pairwise shingle×shingle
    // product.
    val common = cand
      .join(sh.select(col(keyCol).as("a"), col("shingle")), Seq("a"))
      .join(sh.select(col(keyCol).as("b"), col("shingle")), Seq("b", "shingle"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_common"))
    val pairs = common
      .join(counts.select(col(keyCol).as("a"), col("n_sh").as("n_a")), Seq("a"))
      .join(counts.select(col(keyCol).as("b"), col("n_sh").as("n_b")), Seq("b"))
      .select(col("a"), col("b"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
    pairs
  }

  /** MinHash band-bucket index of a corpus — the ARTIFACT an
    * incremental dedup pipeline persists beside the corpus: one
    * (key, band, bucket) row per document per band, plus the
    * [[portableShingleHashes]] frame and per-key set sizes for the
    * verify step. Built once per document EVER (signatures via the
    * fused [[graft.plans.MinHashSigExpr]]); nightly batches probe it
    * with [[minhashNearDupAgainstStore]] instead of re-signing the
    * corpus. */
  def minhashBandBuckets(df: DataFrame, keyCol: String, textCol: String,
                         k: Int = 3, numHashes: Int = 64,
                         bands: Int = 16): DataFrame =
    df.select(col(keyCol),
        graft.plans.MinHashSigExpr(col(textCol), k, numHashes).as("ms"))
      .select(col(keyCol), explode(array(bandStructs(
        (0 until numHashes).map(i => element_at(col("ms.sig"), i + 1)),
        bands): _*)).as("bb"))
      .select(col(keyCol), col("bb.band"), col("bb.bucket"))

  /** Incremental near-dup dedup (★ the nightly-ingest posture): flag
    * every BATCH document whose Jaccard against some STORED corpus
    * document reaches `threshold` — without recomputing anything on
    * the store side. `storeBuckets` and `storeShingles` are the
    * persisted artifacts ([[minhashBandBuckets]] /
    * [[portableShingleHashes]] at write time — synthesized inline in
    * the registered query because the driver runs one statement, but
    * the API keeps them as independent inputs, which is the point:
    * at 100 TB the corpus is never re-read, never re-signed).
    *
    * Scale shape: batch signatures via the fused expression (one pass
    * over the BATCH only), candidates from a (band, bucket) equi-join
    * of batch buckets against the stored index (batch-sized left side
    * — broadcastable), exact Jaccard verify on candidates only via
    * the stored shingle rows. Output: one row per matched batch doc
    * (batch key, best store match, its jaccard, candidate count) —
    * batch docs matching nothing are absent, i.e. admitted.
    *
    * EAGER: the returned frame is materialized (localCheckpoint) so
    * the internal batch-shingle cache can be dropped before returning
    * — it's batch-bounded, and a gate decision is consumed
    * immediately anyway. Prefer the [[MinhashStore]] overload, which
    * reads the signing parameters from the index's own manifest. */
  def minhashNearDupAgainstStore(batch: DataFrame, keyCol: String,
                                 textCol: String, storeBuckets: DataFrame,
                                 storeShingles: DataFrame,
                                 k: Int = 3, numHashes: Int = 64,
                                 bands: Int = 16,
                                 threshold: Double = 0.5): DataFrame = {
    val (flagged, bsh) = nearDupAgainstStorePlan(batch, keyCol, textCol,
      storeBuckets, storeShingles, k, numHashes, bands, threshold)
    // Materialize the (batch-bounded: ≤ one row per flagged batch doc)
    // result eagerly, then drop the batch shingle cache — the
    // Graph.pageRank discipline: no intermediate cache outlives the
    // operator; only the returned frame's checkpoint blocks remain.
    // Returning lazily instead would either leak the cache for the
    // session's lifetime or recompute the batch shingles per consumer.
    val out = flagged.localCheckpoint(true)
    bsh.unpersist(blocking = true)
    out
  }

  /** A persisted MinHash signature index as read back from disk: the
    * band-bucket frame, the shingle frame, and the signing parameters
    * recorded when the index was written. The parameters travel WITH
    * the artifact because a probe signed differently (e.g. index at
    * bands=16, probe at bands=8) yields zero candidates — every
    * duplicate silently admitted, the worst failure mode a dedup gate
    * has — so the store-typed `minhashNearDupAgainstStore` overload
    * signs the batch with the index's own parameters and a mismatch
    * cannot be expressed. */
  final case class MinhashStore(buckets: DataFrame, shingles: DataFrame,
                                keyCol: String, k: Int, numHashes: Int,
                                bands: Int)

  /** Write the persisted near-dup index for a corpus: two parquet
    * datasets under `path` — `buckets` ([[minhashBandBuckets]]) and
    * `shingles` ([[portableShingleHashes]]) — and a one-line `params`
    * manifest ([[Stores.writeManifest]]: keyCol and its type, k,
    * numHashes, bands, plus the [[HornerC]] / [[MinhashP]] constants
    * so a library whose arithmetic drifted refuses the index instead
    * of mis-probing it). The corpus is
    * signed ONCE, here; nightly batches probe and append without ever
    * re-reading it.
    *
    * Contract: `keyCol` must be NON-NULL (and unique) — every probe,
    * intra-batch pass, and admission in this family joins on the key,
    * and a NULL key matches nothing, so a NULL-keyed doc would bypass
    * the probes and admit on every delivery. Same contract as the IVF
    * store's id column. */
  def writeMinhashStore(df: DataFrame, keyCol: String, textCol: String,
                        path: String, k: Int = 3, numHashes: Int = 64,
                        bands: Int = 16,
                        withSignatures: Boolean = false): Unit = {
    require(numHashes % bands == 0,
      s"numHashes=$numHashes not divisible by bands=$bands")
    // a full re-sign supersedes the params manifest, every gate
    // generation, and the gatelog: clear them FIRST (params included,
    // so a crashed same-count in-place rebuild can never read as
    // current over partially rewritten datasets), or a reader of the
    // finished store would union stale pre-rebuild generations into
    // the fresh base. `sigs` clears too: a rebuild WITHOUT signatures
    // over a root that had them would otherwise leave a stale
    // signature dataset that minhashStoreHasSignatures keeps
    // advertising.
    Stores.clearGateState(df.sparkSession, path,
      Seq("sigs", "buckets-batches", "shingles-batches"))
    val spark = df.sparkSession
    // n_docs + src_check record the signed corpus size and an
    // additive key checksum (one aggregation job for both) — the
    // staleness probe's currency, since the store is deterministic in
    // the corpus. The checksum catches a same-count corpus mutation
    // (a key swapped for a different key) that bare row-count
    // equality reads as current. Computed CONCURRENTLY with the
    // dataset writes below (it reads only the source key column, a
    // disjoint pass) but the manifest that records it is still
    // written LAST: manifest presence implies the bucket/shingle (and
    // sigs, when requested) writes completed.
    var stamp: (Long, Long) = (0L, 0L)
    val stampAction =
      ("writeMinhashStore: stamp",
        () => { stamp = Stores.keyStamp(df, keyCol) })
    val shinglesAction =
      ("writeMinhashStore: shingles",
        () => portableShingleHashes(df, keyCol, textCol, k)
          .write.mode("overwrite").parquet(s"$path/shingles"))
    // optional RAW signature dataset (doc → h0..h{n-1}): the band
    // buckets are one FIXED (bands, rows) reading of the signatures,
    // so a band-parameter sweep (q254/q256's audit) needs the raw
    // minhashes to re-derive other settings without re-signing the
    // corpus — the store then feeds the tuning curve too, not just
    // the probe path. Off by default: probe-only stores (the
    // streaming gates re-sign theirs per run) shouldn't pay the
    // numHashes-wide extra write. When requested, the corpus is
    // signed exactly ONCE: buckets derive from the same cached
    // signature frame the sigs dataset persists (signing is the
    // dominant build cost — re-evaluating the fused expression per
    // dataset would double it).
    //
    // The independent dataset writes and the stamp aggregate run
    // CONCURRENTLY (guide §2.6 — they are disjoint passes over the
    // corpus writing to disjoint paths, and overlapping them lets one
    // job's task tail back-fill the other's cores); a failure leaves
    // no manifest, which every reader treats as "no store here".
    if (withSignatures) {
      val sig = df.select(col(keyCol),
          graft.plans.MinHashSigExpr(col(textCol), k, numHashes).as("ms"))
        .select(col(keyCol) +: (0 until numHashes).map(i =>
          element_at(col("ms.sig"), i + 1).as(s"h$i")): _*)
        .cache()
      // the sigs write runs FIRST, alone: it materializes the shared
      // signature cache (running it concurrently with the bucket
      // derivation would race both into the same uncached scan)
      Stores.runConcurrently(spark, Seq(
        ("writeMinhashStore: sigs",
          () => sig.write.mode("overwrite").parquet(s"$path/sigs"))))
      Stores.runConcurrently(spark, Seq(
        ("writeMinhashStore: buckets",
          () => sig.select(col(keyCol), explode(array(bandStructs(
              (0 until numHashes).map(i => col(s"h$i")), bands): _*))
              .as("bb"))
            .select(col(keyCol), col("bb.band"), col("bb.bucket"))
            .write.mode("overwrite").parquet(s"$path/buckets")),
        shinglesAction, stampAction))
      sig.unpersist(blocking = false)
    } else {
      Stores.runConcurrently(spark, Seq(
        ("writeMinhashStore: buckets",
          () => minhashBandBuckets(df, keyCol, textCol, k, numHashes,
              bands)
            .write.mode("overwrite").parquet(s"$path/buckets")),
        shinglesAction, stampAction))
    }
    Stores.writeManifest(spark, s"$path/params", "key_col" -> keyCol,
      "key_type" -> df.schema(keyCol).dataType.catalogString, "k" -> k,
      "num_hashes" -> numHashes, "bands" -> bands, "horner_c" -> HornerC,
      "minhash_p" -> MinhashP, "n_docs" -> stamp._1,
      "src_check" -> stamp._2)
  }

  /** True when `path`'s index carries the optional raw-signature
    * dataset (a [[writeMinhashStore]] `withSignatures = true` build). */
  def minhashStoreHasSignatures(spark: org.apache.spark.sql.SparkSession,
                                path: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(s"$path/sigs")
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
  }

  /** The raw signature frame (keyCol, h0..h{numHashes-1}) of a
    * `withSignatures` store — the input shape [[lshCandidatePairs]]
    * takes, so swept band settings derive straight from the persisted
    * artifact. */
  def readMinhashStoreSignatures(
      spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.parquet(s"$path/sigs")

  /** True when `path` holds a completed index signed over exactly
    * `corpus`: same doc count AND the same additive key checksum, so a
    * same-count corpus mutation — a key swapped for a different key —
    * reads stale instead of current. The stamps probed are the GROWN
    * ones — the base manifest's (`n_docs`, `src_check`) plus the
    * committed gate/append generations' admitted-key stamp, read from
    * the gatelog POINTER ([[Stores.admittedStamp]], one marker read)
    * — so a store grown by [[appendToMinhashStore]] or the streaming
    * gate stays current against base ∪ admitted instead of forever
    * reading stale. The corpus side is one aggregation job (count +
    * checksum together). False on absent/partial stores, so callers
    * fall back to [[writeMinhashStore]]. */
  def minhashStoreIsCurrent(corpus: DataFrame, path: String): Boolean =
    try {
      val spark = corpus.sparkSession
      Stores.readManifest(spark, s"$path/params").exists { p =>
        p("horner_c").toLong == HornerC &&
          p("minhash_p").toLong == MinhashP &&
          Stores.keyStamp(corpus, p("key_col")) ==
            Stores.grownStamp(spark, path, p, "n_docs")
      }
    } catch { case _: Exception => false }

  /** Read a [[writeMinhashStore]] index back, validating the manifest
    * against this library's hash constants (see [[MinhashStore]] for
    * why a silent mismatch is unacceptable). Includes gate-COMMITTED
    * generations only ([[Stores.withGenerations]] up to the gatelog's
    * committed batch id): a generation written by a batch that
    * crashed before its gatelog flip stays invisible to every reader
    * until the stream replays and commits it — the same decide-once
    * horizon the gate itself probes with. */
  def readMinhashStore(spark: org.apache.spark.sql.SparkSession,
                       path: String): MinhashStore = {
    val base = readMinhashStoreBase(spark, path)
    val committed = Stores.lastApplied(spark, s"$path/gatelog")
    base.copy(
      buckets = Stores.withGenerations(spark, path, "buckets",
        base.buckets, committed),
      shingles = Stores.withGenerations(spark, path, "shingles",
        base.shingles, committed))
  }

  /** The base build alone — what [[writeMinhashStore]] wrote, without
    * gate generations. The streaming gate composes this with the
    * generations committed strictly before its own batch id
    * (decide-once replay semantics — see
    * [[graft.streaming.IncrementalLoad.streamingNearDupGate]]).
    * Launches no Spark job: the manifest is a marker read and both
    * datasets are read with the schema the manifest's key type
    * pins. */
  private[graft] def readMinhashStoreBase(
      spark: org.apache.spark.sql.SparkSession,
      path: String): MinhashStore = {
    val p = Stores.readManifest(spark, s"$path/params").getOrElse(
      throw new IllegalStateException(s"no MinHash manifest under $path"))
    val (hc, mp) = (p("horner_c").toLong, p("minhash_p").toLong)
    require(hc == HornerC && mp == MinhashP,
      s"index at $path was signed with (horner_c=$hc, minhash_p=$mp) but " +
        s"this library hashes with ($HornerC, $MinhashP) — a probe would " +
        "find zero candidates and admit every duplicate; re-sign the corpus")
    import org.apache.spark.sql.types.{DataType, IntegerType, LongType,
      StructType}
    val key = new StructType().add(p("key_col"),
      DataType.fromDDL(p("key_type")))
    MinhashStore(
      spark.read.schema(key.add("band", IntegerType).add("bucket", LongType))
        .parquet(s"$path/buckets"),
      spark.read.schema(key.add("shingle", LongType))
        .parquet(s"$path/shingles"),
      p("key_col"), p("k").toInt, p("num_hashes").toInt, p("bands").toInt)
  }

  /** Overwrite one gate generation — idempotent for a given batch id
    * by construction. */
  private[graft] def writeGateAppend(rows: DataFrame, path: String,
                                     ds: String, batchId: Long): Unit =
    rows.write.mode("overwrite")
      .parquet(s"$path/$ds-batches/batch=$batchId")

  /** Admit a batch into a persisted index, signed with the INDEX's
    * manifest parameters (read, not caller-supplied — the caller
    * cannot introduce a mismatch). Call with the ADMITTED subset of a
    * probed batch, i.e. the rows whose key is absent from the probe's
    * flagged output.
    *
    * Uses the streaming gate's generation protocol rather than a
    * plain parquet append (which is add-files: a crash mid-append
    * left partial shingle rows that silently SKEWED every later
    * Jaccard verification, and a crash between the bucket and shingle
    * writes desynced the pair): both datasets land in a fresh
    * `batch=<id>` generation and the `gatelog` marker commits them
    * together — readers ([[readMinhashStore]]) include only committed
    * generations, so every crash window reads as "append never
    * happened" and the retry overwrites the garbage generation. */
  def appendToMinhashStore(batch: DataFrame, textCol: String,
                           path: String): Unit = {
    val spark = batch.sparkSession
    // the BASE read suffices: only the manifest parameters are needed
    // to sign the batch, and the grown read would pay a gatelog read
    // plus a generation-dir listing per append (thousands of dirs on
    // a long-lived store) just to discard the union
    val st = readMinhashStoreBase(spark, path)
    val gatelog = s"$path/gatelog"
    // prior admitted stamp BEFORE the commit (a pointer read); the new
    // running total commits atomically with the generation so
    // staleness probes stay metadata reads
    val prior = Stores.admittedStamp(spark, path)
    val next = Stores.lastApplied(spark, gatelog) + 1L
    // per-batch stamp over the batch's DISTINCT keys, so a key
    // delivered twice counts once. Computed CONCURRENTLY with the two
    // generation writes below (guide §2.6 — three disjoint passes over
    // the batch); the generation is not visible until the pointer
    // commit that follows them all.
    var batchStamp: (Long, Long) = (0L, 0L)
    // set semantics on the INDEX frames: a doc delivered twice in one
    // batch (a source replay artifact — even with metadata columns
    // differing, which a full-row dedup would miss) would otherwise
    // sign twice and DOUBLE its bucket/shingle rows, and shingle row
    // counts feed every later Jaccard: the doubled doc reads
    // 2c/(n_b + 2n_s − 2c) instead of c/(n_b + n_s − c) and falsely
    // rejects novel docs. distinct() on the derived frames — which
    // carry ONLY the signed columns — is deterministic and matches
    // the distinct-key stamp below; a same-key-DIFFERENT-TEXT pair
    // remains the caller's contract violation (both texts' shingles
    // union under the key, inflating only that key's denominator —
    // erring toward admission, never false rejection).
    Stores.runConcurrently(spark, Seq(
      ("appendToMinhashStore: buckets",
        () => writeGateAppend(
          minhashBandBuckets(batch, st.keyCol, textCol, st.k,
            st.numHashes, st.bands).distinct(),
          path, "buckets", next)),
      ("appendToMinhashStore: shingles",
        () => writeGateAppend(
          portableShingleHashes(batch, st.keyCol, textCol, st.k)
            .distinct(),
          path, "shingles", next)),
      ("appendToMinhashStore: stamp",
        () => { batchStamp = Stores.keyStamp(
          batch.select(col(st.keyCol)).distinct(), st.keyCol) })))
    Stores.commitStamp(spark, gatelog, next, None,
      Some(Stores.addStamp(prior, batchStamp)))
  }

  /** Fold every gate-COMMITTED generation into a FRESH base store at
    * `newPath` — the maintenance move for the gates' documented
    * generation-accumulation bound
    * ([[graft.streaming.IncrementalLoad.streamingNearDupGate]]'s
    * KNOWN BOUND): a long-running stream adds one `batch=<id>` dir
    * per admitting micro-batch, and after thousands of batches the
    * probe's leaf-dir listing cost shows. Compaction rewrites
    * base ∪ committed generations as the new root's plain
    * `buckets`/`shingles` datasets with NO re-signing — the
    * generations already hold the exact band buckets and shingle
    * hashes the admitted docs were probed with — so the cost is one
    * scan+write of the index artifact, never a corpus text pass
    * (the "re-sign the grown corpus" remedy this replaces is a full
    * corpus hash). The manifest is written LAST (manifest-present ⇒
    * complete), so a crash mid-compaction reads as "no store at
    * newPath" and the old root stays untouched and authoritative.
    *
    * Call only on a QUIESCED store (the single-writer discipline: the
    * gate's stream drained or stopped). A generation beyond the
    * gatelog's committed horizon — possible only when the stream
    * crashed between its generation write and its gatelog flip — is
    * deliberately EXCLUDED, exactly as every reader excludes it;
    * point the stream's next incarnation at `newPath` with a FRESH
    * checkpoint and the crashed batch re-arrives through the source.
    * The optional raw-signature dataset (`sigs`) is not carried:
    * gates never write raw signatures for admitted docs, so a
    * compacted sweep store would be signature-incomplete — rebuild
    * with [[writeMinhashStore]]`(withSignatures = true)` if the
    * tuning path needs one over the grown corpus. */
  def compactMinhashStore(spark: org.apache.spark.sql.SparkSession,
                          path: String, newPath: String): Unit = {
    // self-compaction is inexpressible under the generation protocol
    // (the target clear below would delete the very generations being
    // folded, and the fold cannot read a dataset it is overwriting) —
    // refuse it loudly before touching anything
    require(new org.apache.hadoop.fs.Path(path) !=
        new org.apache.hadoop.fs.Path(newPath),
      s"compactMinhashStore target equals the source root ($path) — " +
        "compaction folds into a FRESH root; hand the stream off " +
        "afterwards (IncrementalLoad.handoffCompacted)")
    val base = readMinhashStoreBase(spark, path) // validates constants
    // newPath should be a FRESH root, but enforce it: a dirty root —
    // generation dirs, a gatelog, or a sigs dataset left by a prior
    // life — would otherwise union stale rows into (or advertise
    // signatures inconsistent with) the compacted base. Params goes
    // first, so every crash window reads as "no store here".
    Stores.clearGateState(spark, newPath,
      Seq("sigs", "buckets-batches", "shingles-batches"))
    Stores.foldGenerations(spark, path, newPath,
      Seq("buckets" -> base.buckets, "shingles" -> base.shingles))
    Stores.writeCompactedManifest(spark, path, newPath, "n_docs")
  }

  /** The MinHash gate store's
    * [[graft.operators.Stores.GateStoreKind]] registration — beside
    * its compactor, so [[graft.streaming.IncrementalLoad
    * .handoffCompacted]]'s dispatch cannot silently miss this
    * family. `minhash_p` appears in every MinHash manifest and no
    * other store's. */
  private[graft] val gateStoreKind: Stores.GateStoreKind =
    Stores.GateStoreKind("MinHash", "minhash_p", compactMinhashStore)

  /** Probe a [[readMinhashStore]] index: the store's own manifest
    * supplies every signing parameter, so batch and index arithmetic
    * agree by construction. Same output contract as the raw-frame
    * overload. */
  def minhashNearDupAgainstStore(batch: DataFrame, textCol: String,
                                 store: MinhashStore,
                                 threshold: Double): DataFrame =
    minhashNearDupAgainstStore(batch, store.keyCol, textCol,
      store.buckets, store.shingles, store.k, store.numHashes, store.bands,
      threshold)

  /** The LAZY probe plan behind [[minhashNearDupAgainstStore]], split
    * out so PlanAuditSpec can pin its join shapes (the public operator
    * checkpoints eagerly, which erases the plan). Returns the flagged
    * frame plus the cached batch-shingle frame the caller must
    * unpersist after materializing. */
  private[graft] def nearDupAgainstStorePlan(
      batch: DataFrame, keyCol: String, textCol: String,
      storeBuckets: DataFrame, storeShingles: DataFrame,
      k: Int, numHashes: Int, bands: Int,
      threshold: Double): (DataFrame, DataFrame) = {
    val bb = minhashBandBuckets(batch, keyCol, textCol, k, numHashes,
      bands)
    val bsh = portableShingleHashes(batch, keyCol, textCol, k).cache()
    (nearDupProbeCore(bb, bsh, keyCol, storeBuckets, storeShingles,
      threshold), bsh)
  }

  /** The probe over PRE-DERIVED batch artifacts — `bb0` =
    * [[minhashBandBuckets]] rows, `bsh0` = [[portableShingleHashes]]
    * rows — so a caller that already holds them (the streaming gate
    * signs its batch exactly ONCE and feeds the same two frames to
    * the intra pass, this probe, and the admission append) pays no
    * re-signing. [[nearDupAgainstStorePlan]] is the text-input
    * wrapper. */
  private[graft] def nearDupProbeCore(
      bb0: DataFrame, bsh0: DataFrame, keyCol: String,
      storeBuckets: DataFrame, storeShingles: DataFrame,
      threshold: Double): DataFrame = {
    // Every batch-derived side below carries an explicit broadcast
    // hint: the batch is the nightly increment — orders of magnitude
    // smaller than the store — and hinting it keeps the store side
    // free of ANY shuffle (the bucket join probes store partitions in
    // place; relying on AQE instead leaves the store's fate to a size
    // estimate). A batch too large to broadcast should be split into
    // sub-batches upstream, the natural unit of an ingest pipeline.
    val bb = bb0.select(col(keyCol).as("b"), col("band"), col("bucket"))
    val sb = storeBuckets.select(col(keyCol).as("s"), col("band"),
      col("bucket"))
    val cand = broadcast(bb).join(sb, Seq("band", "bucket"))
      .select(col("b"), col("s")).distinct()
    val bsh = bsh0
    val bCounts = bsh.groupBy(col(keyCol)).agg(count(lit(1)).as("n_b"))
      .select(col(keyCol).as("b"), col("n_b"))
    // store-side set sizes are only consumed for CANDIDATE store docs:
    // the broadcast semi-join keeps the groupBy (the store's only
    // exchange otherwise) at candidate scale instead of corpus scale
    val candKeys = cand.select(col("s")).distinct()
    val sCounts = storeShingles
      .join(broadcast(candKeys), storeShingles(keyCol) === candKeys("s"),
        "left_semi")
      .groupBy(col(keyCol)).agg(count(lit(1)).as("n_s"))
      .select(col(keyCol).as("s"), col("n_s"))
    val common = broadcast(cand
        .join(bsh.select(col(keyCol).as("b"), col("shingle")), Seq("b")))
      .join(storeShingles.select(col(keyCol).as("s"), col("shingle")),
        Seq("s", "shingle"))
      .groupBy(col("b"), col("s")).agg(count(lit(1)).as("n_common"))
    val pairs = common
      .join(bCounts, Seq("b")).join(sCounts, Seq("s"))
      .select(col("b"), col("s"),
        (col("n_common").cast("double") /
          (col("n_b") + col("n_s") - col("n_common")).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
    // best match per batch doc: (jaccard desc, store key asc) — a
    // deterministic one-row summary per flagged doc
    val w = Window.partitionBy(col("b"))
      .orderBy(col("jaccard").desc, col("s"))
    pairs
      .withColumn("n_matches", count(lit(1)).over(Window.partitionBy(col("b"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("b"), col("s").as("best_match"), col("jaccard"),
        col("n_matches"))
  }

  /** Within-batch flags over the same PRE-DERIVED artifacts as
    * [[nearDupProbeCore]]: candidate pairs a < b from the band-bucket
    * self-join of `bb0`, exact Jaccard over `bsh0`, one `keyCol`
    * column of flagged (larger) keys. LAZY — the caller owns
    * materialization and the lifetime of the two input frames. */
  private[graft] def intraFlagsCore(bb0: DataFrame, bsh0: DataFrame,
                                    keyCol: String,
                                    threshold: Double): DataFrame = {
    val l = bb0.select(col(keyCol).as("a"), col("band"), col("bucket"))
    val r = bb0.select(col(keyCol).as("b"), col("band"), col("bucket"))
    val cand = l.join(r, Seq("band", "bucket"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    val counts = bsh0.groupBy(col(keyCol)).agg(count(lit(1)).as("n_sh"))
    val common = cand
      .join(bsh0.select(col(keyCol).as("a"), col("shingle")), Seq("a"))
      .join(bsh0.select(col(keyCol).as("b"), col("shingle")),
        Seq("b", "shingle"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_common"))
    common
      .join(counts.select(col(keyCol).as("a"), col("n_sh").as("n_a")),
        Seq("a"))
      .join(counts.select(col(keyCol).as("b"), col("n_sh").as("n_b")),
        Seq("b"))
      .filter((col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")).cast("double"))
        >= threshold)
      .select(col("b").as(keyCol)).distinct()
  }

  /** Connected components over an undirected pair list — the step
    * that turns near-dup PAIRS (tiers 2–5) into dedup CLUSTERS so a
    * pipeline can keep one canonical document per group (pairs alone
    * can't: a–b, b–c must collapse to one group of three).
    *
    * Min-label propagation: every vertex starts labeled with itself;
    * each round joins labels across edges and takes the min; stops
    * when a round changes nothing. Rounds needed = component diameter
    * — tiny for near-dup clusters — and each round is one shuffle on
    * the vertex key, so the 100 TB cost is (diameter × one hash join),
    * never a transitive-closure blowup. The per-round `count` action
    * is metadata-sized (the changed-row count). */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20): DataFrame = {
    require(maxIter >= 1 && maxIter <= 100, s"maxIter=$maxIter out of range")
    // both directions from ONE evaluation of the (possibly expensive)
    // pairs subtree — a two-branch union would run it twice before the
    // cache materializes
    val edges = pairs.select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
      .distinct()
      .cache()
    // localCheckpoint (not cache) each round: an iterative plan that
    // keeps its lineage nests one join per round and the logical tree
    // grows past what the planner can even stringify — checkpointing
    // truncates it to the materialized result, the standard shape for
    // iterative algorithms on Spark
    // seed labels with the 1-hop neighborhood minimum (one aggregate —
    // no join): for diameter-1 components (the dominant near-dup pair/
    // star shape) this IS the fixed point, so the loop below only pays
    // its convergence-detection round instead of a propagation round
    var labels = edges.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("label"))
      .withColumnRenamed("src", "v")
      .localCheckpoint(true)
    // labels only ever DECREASE (each round takes a min over a superset
    // that includes the current label), so the rounds have converged
    // exactly when Σlabel stops moving — one cheap aggregate per round
    // on the already-materialized frame, instead of a join against the
    // previous round plus a count job
    import org.apache.spark.sql.types.DecimalType
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast(DecimalType(38, 0)))).head().getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // candidate label for v = min over neighbors' labels (and its own)
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("v", "dst2"), col("dst") === col("dst2"))
        .select(col("src").as("v"), col("label"))
      val prop = labels.unionByName(viaNeighbors)
        .groupBy(col("v")).agg(min(col("label")).as("label"))
      // path-halving: v additionally adopts its label's label (labels
      // are vertices, so the inner self-join always hits). Remaining
      // diameter halves per round — O(log d) rounds instead of O(d),
      // which is what bounds wall-clock: each round is a fixed number
      // of jobs, so fewer rounds beat a cheaper round.
      val hop = prop.select(col("v").as("lv"), col("label").as("hopLabel"))
      // LAZY checkpoint: the labelSum action right below materializes
      // the checkpoint and computes the convergence signature in ONE
      // job — an eager checkpoint would spend a separate job per round
      val next = prop.join(hop, col("label") === col("lv"))
        .select(col("v"),
          least(col("label"), col("hopLabel")).as("label"))
        .localCheckpoint(false)
      val nextSum = labelSum(next)
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      iter += 1
    }
    edges.unpersist()
    // an exhausted iteration budget means labels are still moving —
    // returning them anyway would silently split true components
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds — the " +
        "pair graph has a component of diameter > maxIter; raise maxIter")
    labels.withColumnRenamed("label", "component")
  }

  /** Canonical keep-list from near-dup pairs: one row per component —
    * the component label IS the minimum member key, so it doubles as
    * the canonical survivor — plus the group size: the final artifact
    * a dedup pass hands to the filter stage. */
  def canonicalKeepList(pairs: DataFrame, aCol: String,
                        bCol: String): DataFrame =
    connectedComponents(pairs, aCol, bCol)
      .groupBy(col("component"))
      .agg(count(lit(1)).as("group_size"))
      .select(col("component").as("keep"), col("group_size"))

  /** The dedup APPLY step — filter the corpus to the canonical
    * survivors [[canonicalKeepList]] names: every member of a near-dup
    * cluster except its canonical (minimum-key) representative is
    * dropped; documents in no cluster pass through untouched. Rather
    * than semi-joining the corpus against keep-list ∪ untouched keys
    * (two joins), this anti-joins against the keep-list's complement —
    * the non-canonical members — which is duplicate-count-sized, so at
    * corpus scale the join broadcasts and the corpus streams once. */
  def dedupApply(corpus: DataFrame, keyCol: String, pairs: DataFrame,
                 aCol: String, bCol: String): DataFrame = {
    val dropList = connectedComponents(pairs, aCol, bCol)
      .filter(col("v") =!= col("component"))
      .select(col("v").as(keyCol))
    corpus.join(dropList, Seq(keyCol), "left_anti")
  }

  /** Corpus gram-frequency index for [[noveltyAgainstStore]]: the
    * distinct-per-doc portable shingle hashes aggregated to
    * `(shingle, df)` — the persistable side of incremental novelty
    * (one parquet table, mergeable by summing df). */
  def gramDfIndex(df: DataFrame, keyCol: String, textCol: String,
                  k: Int = 3): DataFrame =
    portableShingleHashes(df, keyCol, textCol, k)
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))

  /** Incremental novelty scoring against a PERSISTED gram-frequency
    * index (training-data pipeline ★ — [[noveltyScores]]' batch/store
    * lifecycle, the q139 posture applied to the measurement side: new
    * documents are scored for novelty against everything already
    * ingested WITHOUT re-reading the corpus — the store is the
    * df index, batch grams probe it). A batch gram is novel iff it
    * misses the store AND is unique within the batch; the counts
    * decompose by inclusion-exclusion so the STORE is touched by
    * exactly ONE inner equi-join that the batch side builds
    * (broadcast-able: batch ≪ store at 100 TB — the left-anti
    * spelling would build the store side instead and shuffle the
    * index).
    *
    * Output per batch doc: `(keyCol, n_grams, n_store_hits,
    * n_batch_dups, n_novel, novelty)`. */
  def noveltyAgainstStore(batch: DataFrame, keyCol: String,
                          textCol: String, store: DataFrame,
                          k: Int = 3): DataFrame = {
    val bg = portableShingleHashes(batch, keyCol, textCol, k)
      .localCheckpoint(true)
    val bdf = bg.groupBy(col("shingle")).agg(count(lit(1)).as("bdf"))
    val local = bg.join(broadcast(bdf), Seq("shingle"))
    val hits = broadcast(local)
      .join(store.select(col("shingle")), Seq("shingle"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_store_hits"),
        sum(when(col("bdf") > 1, 1L).otherwise(0L)).as("n_both"))
    val perDoc = local.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("bdf") > 1, 1L).otherwise(0L)).as("n_batch_dups"))
    batch.select(col(keyCol))
      .join(perDoc, Seq(keyCol), "left")
      .join(hits, Seq(keyCol), "left")
      .select(col(keyCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_store_hits"), lit(0L)).as("n_store_hits"),
        coalesce(col("n_batch_dups"), lit(0L)).as("n_batch_dups"),
        (coalesce(col("n_grams"), lit(0L)) -
          coalesce(col("n_store_hits"), lit(0L)) -
          coalesce(col("n_batch_dups"), lit(0L)) +
          coalesce(col("n_both"), lit(0L))).as("n_novel"))
      .select(col(keyCol), col("n_grams"), col("n_store_hits"),
        col("n_batch_dups"), col("n_novel"),
        round(when(col("n_grams") > 0,
          col("n_novel").cast("double") / col("n_grams").cast("double")),
          6).as("novelty"))
  }

  /** DuckDB spelling of [[noveltyAgainstStore]] over gram STRINGS
    * (the q153 semantic-twin discipline): given CTEs `$storeRel(g,
    * df)` and `$batchRel(k, text)`, emits CTEs ending in
    * `$tag(k, n_grams, n_store_hits, n_batch_dups, n_novel,
    * novelty)`. */
  def sqlNoveltyAgainstStore(tag: String, batchRel: String,
                             storeRel: String, k: Int): String =
    s"""${tag}bg AS (
       |  SELECT DISTINCT k, unnest(list_transform(
       |    range(1, len(string_split(text, ' ')) - ${k - 2}),
       |    i -> array_to_string(
       |      (string_split(text, ' '))[i:i+${k - 1}], ' '))) AS g
       |  FROM $batchRel WHERE len(string_split(text, ' ')) >= $k),
       |${tag}bdf AS (SELECT g, COUNT(*) AS bdf FROM ${tag}bg GROUP BY 1),
       |${tag}loc AS (
       |  SELECT b.k, b.g, d.bdf FROM ${tag}bg b
       |  JOIN ${tag}bdf d USING (g)),
       |${tag}hit AS (
       |  SELECT l.k, COUNT(*) AS n_store_hits,
       |    CAST(SUM(CASE WHEN l.bdf > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_both
       |  FROM ${tag}loc l JOIN $storeRel s ON s.g = l.g
       |  GROUP BY 1),
       |${tag}doc AS (
       |  SELECT k, COUNT(*) AS n_grams,
       |    CAST(SUM(CASE WHEN bdf > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_batch_dups
       |  FROM ${tag}loc GROUP BY 1),
       |$tag AS (
       |  SELECT b.k,
       |    COALESCE(d.n_grams, 0) AS n_grams,
       |    COALESCE(h.n_store_hits, 0) AS n_store_hits,
       |    COALESCE(d.n_batch_dups, 0) AS n_batch_dups,
       |    COALESCE(d.n_grams, 0) - COALESCE(h.n_store_hits, 0)
       |      - COALESCE(d.n_batch_dups, 0) + COALESCE(h.n_both, 0)
       |      AS n_novel,
       |    round(CAST(COALESCE(d.n_grams, 0) -
       |        COALESCE(h.n_store_hits, 0) -
       |        COALESCE(d.n_batch_dups, 0) + COALESCE(h.n_both, 0)
       |        AS DOUBLE) /
       |      CAST(d.n_grams AS DOUBLE), 6) AS novelty
       |  FROM (SELECT DISTINCT k FROM $batchRel) b
       |  LEFT JOIN ${tag}doc d USING (k)
       |  LEFT JOIN ${tag}hit h USING (k))""".stripMargin

  /** Quality-aware representative selection over near-dup components
    * (training-data pipeline ★ — the RefinedWeb/FineWeb "keep the
    * best copy" policy): where [[dedupApply]] keeps each component's
    * MINIMUM key (keep-first), this keeps the member with the highest
    * `scoreCol` (ties → lowest key) — the production policy is "keep
    * the longest / highest-quality duplicate", and which copy
    * survives materially changes the corpus when near-dups differ in
    * completeness. Singletons (docs in no pair) keep themselves.
    *
    * Output: one row per corpus doc — `(keyCol, component, n_members,
    * kept, is_kept, kept_score)`.
    *
    * Scale shape: components live on the PAIR graph
    * ([[connectedComponents]] — pair-sized, not corpus-sized); the
    * corpus joins the component map and the per-component argmax once
    * each (left equi-joins AQE broadcasts when the dup set is small,
    * the 100 TB common case). The argmax is one max-of-struct
    * aggregate — map-side combinable, no window. */
  def dedupKeepBest(corpus: DataFrame, keyCol: String, scoreCol: String,
                    pairs: DataFrame, aCol: String, bCol: String)
                   : DataFrame = {
    val comp = connectedComponents(pairs, aCol, bCol)
    val scored = corpus.select(col(keyCol), col(scoreCol))
      .join(comp, col(keyCol) === col("v"), "left")
      .select(col(keyCol), col(scoreCol),
        coalesce(col("component"), col(keyCol)).as("component"))
    val best = scored.groupBy(col("component"))
      .agg(max(struct(col(scoreCol).as("s"),
          (-col(keyCol)).as("nk"))).as("m"),
        count(lit(1)).as("n_members"))
      .select(col("component"), col("n_members"),
        (-col("m.nk")).as("kept"), col("m.s").as("kept_score"))
    scored.join(best, Seq("component"))
      .select(col(keyCol), col("component"), col("n_members"),
        col("kept"), (col(keyCol) === col("kept")).as("is_kept"),
        col("kept_score"))
  }

  /** Benchmark decontamination (training-data pipeline ★): flag every
    * corpus document that shares at least one `k`-token shingle with
    * an evaluation/benchmark set — the standard n-gram-overlap test
    * (GPT-3 appendix C / PaLM style use 8–13-gram overlap) that keeps
    * eval questions out of the training corpus.
    *
    * Scale shape: eval sets are benchmark-sized (≪ corpus), so their
    * distinct shingle hashes BROADCAST and the corpus streams once
    * with no shuffle; the per-document hit counts that come back are
    * overlap-sized (rare at 100 TB), so AQE broadcasts the join-back
    * too. Shingles travel as 64-bit hashes ([[shingleHashes]] — same
    * collision argument as the Jaccard tiers).
    *
    * Output: every corpus row's key plus `n_hit_shingles` (distinct
    * corpus shingles also present in the eval set) and a
    * `contaminated` flag. Callers drop or down-weight flagged docs.
    */
  def decontaminate(corpus: DataFrame, evalDocs: DataFrame, keyCol: String,
                    textCol: String, k: Int = 5): DataFrame = {
    val corpusSh = shingleHashes(corpus, keyCol, textCol, k)
    val evalSh = shingleHashes(evalDocs, keyCol, textCol, k)
      .select(col("shingle")).distinct()
    val hits = corpusSh.join(broadcast(evalSh), Seq("shingle"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_hit_shingles"))
    corpus.select(col(keyCol))
      .join(hits, Seq(keyCol), "left")
      .select(col(keyCol),
        coalesce(col("n_hit_shingles"), lit(0L)).as("n_hit_shingles"),
        (coalesce(col("n_hit_shingles"), lit(0L)) > 0).as("contaminated"))
  }

  /** Exact set-similarity join via prefix filtering (tier 2½ — the
    * AllPairs/PPJoin family): every pair of documents whose TOKEN-SET
    * Jaccard ≥ `threshold`, with NO approximation — unlike the MinHash
    * tier this is lossless, and unlike the naive shingle self-join it
    * never joins on common tokens. The filter is the classic prefix
    * principle: under any global token order, two sets with overlap
    * ≥ α must share a token among each one's first |x| − α + 1 tokens;
    * with α = ⌈t·|x|⌉ (valid since J ≥ t ⟹ |x∩y| ≥ t·|x|), indexing
    * only each document's prefix is complete. Ordering tokens
    * rarest-first (ascending document frequency) makes those prefix
    * tokens the LEAST shared ones, so the candidate join is
    * sub-quadratic on real vocabularies where the naive join explodes
    * on stopwords.
    *
    * Scale shape: one token-frequency aggregate, one join to attach
    * frequencies, one equi-join on prefix tokens (rare keys ⟹ no
    * skew), exact verification via array_intersect on candidate pairs
    * only. No driver-side state, no approximation to tune.
    *
    * `shingleK` picks the set elements: 1 = word tokens, k ≥ 2 =
    * word k-shingles (the [[ngramJaccardPairs]] universe). Shingles
    * are the production choice for documents — a small vocabulary
    * makes every WORD frequent and the prefix filter toothless, while
    * the shingle space is combinatorially sparse, so prefixes stay
    * rare and candidates stay near the true-pair count. */
  def prefixJaccardPairs(df: DataFrame, keyCol: String, textCol: String,
                         threshold: Double, shingleK: Int = 1): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold=$threshold outside (0, 1]")
    require(shingleK >= 1 && shingleK <= 8, s"shingleK=$shingleK outside [1, 8]")
    // elements travel as 64-bit hashes — set identity is all the
    // pipeline needs, and both the join keys and the verify arrays
    // shrink to 8 bytes (the shingleHashes trade). Words are
    // pre-projected so the k element_at probes per shingle hit an
    // evaluated array, not a re-split of the text; the empty-set
    // filter runs on the CHEAP source-token count BEFORE the array
    // build — a size(toks) > 0 filter on the built array gets pushed
    // below the projection with the whole (CodegenFallback) build
    // substituted in, which measured ~30x the projection itself.
    val words = col("__words")
    val elems =
      if (shingleK == 1) array_distinct(transform(words, w => xxhash64(w)))
      else array_distinct(transform(shinglePositions(words, shingleK),
        i => xxhash64(shingleAt(words, i, shingleK))))
    prefixPairsCore(df
      .filter(size(split(col(textCol), " ")) >= shingleK)
      .select(col(keyCol), split(col(textCol), " ").as("__words"))
      .select(col(keyCol), elems.as("toks")),
      keyCol, threshold)
  }

  /** [[prefixJaccardPairs]] over PRE-HASHED element sets — the input
    * is a (keyCol, element-hash) pair frame, e.g. a persisted index's
    * [[portableShingleHashes]] dataset — so the exact-truth tier can
    * run entirely off a store artifact without re-reading any text
    * (the q139 "signed once EVER" posture extended to the audit's
    * ground truth). Same lossless prefix/size/positional pruning and
    * the same output contract as the text overload. */
  def prefixJaccardPairsFromShingles(sh: DataFrame, keyCol: String,
                                     shingleCol: String,
                                     threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold=$threshold outside (0, 1]")
    prefixPairsCore(
      sh.groupBy(col(keyCol))
        .agg(array_distinct(collect_list(col(shingleCol))).as("toks")),
      keyCol, threshold)
  }

  /** The shared prefix-filter body: `toksDf` is (keyCol,
    * toks array<long>) with per-row distinct elements. */
  private def prefixPairsCore(toksDf: DataFrame, keyCol: String,
                              threshold: Double): DataFrame = {
    val toks = toksDf
      .cache() // consumed by the token explode and twice by the verify
    val tok = toks.select(col(keyCol), explode(col("toks")).as("token"))
    val freq = tok.groupBy(col("token")).agg(count(lit(1)).as("freq"))
    // per-document tokens sorted under the global (freq, token) total
    // order — the struct sort IS the order, no dense global rank (a
    // row_number over the vocabulary would serialize on one partition)
    val sorted = tok.join(freq, Seq("token"))
      .groupBy(col(keyCol))
      .agg(array_sort(collect_list(struct(col("freq"), col("token"))))
        .as("sorted"))
    val n = size(col("sorted"))
    val prefixLen = n - ceil(lit(threshold) * n).cast("int") + 1
    val prefix = sorted.select(col(keyCol), n.as("n"),
        posexplode(transform(slice(col("sorted"), lit(1), prefixLen),
          s => s.getField("token"))).as(Seq("pos", "token")))
      .cache() // both sides of the candidate self-join
    // candidate pruning, all lossless: the size filter (J ≥ t forces
    // t·|x| ≤ |y|), then PPJoin's positional bound — every common
    // element sits at-or-after the FIRST common token in both sorted
    // orders, so min suffix length from that token caps the overlap,
    // which must reach α = ⌈t/(1+t)·(|x|+|y|)⌉. The first common
    // token's row survives both filters, so the pair survives.
    val alpha = ceil(lit(threshold / (1 + threshold)) *
      (col("n_a") + col("n_b")))
    val cand = prefix
      .select(col(keyCol).as("a"), col("n").as("n_a"), col("pos").as("pa"),
        col("token"))
      .join(prefix.select(col(keyCol).as("b"), col("n").as("n_b"),
        col("pos").as("pb"), col("token")), Seq("token"))
      .filter(col("a") < col("b"))
      .filter(col("n_b") >= ceil(lit(threshold) * col("n_a")) &&
        col("n_a") >= ceil(lit(threshold) * col("n_b")))
      .filter(least(col("n_a") - col("pa"), col("n_b") - col("pb")) >= alpha)
      .select(col("a"), col("b")).distinct()
    val inter = size(array_intersect(col("toks_a"), col("toks_b")))
    cand
      .join(toks.select(col(keyCol).as("a"), col("toks").as("toks_a")),
        Seq("a"))
      .join(toks.select(col(keyCol).as("b"), col("toks").as("toks_b")),
        Seq("b"))
      .select(col("a"), col("b"),
        (inter.cast("double") /
          (size(col("toks_a")) + size(col("toks_b")) - inter).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Pair-set evaluation (the measurement half of the dedup toolkit —
    * how a pipeline tunes its LSH/SimHash parameters against the exact
    * tier): precision / recall / F1 of a candidate pair set against a
    * truth set, as one 1-row frame. Pairs are canonicalized (a < b)
    * before comparison so orientation can't skew the counts. Two
    * aggregate-sized joins; no driver-side set materialization. */
  def evaluatePairs(got: DataFrame, truth: DataFrame,
                    aCol: String = "a", bCol: String = "b"): DataFrame = {
    def canon(df: DataFrame) = df.select(
      least(col(aCol), col(bCol)).as("a"),
      greatest(col(aCol), col(bCol)).as("b")).distinct()
    val g = canon(got).cache()
    val t = canon(truth).cache()
    val tp = g.join(t, Seq("a", "b"), "left_semi").count().toDouble
    val nGot = g.count().toDouble
    val nTruth = t.count().toDouble
    val precision = if (nGot == 0) 1.0 else tp / nGot
    val recall = if (nTruth == 0) 1.0 else tp / nTruth
    val f1 = if (precision + recall == 0) 0.0
      else 2 * precision * recall / (precision + recall)
    val spark = got.sparkSession
    import spark.implicits._
    Seq((nGot.toLong, nTruth.toLong, tp.toLong, precision, recall, f1))
      .toDF("n_got", "n_truth", "n_true_positive", "precision", "recall", "f1")
  }

  /** Signature width of the portable SimHash: portableHash64 yields
    * 60 usable bits (15 hex chars of md5), so the bit-vote runs over
    * 60 bits — every one of them oracle-replayable. */
  val SimhashBits: Int = 60

  /** SimHash signature (tier 4): 60-bit bit-vote over token hashes
    * (multiplicity-weighted — no distinct, repeated tokens vote
    * repeatedly, the classic Charikar weighting by term frequency).
    * Rides the portable md5-derived hash so DuckDB replays the
    * signature exactly.
    *
    * Computed by the fused codegen expression
    * [[graft.plans.SimHash60]] — one pass per document, NO token
    * explode and NO shuffle (the explode + 60-sum-aggregate spelling
    * shuffled every token row to compute per-document arithmetic; a
    * higher-order array-fold projection was no better because HOFs
    * are CodegenFallback). DedupSpec pins the expression against the
    * aggregate formulation bit for bit. Null-text rows produce no
    * signature (the explode spelling's semantics). */
  def simhashSignature(df: DataFrame, keyCol: String,
                       textCol: String): DataFrame =
    df.select(col(keyCol),
        graft.plans.SimHash60(col(textCol)).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** Exact repeated-span detection (substring-level dedup, the Lee et
    * al. 2022 "Deduplicating Training Data" granularity): any k-token
    * window occurring MORE THAN ONCE anywhere in the corpus — another
    * document or the same one — marks its span [pos, pos+k) as
    * duplicated; overlapping/adjacent duplicated windows merge into
    * maximal spans per document ([[Relational.mergeIntervals]], the
    * gaps-and-islands pass). Document-level dedup misses exactly this:
    * boilerplate headers, license blocks, templated paragraphs pasted
    * into otherwise-unique documents.
    *
    * Output per input row: `n_dup_spans` (maximal repeated spans),
    * `dup_tokens` (tokens covered by them), `n_tokens`, and
    * `dup_ratio` — the per-document removal budget a span-level
    * dedup pass would cut.
    *
    * Scale shape: windows travel as 64-bit hashes (16-byte rows, the
    * [[shingleHashes]] argument); one corpus-wide count per window
    * hash with map-side combine; the `c > 1` filter shrinks the
    * join-back to the duplicated minority; the island merge is one
    * hash-partitioned window per document. Nothing driver-side,
    * nothing quadratic — a suffix array gives maximal repeats at
    * byte granularity but needs a global sort of every suffix; the
    * fixed-k window grid is the shuffle-friendly approximation
    * (spans shorter than k go undetected, spans ≥ k are found
    * exactly, boundaries quantized to ≤ k-1 tokens). */
  def repeatedSpans(df: DataFrame, keyCol: String, textCol: String,
                    k: Int = 8,
                    storage: org.apache.spark.storage.StorageLevel =
                      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
                   : DataFrame = {
    require(k >= 2, s"k=$k — a 1-token window flags every common word")
    val toks = split(col(textCol), " ")
    val base = df.select(col(keyCol),
      size(toks).cast("long").as("n_tokens"), toks.as("toks"))
    // persisted: consumed by BOTH the corpus-wide count and the span
    // join-back — without it the tokenize+hash explode recomputes
    // per consumer (the plan showed the corpus scanned once per
    // branch). 16-byte (key, pos, h) rows; spill-safe MEMORY_AND_DISK
    // by default, callers at the 100 TB tier pass DISK_ONLY.
    val windows = base.select(col(keyCol),
        explode(transform(shinglePositions(col("toks"), k),
          i => struct(i.as("pos"),
            xxhash64(shingleAt(col("toks"), i, k)).as("h")))).as("w"))
      .select(col(keyCol), col("w.pos").as("pos"), col("w.h").as("h"))
      .persist(storage)
    val repeated = windows.groupBy(col("h"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1).select(col("h"))
    val spans = windows.join(repeated, Seq("h"))
      .select(col(keyCol), col("pos"), (col("pos") + lit(k)).as("pend"))
    val perDoc = Relational.mergeIntervals(spans, keyCol, "pos", "pend")
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("island_end") - col("island_start")).cast("long")
          .as("dup_tokens"))
    base.select(col(keyCol), col("n_tokens"))
      .join(perDoc, Seq(keyCol), "left")
      .select(col(keyCol),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        col("n_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)) / col("n_tokens"), 6)
          .as("dup_ratio"))
  }

  /** Exact-substring DEDUP (the removal stage on top of
    * [[repeatedSpans]]'s detection, the actual Lee et al. 2022 ExactSubstr
    * pass): every k-token window occurring more than once anywhere in
    * the corpus keeps its GLOBAL first occurrence — lexicographic min
    * (key, pos), deterministic and engine-independent — and every other
    * occurrence marks its span for removal; overlapping marked windows
    * merge into maximal spans per document; the surviving tokens
    * reassemble into the cleaned text. Document-level dedup keeps one
    * of two 99%-boilerplate documents in full — this pass instead cuts
    * the pasted block everywhere but where it first appeared.
    *
    * Output per input row: `n_tokens`, `removed_tokens`,
    * `n_removed_spans`, `clean_n_tokens`, and `clean_md5` (the digest
    * stands in for the rebuilt text so result rows stay narrow; callers
    * wanting the text itself take `cleanedText` below).
    *
    * Scale shape: windows travel as 64-bit hashes exactly as in
    * [[repeatedSpans]] — one corpus-wide groupBy(h) with map-side
    * combine carrying `min(struct(key, pos))` (a window-function
    * spelling would shuffle every window row un-combined); the `c > 1`
    * filter shrinks the join-back to the duplicated minority; removal
    * islands are tiny (docs-with-boilerplate × spans), so the
    * token-level removal anti-join BROADCASTS them — the token frame
    * never shuffles for it. The one token-level shuffle is the final
    * per-document reassembly groupBy; nothing driver-side, nothing
    * quadratic. First-occurrence quantization: spans < k tokens go
    * undetected, span boundaries are exact at window granularity
    * (the repeatedSpans contract). */
  def exactSubstrDedup(df: DataFrame, keyCol: String, textCol: String,
                       k: Int = 8,
                       storage: org.apache.spark.storage.StorageLevel =
                         org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
                      : DataFrame = {
    require(k >= 2, s"k=$k — a 1-token window flags every common word")
    val toks = split(col(textCol), " ")
    val base = df.select(col(keyCol),
      size(toks).cast("long").as("n_tokens"), toks.as("toks"))
    val windows = base.select(col(keyCol),
        explode(transform(shinglePositions(col("toks"), k),
          i => struct(i.as("pos"),
            xxhash64(shingleAt(col("toks"), i, k)).as("h")))).as("w"))
      .select(col(keyCol), col("w.pos").as("pos"), col("w.h").as("h"))
      .persist(storage)
    // per repeated window: its lexicographic-first occurrence — an
    // aggregate (combines map-side), NOT a row_number window (which
    // would shuffle every window row before discarding the unique
    // majority)
    val firstOcc = windows.groupBy(col("h"))
      .agg(min(struct(col(keyCol).as("k"), col("pos").as("p"))).as("f"),
        count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .select(col("h"), col("f.k").as("first_key"), col("f.p").as("first_pos"))
    val removal = windows.join(firstOcc, Seq("h"))
      .filter(!(col(keyCol) === col("first_key") &&
        col("pos") === col("first_pos")))
      .select(col(keyCol), col("pos"), (col("pos") + lit(k)).as("pend"))
    // islands are tiny (docs-with-boilerplate × spans) — materialize
    // them EAGERLY so the windows cache can drop before returning:
    // both firstOcc and the join-back consume `windows`, and after
    // this point nothing does (the q139 eager discipline)
    val islands = Relational.mergeIntervals(removal, keyCol, "pos", "pend")
      .select(col(keyCol), col("island_start").as("s0"),
        col("island_end").as("e0"))
      .localCheckpoint(true)
    windows.unpersist()
    removeIslandsAndRebuild(base, islands, keyCol, broadcastIslands = true)
  }

  /** Shared removal tail of the substring-cut operators
    * ([[exactSubstrDedup]], [[boilerplateRemoval]]): token-level
    * island anti-join (equi-key, [pos, pend) range evaluated
    * post-match), per-doc reassembly, island stats, and the 5-column
    * output contract. `broadcastIslands` is the SCALE split between
    * the two callers: ExactSubstr islands are docs-with-boilerplate ×
    * spans (tiny → broadcast keeps the token frame un-shuffled);
    * site-boilerplate islands scale WITH the corpus (a header sits in
    * nearly every doc of its site → broadcasting would OOM, so the
    * anti-join and stats join shuffle on the key). */
  private def removeIslandsAndRebuild(base: DataFrame, islands: DataFrame,
                                      keyCol: String,
                                      broadcastIslands: Boolean)
                                     : DataFrame = {
    val tokens = base.select(col(keyCol), col("n_tokens"),
        posexplode(col("toks")).as(Seq("p0", "tok")))
      .select(col(keyCol), col("n_tokens"),
        (col("p0") + lit(1)).as("pos"), col("tok"))
    val islandSide = if (broadcastIslands) broadcast(islands) else islands
    val kept = tokens.join(islandSide,
      tokens(keyCol) === islands(keyCol) &&
        col("pos") >= col("s0") && col("pos") < col("e0"), "left_anti")
    val rebuilt = kept.groupBy(col(keyCol))
      .agg(count(lit(1)).as("clean_n_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("clean_text"))
    val stats0 = islands.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_removed_spans"),
        sum(col("e0") - col("s0")).cast("long").as("removed_tokens"))
    val stats = if (broadcastIslands) broadcast(stats0) else stats0
    base.select(col(keyCol), col("n_tokens"))
      .join(rebuilt, Seq(keyCol), "left")
      .join(stats, Seq(keyCol), "left")
      .select(col(keyCol), col("n_tokens"),
        coalesce(col("removed_tokens"), lit(0L)).as("removed_tokens"),
        coalesce(col("n_removed_spans"), lit(0L)).as("n_removed_spans"),
        coalesce(col("clean_n_tokens"), lit(0L)).as("clean_n_tokens"),
        md5(coalesce(col("clean_text"), lit(""))).as("clean_md5"))
  }

  /** Paragraph-level exact dedup with document reconstruction
    * (training-data pipeline ★ — the MassiveText/RefinedWeb
    * paragraph pass, distinct from BOTH document-granular dedup
    * (q30: whole docs) and [[exactSubstrDedup]] (q145: SLIDING
    * k-token windows with span-merge): documents split into ALIGNED
    * non-overlapping `segTokens`-token paragraphs; each distinct
    * paragraph keeps exactly its lexicographic-first occurrence
    * (min key, then min position) corpus-wide; every document is
    * rebuilt from its surviving paragraphs in order. Whole-paragraph
    * granularity makes this ~k× cheaper than the sliding-window pass
    * (one window per k tokens, not per token) — the coarse first cut
    * production pipelines run before the expensive span pass.
    *
    * Output: `(keyCol, n_paras, n_kept, clean_md5)`.
    *
    * Scale shape (100 TB lens): paragraphs travel as md5 digests
    * (oracle-spellable, fixed 32 chars) — the full text never enters
    * the dedup shuffle; first-occurrence is a map-side-combinable
    * `min(struct)` aggregate, NOT a row_number window; the join-back
    * is one digest equi-join; reconstruction is one per-doc
    * aggregate. Two shuffles total on (digest) + (key). */
  /** Per-document n-gram NOVELTY (training-data pipeline ★ — the
    * memorization-risk metric dup-analysis reports: Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * frames duplicated spans as the memorization driver; this scores
    * each doc by the fraction of its DISTINCT k-grams appearing in no
    * other document). Where [[exactSubstrDedup]]/[[repeatedSpans]]
    * REMOVE repeated spans, this is the measurement side: novelty 1.0
    * = every gram unique to the doc; 0.0 = every gram shared (an
    * exact duplicate scores 0 against its twin).
    *
    * Scale shape: grams travel as portable 60-bit hashes
    * ([[portableShingleHashes]] — distinct per doc, so the df count
    * is distinct-docs by construction); ONE gram-key count + ONE
    * gram-key equi-join back + one doc-key aggregate — all linear,
    * map-side combinable. Docs with fewer than k tokens surface with
    * zero grams and NULL novelty (left join back onto the corpus
    * keys).
    *
    * Determinism: counts are exact ints; novelty = round(novel/n, 6)
    * — one IEEE divide both engines round identically. The oracle
    * replays over gram STRINGS (the q153 discipline: a different
    * spelling proves semantics, not arithmetic). */
  def noveltyScores(df: DataFrame, keyCol: String, textCol: String,
                    k: Int = 3): DataFrame = {
    val grams = portableShingleHashes(df, keyCol, textCol, k)
    val gdf = grams.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
    val perDoc = grams.join(gdf, Seq("shingle"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_distinct_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
    df.select(col(keyCol)).join(perDoc, Seq(keyCol), "left")
      .select(col(keyCol),
        coalesce(col("n_distinct_grams"), lit(0L)).as("n_distinct_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        round(col("n_novel").cast("double") /
          col("n_distinct_grams").cast("double"), 6).as("novelty"))
  }

  /** DuckDB spelling of [[noveltyScores]] over relation `rel` (gram
    * STRINGS, not hashes — semantic twin): emits CTEs ending in
    * `nvout(k, n_distinct_grams, n_novel, novelty)`. */
  def sqlNoveltyScores(rel: String, keyExpr: String, textExpr: String,
                       k: Int): String =
    s"""nvtok AS (
       |  SELECT $keyExpr AS k, string_split($textExpr, ' ') AS toks
       |  FROM $rel),
       |nvgram AS (
       |  SELECT DISTINCT k, unnest(list_transform(
       |    range(1, len(toks) - ${k - 2}),
       |    i -> array_to_string(toks[i:i+${k - 1}], ' '))) AS g
       |  FROM nvtok WHERE len(toks) >= $k),
       |nvdf AS (SELECT g, COUNT(*) AS df FROM nvgram GROUP BY 1),
       |nvdoc AS (
       |  SELECT k, COUNT(*) AS n_distinct_grams,
       |    CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_novel
       |  FROM nvgram JOIN nvdf USING (g) GROUP BY k),
       |nvout AS (
       |  SELECT t.k,
       |    COALESCE(d.n_distinct_grams, 0) AS n_distinct_grams,
       |    COALESCE(d.n_novel, 0) AS n_novel,
       |    round(CAST(d.n_novel AS DOUBLE) /
       |      CAST(d.n_distinct_grams AS DOUBLE), 6) AS novelty
       |  FROM nvtok t LEFT JOIN nvdoc d USING (k))""".stripMargin

  def paragraphDedup(df: DataFrame, keyCol: String, textCol: String,
                     segTokens: Int = 8): DataFrame = {
    require(segTokens >= 2,
      s"segTokens=$segTokens — 1-token paragraphs dedup every word")
    val s = segTokens
    // the token array rides as a bound lambda argument (the q150
    // CollapseProject trap: a projected array inlines into every
    // slice, re-splitting the text once per segment)
    val paras = element_at(transform(array(split(col(textCol), " ")),
      toks => transform(
        sequence(lit(0),
          floor((size(toks) + lit(s - 1)).cast("double") / lit(s))
            .cast("int") - 1),
        i => struct(i.as("idx"),
          array_join(slice(toks, i * lit(s) + 1, lit(s)), " ")
            .as("seg")))), 1)
    val segs = df.select(col(keyCol), explode(paras).as("p"))
      .select(col(keyCol), col("p.idx").as("idx"), col("p.seg").as("seg"),
        md5(col("p.seg")).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val firstOcc = segs.groupBy(col("h"))
      .agg(min(struct(col(keyCol).as("k"), col("idx").as("i"))).as("f"))
      .select(col("h"), col("f.k").as("fk"), col("f.i").as("fi"))
    val marked = segs.join(firstOcc, Seq("h"))
      .withColumn("kept",
        col(keyCol) === col("fk") && col("idx") === col("fi"))
    val out = marked.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_paras"),
        sum(col("kept").cast("long")).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(
            when(col("kept"), struct(col("idx"), col("seg"))))),
          x => x.getField("seg")), " ")).as("clean_md5"))
      .localCheckpoint(true)
    segs.unpersist()
    out
  }

  /** DuckDB replay of [[paragraphDedup]] over `rel`; CTE chain ending
    * in `pdout(k, n_paras, n_kept, clean_md5)`. The two-level
    * (min key, then min idx) grouping spells Spark's min(struct). */
  def sqlParagraphDedup(rel: String, keyExpr: String, textExpr: String,
                        segTokens: Int): String = {
    val s = segTokens
    s"""pdseg0 AS (
       |  SELECT $keyExpr AS k, string_split($textExpr, ' ') AS toks
       |  FROM $rel),
       |pdseg AS (
       |  SELECT k, p.idx AS idx, p.seg AS seg, md5(p.seg) AS h FROM (
       |    SELECT k, unnest(list_transform(
       |      range(0, CAST(ceil(len(toks) / $s.0) AS BIGINT)),
       |      i -> {'idx': i, 'seg': array_to_string(
       |        toks[CAST(i * $s + 1 AS BIGINT)
       |             : CAST(i * $s + $s AS BIGINT)], ' ')})) AS p
       |    FROM pdseg0)),
       |pdf1 AS (SELECT h, min(k) AS fk FROM pdseg GROUP BY 1),
       |pdf2 AS (
       |  SELECT h, fk, min(idx) AS fi
       |  FROM pdseg JOIN pdf1 USING (h) WHERE k = fk GROUP BY 1, 2),
       |pdmark AS (
       |  SELECT k, idx, seg, (k = fk AND idx = fi) AS kept
       |  FROM pdseg JOIN pdf2 USING (h)),
       |pdout AS (
       |  SELECT k, COUNT(*) AS n_paras,
       |    CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_kept,
       |    md5(COALESCE(array_to_string(list_transform(
       |      list_sort(list({'idx': idx, 'seg': seg}) FILTER (WHERE kept)),
       |      x -> x.seg), ' '), '')) AS clean_md5
       |  FROM pdmark GROUP BY k)""".stripMargin
  }

  /** Site-level boilerplate removal (the CCNet-style CROSS-document
    * pass, distinct from [[exactSubstrDedup]]'s first-occurrence
    * rule): a k-token window is boilerplate within a GROUP (site /
    * domain / source) when it appears in ≥ `minDf` distinct documents
    * of that group — navigation headers, footers, cookie banners —
    * and every occurrence is cut, the donor's included (boilerplate
    * has no privileged first copy; that asymmetry is exactly what
    * separates this from ExactSubstr dedup). Output shape matches
    * [[exactSubstrDedup]] (`n_tokens`, `removed_tokens`,
    * `n_removed_spans`, `clean_n_tokens`, `clean_md5`).
    *
    * Scale shape: windows travel as 64-bit hashes with ONE
    * (group, h, key)-distinct + grouped count for the doc-frequency
    * condition; the join-back keeps only boilerplate windows. The
    * CRITICAL divergence from [[exactSubstrDedup]]: removal islands
    * here are NOT broadcast — a site header appears in nearly every
    * document of its site, so the island set scales WITH the corpus,
    * and the token-level removal runs as an equi-key anti-join (range
    * condition evaluated post-match) that shuffles once on the key;
    * likewise the stats join-back. Broadcasting would be correct at
    * bench scale and an OOM at 100 TB. */
  def boilerplateRemoval(df: DataFrame, keyCol: String, groupCol: String,
                         textCol: String, k: Int = 8, minDf: Long = 3L,
                         storage: org.apache.spark.storage.StorageLevel =
                           org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
                        : DataFrame = {
    require(k >= 2, s"k=$k — a 1-token window flags every common word")
    require(minDf >= 2, s"minDf=$minDf — df 1 would cut every window")
    val toks = split(col(textCol), " ")
    val base = df.select(col(keyCol), col(groupCol),
      size(toks).cast("long").as("n_tokens"), toks.as("toks"))
    val windows = base.select(col(keyCol), col(groupCol),
        explode(transform(shinglePositions(col("toks"), k),
          i => struct(i.as("pos"),
            xxhash64(shingleAt(col("toks"), i, k)).as("h")))).as("w"))
      .select(col(keyCol), col(groupCol), col("w.pos").as("pos"),
        col("w.h").as("h"))
      .persist(storage)
    // boilerplate windows: present in >= minDf distinct docs of the
    // group (distinct first — a doc repeating its own window is not
    // site boilerplate evidence)
    val boiler = windows.select(col(groupCol), col("h"), col(keyCol))
      .distinct()
      .groupBy(col(groupCol), col("h"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col(groupCol), col("h"))
    val removal = windows.join(boiler, Seq(groupCol, "h"))
      .select(col(keyCol), col("pos"), (col("pos") + lit(k)).as("pend"))
    val islands = Relational.mergeIntervals(removal, keyCol, "pos", "pend")
      .select(col(keyCol), col("island_start").as("s0"),
        col("island_end").as("e0"))
      .localCheckpoint(true)
    windows.unpersist()
    removeIslandsAndRebuild(base, islands, keyCol, broadcastIslands = false)
  }

  /** SimHash near-dup pairs: 15-bit-chunk banding (4 chunks × 15 of
    * the 60 signature bits) for candidates, then exact hamming
    * distance filter via bit_count(xor). By pigeonhole, any pair
    * within hamming ≤ 6 of a 60-bit signature... shares at least one
    * of the 4 chunks unchanged only when the 6 flips avoid a chunk —
    * flips spread 4 ways leave ≥ one chunk clean for hamming ≤ 3;
    * beyond that recall is probabilistic, same trade as the 64-bit
    * variant and held to the exact tier by DedupSpec. */
  def simhashNearDupPairs(df: DataFrame, keyCol: String, textCol: String,
                          maxHamming: Int = 6): DataFrame = {
    val sig = simhashSignature(df, keyCol, textCol)
    val chunks = sig.select(col(keyCol), col("simhash"),
      explode(array((0 until 4).map(c => struct(lit(c).as("chunk"),
        shiftright(col("simhash"), c * 15).bitwiseAND(lit(0x7FFFL))
          .as("v"))): _*)).as("cb"))
      .select(col(keyCol), col("simhash"), col("cb.chunk"), col("cb.v"))
      .cache() // consumed by both sides of the self-join; |keys|×4 rows
               // (measured: AQE does NOT reuse the exchange across the
               // alias-renamed sides, so uncached the signature
               // aggregate runs twice)
    val l = chunks.select(col(keyCol).as("a"), col("simhash").as("sig_a"),
      col("chunk"), col("v"))
    val r = chunks.select(col(keyCol).as("b"), col("simhash").as("sig_b"),
      col("chunk"), col("v"))
    // hamming filter BEFORE the distinct: the chunk join fans out to
    // every bucket collision (template-heavy corpora measured ~100x
    // the final pair count), and the xor is a register op — filtering
    // in-stage means only true near-dup rows reach the distinct's
    // shuffle, instead of shuffling the whole candidate fan-out
    l.join(r, Seq("chunk", "v"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}
