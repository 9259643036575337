package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Recall/precision of the hash-based dedup tiers against the exact
  * Jaccard tier (the one the DuckDB oracle verifies). */
class DedupSpec extends SparkSpecBase {

  private lazy val corpus = {
    val d = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 120)
    val nearDup = d.filter(col("doc_id") % 2 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"))
    d.unionByName(nearDup).cache()
  }

  test("fused SimHash60 matches the explode+aggregate bit-vote exactly") {
    import spark.implicits._
    import graft.functions.Scalars
    // edge cases the byte-walk tokenizer must reproduce from
    // split(text, " "): empty text (one empty token), consecutive /
    // leading / trailing spaces (empty tokens preserved), unicode,
    // repeated tokens (multiplicity-weighted votes)
    val docs = (Seq("", "a", "a a a b", "x  y", " lead", "trail ",
      "é café naïve", "the quick brown fox the quick") ++
      corpus.select("text").as[String].collect().take(40))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val fused = docs.select(col("doc_id"),
        graft.plans.SimHash60(col("text")).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tok = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("token"))
      .withColumn("th", Scalars.portableHash64(col("token")))
    val votes = tok.groupBy(col("doc_id")).agg(
      sum(when(col("th").bitwiseAND(lit(1L)) =!= 0, 1).otherwise(-1)).as("v0"),
      (1 until Dedup.SimhashBits).map(k =>
        sum(when(shiftright(col("th"), k).bitwiseAND(lit(1L)) =!= 0, 1)
          .otherwise(-1)).as(s"v$k")): _*)
    val bits = (0 until Dedup.SimhashBits).map(k =>
      when(col(s"v$k") > 0, lit(1L << k)).otherwise(lit(0L)))
    val agg = votes.select(col("doc_id"),
        bits.reduce((x, y) => x.bitwiseOR(y)).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fused == agg,
      "fused expression diverged from the aggregate formulation")
  }

  test("fused MinHashSig matches the exploded signature + counts exactly") {
    import spark.implicits._
    val docs = (Seq("", "a", "a b", "a b c", "a b c d", "x  y z w",
      " lead tok here", "é café naïve tokens",
      "the quick brown fox the quick brown fox") ++
      corpus.select("text").as[String].collect().take(40))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val fused = docs.select(col("doc_id"),
        graft.plans.MinHashSigExpr(col("text"), 3, 64).as("ms"))
      .select(col("doc_id"), col("ms.sig"), col("ms.n_sh"))
      .collect()
      .flatMap(r => if (r.isNullAt(1)) None
        else Some(r.getLong(0) -> (r.getSeq[Long](1), r.getInt(2))))
      .toMap
    val sh = Dedup.portableShingleHashes(docs, "doc_id", "text", 3)
    val agg = Dedup.minhashSignature(sh, "doc_id", 64).collect()
      .map(r => r.getLong(0) ->
        (((1 to 64).map(i => r.getLong(i))): Seq[Long], r.getLong(65).toInt))
      .toMap
    assert(fused == agg,
      "fused MinHash signature diverged from the exploded formulation")
  }

  test("incremental dedup flags near-dups of the store, admits novel docs") {
    import spark.implicits._
    val store = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 100)
    val storeBuckets = Dedup.minhashBandBuckets(store, "doc_id", "text")
    val storeShingles = Dedup.portableShingleHashes(store, "doc_id", "text")
    // batch: near-dups of store docs 0/4/8 (first token dropped) plus
    // two genuinely novel documents
    val nearDup = store.filter(col("doc_id") % 4 === 0)
      .filter(col("doc_id") < 12)
      .select((col("doc_id") + 5000).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"))
    val novel = Seq(
      (9001L, "zebra quark lantern voyage ember crystal meadow pylon"),
      (9002L, "orbit saffron glacier mosaic thunder velvet prism dune"))
      .toDF("doc_id", "text")
    val out = Dedup.minhashNearDupAgainstStore(
        nearDup.unionByName(novel), "doc_id", "text",
        storeBuckets, storeShingles, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(5000L, 5004L, 5008L).subsetOf(out.keySet),
      s"planted near-dups not all flagged: $out")
    assert(!out.contains(9001L) && !out.contains(9002L),
      s"novel docs wrongly flagged: $out")
    // each planted doc's best match is its source
    Seq(5000L -> 0L, 5004L -> 4L, 5008L -> 8L).foreach { case (b, s) =>
      assert(out(b) == s, s"batch $b best match ${out(b)} != $s")
    }
  }

  test("persisted index lifecycle: write, probe, append admitted, re-probe") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_store_").toString
    val store = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 60)
    Dedup.writeMinhashStore(store, "doc_id", "text", dir)
    val idx = Dedup.readMinhashStore(spark, dir)
    assert(idx.keyCol == "doc_id" && idx.k == 3 && idx.numHashes == 64 &&
      idx.bands == 16, "manifest must round-trip the signing parameters")
    // batch 1: a near-dup of store doc 0 plus a genuinely novel doc
    val novelText =
      "zebra quark lantern voyage ember crystal meadow pylon"
    val batch1 = store.filter(col("doc_id") === 0)
      .select(lit(7000L).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"))
      .unionByName(Seq((7001L, novelText)).toDF("doc_id", "text"))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val flagged1 = Dedup.minhashNearDupAgainstStore(batch1, "text", idx, 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(flagged1 == Set(7000L), s"batch-1 gate wrong: $flagged1")
    // the probe's internal shingle cache must not outlive the operator —
    // only the returned frame's own checkpoint blocks may remain
    val left = spark.sparkContext.getPersistentRDDs
    assert(left.size <= 1,
      s"probe leaked ${left.size} persistent RDDs: " +
        left.values.map(_.name).mkString(", "))
    // admit the unflagged rows; the index grows WITHOUT re-signing the
    // corpus (append signs only the admitted batch)
    Dedup.appendToMinhashStore(
      batch1.filter(!col("doc_id").isin(flagged1.toSeq: _*)), "text", dir)
    // batch 2 near-dups the batch-1 ADMITTED doc — only the grown
    // index can flag it
    val batch2 = Seq((8000L, novelText.split(" ").drop(1).mkString(" ")))
      .toDF("doc_id", "text")
    val f2 = Dedup.minhashNearDupAgainstStore(batch2, "text",
        Dedup.readMinhashStore(spark, dir), 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(f2.get(8000L).contains(7001L),
      s"near-dup of the admitted doc not flagged by the grown index: $f2")
  }

  test("minhashIntraBatchFlags keeps the min key of a within-batch " +
      "near-dup pair and leaves unrelated docs unflagged") {
    import spark.implicits._
    val novel = "zebra quark lantern voyage ember crystal meadow pylon"
    val batch = Seq(
      (1L, novel),
      (2L, novel.split(" ").drop(1).mkString(" ")),
      (3L, "orchid basalt nimbus ferret cobalt prairie sonnet glint")
    ).toDF("doc_id", "text")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val flags = Dedup.minhashIntraBatchFlags(batch, "doc_id", "text",
        k = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .as[Long].collect().toSet
    assert(flags == Set(2L), s"flags: $flags")
    // eager contract: no internal cache outlives the call (only the
    // returned frame's own checkpoint blocks may remain)
    val left = spark.sparkContext.getPersistentRDDs
    assert(left.size <= 1,
      s"wrapper leaked ${left.size} persistent RDDs")
  }

  test("staleness checksum: a same-count key mutation reads stale, " +
      "and the grown-store probe answers from the gatelog pointer " +
      "stamp (no generation-scan job)") {
    import spark.implicits._
    import graft.operators.Stores
    val dir = java.nio.file.Files
      .createTempDirectory("graft_chk_").toString
    val base = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 40)
    Dedup.writeMinhashStore(base, "doc_id", "text", dir)
    assert(Dedup.minhashStoreIsCurrent(base, dir))
    // same row count, one key swapped for a different key: count
    // equality alone reads current — the additive key checksum in the
    // manifest must not
    val mutated = base.filter(col("doc_id") =!= 5L).unionByName(
      Seq((9999L, "swapped in under the same count"))
        .toDF("doc_id", "text"))
    assert(mutated.count() == base.count(), "fixture must be same-count")
    assert(!Dedup.minhashStoreIsCurrent(mutated, dir),
      "a same-count key mutation read as current")
    // grow the store by one append: the commit records the running
    // admitted stamp in the gatelog POINTER, so the staleness probe
    // needs no distinct-count job over generation dirs
    val admitted = Seq(
      (7000L, "zebra quark lantern voyage ember crystal meadow pylon"))
      .toDF("doc_id", "text")
    Dedup.appendToMinhashStore(admitted, "text", dir)
    assert(Stores.admittedStamp(spark, dir)._1 == 1L,
      "the append commit did not record the running admitted stamp")
    assert(Dedup.minhashStoreIsCurrent(base.unionByName(admitted), dir))
    // a same-count mutation of the GROWN corpus also reads stale
    assert(!Dedup.minhashStoreIsCurrent(
      mutated.unionByName(admitted), dir))
    // and a second append accumulates onto the recorded total
    val admitted2 = Seq(
      (7001L, "orchid basalt nimbus ferret cobalt prairie sonnet"))
      .toDF("doc_id", "text")
    Dedup.appendToMinhashStore(admitted2, "text", dir)
    assert(Stores.admittedStamp(spark, dir)._1 == 2L)
    assert(Dedup.minhashStoreIsCurrent(
      base.unionByName(admitted).unionByName(admitted2), dir))
    // stamp-semantics alignment: a batch carrying a DUPLICATED key is
    // stamped once (distinct per batch), exactly what a recomputation
    // from the committed generations (distinct (batch, key)) yields
    val dup = Seq(
      (7002L, "quartz fjord umbra lattice pinion sable grove onset"),
      (7002L, "quartz fjord umbra lattice pinion sable grove onset"))
      .toDF("doc_id", "text")
    Dedup.appendToMinhashStore(dup, "text", dir)
    val ptr = Stores.admittedStamp(spark, dir)
    assert(ptr._1 == 3L, s"duplicate key double-counted: $ptr")
    val committed = Stores.lastApplied(spark, s"$dir/gatelog")
    val recomputed = Stores.gateGenerations(spark, dir, "buckets")
      .map(g => Stores.keyStamp(g.filter(col("batch") <= committed)
        .select(col("batch"), col("doc_id")).distinct(), "doc_id"))
    assert(recomputed.contains(ptr),
      s"pointer stamp $ptr diverges from the generations' $recomputed")
    // the PAYLOAD matches the stamp's set semantics: the duplicated
    // row signed once, so the key's shingle generation rows are not
    // doubled (doubled rows would inflate every later Jaccard against
    // this doc — 2c/(n_b + 2n_s − 2c) — and falsely reject novel docs)
    val dupSh = spark.read.parquet(s"$dir/shingles-batches")
      .filter(col("doc_id") === 7002L)
    assert(dupSh.count() > 0 && dupSh.count() == dupSh.distinct().count(),
      "duplicate-row batch doubled the stored shingle rows")
    // the harder duplicate shape: same (key, text), a NON-SIGNED
    // metadata column differing — a full-row dedup would miss it;
    // the index-frame distinct must not (the stamp already counts
    // the key once)
    val dupMeta = Seq(
      (7003L, "umber krill zephyr doctrine marble onset glade", 1L),
      (7003L, "umber krill zephyr doctrine marble onset glade", 2L))
      .toDF("doc_id", "text", "ingest_ts")
    Dedup.appendToMinhashStore(dupMeta, "text", dir)
    assert(Stores.admittedStamp(spark, dir)._1 == 4L)
    val metaSh = spark.read.parquet(s"$dir/shingles-batches")
      .filter(col("doc_id") === 7003L)
    assert(metaSh.count() > 0 &&
        metaSh.count() == metaSh.distinct().count(),
      "metadata-differing duplicate doubled the stored shingle rows")
  }

  test("minhashStoreIsCurrent counts committed generations: a grown " +
      "store stays current against base ∪ admitted, not against the " +
      "base corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cur_").toString
    val base = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 40)
    Dedup.writeMinhashStore(base, "doc_id", "text", dir)
    assert(Dedup.minhashStoreIsCurrent(base, dir))
    val admitted = Seq(
      (7000L, "zebra quark lantern voyage ember crystal meadow pylon"))
      .toDF("doc_id", "text")
    Dedup.appendToMinhashStore(admitted, "text", dir)
    assert(Dedup.minhashStoreIsCurrent(base.unionByName(admitted), dir),
      "a grown store must read current against base ∪ admitted")
    assert(!Dedup.minhashStoreIsCurrent(base, dir),
      "a grown store must not read current against the base alone")
  }

  test("a full re-sign supersedes gate generations: rebuild clears " +
      "the -batches datasets and gatelog so no stale rows union into " +
      "the fresh base") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_resign_")
    val store = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 40)
    Dedup.writeMinhashStore(store, "doc_id", "text", dir.toString)
    Dedup.appendToMinhashStore(
      Seq((7000L, "zebra quark lantern voyage ember crystal meadow"))
        .toDF("doc_id", "text"), "text", dir.toString)
    assert(Dedup.readMinhashStore(spark, dir.toString)
      .buckets.filter(col("doc_id") === 7000L).count() > 0)
    // rebuild over the SAME root (the isCurrent-then-rebuild posture):
    // the superseded generation and its gatelog must go, or readers
    // would union the stale 7000 rows into the fresh base
    Dedup.writeMinhashStore(store, "doc_id", "text", dir.toString)
    for (d <- Seq("buckets-batches", "shingles-batches", "gatelog"))
      assert(!java.nio.file.Files.exists(dir.resolve(d)),
        s"rebuild left superseded $d behind")
    val rebuilt = Dedup.readMinhashStore(spark, dir.toString)
    assert(rebuilt.buckets.filter(col("doc_id") === 7000L).isEmpty,
      "a superseded generation leaked into the rebuilt store")
    assert(Dedup.minhashStoreIsCurrent(store, dir.toString))
  }

  test("batch append crash heals: a generation written without its " +
      "gatelog commit is invisible, and the retried append overwrites " +
      "it — no partial rows, no duplicates") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_store_").toString
    val store = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 40)
    Dedup.writeMinhashStore(store, "doc_id", "text", dir)
    val base = Dedup.readMinhashStore(spark, dir)
    val baseBuckets = base.buckets.count()
    val batch = Seq(
      (7000L, "zebra quark lantern voyage ember crystal meadow pylon"))
      .toDF("doc_id", "text")
    // simulate an append that crashed AFTER the bucket generation but
    // BEFORE the shingle write and the gatelog commit — under the old
    // mode("append") protocol this was a silent bucket/shingle desync
    Dedup.writeGateAppend(
      Dedup.minhashBandBuckets(batch, "doc_id", "text"),
      dir, "buckets", 0L)
    val afterCrash = Dedup.readMinhashStore(spark, dir)
    assert(afterCrash.buckets.count() == baseBuckets,
      "a crashed append's uncommitted generation leaked into reads")
    // the retried append reuses the uncommitted id, overwrites the
    // garbage, and commits both datasets atomically via the gatelog
    Dedup.appendToMinhashStore(batch, "text", dir)
    val grown = Dedup.readMinhashStore(spark, dir)
    assert(grown.buckets.filter(col("doc_id") === 7000L).count() == 16L,
      "retried append must yield exactly one bucket generation (16 bands)")
    assert(grown.shingles.filter(col("doc_id") === 7000L).count() > 0,
      "retried append must commit the shingle rows too")
  }

  test("index manifest with drifted hash constants is refused") {
    val dir = java.nio.file.Files.createTempDirectory("graft_store_").toString
    val store = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 10)
    Dedup.writeMinhashStore(store, "doc_id", "text", dir)
    // simulate a library whose arithmetic drifted: same layout,
    // different constants in the manifest
    graft.operators.Stores.writeManifest(spark, s"$dir/params",
      "key_col" -> "doc_id", "key_type" -> "bigint", "k" -> 3,
      "num_hashes" -> 64, "bands" -> 16, "horner_c" -> 999L,
      "minhash_p" -> 999983L, "n_docs" -> 10L, "src_check" -> 0L)
    val e = intercept[IllegalArgumentException] {
      Dedup.readMinhashStore(spark, dir)
    }
    assert(e.getMessage.contains("re-sign"),
      s"refusal must explain the failure mode: ${e.getMessage}")
  }

  test("minhash LSH recalls high-Jaccard pairs") {
    val exact = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "expected synthesized near-dup pairs")
    val found = Dedup.minhashNearDupPairs(corpus, "doc_id", "text", 3, 64, 16, 0.8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(found.contains).toDouble / exact.size
    assert(recall >= 0.9, s"minhash recall $recall < 0.9 (|exact|=${exact.size})")
    // verification step makes candidates exact: no false positives
    assert(found.subsetOf(
      Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.8)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet))
  }

  test("evaluatePairs scores candidate sets against the exact tier") {
    import spark.implicits._
    val truth = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("a", "b")
    // got: one hit (reversed orientation), one miss, one false positive
    val got = Seq((2L, 1L), (3L, 4L), (7L, 8L)).toDF("a", "b")
    val r = Dedup.evaluatePairs(got, truth).head()
    assert(r.getLong(2) == 2L)                       // true positives
    assert(math.abs(r.getDouble(3) - 2.0 / 3) < 1e-9) // precision
    assert(math.abs(r.getDouble(4) - 2.0 / 3) < 1e-9) // recall
    // empty candidate set: precision 1 by convention, recall 0
    val empty = Dedup.evaluatePairs(got.filter(col("a") < 0), truth).head()
    assert(empty.getDouble(3) == 1.0 && empty.getDouble(4) == 0.0)
    // the LSH tier on the real corpus scores high recall vs exact
    val exact = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.8)
    val lsh = Dedup.minhashNearDupPairs(corpus, "doc_id", "text", 3, 64, 16, 0.8)
    val score = Dedup.evaluatePairs(lsh, exact).head()
    assert(score.getDouble(4) >= 0.9, s"LSH recall ${score.getDouble(4)}")
    assert(score.getDouble(3) == 1.0, "verified candidates: precision 1")
  }

  test("simhash flags the token-dropped near-dups") {
    val pairs = Dedup.simhashNearDupPairs(corpus, "doc_id", "text", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = corpus.filter(col("doc_id") < 1000000 && col("doc_id") % 2 === 0)
      .select("doc_id").collect().map(_.getLong(0))
      .map(id => (id, id + 1000000)).toSet
    val recall = expected.count(pairs.contains).toDouble / expected.size
    assert(recall >= 0.8, s"simhash recall $recall < 0.8")
  }

  test("MLlib MinHashLSH cross-check recalls at least the custom tier") {
    val exact = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    def recallOf(pairs: Set[(Long, Long)]): Double =
      exact.count(pairs.contains).toDouble / exact.size
    val custom = recallOf(
      Dedup.minhashNearDupPairs(corpus, "doc_id", "text", 3, 64, 16, 0.8)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val mllib = recallOf(
      graft.operators.MllibCrossCheck
        .minhashPairs(corpus, "doc_id", "text", 3, 8, 0.8)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(mllib >= custom,
      s"MLlib recall $mllib below custom tier's $custom — independent " +
        "implementations disagree on the planted corpus")
  }

  test("documents shorter than k tokens yield no shingles (no ANSI slice crash)") {
    import spark.implicits._
    val short = Seq((1L, "one two"), (2L, "single"), (3L, ""),
      (4L, "exactly three tokens"), (5L, "a b c d")).toDF("doc_id", "text")
    val sh = Dedup.shingles(short, "doc_id", "text", 3)
    assert(sh.filter(col("doc_id").isin(1L, 2L, 3L)).count() == 0)
    assert(sh.filter(col("doc_id") === 4L).count() == 1)
    assert(sh.filter(col("doc_id") === 5L).count() == 2)
    val shH = Dedup.shingleHashes(short, "doc_id", "text", 3)
    assert(shH.filter(col("doc_id").isin(1L, 2L, 3L)).count() == 0)
    assert(shH.filter(col("doc_id") === 5L).count() == 2)
    // end-to-end tiers survive a short-doc corpus
    assert(Dedup.minhashNearDupPairs(short, "doc_id", "text").count() == 0)
  }

  test("connected components collapse chains and pick canonical keys") {
    import spark.implicits._
    // a-b-c chain, isolated pair (10,11), triangle (20,21,22)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("a", "b")
    val comps = Dedup.connectedComponents(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    val keep = Dedup.canonicalKeepList(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keep == Map(1L -> 3L, 10L -> 2L, 20L -> 3L))
    // long chain needs diameter rounds, not closure blowup
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("a", "b")
    val one = Dedup.connectedComponents(chain, "a", "b")
      .select(countDistinct(col("component"))).head.getLong(0)
    assert(one == 1L)
  }

  test("exactDedup keeps exactly one row per content, lowest key") {
    val dup = corpus.unionByName(corpus)
    val kept = Dedup.exactDedup(dup, "text", "doc_id")
    assert(kept.count() == corpus.select("text").distinct().count())
    assert(kept.groupBy("text").count().filter(col("count") > 1).isEmpty)
  }

  test("decontaminate flags exactly the shingle-sharing documents") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // contains eval 5-gram
      (2L, "completely different words nowhere near evaluation data"),
      (3L, "short doc"), // < k tokens: no shingles, never contaminated
      (4L, "quick brown fox jumps over something else entirely today")
    ).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "prefix padding quick brown fox jumps over suffix")
    ).toDF("doc_id", "text")
    val got = Dedup.decontaminate(corpus, eval, "doc_id", "text", k = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    // doc 1 shares "quick brown fox jumps over"; doc 4 shares the same
    // single 5-gram; docs 2 and 3 share nothing
    assert(got(1L) == (1L, true) && got(4L) == (1L, true))
    assert(got(2L) == (0L, false) && got(3L) == (0L, false))
    assert(got.size == 4, "every corpus row must come back, flagged or not")
    // decontaminating the eval set against itself flags everything long
    // enough to shingle
    val self = Dedup.decontaminate(eval, eval, "doc_id", "text", k = 5)
      .collect()
    assert(self.forall(_.getBoolean(2)))
  }

  test("repeatedSpans: cross-doc block found, overlaps merge, unique docs clean") {
    import spark.implicits._
    // docs 1 and 2 share a 5-token block; with k=3 that is three
    // overlapping duplicated windows [3,6),[4,7),[5,8) in doc 1 →
    // ONE merged span of 5 tokens. doc 3 is fully unique.
    val docs = Seq(
      (1L, "u1 u2 c1 c2 c3 c4 c5 u3 u4"),
      (2L, "v1 c1 c2 c3 c4 c5 v2 v3 v4"),
      (3L, "x1 x2 x3 x4 x5 x6 x7 x8 x9")
    ).toDF("doc_id", "text")
    val got = Dedup.repeatedSpans(docs, "doc_id", "text", k = 3)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got(1L) == (1L, 5L, 9L), s"doc 1: ${got(1L)}")
    assert(got(2L) == (1L, 5L, 9L))
    assert(got(3L) == (0L, 0L, 9L))
  }

  test("repeatedSpans: within-doc repetition counts, short docs pass through") {
    import spark.implicits._
    // doc 1 repeats its own 3-token phrase — both occurrences are
    // duplicated spans (corpus-wide multiplicity 2, same doc)
    val docs = Seq(
      (1L, "a b c x y z a b c"),
      (2L, "p q") // shorter than k: no windows, zero spans
    ).toDF("doc_id", "text")
    val got = Dedup.repeatedSpans(docs, "doc_id", "text", k = 3)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got(1L) == (2L, 6L, 9L), s"doc 1: ${got(1L)}")
    assert(got(2L) == (0L, 0L, 2L))
    intercept[IllegalArgumentException] {
      Dedup.repeatedSpans(docs, "doc_id", "text", k = 1)
    }
  }

  test("exactSubstrDedup: first occurrence survives, later ones are cut") {
    import spark.implicits._
    import java.security.MessageDigest
    def md5(s: String): String = MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // doc 1 holds the canonical block (lexicographic-first occurrence);
    // doc 2 embeds the same 5-token block (cut, k=3 windows merge to
    // one span); doc 3 repeats its own phrase (second occurrence cut);
    // doc 4 is doc 1 verbatim (cut to empty); doc 5 is unique.
    val docs = Seq(
      (1L, "c1 c2 c3 c4 c5"),
      (2L, "v1 c1 c2 c3 c4 c5 v2 v3"),
      (3L, "a b c x y z a b c"),
      (4L, "c1 c2 c3 c4 c5"),
      (5L, "u1 u2 u3 u4 u5")
    ).toDF("doc_id", "text")
    val got = Dedup.exactSubstrDedup(docs, "doc_id", "text", k = 3)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getString(5)))
      .toMap
    // (n_tokens, removed_tokens, n_removed_spans, clean_n_tokens, md5)
    assert(got(1L) == (5L, 0L, 0L, 5L, md5("c1 c2 c3 c4 c5")),
      s"doc 1: ${got(1L)}")
    assert(got(2L) == (8L, 5L, 1L, 3L, md5("v1 v2 v3")), s"doc 2: ${got(2L)}")
    assert(got(3L) == (9L, 3L, 1L, 6L, md5("a b c x y z")), s"doc 3: ${got(3L)}")
    assert(got(4L) == (5L, 5L, 1L, 0L, md5("")), s"doc 4: ${got(4L)}")
    assert(got(5L) == (5L, 0L, 0L, 5L, md5("u1 u2 u3 u4 u5")))
    intercept[IllegalArgumentException] {
      Dedup.exactSubstrDedup(docs, "doc_id", "text", k = 1)
    }
  }

  test("boilerplateRemoval: site headers cut everywhere including the " +
      "donor, never across sites, sub-threshold windows survive") {
    import spark.implicits._
    val hdr = "nav home about contact privacy terms copyright footer"
    val rows = Seq(
      (1L, "a", s"$hdr alpha beta gamma delta"),
      (2L, "a", s"$hdr epsilon zeta eta theta"),
      (3L, "a", s"$hdr iota kappa lambda mu"),
      // site-a doc without the header: must stay intact
      (4L, "a", "nu xi omicron pi rho sigma tau upsilon"),
      // the SAME 8-gram on site b, but df=1 there: intact (the
      // group-scoped condition — cross-site text is not boilerplate)
      (5L, "b", s"$hdr phi chi psi omega one two"),
      (6L, "b", "three four five six seven eight nine ten"))
      .toDF("id", "site", "text")
    val out = Dedup.boilerplateRemoval(rows, "id", "site", "text",
        k = 8, minDf = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    for (i <- 1L to 3L) {
      val (n, removed, spans, clean) = out(i)
      assert(removed == 8L && spans == 1L && clean == n - 8,
        s"doc $i: expected exactly the 8-token header cut, got $out")
    }
    assert(out(4L)._2 == 0L && out(5L)._2 == 0L && out(6L)._2 == 0L,
      s"removal leaked outside the site-header docs: $out")
    intercept[IllegalArgumentException] {
      Dedup.boilerplateRemoval(rows, "id", "site", "text", minDf = 1)
    }
  }

  test("paragraphDedup: keep-first across docs, within-doc repeats, " +
    "ragged tails") {
    import spark.implicits._
    val p1 = "a b c d"   // 4-token paragraphs (segTokens = 4)
    val p2 = "e f g h"
    val rows = Seq(
      (1L, s"$p1 $p2"),        // first occurrence of both
      (2L, s"$p1 i j k l"),    // para 0 duplicates doc 1's -> cut
      (3L, s"$p1 $p2"),        // exact dup of doc 1 -> loses ALL
      (4L, s"$p2 $p2"),        // within-doc repeat -> second cut
      (5L, "m n o p q"))       // ragged 1-token tail survives
      .toDF("id", "text")
    val out = Dedup.paragraphDedup(rows, "id", "text", segTokens = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    def md5(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(out(1L) == ((2L, 2L, md5(s"$p1 $p2"))))
    assert(out(2L) == ((2L, 1L, md5("i j k l"))))
    assert(out(3L) == ((2L, 0L, md5(""))))
    assert(out(4L) == ((2L, 0L, md5(""))),
      "doc 4's own para 0 first-occurred in doc 1; its repeat is cut too")
    assert(out(5L) == ((2L, 2L, md5("m n o p q"))))
    intercept[IllegalArgumentException] {
      Dedup.paragraphDedup(rows, "id", "text", segTokens = 1)
    }
  }

  test("paragraphDedup is invariant under repartitioning and drops " +
    "its segment cache before returning") {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val a = Dedup.paragraphDedup(docs, "doc_id", "text", 8)
    val b = Dedup.paragraphDedup(docs.repartition(13), "doc_id", "text", 8)
    assertBagEqual(a, b)
    // only the two eager localCheckpoint result blocks may remain
    // (the q139 discipline); the wide segment caches must be gone
    assert(spark.sparkContext.getPersistentRDDs.size <= 2,
      "paragraphDedup leaked its segment cache")
  }

  test("noveltyAgainstStore: inclusion-exclusion counts by hand") {
    import spark.implicits._
    // store = gram index of one base doc: grams {abc, bcd}
    val base = Seq((1L, "a b c d")).toDF("id", "text")
    val idx = Dedup.gramDfIndex(base, "id", "text", 3)
    // two batch docs share xyz so the batch-dup branch fires
    val batch = Seq(
      (10L, "a b c x y z"), // grams: abc(store hit), bcx, cxy, xyz
      (11L, "x y z q r"),   // grams: xyz(batch dup w/ 10), yzq, zqr
      (12L, "p q")          // sub-k: no grams
    ).toDF("id", "text")
    val r = Dedup.noveltyAgainstStore(batch, "id", "text", idx, k = 3)
      .collect().map(x => x.getLong(0) -> x).toMap
    // doc 10: 4 grams; store hits: abc; batch dups: xyz; novel: bcx,cxy
    assert(r(10L).getAs[Long]("n_grams") === 4L)
    assert(r(10L).getAs[Long]("n_store_hits") === 1L)
    assert(r(10L).getAs[Long]("n_batch_dups") === 1L)
    assert(r(10L).getAs[Long]("n_novel") === 2L)
    assert(r(10L).getAs[Double]("novelty") === 0.5)
    // doc 11: 3 grams; no store hits; xyz batch-dup; novel: yzq, zqr
    assert(r(11L).getAs[Long]("n_novel") === 2L)
    // doc 12: no grams, NULL novelty
    assert(r(12L).getAs[Long]("n_grams") === 0L)
    assert(r(12L).isNullAt(r(12L).fieldIndex("novelty")))
  }

  test("noveltyAgainstStore: the store join builds the batch side " +
    "(no sort-merge against the index)") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_nv_store_").toString
    Dedup.gramDfIndex(docs.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", 3)
      .write.mode("overwrite").parquet(dir)
    val store = spark.read.parquet(dir)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val plan = Dedup.noveltyAgainstStore(batch, "doc_id", "text", store, 3)
      .queryExecution.executedPlan.toString
    // the doc-key join-backs are batch-sized on BOTH sides (AQE
    // broadcasts them at runtime); the assertion that matters for
    // scale is the SHINGLE-key store probe: it must never sort-merge
    // (that would shuffle the index on gram hash)
    assert(!plan.contains("SortMergeJoin [shingle"),
      s"the gram index is shuffled instead of probed:\n$plan")
    assert(plan.contains("BroadcastHashJoin [shingle"),
      s"no broadcast probe of the store:\n$plan")
  }

  test("dedupKeepBest keeps the highest-score member, ties to lowest " +
    "key, singletons keep themselves") {
    import spark.implicits._
    val corpus = Seq(
      (1L, 10L), (2L, 30L),            // pair cluster: 2 wins on score
      (5L, 7L), (6L, 7L), (7L, 7L),    // chain cluster, tied: 5 wins
      (9L, 99L)                        // singleton
    ).toDF("id", "score")
    val pairs = Seq((1L, 2L), (5L, 6L), (6L, 7L)).toDF("a", "b")
    val r = Dedup.dedupKeepBest(corpus, "id", "score", pairs, "a", "b")
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getAs[Long]("kept") === 2L)
    assert(!r(1L).getAs[Boolean]("is_kept"))
    assert(r(2L).getAs[Boolean]("is_kept"))
    assert(r(2L).getAs[Long]("kept_score") === 30L)
    Seq(5L, 6L, 7L).foreach { v =>
      assert(r(v).getAs[Long]("kept") === 5L, s"member $v")
      assert(r(v).getAs[Long]("n_members") === 3L)
    }
    assert(r(9L).getAs[Boolean]("is_kept"))
    assert(r(9L).getAs[Long]("n_members") === 1L)
    assert(r(9L).getAs[Long]("component") === 9L)
  }

  test("noveltyScores: exact twins score 0, unique docs score 1, " +
    "sub-k docs surface with NULL") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),   // exact twin of 2
      (2L, "a b c d e f"),
      (3L, "p q r s t u"),   // fully unique
      (4L, "x y")            // < k tokens: no grams
    ).toDF("id", "text")
    val r = Dedup.noveltyScores(docs, "id", "text", k = 3)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getAs[Double]("novelty") === 0.0)
    assert(r(2L).getAs[Double]("novelty") === 0.0)
    assert(r(3L).getAs[Double]("novelty") === 1.0)
    assert(r(4L).getAs[Long]("n_distinct_grams") === 0L)
    assert(r(4L).isNullAt(r(4L).fieldIndex("novelty")))
  }

  test("noveltyScores: partial overlap counts only shared grams against " +
    "novelty") {
    import spark.implicits._
    // doc 2 = doc 1 minus its first token: shares all grams except
    // doc 1's first (a b c). doc 1: grams {abc,bcd,cde,def} — 1 novel
    // of 4; doc 2: {bcd,cde,def} — 0 novel of 3
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "b c d e f")).toDF("id", "text")
    val r = Dedup.noveltyScores(docs, "id", "text", k = 3)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getAs[Long]("n_distinct_grams") === 4L)
    assert(r(1L).getAs[Long]("n_novel") === 1L)
    assert(r(1L).getAs[Double]("novelty") === 0.25)
    assert(r(2L).getAs[Long]("n_novel") === 0L)
    assert(r(2L).getAs[Double]("novelty") === 0.0)
  }

  test("noveltyScores: within-doc gram repeats do not inflate df " +
    "(distinct-per-doc contract)") {
    import spark.implicits._
    // 'a b c' appears twice inside doc 1 and nowhere else: still
    // novel (df counts distinct docs)
    val docs = Seq(
      (1L, "a b c a b c"),
      (2L, "z z z z")).toDF("id", "text")
    val r = Dedup.noveltyScores(docs, "id", "text", k = 3)
      .collect().map(x => x.getLong(0) -> x).toMap
    // doc 1 distinct grams: {abc, bca, cab, abc} -> {abc,bca,cab}
    assert(r(1L).getAs[Long]("n_distinct_grams") === 3L)
    assert(r(1L).getAs[Long]("n_novel") === 3L)
    assert(r(1L).getAs[Double]("novelty") === 1.0)
    // doc 2: single distinct gram zzz, unique to it
    assert(r(2L).getAs[Long]("n_distinct_grams") === 1L)
    assert(r(2L).getAs[Double]("novelty") === 1.0)
  }

  test("containmentPairs: a quote is fully contained in its source " +
    "while Jaccard misses the pair, and the reverse direction fails " +
    "the threshold") {
    import spark.implicits._
    val article = (1 to 40).map(i => s"w$i").mkString(" ")
    val quote = (5 to 12).map(i => s"w$i").mkString(" ") // 8-token excerpt
    val other = (100 to 130).map(i => s"x$i").mkString(" ")
    val df = Seq((1L, article), (2L, quote), (3L, other))
      .toDF("doc_id", "text")
    val rows = Dedup.containmentPairs(df, "doc_id", "text",
        k = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    // quote → article: every quote shingle appears in the article
    assert(rows.contains((2L, 1L)), s"quote pair missing: ${rows.keys}")
    assert(rows((2L, 1L)).getAs[Double]("containment") === 1.0)
    // article → quote: 6/38 shingles — far below the threshold
    assert(!rows.contains((1L, 2L)), "reverse direction cleared 0.8")
    assert(!rows.keys.exists(p => p._1 == 3L || p._2 == 3L),
      "the disjoint doc paired with something")
    // and symmetric Jaccard would never have surfaced the pair
    val j = Dedup.ngramJaccardPairs(df, "doc_id", "text",
      k = 3, threshold = 0.5).collect()
    assert(j.isEmpty, "Jaccard unexpectedly caught the quote pair")
  }

  test("sampled band sweep (q256): the Wilson interval brackets the " +
      "exact recall (q254) for every swept band setting") {
    // the estimator's contract: running the truth pass on the 20%
    // stratum must still localize the exact full-corpus recall — at
    // this SF the interval is wide (n_true_sampled is small), which
    // is exactly what the interval is FOR; at production SF it
    // narrows as 1/sqrt(n)
    val exact = graft.queries.DedupQueries.q254LshBandSweep
      .run(spark, sf).collect()
      .map(r => r.getAs[Int]("bands") -> r.getAs[Double]("recall")).toMap
    val est = graft.queries.DedupQueries.q256LshBandSweepSampled
      .run(spark, sf).collect()
    assert(est.length == 3, s"expected 3 swept settings, got ${est.length}")
    est.foreach { r =>
      val b = r.getAs[Int]("bands")
      val (lo, hi) = (r.getAs[Double]("ci_lo"), r.getAs[Double]("ci_hi"))
      assert(lo <= hi && lo >= 0.0 && hi <= 1.0, s"bands=$b: bad CI [$lo, $hi]")
      assert(lo <= exact(b) && exact(b) <= hi,
        s"bands=$b: exact recall ${exact(b)} outside the sampled CI [$lo, $hi]")
    }
    // and the estimator's own point estimate is a valid probability
    est.foreach { r =>
      val p = r.getAs[Double]("recall_est")
      assert(p >= 0.0 && p <= 1.0)
    }
  }

  test("sampled recall audit (q261): every populated band's Wilson " +
      "interval brackets the exact per-band recall (q176), and the " +
      "full-corpus detected count matches the exact audit's total") {
    val exact = graft.queries.DedupQueries.q176LshRecallAudit
      .run(spark, sf).collect()
      .map(r => r.getAs[Int]("band") ->
        (r.getAs[Double]("recall"), r.getAs[Long]("n_detected"))).toMap
    val est = graft.queries.DedupQueries.q261LshRecallAuditSampled
      .run(spark, sf).collect()
    assert(est.nonEmpty, "sampled audit produced no bands")
    est.foreach { r =>
      val b = r.getAs[Int]("band")
      val (lo, hi) = (r.getAs[Double]("ci_lo"), r.getAs[Double]("ci_hi"))
      assert(lo <= hi && lo >= 0.0 && hi <= 1.0,
        s"band=$b: bad CI [$lo, $hi]")
      assert(exact.contains(b),
        s"sampled band $b absent from the exact audit")
      assert(lo <= exact(b)._1 && exact(b)._1 <= hi,
        s"band=$b: exact recall ${exact(b)._1} outside CI [$lo, $hi]")
    }
    // the detector's own output is measured unchanged: q261's exact
    // full-corpus detected-pair count equals the exact audit's total
    // (detected ⊆ truth by construction, so the audits partition the
    // same pair set)
    val nDetFull = est.head.getAs[Long]("n_detected_full")
    assert(nDetFull == exact.values.map(_._2).sum,
      s"n_detected_full $nDetFull != q176 total detected")
  }

  test("store-resident band sweep (q258) reproduces the from-scratch " +
      "sampled audit (q256) bit-for-bit from persisted artifacts") {
    // the persisted raw signatures and shingle dataset must yield
    // exactly the candidates, sampled truth, and Wilson interval the
    // from-scratch audit computes — otherwise the store lifecycle and
    // the tuning curve have drifted apart
    val cols = Seq("bands", "rows_per_band", "n_candidates",
      "n_cand_sampled", "n_true_sampled", "n_hit_sampled",
      "recall_est", "ci_lo", "ci_hi")
    def rows(q: graft.QuerySpec) = q.run(spark, sf)
      .select(cols.map(col): _*).orderBy(col("bands"))
      .collect().toSeq
    assert(rows(graft.queries.DedupQueries.q258StoreBandSweep) ==
      rows(graft.queries.DedupQueries.q256LshBandSweepSampled))
  }
}
