package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpecBase {
  import spark.implicits._

  test("cosine matches a hand computation") {
    val df = Seq((Array(1.0, 0.0, 1.0), Array(1.0, 1.0, 0.0)))
      .toDF("a", "b")
    val sim = df.select(Similarity.cosine(col("a"), col("b"))).head.getDouble(0)
    assert(math.abs(sim - 0.5) < 1e-12) // dot=1, norms=sqrt(2)*sqrt(2)
  }

  test("native codegen cosine is bit-identical to the HOF baseline") {
    val e = Tables.embeddings(spark, sf).limit(200)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pairs = e.alias("x").join(e.alias("y"),
      col("x.vec_id") < col("y.vec_id"))
    val diffs = pairs.select(
        Similarity.cosine(col("x.v"), col("y.v")).as("native"),
        Similarity.cosineHof(col("x.v"), col("y.v")).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diffs.isEmpty)
  }

  test("CosineSimilarity and DotProduct evaluate bit-identically " +
      "interpreted and codegen'd") {
    // these two are the ONLY graft expressions whose doGenCode
    // hand-writes the Java loop instead of invoking the same static
    // helper eval uses (MinHashSig/SimHash/headers call one object
    // method from both paths — divergence inexpressible there), so
    // they are the two places interpreted/codegen drift is possible;
    // pin bit-equality over real vectors plus the edge shapes
    // (length mismatch → min-length loop; zero vector → NaN, compared
    // via raw bits)
    val e = Tables.embeddings(spark, sf).limit(64)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pairs = e.alias("x").join(e.alias("y"),
        col("x.vec_id") < col("y.vec_id"))
      .select(col("x.v").as("a"), col("y.v").as("b"))
    val edges = Seq(
      (Array(1.0, 2.0, 3.0), Array(1.0, 2.0)),        // length mismatch
      (Array(0.0, 0.0), Array(1.0, 1.0)),             // zero vector → NaN
      (Array.empty[Double], Array.empty[Double]))     // empty → NaN
      .toDF("a", "b")
    def run(df: org.apache.spark.sql.DataFrame,
            mode: String): Array[(Long, Long)] = {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try df.select(
          graft.plans.CosineSimilarity(col("a"), col("b")).as("c"),
          graft.plans.DotProduct(col("a"), col("b")).as("d"))
        .collect()
        .map(r => (java.lang.Double.doubleToRawLongBits(r.getDouble(0)),
          java.lang.Double.doubleToRawLongBits(r.getDouble(1))))
      finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    Seq(pairs, edges).foreach { df =>
      assert(run(df, "CODEGEN_ONLY").sameElements(run(df, "NO_CODEGEN")))
    }
  }

  test("cosine_sim is SQL-callable via GraftExtensions") {
    val s2 = spark.newSession()
    // extension injection happens at session build
    // (spark.sql.extensions=graft.plans.GraftExtensions); for a live
    // session, register through the function registry directly
    s2.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim",
      exprs => graft.plans.CosineSimilarity(exprs.head, exprs(1)),
      "scala_udf")
    val r = s2.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS s")
      .head.getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("LSH top-k finds planted near-duplicate vectors") {
    // Random 64-d vectors are near-orthogonal — every candidate looks
    // alike, so exact-top-k recall there measures noise, not the
    // operator. Plant true neighbors instead: exact copies under new
    // ids MUST land in the query's own bucket and rank first.
    val e = Tables.embeddings(spark, sf)
    val queries = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val planted = e.filter(col("vec_id") < 16)
      .select((col("vec_id") + 10000).as("c_id"), col("embedding").as("c_vec"))
    val corpus = e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      .unionByName(planted)
    val top1 = Similarity.lshTopK(queries, corpus, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = (0L until 16L).count(q => top1.get(q).contains(q + 10000))
    assert(hits == 16, s"only $hits/16 planted duplicates found at rank 1")
  }

  test("Aggregator top-k equals the window top-k plan") {
    val e = Tables.embeddings(spark, sf)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val corpus = e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val win = Similarity.bruteForceTopK(queries, corpus, 5)
      .select("q_id", "c_id", "sim")
    val agg = Similarity.bruteForceTopKAgg(queries, corpus, 5)
      .select("q_id", "c_id", "sim")
    assertBagEqual(win, agg)
  }

  test("IVF top-k finds planted duplicates through cell assignment") {
    val e = Tables.embeddings(spark, sf)
    val queries = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val planted = e.filter(col("vec_id") < 16)
      .select((col("vec_id") + 10000).as("c_id"), col("embedding").as("c_vec"))
    val corpus = e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      .unionByName(planted)
    val top1 = Similarity.ivfTopK(queries, corpus, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = (0L until 16L).count(q => top1.get(q).contains(q + 10000))
    assert(hits == 16, s"only $hits/16 planted duplicates found at rank 1")
  }

  test("semanticDedup drops planted copies toward their smaller id, keeps the rest") {
    // exact copies under shifted ids: a copy lands in its original's
    // cell (identical vector → identical assignment) at cosine 1.0,
    // so the copy must be dropped with dup_of = the original id;
    // originals with no smaller near-dup stay kept
    val e = Tables.embeddings(spark, sf)
    val planted = e.filter(col("vec_id") < 16 && col("vec_id") >= 1)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"),
        col("label"))
    val corpus = e.unionByName(planted)
    val got = Similarity.semanticDedup(corpus, "vec_id", "embedding",
        threshold = 0.999)
      .collect()
      .map(r => r.getLong(0) -> (r.getBoolean(2), r.getLong(4)))
      .toMap
    (1L until 16L).foreach { q =>
      assert(got(q + 10000) == (false, q),
        s"copy of $q: ${got(q + 10000)}")
    }
    // at threshold ~1.0 the near-orthogonal originals have no dups
    assert((1L until 16L).forall(q => got(q)._1), "an original was dropped")
    // greedy rule is deterministic: rerun produces identical flags
    val again = Similarity.semanticDedup(corpus, "vec_id", "embedding",
        threshold = 0.999)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(2), r.getLong(4)))
      .toMap
    assert(again == got)
  }

  test("IVF store lifecycle: write, probe, append admitted, re-probe flags them") {
    val dir = tempRoot("ivf_store_spec")
      .toString
    val e = Tables.embeddings(spark, sf)
    val store = e.filter(col("vec_id") < 100)
      .select(col("vec_id"), col("embedding"))
    Similarity.writeIvfStore(store, "vec_id", "embedding", dir,
      numCells = 8, kmeansIters = 1)
    assert(Similarity.ivfStoreIsCurrent(store, dir))
    val idx = Similarity.readIvfStore(spark, dir)
    // batch 1: a copy of store vec 3 (flagged) + novel vecs 100..104
    val copy = e.filter(col("vec_id") === 3)
      .select((col("vec_id") + 5000).as("vec_id"), col("embedding"))
    val novel = e.filter(col("vec_id") >= 100 && col("vec_id") < 105)
      .select((col("vec_id") + 6000).as("vec_id"), col("embedding"))
    val p1 = Similarity.semanticDedupAgainstStore(
        copy.unionByName(novel), "embedding", idx, 0.999)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p1 == Map(5003L -> 3L), s"stage-1 flags: $p1")
    // admit the novel vectors; a later copy of one must now be caught
    Similarity.appendToIvfStore(novel, "embedding", dir)
    val grown = Similarity.readIvfStore(spark, dir)
    assert(grown.vectors.count() == 105)
    val copy2 = e.filter(col("vec_id") === 102)
      .select((col("vec_id") + 7000).as("vec_id"), col("embedding"))
    val p2 = Similarity.semanticDedupAgainstStore(copy2, "embedding",
        grown, 0.999)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p2 == Map(7102L -> 6102L), s"stage-2 flags: $p2")
    // the grown store no longer matches the original corpus count
    assert(!Similarity.ivfStoreIsCurrent(store, dir))
  }

  test("IVF staleness checksum: a same-count id mutation reads " +
      "stale, and the grown-store probe answers from the gatelog " +
      "pointer stamp") {
    import graft.operators.Stores
    val dir = tempRoot("ivf_chk_").toString
    val e = Tables.embeddings(spark, sf)
    val store = e.filter(col("vec_id") < 100)
      .select(col("vec_id"), col("embedding"))
    Similarity.writeIvfStore(store, "vec_id", "embedding", dir,
      numCells = 8, kmeansIters = 1)
    assert(Similarity.ivfStoreIsCurrent(store, dir))
    // same count, one id swapped: only the manifest checksum can tell
    val mutated = store.filter(col("vec_id") =!= 3)
      .unionByName(e.filter(col("vec_id") === 200)
        .select(col("vec_id"), col("embedding")))
    assert(mutated.count() == store.count())
    assert(!Similarity.ivfStoreIsCurrent(mutated, dir),
      "a same-count id mutation read as current")
    // append records the running admitted stamp in the pointer
    val novel = e.filter(col("vec_id") >= 100 && col("vec_id") < 103)
      .select(col("vec_id"), col("embedding"))
    Similarity.appendToIvfStore(novel, "embedding", dir)
    assert(Stores.admittedStamp(spark, dir)._1 == 3L)
    assert(Similarity.ivfStoreIsCurrent(store.unionByName(novel), dir))
    assert(!Similarity.ivfStoreIsCurrent(
      mutated.unionByName(novel), dir))
  }

  test("semanticIntraBatchFlags keeps the min id of a within-batch " +
      "copy pair under the index's frozen centroids") {
    val dir = tempRoot("ivf_intra_spec")
      .toString
    val e = Tables.embeddings(spark, sf)
    val store = e.filter(col("vec_id") < 100)
      .select(col("vec_id"), col("embedding"))
    Similarity.writeIvfStore(store, "vec_id", "embedding", dir,
      numCells = 8, kmeansIters = 1)
    val idx = Similarity.readIvfStore(spark, dir)
    // two copies of vec 200 (neither in the store) + one lone novel
    val batch = e.filter(col("vec_id") === 200)
      .select((col("vec_id") + 5000).as("vec_id"), col("embedding"))
      .unionByName(e.filter(col("vec_id") === 200)
        .select((col("vec_id") + 6000).as("vec_id"), col("embedding")))
      .unionByName(e.filter(col("vec_id") === 201)
        .select((col("vec_id") + 7000).as("vec_id"), col("embedding")))
    Harness.reset(spark)
    val flags = Similarity.semanticIntraBatchFlags(batch, "embedding",
        idx.centroids, "vec_id", 0.999)
      .collect().map(_.getLong(0)).toSet
    assert(flags == Set(6200L), s"flags: $flags")
    val left = spark.sparkContext.getPersistentRDDs
    assert(left.size <= 1,
      s"wrapper leaked ${left.size} persistent RDDs")
  }

  test("MLlib BRP-LSH cross-check finds planted duplicates like the custom tier") {
    val e = Tables.embeddings(spark, sf)
    val queries = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val planted = e.filter(col("vec_id") < 16)
      .select((col("vec_id") + 10000).as("c_id"), col("embedding").as("c_vec"))
    val corpus = e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      .unionByName(planted)
    // an exact copy is at distance 0 — it collides in every projection
    // bucket, so rank 1 is guaranteed if the pipeline is wired right
    val top1 = graft.operators.MllibCrossCheck.brpTopK(queries, corpus, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = (0L until 16L).count(q => top1.get(q).contains(q + 10000))
    assert(hits == 16, s"only $hits/16 planted duplicates found at rank 1")
  }

  test("k-means refinement strictly improves IVF recall on a clustered corpus") {
    // Two true clusters on orthogonal axes, but BOTH seed centroids
    // (lowest ids) sit in cluster 0 — one tilted 0.3 along e2. Cluster
    // 1's members alternate a 0/0.2 e2 component, so the unrefined
    // cells split cluster 1 across both seeds and nprobe=1 misses the
    // other half. Two Lloyd's passes pull one centroid onto cluster 1,
    // consolidating it into a single cell. Fully deterministic — no RNG.
    def vec(e: Int, e2: Double, e3: Double): Array[Double] = {
      val v = Array.fill(8)(0.0); v(e) = 1.0; v(2) += e2; v(3) += e3; v
    }
    val seeds = Seq(0L -> vec(0, 0.0, 0.0), 1L -> vec(0, 0.3, 0.0))
    val cluster0 = (2 to 11).map(j => j.toLong -> vec(0, 0.0, 0.01 * j))
    val cluster1 = (0 to 9).map(j =>
      (100L + j) -> vec(1, 0.2 * (j % 2), 0.01 * j))
    val corpus = (seeds ++ cluster0 ++ cluster1).toDF("c_id", "c_vec")
    val queries = cluster1.filter(_._1 == 101L).toDF("q_id", "q_vec")
    val truth = Similarity.bruteForceTopK(queries, corpus, 5)
      .select("c_id").collect().map(_.getLong(0)).toSet
    def recall(iters: Int): Double = {
      val got = Similarity.ivfTopK(queries, corpus, 5, numCells = 2,
        nprobe = 1, kmeansIters = iters)
        .select("c_id").collect().map(_.getLong(0)).toSet
      truth.count(got.contains).toDouble / truth.size
    }
    val (r0, r2) = (recall(0), recall(2))
    assert(r2 > r0, s"refined recall $r2 not strictly above unrefined $r0")
    assert(r2 == 1.0, s"refined recall $r2 expected perfect on this corpus")
  }

  test("IVF contract guards fail fast on misuse") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 2)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    intercept[IllegalArgumentException] {
      Similarity.ivfTopK(q, c, 5, numCells = 5000)
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfTopK(q, c, 5, numCells = 4, nprobe = 9)
    }
    intercept[IllegalArgumentException] {
      Similarity.cosineNearDupPairs(c, "c_id", "c_vec", 0.5, blocks = 0)
    }
  }

  test("brute-force top-k respects k and excludes self") {
    val e = Tables.embeddings(spark, sf)
    val queries = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val corpus = e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val r = Similarity.bruteForceTopK(queries, corpus, 3).collect()
    assert(r.groupBy(_.getLong(0)).forall(_._2.length <= 3))
    assert(r.forall(row => row.getLong(0) != row.getLong(1)))
  }

  test("binaryCodes: identical vectors share a code; a planted twin " +
    "ranks first at hamming 0") {
    val e = Tables.embeddings(spark, sf)
    val twin = e.filter(col("vec_id") === 10)
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"),
        col("label"))
    val codes = Similarity.binaryCodes(
      e.select(col("vec_id"), col("embedding"), col("label"))
        .unionByName(twin), "vec_id", "embedding")
    val byId = codes.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(byId(10L) === byId(1010L), "twin codes differ")
    val queries = codes.filter(col("vec_id") === 10)
      .withColumnRenamed("vec_id", "q_id")
    val corpus = codes.withColumnRenamed("vec_id", "c_id")
    val top = Similarity.binaryHammingTopK(queries, corpus,
      "q_id", "c_id", 1).collect()
    assert(top.length === 1)
    assert(top.head.getLong(1) === 1010L, s"twin not top-1: ${top.head}")
    assert(top.head.getInt(2) === 0)
  }

  test("binaryCodes halves stay within 32 bits and are deterministic " +
    "under repartitioning") {
    val e = Tables.embeddings(spark, sf)
    val a = Similarity.binaryCodes(e, "vec_id", "embedding")
      .collect().map(_.toSeq).toSet
    val b = Similarity.binaryCodes(e.repartition(13), "vec_id",
      "embedding").collect().map(_.toSeq).toSet
    assert(a === b)
    a.foreach { row =>
      val (lo, hi) = (row(1).asInstanceOf[Long], row(2).asInstanceOf[Long])
      assert(lo >= 0L && lo < (1L << 32), s"lo out of range: $lo")
      assert(hi >= 0L && hi < (1L << 32), s"hi out of range: $hi")
    }
  }

  test("labelOutliers flags a planted far vector and only it") {
    // 9 vectors tightly clustered at (1, 0, 0) share label 0 with one
    // planted at (-1, 0, 0): the far vector dominates the spread, so
    // its z must clear the threshold while every clustered member's z
    // stays below it. A second label's clean cluster must see NO flag
    // (stats are per-label, not global).
    val rows = (0 until 9).map(i =>
        (i.toLong, Array(1.0f, 0.0f, i * 1e-4f), 0)) :+
      (9L, Array(-1.0f, 0.0f, 0.0f), 0)
    val clean = (10 until 14).map(i =>
      (i.toLong, Array(0.0f, 1.0f, i * 1e-4f), 1))
    val df = (rows ++ clean).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelOutliers(df, "vec_id", "embedding", "label")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out(9L)._2, s"planted far vector not flagged: ${out(9L)}")
    assert((0 until 9).forall(i => !out(i.toLong)._2),
      "a clustered member was flagged")
    assert((10 until 14).forall(i => !out(i.toLong)._2),
      "the clean label saw a flag")
  }

  test("labelOutliers is invariant under repartitioning") {
    val e = Tables.embeddings(spark, sf)
    val a = Similarity.labelOutliers(e, "vec_id", "embedding", "label")
      .collect().map(_.toSeq).toSet
    val b = Similarity.labelOutliers(e.repartition(13), "vec_id",
      "embedding", "label").collect().map(_.toSeq).toSet
    assert(a === b)
  }

  test("bitextMarginMine surfaces a planted translation pair with the " +
    "top margin and ties the margin out against its columns") {
    // plant: target 100 is (almost) source 0's vector — the one true
    // "translation"; every other target is a different label-1 vector.
    // The planted pair must be source 0's best candidate, accepted,
    // and carry the run's highest margin.
    val e = Tables.embeddings(spark, sf)
    val src = e.filter(col("label") === 0).orderBy(col("vec_id")).limit(4)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val firstSrc = src.agg(min(col("q_id"))).head.getLong(0)
    val planted = src.filter(col("q_id") === firstSrc)
      .select(lit(100000L).as("c_id"), col("q_vec").as("c_vec"))
    val tgt = e.filter(col("label") === 1)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      .unionByName(planted)
    val rows = Similarity.bitextMarginMine(src, tgt).collect()
      .map(r => r.getLong(0) -> r).toMap
    val best = rows(firstSrc)
    assert(best.getLong(1) === 100000L,
      s"planted pair not mined: ${best.mkString(",")}")
    assert(best.getBoolean(6), "planted pair not accepted")
    rows.values.foreach { r =>
      val (sim, ax, by, margin) = (r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))
      assert(math.abs(margin - BigDecimal(sim / ((ax + by) / 2))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
    assert(rows.values.map(_.getDouble(5)).max === best.getDouble(5),
      "planted pair does not carry the top margin")
  }

  test("bitextMarginMine divides a sub-k neighborhood by its actual " +
    "size, not k (the ratio-margin criterion's published mean)") {
    import spark.implicits._
    // 2 sources × 2 targets with k = 4: every neighborhood has 2
    // members, so a_x/b_y must be the mean of 2 sims — dividing by 4
    // (the old bias) would halve the denominators and inflate margins
    val src = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("q_id", "q_vec")
    val tgt = Seq((10L, Seq(1.0, 0.1)), (11L, Seq(0.1, 1.0)))
      .toDF("c_id", "c_vec")
    val out = Similarity.bitextMarginMine(src, tgt, k = 4)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size === 2)
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val n = math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum)
      BigDecimal(d / n).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    }
    val s00 = cos(Seq(1.0, 0.0), Seq(1.0, 0.1))
    val s01 = cos(Seq(1.0, 0.0), Seq(0.1, 1.0))
    // source 0's forward mean over its 2-candidate neighborhood
    val a0 = BigDecimal((s00 + s01) / 2.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(out(0L).getDouble(3) - a0) < 1e-9,
      s"a_x=${out(0L).getDouble(3)} — expected the 2-neighbor mean $a0")
  }

  test("q185 hard negatives never share the query's label and the " +
    "margin ties out against the positive") {
    val q = Queries.byName("q185_hard_negatives").run(spark, sf)
    val labels = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = q.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (qId, negLabel) = (r.getLong(0), r.getInt(2))
      assert(negLabel != labels(qId),
        s"q$qId mined a negative with its own label")
      val (sim, posSim, margin) =
        (r.getDouble(3), r.getDouble(5), r.getDouble(6))
      assert(math.abs(margin - (posSim - sim)) < 1e-9)
    }
    // ranks are 1..5 and sims descend within each query
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      val sorted = g.sortBy(_.getLong(4))
      assert(sorted.map(_.getLong(4)).toSeq == (1L to sorted.length))
      assert(sorted.map(_.getDouble(3)).toSeq
        .sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    }
  }

  test("kCenterCoreset picks one center per planted cluster and the " +
    "radius sequence never increases") {
    // three tight direction clusters — k=3 must land one center in each
    val mk = (base: Array[Double], eps: Double) =>
      base.zipWithIndex.map { case (v, i) => v + (if (i == 0) eps else 0.0) }
    val a = Array(1.0, 0.0, 0.0, 0.0)
    val b = Array(0.0, 1.0, 0.0, 0.0)
    val c = Array(0.0, 0.0, 1.0, 0.0)
    val rows = Seq(
      (0L, mk(a, 0.0)), (1L, mk(a, 0.01)), (2L, mk(a, 0.02)),
      (3L, mk(b, 0.0)), (4L, mk(b, 0.01)), (5L, mk(b, 0.02)),
      (6L, mk(c, 0.0)), (7L, mk(c, 0.01)), (8L, mk(c, 0.02)))
    val df = rows.toDF("id", "v")
    val out = Similarity.kCenterCoreset(df, "id", "v", k = 3).collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(0, 1, 2))
    val clusterOf = (id: Long) => id / 3
    assert(out.map(r => clusterOf(r.getLong(1))).toSet.size == 3,
      "k=3 centers must cover all three planted clusters")
    // assignment counts partition the 9 points, 3 per cluster
    assert(out.map(_.getLong(3)).sorted.toSeq == Seq(3L, 3L, 3L))
    val radii = out.flatMap(r =>
      if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    assert(radii.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)),
      s"k-center radii must be non-increasing: ${radii.toSeq}")
  }

  test("kCenterCoreset is invariant under repartitioning and leaves " +
    "no cached RDDs behind") {
    val e = Tables.embeddings(spark, sf).limit(60)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val r1 = Similarity.kCenterCoreset(e, "vec_id", "embedding", 4)
      .collect().toSeq
    val r2 = Similarity.kCenterCoreset(e.repartition(7), "vec_id",
      "embedding", 4).collect().toSeq
    assert(r1 == r2)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"operator must unpersist its working cache; leaked RDDs $leaked")
  }

  test("clusterQualityAudit: two clean clusters score silhouette 1, " +
      "zero intra distance, zero DB") {
    // seeds (kmeansIters = 0) are the two lowest ids: cells at [1,0]
    // and [0,1]; the third point duplicates cell 0's centroid, so
    // a = 0, b = 1 everywhere -> sil = 1, S_c = 0, DB term = 0/1 = 0
    val df = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)),
      (2L, Seq(1.0, 0.0))).toDF("id", "v")
    val out = Similarity.clusterQualityAudit(df, "id", "v",
        numCells = 2, kmeansIters = 0)
      .orderBy(col("cell")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(out.toSeq === Seq((0L, 2L, 1.0, 0.0, 0.0),
      (1L, 1L, 1.0, 0.0, 0.0)))
  }

  test("clusterQualityAudit: identical centroids are excluded from " +
      "the DB max and ties assign to the lowest cell") {
    // both seeds are [1,0]: every point ties -> cell 0, cell 1 empty;
    // the dcc = 0 pair is excluded so db_c coalesces to 0; sil = 0
    // for every point (a = b, or the 0/0 guard at the duplicate)
    val df = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(1.0, 0.0)),
      (2L, Seq(0.0, 1.0))).toDF("id", "v")
    val out = Similarity.clusterQualityAudit(df, "id", "v",
        numCells = 2, kmeansIters = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(out.toSeq === Seq((0L, 3L, 0.0, 0.333333, 0.0)))
  }

  test("centroidDriftAudit: converged clusters report zero shift and " +
      "zero reassignment") {
    // two pure orthogonal clusters; seeds (iters = 0) are already the
    // member means, so the refresh pass is a fixed point
    val df = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)),
      (2L, Seq(1.0, 0.0)), (3L, Seq(0.0, 1.0)), (4L, Seq(1.0, 0.0)))
      .toDF("id", "v")
    val out = Similarity.centroidDriftAudit(df, "id", "v",
        numCells = 2, kmeansIters = 0)
      .orderBy(col("cell")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4)))
    assert(out.toSeq === Seq((0L, 3L, 0.0, 0L, 0.0),
      (1L, 2L, 0.0, 0L, 0.0)))
  }

  test("centroidDriftAudit: unrefined seeds drift on real embeddings " +
      "and the audit is invariant under repartitioning") {
    val e = Tables.embeddings(spark, sf).limit(120)
    val r1 = Similarity.centroidDriftAudit(e, "vec_id", "embedding",
      numCells = 4, kmeansIters = 0).orderBy(col("cell")).collect()
    val r2 = Similarity.centroidDriftAudit(e.repartition(7), "vec_id",
      "embedding", numCells = 4, kmeansIters = 0)
      .orderBy(col("cell")).collect()
    assert(r1.toSeq == r2.toSeq)
    assert(r1.map(_.getLong(1)).sum === 120L)
    assert(r1.forall { r =>
      r.getDouble(2) >= 0.0 && r.getDouble(4) >= 0.0 &&
        r.getDouble(4) <= 1.0
    })
    // arbitrary-point seeds are not means: the refresh must move
    assert(r1.map(_.getDouble(2)).sum > 0.0,
      "seed centroids refreshed over real data must show drift")
  }

  test("ivfRecallSweep: a neighbor in the second-probed cell is found " +
      "exactly at nprobe 2, and recall reaches 1") {
    // seeds (iters = 0): cells at [1,0] and [0,1]; id2 sits in cell 0.
    // query 0's top-1 is id2 in its OWN first-probed cell (prank 1);
    // query 1's top-1 is also id2 — but cell 0 is query 1's SECOND
    // probe, so it appears only at nprobe 2
    val df = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)),
      (2L, Seq(0.9, 0.1))).toDF("id", "v")
    val out = Similarity.ivfRecallSweep(df, "id", "v",
        df.filter(col("id") < 2), "id", "v", k = 1,
        numCells = 2, kmeansIters = 0)
      .orderBy(col("nprobe")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(out.toSeq === Seq((1L, 1L, 2L, 0.5), (2L, 2L, 2L, 1.0)))
  }

  test("ivfRecallSweep is monotone, ends at recall 1, and is " +
      "invariant under repartitioning") {
    val e = Tables.embeddings(spark, sf).limit(100)
    val q = e.filter(col("vec_id") < 8)
    val r1 = Similarity.ivfRecallSweep(e, "vec_id", "embedding", q,
      "vec_id", "embedding", k = 3, numCells = 4, kmeansIters = 1)
      .orderBy(col("nprobe")).collect()
    val r2 = Similarity.ivfRecallSweep(e.repartition(7), "vec_id",
      "embedding", q, "vec_id", "embedding", k = 3, numCells = 4,
      kmeansIters = 1).orderBy(col("nprobe")).collect()
    assert(r1.toSeq == r2.toSeq)
    val recalls = r1.map(_.getDouble(3)).toSeq
    assert(recalls == recalls.sorted, "recall must be non-decreasing")
    assert(recalls.last === 1.0, "full probe depth must find every pair")
  }

  test("sampled nprobe sweep (q262): the Wilson interval brackets " +
      "the exact 80-query recall at every probe depth, the scan-cost " +
      "column is exact, and full depth finds every sampled pair") {
    // the exact anchor is the FULL 80-query sweep — the audit the
    // sampled row replaces (the query stratum estimates the query
    // POPULATION's recall; truth membership stays competition-exact
    // against the full corpus, so the estimator is unbiased and the
    // deterministic interval localizes the exact curve at this SF)
    val e = Tables.embeddings(spark, sf)
    val exact = Similarity.ivfRecallSweep(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 80), "vec_id", "embedding",
        k = 5, numCells = 16, kmeansIters = 1).collect()
      .map(r => r.getAs[Long]("nprobe") -> r.getAs[Double]("recall"))
      .toMap
    val est = graft.queries.SimilarityQueries.q262NprobeSweepSampled
      .run(spark, sf).collect()
    assert(est.length == 16, s"expected 16 depths, got ${est.length}")
    // a 95% interval read at 16 (correlated) depths is EXPECTED to
    // graze once in a while — the pin admits the nominal miss rate
    // (≥ 14/16 strictly bracketed) but bounds every miss to half a
    // recall point, so a biased estimator (the corpus-stratum design
    // this query deliberately avoids missed by 26 points at depth 1)
    // still fails loudly
    val bracketed = est.map { r =>
      val np = r.getAs[Long]("nprobe")
      val (lo, hi) = (r.getAs[Double]("ci_lo"), r.getAs[Double]("ci_hi"))
      assert(lo <= hi && lo >= 0.0 && hi <= 1.0,
        s"nprobe=$np: bad CI [$lo, $hi]")
      assert(lo - 0.005 <= exact(np) && exact(np) <= hi + 0.005,
        s"nprobe=$np: exact recall ${exact(np)} far outside CI [$lo, $hi]")
      lo <= exact(np) && exact(np) <= hi
    }
    assert(bracketed.count(identity) >= 14,
      s"only ${bracketed.count(identity)}/16 depths strictly bracketed")
    // the exact operator-side cost axis: n_scanned is non-decreasing
    // and at full depth equals queries × corpus (every cell scanned
    // for every query); recall_est reaches 1 at full depth (all
    // sampled truth cells probed)
    val scans = est.map(_.getAs[Long]("n_scanned")).toSeq
    assert(scans == scans.sorted, "n_scanned must be non-decreasing")
    assert(scans.last == 80L * e.count(),
      s"full-depth scan ${scans.last} != 80 * corpus")
    assert(est.last.getAs[Double]("recall_est") === 1.0,
      "full probe depth must find every sampled pair")
  }

  test("ivfRecallSweepSampled over a persisted store reproduces the " +
      "in-plan sampled sweep bit-for-bit on an unappended index") {
    // the q258 discipline for the nprobe curve: the routine sampled
    // audit must be runnable entirely off the index artifact without
    // the two paths drifting
    val e = Tables.embeddings(spark, sf).limit(200)
    val q = e.filter(col("vec_id") < 80)
    val dir = tempRoot("graft_ssweep_store").toString
    Similarity.writeIvfStore(e, "vec_id", "embedding", dir,
      numCells = 4, kmeansIters = 1)
    val fromStore = Similarity.ivfRecallSweepSampled(
        Similarity.readIvfStore(spark, dir), q, "vec_id", "embedding",
        k = 3).orderBy(col("nprobe")).collect().toSeq
    val inPlan = Similarity.ivfRecallSweepSampled(e, "vec_id",
        "embedding", q, "vec_id", "embedding", k = 3, numCells = 4,
        kmeansIters = 1).orderBy(col("nprobe")).collect().toSeq
    assert(fromStore == inPlan,
      "store-read sampled sweep diverged from the in-plan one")
    // and the truth really is the sampled stratum: fewer pairs than
    // the exact sweep's 80 × k
    assert(fromStore.head.getLong(3) < 80L * 3,
      "sampled truth count should be the stratum's, not the full set")
  }

  test("ivfRecallSweep over a persisted store equals the in-plan " +
      "sweep on an unappended index, and tracks appended rows") {
    val e = Tables.embeddings(spark, sf).limit(100)
    val q = e.filter(col("vec_id") < 8)
    val dir = tempRoot("graft_sweep_store").toString
    Similarity.writeIvfStore(e, "vec_id", "embedding", dir,
      numCells = 4, kmeansIters = 1)
    val store = Similarity.readIvfStore(spark, dir)
    // the store sweep reads frozen centroids + persisted cells; on an
    // unappended store it must equal the in-plan sweep bit-for-bit —
    // the tuning curve and the store lifecycle cannot drift
    val fromStore = Similarity.ivfRecallSweep(store, q, "vec_id",
      "embedding", k = 3).orderBy(col("nprobe")).collect().toSeq
    val inPlan = Similarity.ivfRecallSweep(e, "vec_id", "embedding", q,
      "vec_id", "embedding", k = 3, numCells = 4, kmeansIters = 1)
      .orderBy(col("nprobe")).collect().toSeq
    assert(fromStore == inPlan,
      "store-read sweep diverged from the in-plan sweep")
    // appended rows enter the curve's corpus (truth set AND cells):
    // grow the index and the pair count must grow with it
    Similarity.appendToIvfStore(
      Tables.embeddings(spark, sf)
        .filter(col("vec_id") >= 100 && col("vec_id") < 150),
      "embedding", dir)
    val grown = Similarity.ivfRecallSweep(
      Similarity.readIvfStore(spark, dir), q, "vec_id", "embedding",
      k = 3).orderBy(col("nprobe")).collect()
    assert(grown.head.getLong(2) == inPlan.head.getLong(2),
      "n_pairs is k x |queries| and must not change with corpus size")
    val recalls = grown.map(_.getDouble(3)).toSeq
    assert(recalls == recalls.sorted && recalls.last === 1.0,
      "the grown index's curve must stay monotone to 1")
    // an IntegerType-keyed store must sweep too: the store's cell ids
    // carry the raw id type (writeIvfStore does not cast), so the
    // overload's centroid collect must cast before reading longs
    val intIds = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0)),
      (2, Seq(0.9, 0.1)), (3, Seq(0.1, 0.9))).toDF("id", "v")
    val idir = tempRoot("graft_sweep_int").toString
    Similarity.writeIvfStore(intIds, "id", "v", idir,
      numCells = 2, kmeansIters = 0)
    val ints = Similarity.ivfRecallSweep(
      Similarity.readIvfStore(spark, idir),
      intIds.filter(col("id") < 2), "id", "v", k = 1)
      .orderBy(col("nprobe")).collect()
    assert(ints.last.getDouble(3) === 1.0,
      "int-keyed store sweep must reach recall 1")
  }

  test("clusterQualityAudit is invariant under repartitioning") {
    val e = Tables.embeddings(spark, sf).limit(80)
    val r1 = Similarity.clusterQualityAudit(e, "vec_id", "embedding",
      numCells = 4).orderBy(col("cell")).collect().toSeq
    val r2 = Similarity.clusterQualityAudit(e.repartition(7), "vec_id",
      "embedding", numCells = 4).orderBy(col("cell")).collect().toSeq
    assert(r1 == r2)
    assert(r1.forall { r =>
      val s = r.getDouble(2); s >= -1.0 && s <= 1.0
    })
  }
}
