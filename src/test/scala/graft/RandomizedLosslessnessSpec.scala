package graft

import graft.functions.Exact
import graft.operators.{Dedup, EditDistanceJoin, Relational}
import org.apache.spark.sql.functions._

/** Randomized (seeded, deterministic) losslessness properties: the
  * sub-quadratic exact operators must equal their brute-force
  * references on adversarial random inputs — tiny vocabularies that
  * defeat frequency ordering, skewed string lengths, heavy duplicate
  * rates, interval sets with deep nesting. Example-based specs pin
  * known edges; these sweep the space around them. */
class RandomizedLosslessnessSpec extends SparkSpecBase {
  import spark.implicits._

  private val rng = new scala.util.Random(20260812L)

  test("prefixJaccardPairs ≡ brute force on random tiny-vocab corpora") {
    for (round <- 1 to 5) {
      val vocab = Vector.tabulate(3 + rng.nextInt(6))(i => s"w$i")
      val docs = (0 until 25 + rng.nextInt(25)).map { id =>
        val n = 1 + rng.nextInt(12)
        (id.toLong, Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      val t = Seq(0.3, 0.5, 0.8)(rng.nextInt(3))
      val got = Dedup.prefixJaccardPairs(docs, "doc_id", "text", t)
      val toks = docs.select(col("doc_id"),
        array_distinct(split(col("text"), " ")).as("tk"))
      val inter = size(array_intersect(col("ta"), col("tb")))
      val want = toks.select(col("doc_id").as("a"), col("tk").as("ta"))
        .crossJoin(toks.select(col("doc_id").as("b"), col("tk").as("tb")))
        .filter(col("a") < col("b"))
        .select(col("a"), col("b"), (inter.cast("double") /
          (size(col("ta")) + size(col("tb")) - inter).cast("double"))
          .as("jaccard"))
        .filter(col("jaccard") >= t)
      assertBagEqual(got, want)
    }
  }

  test("reservoirPerGroup salted prune ≡ single-window draw on random " +
      "skewed groups") {
    import graft.operators.Sampling
    for (round <- 1 to 5) {
      // deliberately skewed: one hot group holding most rows — the
      // exact shape the salting exists for
      val nGroups = 2 + rng.nextInt(4)
      val rows = (0 until 200 + rng.nextInt(200)).map { i =>
        val g = if (rng.nextInt(10) < 7) 0 else rng.nextInt(nGroups)
        (s"g$g", i.toLong + rng.nextInt(1000) * 1000L)
      }.distinct.toDF("grp", "k")
      val kCap = 1 + rng.nextInt(9)
      val salts = 2 + rng.nextInt(31)
      val salted = Sampling.reservoirPerGroup(rows, Seq("grp"), "k",
        kCap, salts = salts)
      val unsalted = Sampling.reservoirPerGroup(rows, Seq("grp"), "k",
        kCap, salts = 1)
      assertBagEqual(salted, unsalted)
    }
  }

  test("editDistancePairs ≡ brute force on random skewed-length strings") {
    for (round <- 1 to 5) {
      val alphabet = "abc" // tiny alphabet → dense near-collisions
      val rows = (0 until 30 + rng.nextInt(20)).map { id =>
        val len = rng.nextInt(12) // includes empty strings
        (id.toLong, Seq.fill(len)(alphabet(rng.nextInt(3))).mkString)
      }.toDF("key", "name")
      val d = 1 + rng.nextInt(3)
      val got = EditDistanceJoin.editDistancePairs(rows, "key", "name", d)
      val want = rows.select(col("key").as("a"), col("name").as("na"))
        .crossJoin(rows.select(col("key").as("b"), col("name").as("nb")))
        .filter(col("a") < col("b"))
        .select(col("a"), col("b"), levenshtein(col("na"), col("nb"))
          .as("dist"))
        .filter(col("dist") <= d)
      assertBagEqual(got, want)
    }
  }

  test("mergeIntervals ≡ sequential interval union on random nestings") {
    def reference(iv: Seq[(Long, Long)]): Seq[(Long, Long, Long)] = {
      val sorted = iv.sortBy(identity)
      val out = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long)]
      for ((s, e) <- sorted) {
        if (out.nonEmpty && s <= out.last._2)
          out.update(out.length - 1,
            (out.last._1, math.max(out.last._2, e), out.last._3 + 1))
        else out += ((s, e, 1L))
      }
      out.toSeq
    }
    for (round <- 1 to 5) {
      val iv = (0 until 30 + rng.nextInt(30)).map { _ =>
        val s = rng.nextInt(100).toLong
        (1, s, s + rng.nextInt(20).toLong)
      }
      val got = Relational.mergeIntervals(iv.toDF("k", "s", "e"), "k", "s", "e")
        .orderBy("island")
        .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
      assert(got == reference(iv.map(t => (t._2, t._3))),
        s"round $round diverged from the sequential reference")
    }
  }

  test("connectedComponents ≡ union-find on random sparse graphs") {
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      for ((a, b) <- edges) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // canonical label = min member, which union-by-min maintains
      parent.keys.map(v => v -> find(v)).toMap
    }
    for (round <- 1 to 3) {
      val n = 20 + rng.nextInt(20)
      val edges = (0 until n).map(_ =>
        (rng.nextInt(30).toLong, rng.nextInt(30).toLong))
        .filter(e => e._1 != e._2)
      val got = Dedup.connectedComponents(
          edges.toDF("a", "b"), "a", "b", maxIter = 30)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == unionFind(edges), s"round $round diverged from union-find")
    }
  }

  test("topP ≡ sequential prefix scan on random masses") {
    for (round <- 1 to 5) {
      val rows = (0 until 30 + rng.nextInt(40)).map { i =>
        (s"g${i % 3}", i.toLong, (1 + rng.nextInt(100)).toLong)
      }
      val p = Seq(0.25, 0.5, 0.8, 0.95)(rng.nextInt(4))
      val got = Relational
        .topP(rows.toDF("grp", "item", "mass"), Seq("grp"), "mass",
          "item", p)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      // reference: per group, walk (mass desc, item asc) keeping rows
      // while the mass before them is < p·total
      // NB: .toSeq before flatMap — flatMapping a Map with pair
      // results would rebuild a Map and silently collapse per-group
      // keys
      val want = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
        val tot = rs.map(_._3).sum.toDouble
        val sorted = rs.sortBy(r => (-r._3, r._2))
        sorted.zip(sorted.scanLeft(0L)(_ + _._3))
          .collect { case ((_, item, _), before)
            if before.toDouble / tot < p => (g, item) }
      }.toSet
      assert(got == want, s"round $round p=$p diverged")
    }
  }

  test("mixtureWaterfill ≡ a sequential waterfilling reference on " +
      "random supplies, weights, and budgets") {
    import graft.operators.Sampling
    for (round <- 1 to 6) {
      val nSrc = 2 + rng.nextInt(5)
      val sources = (0 until nSrc).map(i => s"s$i")
      // docs: (source, key, n_tok); skewed supplies so saturation
      // cascades of varying depth actually occur
      val rows = sources.zipWithIndex.flatMap { case (s, si) =>
        val nDocs = 1 + rng.nextInt(20) * (if (si == 0) 5 else 1)
        (0 until nDocs).map(d =>
          (s, (si * 1000 + d).toLong, (1 + rng.nextInt(50)).toLong))
      }
      val weights = sources.map(_ -> (1 + rng.nextInt(500))).toMap
      val supply = rows.groupBy(_._1).map { case (s, rs) =>
        s -> rs.map(_._3).sum }
      val budget = 1L + rng.nextInt(supply.values.sum.toInt)
      val got = Sampling.mixtureWaterfill(rows.toDF("src", "k", "n_tok"),
          "src", "k", "n_tok", weights, budget)
        .select(col("src"), col("permille")).distinct()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // sequential reference: 4 rounds of saturate-and-renormalize,
      // then the final proportional share, floored to permille
      var sat = Map.empty[String, Double]
      for (_ <- 1 to 4) {
        val done = sat.values.sum
        val wAct = sources.filterNot(sat.contains).map(weights).sum
        if (wAct > 0) {
          val newly = sources.filterNot(sat.contains).filter { s =>
            (budget - done) * weights(s).toDouble / wAct >=
              supply(s).toDouble
          }
          sat = sat ++ newly.map(s => s -> supply(s).toDouble)
        }
      }
      val doneF = sat.values.sum
      val wActF = sources.filterNot(sat.contains).map(weights).sum
      val want = sources.map { s =>
        val alloc =
          if (sat.contains(s)) sat(s)
          else if (wActF > 0)
            math.min(supply(s).toDouble,
              (budget - doneF) * weights(s).toDouble / wActF)
          else 0.0
        s -> math.min(1000L,
          math.floor(1000.0 * alloc / supply(s).toDouble).toLong)
      }.toMap
      // the operator's output drops sources whose permille sampled 0
      // rows; compare on the sources it reports and check the rest
      // really were entitled to (almost) nothing
      for ((s, p) <- got) assert(p == want(s),
        s"round $round src=$s got=$p want=${want(s)} " +
          s"(weights=$weights budget=$budget supply=$supply)")
      // conservation: the floored allocations never exceed the budget
      val spent = want.map { case (s, p) => p * supply(s) / 1000.0 }.sum
      assert(spent <= budget.toDouble + 1e-6,
        s"round $round overspent: $spent > $budget")
    }
  }

  test("boilerplateRemoval ≡ a brute-force reference on random " +
      "small multi-site corpora") {
    for (round <- 1 to 5) {
      val vocab = Vector.tabulate(4 + rng.nextInt(4))(i => s"w$i")
      val k = 3
      val minDf = 2L
      val docs = (0 until 12 + rng.nextInt(12)).map { id =>
        val n = 2 + rng.nextInt(10)
        (id.toLong, s"site${id % 2}",
          Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" "))
      }
      val got = Dedup.boilerplateRemoval(docs.toDF("id", "site", "text"),
          "id", "site", "text", k = k, minDf = minDf)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(4)))).toMap
      // reference: per site, count distinct-doc frequency of each
      // k-window string; windows with df >= minDf mark [pos, pos+k)
      // for removal in EVERY doc containing them; merge, cut, count
      val bySite = docs.groupBy(_._2)
      val boiler: Map[String, Set[Seq[String]]] = bySite.map {
        case (site, ds) =>
          val dfs = ds.flatMap { case (id, _, t) =>
            val toks = t.split(" ").toSeq
            toks.sliding(k).filter(_.size == k).map(w => (w, id)).toSet
          }.groupBy(_._1).map { case (w, occ) =>
            w -> occ.map(_._2).distinct.size }
          site -> dfs.collect {
            case (w, df) if df >= minDf => w }.toSet
      }
      for ((id, site, t) <- docs) {
        val toks = t.split(" ").toSeq
        val marked = toks.indices.filter { i =>
          i + k <= toks.size && boiler(site)(toks.slice(i, i + k))
        }.flatMap(i => i until i + k).toSet
        val (n, removed, clean) = got(id)
        assert(n == toks.size.toLong, s"round $round doc $id n_tokens")
        assert(removed == marked.size.toLong,
          s"round $round doc $id removed: got $removed " +
            s"want ${marked.size} (text='$t')")
        assert(clean == (toks.size - marked.size).toLong,
          s"round $round doc $id clean count")
      }
    }
  }

  test("noveltyScores ≡ brute-force df counting on random tiny-vocab " +
      "corpora (novelty within [0,1], twins agree)") {
    for (round <- 1 to 4) {
      val vocab = Vector.tabulate(4 + rng.nextInt(5))(i => s"t$i")
      val docs = (0 until 20 + rng.nextInt(20)).map { id =>
        val n = 3 + rng.nextInt(10)
        (id.toLong, Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      val got = Dedup.noveltyScores(docs, "doc_id", "text", k = 3)
        .collect().map(r => r.getLong(0) -> r).toMap
      // brute force over gram strings
      val gramsOf = docs.collect().map { r =>
        val toks = r.getString(1).split(" ")
        r.getLong(0) -> toks.sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet
      }.toMap
      gramsOf.foreach { case (id, gs) =>
        val novel = gs.count(g =>
          !gramsOf.exists { case (o, og) => o != id && og.contains(g) })
        assert(got(id).getAs[Long]("n_distinct_grams") === gs.size.toLong,
          s"round $round doc $id grams")
        assert(got(id).getAs[Long]("n_novel") === novel.toLong,
          s"round $round doc $id novel")
        if (gs.nonEmpty) {
          val nv = got(id).getAs[Double]("novelty")
          assert(nv >= 0.0 && nv <= 1.0)
        }
      }
    }
  }

  test("dedupKeepBest keeps exactly one member per component and " +
      "never a lower score than any member (random graphs)") {
    for (round <- 1 to 4) {
      val n = 10 + rng.nextInt(15)
      val corpus = (0 until n).map(i =>
        (i.toLong, rng.nextInt(5).toLong)).toDF("id", "score")
      val pairs = (0 until n / 2).map { _ =>
        val a = rng.nextInt(n).toLong
        val b = rng.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct.toDF("a", "b")
      val scores = corpus.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val rows = Dedup.dedupKeepBest(corpus, "id", "score",
        pairs, "a", "b").collect()
      assert(rows.length === n, s"round $round row count")
      val byComp = rows.groupBy(_.getAs[Long]("component"))
      byComp.foreach { case (comp, members) =>
        val kept = members.filter(_.getAs[Boolean]("is_kept"))
        assert(kept.length === 1, s"round $round comp $comp keeps")
        val ks = kept.head.getAs[Long]("kept_score")
        members.foreach { m =>
          assert(ks >= scores(m.getLong(0)),
            s"round $round comp $comp member ${m.getLong(0)}")
        }
      }
    }
  }

  test("c4Filter reassembly invariants on random line soups") {
    import graft.operators.LineFilter
    for (round <- 1 to 4) {
      val words = Vector("alpha", "beta", "gamma", "delta", "eps")
      val docs = (0 until 25).map { id =>
        val lines = (0 until 1 + rng.nextInt(8)).map { _ =>
          val n = 1 + rng.nextInt(8)
          val body = Seq.fill(n)(words(rng.nextInt(words.size)))
            .mkString(" ")
          if (rng.nextBoolean()) body + "." else body
        }
        (id.toLong, lines.mkString("\n"))
      }.toDF("id", "text")
      val rows = LineFilter.c4Filter(docs, "id", "text").collect()
      rows.foreach { r =>
        val (nl, nk) = (r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept"))
        assert(nk <= nl, "kept more lines than existed")
        assert(r.getAs[Long]("n_fail_punct") <= nl)
        assert(r.getAs[Long]("n_fail_words") <= nl)
        // a line failing any rule is not kept: kept + (fail union) >= n_lines
        assert(nk + r.getAs[Long]("n_fail_punct") +
          r.getAs[Long]("n_fail_words") + r.getAs[Long]("n_fail_js") >= nl,
          "rule counts cannot cover the dropped lines")
      }
    }
  }

  test("holt ≡ the sequential recursion on random series") {
    import graft.operators.Resample
    def r6(v: Double) = math.round(v * 1e6) / 1e6
    for (round <- 1 to 5) {
      val nKeys = 1 + rng.nextInt(4)
      val rows = (0 until nKeys).flatMap { k =>
        val n = 2 + rng.nextInt(30)
        (0 until n).map(t =>
          (s"k$k", t, r6(rng.nextDouble() * 1000 - 200)))
      }.toDF("k", "t", "v")
      val (a, b) = (0.5, 0.25)
      val got = Resample.holt(rows, "k", "t", "v", a, b).collect()
        .map(r => r.getAs[String]("k") ->
          (r.getAs[Double]("level"), r.getAs[Double]("trend"))).toMap
      rows.collect().groupBy(_.getString(0)).foreach { case (k, rs) =>
        val ys = rs.sortBy(_.getInt(1)).map(_.getDouble(2))
        var (l, bb) = (ys(0), ys(1) - ys(0))
        ys.drop(2).foreach { y =>
          val nl = a * y + (1.0 - a) * (l + bb)
          val nb = b * (a * (y - l) + (1.0 - a) * bb) + (1.0 - b) * bb
          l = nl; bb = nb
        }
        assert(got(k) === ((r6(l) + 0.0, r6(bb) + 0.0)),
          s"$k drifted from the sequential fold")
      }
    }
  }

  test("basket pairRules ≡ brute-force co-occurrence counting on " +
    "random baskets (the Apriori prune is lossless)") {
    import graft.operators.Basket
    for (round <- 1 to 4) {
      val nItems = 4 + rng.nextInt(8)
      val rows = (0 until 60 + rng.nextInt(60)).flatMap { bkt =>
        val sz = 1 + rng.nextInt(6)
        Seq.fill(sz)((bkt.toLong, rng.nextInt(nItems).toLong))
      }.toDF("basket", "item")
      val floor0 = 2 + rng.nextInt(3)
      val got = Basket.pairRules(rows, "basket", "item",
          minPairCount = floor0, k = 10000)
        .select(col("item_a"), col("item_b"), col("n_pair"))
      val it = rows.distinct()
      val want = it.alias("x").join(it.alias("y"),
          col("x.basket") === col("y.basket") &&
            col("x.item") < col("y.item"))
        .groupBy(col("x.item").as("item_a"), col("y.item").as("item_b"))
        .agg(count(lit(1)).as("n_pair"))
        .filter(col("n_pair") >= floor0)
      assertBagEqual(got, want)
    }
  }

  test("one-shuffle Count-Min and histogram store folds ≡ the single " +
      "batch sketch of the union, cell for cell") {
    import graft.operators.{Audit, CountMin}
    val r = new scala.util.Random(20261017L)
    for (round <- 1 to 3) {
      // 3–5 batches over a tiny domain: heavy repeats, NULLs, and an
      // empty batch now and then
      val batches = Seq.fill(3 + r.nextInt(3)) {
        Seq.fill(r.nextInt(60)) {
          if (r.nextInt(6) == 0) None else Some(r.nextInt(9).toLong)
        }.toDF("v")
      }
      val dir = java.nio.file.Files.createTempDirectory("graft_fold_eq")
      val cm = dir.resolve("cm").toString
      val hist = dir.resolve("hist").toString
      batches.zipWithIndex.foreach { case (b, i) =>
        CountMin.foldIntoStore(b, "v", cm, 3, 16, batchId = Some(i.toLong))
        Audit.histogramFoldIntoStore(b, "v", hist, batchId = Some(i.toLong))
      }
      val union = batches.reduce(_.unionByName(_))
      assertBagEqual(CountMin.readStore(spark, cm).cells,
        CountMin.sketch(union, Seq.empty, "v", 3, 16))
      assertBagEqual(Audit.readHistogramStore(spark, hist),
        union.groupBy(col("v").cast("long").as("bucket"))
          .agg(count(lit(1)).as("cnt")))
    }
  }

  test("sliceAggregate ≡ the multiJoin and newKeysOnly ∪ forms of " +
      "q17, q48 and q49, and of a NULL-keyed pair of slices") {
    import graft.queries.{ProtocolQueries, RelationalQueries}
    import Relational.{Slice, SliceAgg}
    import org.apache.spark.sql.{Column, DataFrame}
    val r = new scala.util.Random(20261018L)
    def at(y: Int, m: Int, d: Int) =
      java.sql.Timestamp.valueOf(f"$y-$m%02d-$d%02d 00:00:00")
    // the reference forms: each side its own aggregate, joined on the keys
    def monthly(o: DataFrame, p: Column) = o
      .select(year(col("o_orderdate")).as("year"),
        month(col("o_orderdate")).as("month"), p.as("p"))
    def ts(v: String) = to_timestamp(lit(s"$v 00:00:00"))
    val keys = Seq("year", "month")
    def q17Ref(o: DataFrame) = {
      val om = o.withColumn("m", trunc(col("o_orderdate"), "month"))
      Relational.multiJoin(Seq(
        om.groupBy(col("m")).agg(count(lit(1)).as("value_ORDERS")),
        om.groupBy(col("m"))
          .agg(Exact.dsum(col("o_totalprice")).as("value_REVENUE")),
        om.filter(col("o_orderstatus") === "O")
          .groupBy(col("m")).agg(count(lit(1)).as("value_OPEN"))), Seq("m"))
    }
    def q48Ref(o: DataFrame) = {
      def side(f: Column, bump: Double) =
        monthly(o.filter(f), col("o_totalprice") + bump)
          .groupBy(keys.map(col): _*).agg(Exact.dsum(col("p")).as("total"))
      val d = col("o_orderdate")
      val sink = side(d < ts("1997-01-01"), 0)
      sink.unionByName(Relational.newKeysOnly(
        side(d >= ts("1996-01-01") && d < ts("1998-01-01"), 1000), sink, keys))
    }
    def q49Ref(o: DataFrame) = {
      def side(f: Column, scale: Double) =
        monthly(o.filter(f), col("o_totalprice") * scale)
          .groupBy(keys.map(col): _*)
          .agg(Exact.dsum(col("p")).as("total"), count(lit(1)).as("n"))
      val d = col("o_orderdate")
      val updates = side(d >= ts("1997-01-01") && d < ts("1999-01-01"), 2)
      Relational.newKeysOnly(side(d < ts("1998-01-01"), 1), updates, keys)
        .unionByName(updates)
    }
    def orders(
        rows: Seq[(Option[java.sql.Timestamp], Option[String], Option[Double])]) =
      rows.toDF("o_orderdate", "o_orderstatus", "o_totalprice")
    def random(n: Int, years: Range) = Seq.fill(n) {
      val y = years(r.nextInt(years.size)); val m = 1 + r.nextInt(12)
      // June 1996 never has an 'O' order: q17 must drop that month
      val status = if (y == 1996 && m == 6) "F" else Seq("O", "F", "P")(r.nextInt(3))
      (if (r.nextInt(10) == 0) None else Some(at(y, m, 1 + r.nextInt(28))),
        if (r.nextInt(10) == 0) None else Some(status),
        if (r.nextInt(10) == 0) None else Some(r.nextInt(100000) / 100.0))
    }
    val inputs = Seq(
      orders(Nil), // empty input: every slice empty
      orders(random(30, 1995 to 1996)), // no updates, no 1997+ candidates
      orders(random(30, 1998 to 1999)), // empty sink and base slices
      orders(random(40, 1995 to 1999).map(o => (o._1, Some("F"), o._3))) // no 'O'
    ) ++ Seq.fill(4)(orders(random(20 + r.nextInt(60), 1995 to 1999)))
    inputs.foreach { o =>
      assertBagEqual(RelationalQueries.macroSeries(o), q17Ref(o))
      assertBagEqual(ProtocolQueries.dedupAppend(o), q48Ref(o))
      assertBagEqual(ProtocolQueries.upsertPartition(o), q49Ref(o))
    }
    // NULL keys: the pick must match the null-safe anti-join, and the
    // inner join must drop the NULL key
    for (round <- 1 to 4) {
      val df = Seq.fill(r.nextInt(50)) {
        (if (r.nextInt(4) == 0) None else Some(r.nextInt(6)),
          r.nextInt(3), if (r.nextInt(8) == 0) None else Some(r.nextInt(50).toLong))
      }.toDF("k", "side", "v")
      val slices = Seq(
        Slice("a", col("side") === 0, SliceAgg("a_v", sum(_), col("v"))),
        Slice("b", col("side") =!= 2, SliceAgg("b_v", max(_), col("v"))))
      val fused = Relational.sliceAggregate(df, Seq(col("k")), slices)
      val a = df.filter(col("side") === 0).groupBy(col("k")).agg(sum(col("v")).as("v"))
      val b = df.filter(col("side") =!= 2).groupBy(col("k")).agg(max(col("v")).as("v"))
      assertBagEqual(
        fused.select(col("k"),
          when(col("a") > 0, col("a_v")).otherwise(col("b_v")).as("v")),
        a.unionByName(Relational.newKeysOnly(b, a, Seq("k"))))
      assertBagEqual(
        fused.filter(col("k").isNotNull && col("a") > 0 && col("b") > 0)
          .select(col("k"), col("a_v"), col("b_v")),
        Relational.multiJoin(Seq(a.withColumnRenamed("v", "a_v"),
          b.withColumnRenamed("v", "b_v")), Seq("k")))
    }
  }
}
