package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Data-quality constraint audit (the validation gate a warehouse
  * load runs before publishing — SURVEY §2.10's write-gate protocol
  * generalized from one cardinality check to a constraint suite).
  * Produces one row per named constraint: `(check, n_violations)`.
  *
  * Scale shape: every ROW-LOCAL constraint (not-null, range, accepted
  * values, format) is a conditional-sum in ONE aggregate over ONE scan
  * — adding a constraint costs an expression, not a pass. Uniqueness
  * is one groupBy on the key (the only shuffle it needs); referential
  * integrity is one broadcast-able anti-join per dimension. The
  * result is metadata-sized: a gate can `collect()` it and refuse the
  * publish on any nonzero count (`Sinks`' gate pattern).
  */
object Audit {

  /** One-pass row-local constraint counts. Each (name, predicate) pair
    * counts rows where the predicate is NOT satisfied; a NULL
    * predicate result counts as a violation (ANSI three-valued logic
    * would otherwise let `col > 0` pass NULLs silently). */
  def rowChecks(df: DataFrame, checks: Seq[(String, Column)]): DataFrame = {
    require(checks.nonEmpty, "rowChecks needs at least one constraint")
    require(checks.map(_._1).distinct.length == checks.length,
      "constraint names must be unique")
    val aggs = checks.map { case (name, pred) =>
      sum(when(coalesce(pred, lit(false)), 0L).otherwise(1L)).as(name)
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(map(checks.flatMap { case (name, _) =>
        Seq(lit(name), coalesce(col(name), lit(0L))) }: _*))
        .as(Seq("check", "n_violations")))
  }

  /** Disparate-impact audit of a keep/drop gate (★ — the four-fifths
    * rule applied to corpus curation: a quality filter tuned on
    * majority-language text silently drops minority groups at higher
    * rates, and this is the per-group table that shows it BEFORE the
    * filtered corpus ships). Per group: document count, kept count,
    * keep rate, the ratio to the best group's rate, and the
    * `adverse_impact` flag (ratio < 4/5). One grouped aggregate over
    * one scan (the gate predicate evaluates inline); the best-rate
    * frame is a 1-row broadcast cross. Rates are exact-int ratios
    * rounded to 6; the ratio divides the two rounded doubles (both
    * engines identically); groups with a zero best rate (nothing kept
    * anywhere) report ratio 1 and no flag — there is no impact to
    * compare. */
  def selectionParity(df: DataFrame, groupCol: String,
                      keep: Column): DataFrame = {
    val rates = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(keep, 1L).otherwise(0L)).as("n_kept"))
      .select(col(groupCol), col("n_docs"), col("n_kept"),
        round(col("n_kept").cast("double") / col("n_docs").cast("double"),
          6).as("keep_rate"))
    val best = rates.agg(max(col("keep_rate")).as("best_rate"))
    // the flag tests the SAME round-6 ratio that is emitted, so a
    // borderline group can never report rate_ratio = 0.8 with
    // adverse_impact = true (a self-inconsistent row)
    val ratio = when(col("best_rate") > 0,
      round(col("keep_rate") / col("best_rate"), 6)).otherwise(lit(1.0))
    rates.crossJoin(broadcast(best))
      .select(col(groupCol), col("n_docs"), col("n_kept"),
        col("keep_rate"),
        ratio.as("rate_ratio"),
        (col("best_rate") > 0 && ratio < lit(0.8))
          .as("adverse_impact"))
  }

  /** DuckDB replay of [[selectionParity]] over table `rel`; emits a
    * CTE chain ending in `parity(<groupCol>, n_docs, n_kept,
    * keep_rate, rate_ratio, adverse_impact)`. */
  def sqlSelectionParity(rel: String, groupCol: String,
                         keepExpr: String): String =
    s"""prates AS (
       |  SELECT $groupCol, COUNT(*) AS n_docs,
       |    CAST(SUM(CASE WHEN $keepExpr THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_kept,
       |    round(CAST(SUM(CASE WHEN $keepExpr THEN 1 ELSE 0 END)
       |        AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS keep_rate
       |  FROM $rel GROUP BY 1),
       |pbest AS (SELECT max(keep_rate) AS best_rate FROM prates),
       |parity AS (
       |  SELECT $groupCol, n_docs, n_kept, keep_rate,
       |    CASE WHEN best_rate > 0
       |      THEN round(keep_rate / best_rate, 6) ELSE 1.0 END
       |      AS rate_ratio,
       |    (best_rate > 0 AND round(keep_rate / best_rate, 6) < 0.8)
       |      AS adverse_impact
       |  FROM prates CROSS JOIN pbest)""".stripMargin

  /** Duplicate-key count for a uniqueness constraint: the number of
    * EXTRA rows (rows beyond the first per key) — 0 iff unique. */
  def uniqueCheck(df: DataFrame, name: String,
                  keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .agg(coalesce(sum(col("__n") - 1L), lit(0L)).as("n_violations"))
      .select(lit(name).as("check"), col("n_violations"))

  /** Referential-integrity violation count: fact rows whose `factKey`
    * has no match in `dim.dimKey` (NULL keys violate too — a fact row
    * that can't join its dimension is orphaned either way). */
  def refCheck(fact: DataFrame, name: String, factKey: String,
               dim: DataFrame, dimKey: String): DataFrame =
    fact.select(col(factKey))
      .join(broadcast(dim.select(col(dimKey).as(factKey)).distinct()),
        Seq(factKey), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .select(lit(name).as("check"), col("n_violations"))

  /** The full gate: row-local + uniqueness + referential constraints,
    * one summary frame out. */
  def audit(df: DataFrame, rowConstraints: Seq[(String, Column)],
            uniqueKeys: Seq[(String, Seq[String])] = Nil,
            refs: Seq[(String, String, DataFrame, String)] = Nil)
      : DataFrame = {
    val parts =
      (if (rowConstraints.nonEmpty) Seq(rowChecks(df, rowConstraints))
       else Nil) ++
        uniqueKeys.map { case (name, keys) => uniqueCheck(df, name, keys) } ++
        refs.map { case (name, factKey, dim, dimKey) =>
          refCheck(df, name, factKey, dim, dimKey) }
    require(parts.nonEmpty, "audit needs at least one constraint")
    parts.reduce(_.unionByName(_))
  }

  /** Fold a batch's per-bucket counts into a persisted exact histogram
    * at `path` — the CountMin-store read-merge-write posture for a
    * spine-bounded histogram (kilobytes regardless of what it
    * summarized). The fold is counter addition, so the drained store
    * equals the histogram one batch build over the concatenated
    * stream would produce — the streaming drift monitor and the batch
    * q183 arithmetic cannot drift. The stored counts and the batch's
    * per-row increments (`cnt = 1`) are summed in ONE
    * `groupBy(bucket)`, not counted first and merged second.
    *
    * `batchId` (a foreachBatch id) makes the fold replay-idempotent:
    * a batch whose id is already stamped into the store is a no-op
    * (see [[Stores]] for why the stamp rides the histogram write). */
  def histogramFoldIntoStore(batch: DataFrame, bucketCol: String,
                             path: String,
                             batchId: Option[Long] = None,
                             writer: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val last = Stores.lastApplied(spark, path)
    if (batchId.exists(_ <= last)) return // replayed micro-batch
    val applied = math.max(last, batchId.getOrElse(-1L))
    val inc = batch.select(col(bucketCol).cast("long").as("bucket"),
      lit(1L).as("cnt"))
    val merged =
      (if (!Stores.payloadExists(spark, path)) inc
       else readHistogramStore(spark, path).unionByName(inc))
        .groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt"))
    // the merge reads the current generation and commits the next
    // (Stores.commitPayload), so read and write never touch the same
    // files and a crash mid-write cannot erase the committed counts;
    // the applied stamp rides the pointer flip itself
    Stores.commitPayload(spark, path, applied, writer) { dir =>
      merged.coalesce(1).write.mode("overwrite").parquet(dir)
    }
  }

  /** Schema of a persisted histogram — pinned on every read, so
    * reading the store launches no schema-inference job. */
  val HistogramSchema: StructType = new StructType()
    .add("bucket", LongType).add("cnt", LongType)

  def readHistogramStore(spark: org.apache.spark.sql.SparkSession,
                         path: String): DataFrame =
    Stores.readPayload(spark, path, Some(HistogramSchema))

  /** Laplace-smoothed population-stability-index terms between a
    * reference histogram and a current one over the dense
    * [0, numBuckets) spine — the q183 arithmetic factored so the
    * batch monitor and the streaming fold score with ONE formula:
    * p = (n + 1) / (total + numBuckets),
    * psi_term = round((p_cur − p_ref) · ln(p_cur / p_ref), 6).
    * Both inputs are (bucket, cnt); missing spine buckets count 0. */
  def psiTerms(ref: DataFrame, cur: DataFrame,
               numBuckets: Int): DataFrame = {
    val spark = ref.sparkSession
    val spine = spark.range(0, numBuckets).select(col("id").as("bucket"))
    val cnt = spine
      .join(ref.select(col("bucket"), col("cnt").as("n_ref")),
        Seq("bucket"), "left")
      .join(cur.select(col("bucket"), col("cnt").as("n_cur")),
        Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val tot = cnt.agg(sum(col("n_ref")).as("tr"), sum(col("n_cur")).as("tc"))
    def p(n: Column, t: Column): Column =
      (n + lit(1L)).cast("double") /
        (t + lit(numBuckets.toLong)).cast("double")
    cnt.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_ref"), col("n_cur"),
        round((p(col("n_cur"), col("tc")) - p(col("n_ref"), col("tr"))) *
          log(p(col("n_cur"), col("tc")) / p(col("n_ref"), col("tr"))),
          6).as("psi_term"))
  }

  /** Jensen–Shannon token-distribution drift, one row per group:
    * JS(P_g ‖ P_rest) in nats between the group's unigram
    * distribution and the REST of the corpus (Lin 1991 — the
    * symmetric, √-metrizable companion to [[psiTerms]]' PSI; the
    * standard "did this source/shard change the token mix" monitor).
    *
    * The distribution support is the top-`topK` GLOBAL tokens plus
    * one OTHER bucket — the vocabulary-bounded audit shape (a full
    * 100 TB vocabulary would make the per-term sum unbounded and the
    * statistic noise-dominated by hapaxes); Laplace smoothing
    * (n+1)/(t+topK+1) keeps empty cells finite, the q183 discipline.
    *
    * Scale shape: the corpus explodes ONCE; the spine is a
    * TakeOrdered top-`topK` aggregate broadcast back into the token
    * stream (equi-join on term), so per-(group, term) counts shuffle
    * only spine hits; the dense grid is |groups| × topK metadata
    * rows (the q183 bucket-spine cross) and the three totals are
    * 1-row broadcasts (the q76 shape). Per-term JS contributions
    * round to 6 dp and sum as DECIMAL(18,6) — order-insensitive, so
    * the statistic replays bit-for-bit in SQL.
    *
    * Output: (grp, n_tokens, js_nats), js_nats ∈ [0, ln 2]. */
  def jsTokenDrift(docs: DataFrame, groupCol: String, textCol: String,
                   topK: Int = 64): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(topK >= 1 && topK <= 4096,
      s"topK=$topK outside [1, 4096]: the token spine is broadcast")
    val k1 = (topK + 1).toLong
    val tok = docs.select(col(groupCol).as("grp"),
      explode(split(col(textCol), " ")).as("term"))
    val termCnt = tok.groupBy(col("term")).agg(count(lit(1)).as("n_glob"))
    val spine = termCnt.orderBy(col("n_glob").desc, col("term")).limit(topK)
    val grpTot = tok.groupBy(col("grp")).agg(count(lit(1)).as("tot_grp"))
    val nTot = tok.agg(count(lit(1)).as("n_tot"))
    val spineGlob = spine.agg(sum(col("n_glob")).as("spine_glob"))
    val grpTerm = tok.join(broadcast(spine.select(col("term"))), Seq("term"))
      .groupBy(col("grp"), col("term")).agg(count(lit(1)).as("n_grp"))
    def jsTerm(pn: Column, pt: Column, qn: Column, qt: Column): Column =
      jsTermCol(pn, pt, qn, qt, k1)
    val cells = grpTot.crossJoin(broadcast(spine))
      .join(grpTerm, Seq("grp", "term"), "left")
      .crossJoin(broadcast(nTot))
      .select(col("grp"), col("tot_grp"),
        coalesce(col("n_grp"), lit(0L)).as("n_grp"),
        jsTerm(coalesce(col("n_grp"), lit(0L)), col("tot_grp"),
          col("n_glob") - coalesce(col("n_grp"), lit(0L)),
          col("n_tot") - col("tot_grp")).as("t6"))
    val perGrp = cells.groupBy(col("grp"), col("tot_grp"))
      .agg(sum(col("t6").cast(DecimalType(18, 6))).as("sj"),
        sum(col("n_grp")).as("spine_grp"))
    perGrp.crossJoin(broadcast(nTot)).crossJoin(broadcast(spineGlob))
      .select(col("grp"), col("tot_grp").as("n_tokens"),
        round((col("sj") +
          jsTerm(col("tot_grp") - col("spine_grp"), col("tot_grp"),
            (col("n_tot") - col("spine_glob")) -
              (col("tot_grp") - col("spine_grp")),
            col("n_tot") - col("tot_grp")).cast(DecimalType(18, 6)))
          .cast("double"), 6).as("js_nats"))
  }

  /** The shared smoothed JS contribution: with k1 support cells,
    * p = (pn+1)/(pt+k1), q likewise, m = (p+q)/2 —
    * round(½p·ln(p/m) + ½q·ln(q/m), 6). */
  private def jsTermCol(pn: Column, pt: Column, qn: Column, qt: Column,
                        k1: Long): Column = {
    def p(n: Column, t: Column): Column =
      (n + lit(1L)).cast("double") / (t + lit(k1)).cast("double")
    val pp = p(pn, pt); val qq = p(qn, qt)
    val m = (pp + qq) / lit(2.0)
    round(lit(0.5) * pp * log(pp / m) + lit(0.5) * qq * log(qq / m), 6)
  }

  /** JS divergence between two (bucket, cnt) HISTOGRAMS — the
    * [[jsTokenDrift]] statistic computed from pre-aggregated counts,
    * so a persisted token-histogram store (built by
    * [[histogramFoldIntoStore]] / the streaming fold) can be scored
    * against a reference WITHOUT reprocessing any corpus: both inputs
    * are kilobyte summaries. The support is the REFERENCE's top-`topK`
    * buckets plus OTHER (the production monitoring convention — the
    * reference defines the vocabulary the monitor watches), Laplace
    * (n+1)/(t+topK+1), per-cell terms round-6 summed as
    * DECIMAL(18,6). Output one row: (n_ref, n_cur, js_nats). */
  def jsFromHistograms(ref: DataFrame, cur: DataFrame,
                       topK: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(topK >= 1 && topK <= 4096,
      s"topK=$topK outside [1, 4096]: the support spine is broadcast")
    val k1 = (topK + 1).toLong
    val spine = ref.orderBy(col("cnt").desc, col("bucket")).limit(topK)
      .select(col("bucket"), col("cnt").as("n_r"))
    val refTot = ref.agg(sum(col("cnt")).as("t_ref"))
    val curTot = cur.agg(sum(col("cnt")).as("t_cur"))
    val spineCur = spine
      .join(cur.select(col("bucket"), col("cnt").as("n_c")),
        Seq("bucket"), "left")
      .select(col("n_r"), coalesce(col("n_c"), lit(0L)).as("n_c"))
    val cells = spineCur.crossJoin(broadcast(refTot))
      .crossJoin(broadcast(curTot))
      .select(col("n_r"), col("n_c"), col("t_ref"), col("t_cur"),
        jsTermCol(col("n_r"), col("t_ref"), col("n_c"), col("t_cur"), k1)
          .as("t6"))
    val folded = cells.agg(
      sum(col("t6").cast(DecimalType(18, 6))).as("sj"),
      sum(col("n_r")).as("spine_r"), sum(col("n_c")).as("spine_c"),
      first(col("t_ref")).as("t_ref"), first(col("t_cur")).as("t_cur"))
    folded.select(col("t_ref").as("n_ref"), col("t_cur").as("n_cur"),
      round((col("sj") +
        jsTermCol(col("t_ref") - col("spine_r"), col("t_ref"),
          col("t_cur") - col("spine_c"), col("t_cur"), k1)
          .cast(DecimalType(18, 6))).cast("double"), 6).as("js_nats"))
  }

  /** Mutual information between two CATEGORICAL columns (nats) plus
    * both entropies and the normalized MI — the redundancy/leakage
    * audit run before adding a metadata column to a model's features
    * or a stratification key (NMI ≈ 1 means the columns are the same
    * signal; NMI ≈ 0 means independent). Intended for bounded-
    * cardinality columns: every statistic lives on the |A|·|B| joint
    * frame after ONE grouped corpus aggregate; marginals re-aggregate
    * that frame, N is a 1-row cross. Per-cell terms
    * (n_ab/N)·ln(n_ab·N/(n_a·n_b)) round to 6 dp and sum as
    * DECIMAL(18,6), the engine's order-insensitive log-sum rule.
    *
    * Output (one row): (n_rows, a_cats, b_cats, mi_nats, h_a, h_b,
    * nmi); nmi = mi/√(h_a·h_b), 0 when either entropy is 0. */
  def categoricalMi(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val joint = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("n_ab"))
    val ma = joint.groupBy(col("a")).agg(sum(col("n_ab")).as("n_a"))
    val mb = joint.groupBy(col("b")).agg(sum(col("n_ab")).as("n_b"))
    val nTot = joint.agg(sum(col("n_ab")).as("n"),
      count(lit(1)).as("cells"))
    def fold6(c: Column): Column =
      sum(c.cast(DecimalType(18, 6))).cast("double")
    val mi = joint.join(ma, Seq("a")).join(mb, Seq("b"))
      .crossJoin(broadcast(nTot))
      .select(round((col("n_ab").cast("double") / col("n").cast("double"))
        * log((col("n_ab") * col("n")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")), 6).as("t"))
      .agg(round(fold6(col("t")), 6).as("mi_nats"))
    def entropy(m: DataFrame, cnt: String): DataFrame = m
      .crossJoin(broadcast(nTot.select(col("n"))))
      .select(round((col(cnt).cast("double") / col("n").cast("double"))
        * -log(col(cnt).cast("double") / col("n").cast("double")), 6)
        .as("t"))
      .agg(round(fold6(col("t")), 6).as("h"))
    val ha = entropy(ma, "n_a")
    val hb = entropy(mb, "n_b")
    val aCats = ma.agg(count(lit(1)).as("a_cats"))
    val bCats = mb.agg(count(lit(1)).as("b_cats"))
    nTot.select(col("n").as("n_rows"))
      .crossJoin(broadcast(aCats)).crossJoin(broadcast(bCats))
      .crossJoin(broadcast(mi))
      .crossJoin(broadcast(ha.select(col("h").as("h_a"))))
      .crossJoin(broadcast(hb.select(col("h").as("h_b"))))
      .select(col("n_rows"), col("a_cats"), col("b_cats"),
        col("mi_nats"), col("h_a"), col("h_b"),
        when(col("h_a") > 0.0 && col("h_b") > 0.0,
          round(col("mi_nats") / sqrt(col("h_a") * col("h_b")), 6))
          .otherwise(lit(0.0)).as("nmi"))
  }

  /** DuckDB spelling of [[jsTokenDrift]]'s per-term contribution —
    * round(½·p·ln(p/m) + ½·q·ln(q/m), 6) with the same Laplace
    * smoothing, so both engines' terms are generated from one
    * formula. */
  def sqlJsTerm(pn: String, pt: String, qn: String, qt: String,
                topK: Int): String = {
    val k1 = topK + 1
    val p = s"(CAST(($pn) + 1 AS DOUBLE) / CAST(($pt) + $k1 AS DOUBLE))"
    val q = s"(CAST(($qn) + 1 AS DOUBLE) / CAST(($qt) + $k1 AS DOUBLE))"
    // halves spelled as double CASTs — a bare 0.5/2.0 literal is
    // DECIMAL in DuckDB (the struct-literal poisoning trap's cousin)
    val half = "CAST(0.5 AS DOUBLE)"
    val m = s"(($p + $q) / CAST(2 AS DOUBLE))"
    s"round($half * $p * ln($p / $m) + $half * $q * ln($q / $m), 6)"
  }
}
