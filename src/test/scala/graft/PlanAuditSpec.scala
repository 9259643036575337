package graft

/** Plan-shape regression guards: the scale properties the engine
  * promises (SURVEY §4, README "Scale design") asserted on the actual
  * physical plans, so a future edit that silently reintroduces a
  * broadcast-nested-loop join, loses a pushed filter, or widens a scan
  * fails CI instead of surfacing at 100 TB.
  */
class PlanAuditSpec extends SparkSpecBase {

  private def planOf(name: String): String =
    Queries.byName(name).run(spark, sf).queryExecution.executedPlan.toString

  test("no query plans a BroadcastNestedLoopJoin or CartesianProduct") {
    // a BNL join is only a scale-killer when the broadcast side grows
    // with the data (q37's old theta self-join). These queries broadcast
    // a CONTRACT-BOUNDED side — the ≤16-vector query set (q34), the
    // ≤numCells centroid set (q52), a 1-row count (q62), the
    // bucket-spine × group-keys grid cross (q90: both metadata-sized
    // by construction), or profile's 1-row stats × 1-row distinct-count
    // attach (q76: both single-row aggregates; Catalyst folds the
    // literal equi-key away) — over a streamed corpus: exactly the
    // plan wanted at scale. Whitelisted.
    // q100 broadcasts a 1-row min/max bounds aggregate onto the scan —
    // the same metadata-sized cross as q76's stats attach
    // q107 broadcasts the same ≤8-vector query set as q34
    // q117 broadcasts a 1-row corpus-stats aggregate (N, Σdl, per-term
    // df) onto the scan — the q76/q100 metadata-sized cross again
    // q120 broadcasts a 1-row boilerplate literal (test-fixture
    // synthesis, not the operator) onto the corpus — metadata-sized
    // q131 broadcasts a 1-row total-bigram count — the same
    // metadata-sized cross as q76/q117
    // q145 broadcasts q120's 1-row boilerplate literal (fixture
    // synthesis); q146/q147 broadcast the ≤numCells centroid set for
    // assignment, exactly q52's whitelisted shape
    // q152 broadcasts the 1-row sorted k-sample array (≤ k values by
    // the sketch contract) onto the scan — the q76/q100/q117
    // metadata-sized cross again
    // q154's waterfill cascade crosses the per-source totals frame
    // (dozens of rows) with its own 1-row round aggregates — every
    // side metadata-sized
    // q155 broadcasts the 1-row (B, V) model-global aggregate onto the
    // scoring frame — the q76/q117 metadata-sized cross again
    // q162 crosses the ≤|classes| prior frame and the 1-row (V, N)
    // aggregate onto the doc-token frame — both model-bounded
    // q163 crosses the 1-row (T, R) histogram-totals aggregate — the
    // q76/q117 metadata-sized cross again
    // q168 crosses the 1-row corpus-token total onto the occurrence
    // stream for the subsample threshold — the q76/q117 cross again
    // q170 crosses the 1-row weight-normalization sum onto the
    // per-source totals frame — BOTH metadata-sized (q154's shape)
    // q173 crosses each rank's two 1-row aggregates (totals ×
    // vocab-count) — both vocabulary-bounded
    // q175 broadcasts the ≤8-vector corrected query set — q34's
    // whitelisted shape
    // q179 broadcasts the ≤8-query binary-code set — the same
    // q180 crosses the 1-row per-dim calibration cut arrays — the
    // q76/q152 metadata-sized cross again
    // q181 crosses the ≤8-query set with the ≤numCells coarse
    // codebook for the probe ranking — both contract-bounded (q52)
    // q183 crosses the 5-bucket count frame with its 1-row totals —
    // both metadata-sized
    // q185 broadcasts the ≤8-vector query set under a label-inequality
    // predicate — q34's whitelisted shape (the negative pass is a
    // theta-join by definition; the broadcast side is contract-bounded)
    // q188 crosses the 1-row tertile-threshold aggregate onto the
    // scored corpus — the q76/q117 metadata-sized cross again
    // q190 crosses the 8-row source-vector set (contract-bounded
    // TakeOrdered pick) onto the target side — q34's shape
    // q191 broadcasts the ≤8-query set into both fused tiers —
    // q34's and q179's whitelisted shapes composed
    // q199 crosses the 1-row (k_min, pct_at_risk) aggregate onto the
    // QI-class frame — the q76/q100 metadata-sized cross again
    // q200 broadcasts the ≤16-query set into both ranking passes —
    // q34's whitelisted shape twice
    // q203 crosses the 1-row total onto the 9-row digit-class frame —
    // both metadata-sized (the q183 shape)
    // q206 crosses the 1-row Neyman normalizer onto the 5-row stratum
    // frame — both metadata-sized (the q183 shape again)
    // q210 crosses the 1-row survival-ratio array onto the day-bounded
    // risk frame — both metadata-sized (the q152 sorted-sample shape)
    // q213 crosses the 1-row cut array / totals / Gini-term array onto
    // the customer-revenue and 10-row decile frames — every broadcast
    // side ≤ k-sample-sized (the q152 shape composed)
    // q205 crosses the 1-row basket-universe count onto the frequent-
    // pair frame — the q76/q117 metadata-sized cross again
    // q214 crosses the 64-row replicate spine onto the scan (the one
    // fan-out the Poisson bootstrap needs) and two 1-row aggregates —
    // all metadata-sized
    // q220 broadcasts the 16-query vector set under the non-self
    // inequality predicate — q34's whitelisted shape; metric assembly
    // is query-bounded
    // q217/q218 cross each EM round's 1-row piece-count total onto the
    // vocabulary-bounded piece frame — the q76/q117 metadata-sized
    // cross again (twice, once per round)
    val bounded = Set("q34_cosine_topk", "q52_ivf_topk", "q62_tfidf",
      "q90_resample", "q76_profile", "q100_histogram", "q107_ann_pipeline",
      "q117_bm25", "q120_repeated_spans", "q131_pmi_collocations",
      "q145_exact_substr_dedup", "q146_semantic_dedup",
      "q147_vector_index_lifecycle", "q152_percentile_normalize",
      "q154_mixture_waterfill", "q155_kn_perplexity",
      "q162_nb_classifier", "q163_dsir_select", "q168_skipgram_pairs",
      "q170_temperature_mix", "q173_vocab_sweep", "q175_all_but_top",
      "q179_binary_hamming_ann", "q180_channel_quantize",
      "q181_ivfpq_topk", "q183_length_psi", "q185_hard_negatives",
      "q188_perplexity_buckets", "q190_bitext_margin", "q191_rrf_fusion",
      "q199_k_anonymity", "q200_matryoshka_recall",
      "q203_benford_audit", "q205_basket_rules",
      "q206_neyman_allocation", "q217_unigram_train",
      "q218_unigram_fertility", "q220_retrieval_metrics",
      "q222_nb_calibration", "q223_nb_class_report", "q224_chi2_tokens",
      "q225_gate_parity", "q226_nb_auc",
      // q227 crosses the ≤numCells LOCAL centroid relation with itself
      // for the Davies–Bouldin ratio matrix (k² metadata-sized rows);
      // the corpus pass is join-free (literal-centroid distances)
      "q227_cluster_quality",
      // q228 crosses the |groups| aggregate with the top-64 token
      // spine (the q183 bucket-spine grid) and three 1-row totals
      // (the q76 shape) — every broadcast side metadata-sized
      "q228_js_token_drift",
      // q230 runs two q155 KN chains (each crosses its 1-row (B, V)
      // model-global aggregate) plus a 1-row weight normalizer —
      // all metadata-sized (the q155/q76 shapes)
      "q230_domain_reweight",
      // q232 crosses the 1-row max-doc-id aggregate onto the scan for
      // bucketing — the q76/q100 metadata-sized cross again
      "q232_heaps_growth",
      // q233 crosses the 1-row skew-stats aggregate onto the top-k
      // key frame — the q76 metadata cross again
      "q233_skew_report",
      // q234's truth pass broadcasts the ≤16-query set (q34's shape)
      // and the sweep crosses a 1-row pair-count total (q76)
      "q234_nprobe_sweep",
      // q262 is q234's sampled twin: broadcasts the ≤17 sampled-query
      // truth set (q34's shape) and crosses the same 1-row pair-count
      // total; the scan-cost side is a numCells-row equi-join
      "q262_nprobe_sweep_sampled",
      // q236 assembles six 1-row statistic frames (totals, entropies,
      // MI, cat counts) with crosses — all single-row (q76); the only
      // data-sized work is the one joint grouped aggregate
      "q236_categorical_mi",
      // q242/q243 cross 1-row series statistics onto the
      // calendar-bounded daily spine (≤366 rows) and, for q243, the
      // 14-row lag spine onto the materialized deviation series —
      // every side metadata-sized (the q76/q183 shapes)
      "q242_changepoint", "q243_acf",
      // q244's pairwise-slope join is a range theta over the
      // MATERIALIZED ≤366-row daily spine (the q90 metadata grid);
      // q245 crosses its 1-row moment frame onto the 7-row weekday
      // frame (the q183 shape)
      "q244_theil_sen", "q245_dow_anova",
      // q246 crosses the ≤100-token spine with the 2-row half spine —
      // both metadata-sized (the q183 grid)
      "q246_rank_stability",
      // q247 broadcasts the ≤16-query set into both ranking passes
      // (q34's/q200's shape) and crosses the 10-row depth spine
      "q247_rbo",
      // q249 is q183's PSI read from the drained histogram store:
      // the same 5-bucket-spine × 1-row-totals cross (psiTerms) —
      // both metadata-sized; the corpus passed through the stream
      // fold once and is never reprocessed here
      "q249_streaming_drift",
      "q210_kaplan_meier", "q213_lorenz_gini", "q214_bootstrap_ci")
    for (q <- Queries.all if !bounded(q.name)) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"${q.name} plans a CartesianProduct")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"${q.name} plans a BroadcastNestedLoopJoin — the q37 scale-killer " +
          "pattern; use an equi-join formulation (grid/bucket/band)")
    }
  }

  test("q03 filter is pushed to the parquet scan and the scan is pruned") {
    val plan = planOf("q03_filter_project")
    assert(plan.contains("PushedFilters: [") &&
      !plan.contains("PushedFilters: []"), s"no pushed filters:\n$plan")
    assert(!plan.contains("l_comment"),
      "scan reads l_comment — column pruning regressed")
  }

  test("q04 dimension joins broadcast") {
    assert(planOf("q04_region_revenue").contains("BroadcastHashJoin"))
  }

  test("q08 global top-k is TakeOrderedAndProject, not a global sort") {
    assert(planOf("q08_top_orders").contains("TakeOrderedAndProject"))
  }

  test("q45 as-of runs on the custom exec node") {
    assert(planOf("q45_asof_join").contains("AsOfJoin"))
  }

  test("q229 wedge closure is a shuffled equi-join, never a broadcast " +
      "of a data-sized side") {
    val plan = planOf("q229_triangle_count")
    assert(plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"),
      s"the oriented wedge/closure joins must shuffle on their " +
        s"equi-keys:\n$plan")
  }

  test("q229 backbone pair generation is pre-capped per order: the " +
      "per-order item array is sliced to 64 before the pair explode") {
    // the slice lives in the aggregate's RESULT expressions, which the
    // physical HashAggregate's toString elides — pin on the optimized
    // logical plan, where the projection is spelled out
    val plan = Queries.byName("q229_triangle_count").run(spark, sf)
      .queryExecution.optimizedPlan.toString
    // anchor on the slice(collect_set sorted, 1, 64) truncation feeding
    // the in-row pair expansion (round 15: the top-k WINDOW + ok
    // self-join became one grouped-array derivation — the cap is now
    // the slice bound, and its removal would surface here)
    assert(java.util.regex.Pattern.compile(
        "slice\\(array_sort\\(collect_set\\(.*?, 1, 64\\)",
        java.util.regex.Pattern.DOTALL)
        .matcher(plan).find(),
      s"the 64-item per-order slice cap (BackboneSql.maxItemsPerOrder," +
        s" the q205 prune-before-pair-gen discipline) is missing:\n$plan")
  }

  test("q233 heavy-key pick is TakeOrderedAndProject, not a global sort") {
    assert(planOf("q233_skew_report").contains("TakeOrderedAndProject"))
  }

  test("q56 keyed as-of partitions its window — no single-partition sort") {
    val plan = planOf("q56_asof_keyed")
    assert(plan.contains("Window"), s"expected a window plan:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"keyed union-window as-of must not serialize:\n$plan")
  }

  test("q78 bucketed join plans zero Exchange on either join input") {
    // run the registered query once so the bucketed tables exist, then
    // audit the join subtree itself (the registered query appends an
    // aggregate whose own shuffle is expected and fine)
    Queries.byName("q78_bucketed_join").run(spark, sf).count()
    val joined = graft.operators.Bucketing.cocatedJoin(spark,
      "graft_bkt_orders", "graft_bkt_customer", Seq("o_custkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ, got:\n$plan")
    assert(!plan.contains("Exchange"),
      s"bucketed co-located join should not shuffle, got:\n$plan")
  }

  test("q79 bloom predicate sits codegen'd on the probe side") {
    val plan = planOf("q79_bloom_semi_join")
    assert(plan.contains("bloom_might_contain"),
      s"bloom pre-filter missing from the probe scan:\n$plan")
  }

  test("q37 exact near-dup is grid equi-joined") {
    val plan = planOf("q37_cosine_neardup")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), s"no equi-join in:\n$plan")
  }

  test("q96 reservoir sample is TakeOrderedAndProject, not a global sort") {
    assert(planOf("q96_reservoir_sample").contains("TakeOrderedAndProject"))
  }

  test("q176 ground truth goes through the AllPairs prefix filter, " +
      "not the unguarded shingle self-join") {
    // the prefix-filter tier verifies candidates with array_intersect
    // on the per-doc element arrays; the naive lossless self-join
    // (the 100 TB scale-killer q176 used to carry) never touches it
    val plan = planOf("q176_lsh_recall_audit")
    assert(plan.contains("array_intersect"),
      s"q176 truth side lost the AllPairs prefix-filter shape:\n$plan")
  }

  test("q99 audit row-checks share one aggregate, not one scan each") {
    val plan = planOf("q99_quality_audit")
    // the q99 corpus is a 2-scan union (orders + corrupted copy) read
    // once per audit tier (row checks, uniqueness, referential) plus
    // the dimension side — ~8 scans. The guarded regression is the
    // three ROW-LOCAL constraints splitting into a scan per
    // constraint, which would push this past 12.
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans <= 8, s"row-local constraints no longer share a scan " +
      s"($scans scans):\n$plan")
  }

  test("q98 join-delta broadcasts the delta sides") {
    val plan = planOf("q98_join_delta")
    assert(plan.contains("BroadcastHashJoin"),
      s"delta joins should broadcast:\n$plan")
  }

  test("q125 epoch shuffle plans NO single-partition window") {
    // the scale contract of Sampling.epochOrder: per-shard windows
    // (hash exchange), never an unpartitioned global rank that
    // serializes the corpus through one task
    val plan = planOf("q125_epoch_shuffle")
    assert(!plan.contains("SinglePartition"),
      s"epoch order fell back to a single-partition plan:\n$plan")
  }

  test("q150 curation pipeline plans NO single-partition window") {
    // both ranking stages must stay partitioned: the url dedup window
    // partitions by canonical page and the quota stage by (domain,
    // salt) then domain — an unpartitioned fallback would serialize
    // the corpus through one task at scale
    val plan = planOf("q150_curation_pipeline")
    assert(!plan.contains("SinglePartition"),
      s"a curation ranking stage fell back to single-partition:\n$plan")
  }

  test("orderBounded sites order in one task: no range-partitioning sort") {
    // each query's output is bounded by a calendar or a dictionary (its
    // call site states the bound), so Relational.orderBounded sorts the
    // coalesced last stage locally instead of sampling a range exchange
    Seq("q10_pivot_priority", "q11_rollup_year_month", "q16_monthly_spine",
      "q17_macro_series_join", "q48_dedup_append", "q49_upsert_partition",
      "q65_lifecycle", "q69_kv_scrape_pivot", "q71_snapshot_diff",
      "q80_cdc_apply", "q84_rollup_maintenance", "q92_hll_rollup",
      "q255_tagged_history_union",
      "q248_streaming_countmin").foreach { name =>
      val plan = planOf(name)
      assert(!plan.contains("rangepartitioning"),
        s"$name plans a range-partitioned sort:\n$plan")
      assert(plan.contains("Coalesce 1"),
        s"$name no longer orders through orderBounded:\n$plan")
    }
  }

  test("q17/q48/q49 sibling aggregates: one orders scan, one hash " +
      "exchange, no broadcast") {
    // each twin's sides are slices of one orders scan, fused by
    // Relational.sliceAggregate: a second scan, a second shuffle or a
    // broadcast join side means the fold fell back to separate
    // aggregates joined on the month
    Seq("q17_macro_series_join", "q48_dedup_append",
      "q49_upsert_partition").foreach { name =>
      val plan = planOf(name)
      val scans = plan.linesIterator.filter(_.contains("FileScan")).toSeq
      assert(scans.size == 1 && scans.head.contains("orders.parquet"),
        s"$name plans ${scans.size} scans, want one orders scan:\n$plan")
      val hashed = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(hashed == 1, s"$name plans $hashed hash exchanges:\n$plan")
      assert(!plan.contains("BroadcastExchange"),
        s"$name plans a broadcast:\n$plan")
    }
  }

  test("q120/q133 reuse their cached frames instead of re-scanning") {
    // repeatedSpans' hashed-window explode and q133's distinct
    // (month, customer) frame are declared cache points; the plan
    // must show InMemoryTableScan consumers, not a parquet scan per
    // branch
    for (q <- Seq("q120_repeated_spans", "q133_sketch_retention")) {
      val plan = planOf(q)
      assert(plan.contains("InMemoryTableScan") ||
        plan.contains("InMemoryRelation"),
        s"$q no longer reads its cached frame:\n$plan")
    }
  }

  test("q134 content-defined chunking stays at two data exchanges") {
    // one hash exchange for the per-doc boundary window, one for the
    // chunk aggregate, plus the final presentation sort — a regression
    // to per-branch recompute or an extra shuffle would exceed 3
    val plan = planOf("q134_cdc_chunks")
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 3,
      s"q134 grew to $exchanges exchanges:\n$plan")
  }

  test("fused signature paths are shuffle-free projections") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    // SimHash signature: one pass per row — any Exchange means the
    // explode+aggregate spelling crept back
    val simPlan = graft.operators.Dedup
      .simhashSignature(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!simPlan.contains("Exchange"),
      s"simhashSignature plans a shuffle:\n$simPlan")
    // MinHash signature projection: the fused expression must appear
    // exactly once — a pushed filter or collapsed projection that
    // re-evaluates it would show two (the prefixJaccard lesson)
    val sigPlan = docs
      .select(col("doc_id"),
        graft.plans.MinHashSigExpr(col("text"), 3, 64).as("ms"))
      .select(col("doc_id"), col("ms.sig"), col("ms.n_sh"))
      .queryExecution.executedPlan.toString
    assert(!sigPlan.contains("Exchange"),
      s"MinHash signature projection plans a shuffle:\n$sigPlan")
    assert("minhash_sig\\(".r.findAllIn(sigPlan).length <= 1,
      s"MinHashSigExpr evaluated more than once per row:\n$sigPlan")
  }

  test("markup/URL ladders stay single-pass scan-shaped projections") {
    // q140: scan → regex-ladder projection → sort. One exchange (the
    // final range partition) — a second would mean the ladder left
    // the scan stage (e.g. a pushed-filter re-evaluation trap)
    val p140 = planOf("q140_strip_markup")
    assert("Exchange".r.findAllIn(p140).length <= 1,
      s"q140 grew extra exchanges:\n$p140")
    // q141: scan → ladder → hash-agg → sort: partial/final agg pair
    // around one exchange plus the sort's
    val p141 = planOf("q141_url_canonicalize")
    assert("Exchange".r.findAllIn(p141).length <= 2,
      s"q141 grew extra exchanges:\n$p141")
    assert(!p141.contains("SortMergeJoin") && !p140.contains("Join"))
  }

  test("q167 line filtering is a single-pass scan-shaped projection") {
    // scan → seeded-line construction + rule struct (one per-row
    // projection) → presentation sort. One exchange (the sort's range
    // partition); any join or second exchange means the line split
    // left the scan stage
    val p = planOf("q167_c4_filters")
    assert("Exchange".r.findAllIn(p).length <= 1,
      s"q167 grew extra exchanges:\n$p")
    assert(!p.contains("Join"), s"q167 plans a join:\n$p")
  }

  test("incremental probe: batch side builds every store join — the " +
      "store streams in place") {
    import org.apache.spark.sql.functions._
    // the store must come from PARQUET (the persisted posture): a
    // size-estimated in-plan store could flip the broadcast decision
    val dir = tempRoot("graft_audit_store_").toString
    val store = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 60)
    graft.operators.Dedup.writeMinhashStore(store, "doc_id", "text", dir)
    val idx = graft.operators.Dedup.readMinhashStore(spark, dir)
    val batch = store.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 2000000).as("doc_id"), col("text"))
    val (flagged, bsh) = graft.operators.Dedup.nearDupAgainstStorePlan(
      batch, "doc_id", "text", idx.buckets, idx.shingles,
      idx.k, idx.numHashes, idx.bands, 0.5)
    val plan = flagged.queryExecution.executedPlan.toString
    bsh.unpersist(blocking = true)
    // at a 100 TB store, ONE sort-merge join here means the index is
    // shuffled instead of probed — the hints must hold regardless of
    // what size AQE estimates for either side
    assert(!plan.contains("SortMergeJoin"),
      s"incremental probe sort-merges (store would be shuffled):\n$plan")
    // the (band, bucket) candidate join must build (broadcast) its
    // LEFT — the batch-derived bucket frame
    assert("(?s)BroadcastHashJoin \\[band[^\\]]*\\][^\\n]*BuildLeft".r
        .findFirstIn(plan).isDefined,
      s"bucket join does not broadcast the batch side:\n$plan")
    // the shingle-verify join likewise builds its batch-derived left
    assert("(?s)BroadcastHashJoin \\[s#[^\\]]*shingle[^\\]]*\\][^\\n]*BuildLeft".r
        .findFirstIn(plan).isDefined,
      s"shingle verify join does not broadcast the batch side:\n$plan")
    // and the store-side scans feed no Exchange before their joins:
    // every shuffle in the plan sits above a candidate-scale frame
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q145 substring dedup: island removal anti-joins broadcast — the " +
      "token frame never shuffles for it") {
    val plan = planOf("q145_exact_substr_dedup")
    // the removal anti-join must build (broadcast) the island side; a
    // sort-merge LeftAnti here shuffles every token row at 100 TB
    assert("(?s)BroadcastHashJoin[^\\n]*LeftAnti[^\\n]*BuildRight".r
        .findFirstIn(plan).isDefined,
      s"island anti-join does not broadcast the islands:\n$plan")
    assert(!"(?s)SortMergeJoin[^\\n]*LeftAnti".r.findFirstIn(plan).isDefined,
      s"island anti-join sort-merges (token frame shuffled):\n$plan")
  }

  test("semantic probe: batch side builds the cell join — the vector " +
      "store streams in place") {
    import org.apache.spark.sql.functions._
    // parquet-backed store, the incremental-probe discipline: a
    // size-estimated in-plan store could flip the broadcast decision
    val dir = tempRoot("graft_audit_ivf_").toString
    val store = Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 100).select(col("vec_id"), col("embedding"))
    graft.operators.Similarity.writeIvfStore(
      store, "vec_id", "embedding", dir, numCells = 8)
    val idx = graft.operators.Similarity.readIvfStore(spark, dir)
    val batch = Tables.embeddings(spark, sf)
      .filter(col("vec_id") >= 100 && col("vec_id") < 110)
      .select((col("vec_id") + 5000).as("vec_id"), col("embedding"))
    val plan = graft.operators.Similarity
      .semanticDedupAgainstStore(batch, "embedding", idx, 0.999)
      .queryExecution.executedPlan.toString
    // the kilobyte scratch store must not accumulate across runs
    graft.streaming.IncrementalLoad.cleanStaging(
      java.nio.file.Paths.get(dir).getParent,
      Seq(java.nio.file.Paths.get(dir).getFileName.toString))
    assert(!plan.contains("SortMergeJoin"),
      s"semantic probe sort-merges (store would be shuffled):\n$plan")
    // the cell join must build (broadcast) its LEFT — the assigned
    // batch frame; the store side is the streamed probe target
    assert("(?s)BroadcastHashJoin \\[cell[^\\]]*\\][^\\n]*BuildLeft".r
        .findFirstIn(plan).isDefined,
      s"cell join does not broadcast the batch side:\n$plan")
  }

  test("gate per-batch cores: the intra self-probe is an equi-join and " +
      "the precomputed-input probe keeps the batch side broadcast " +
      "(these plans run inside foreachBatch, invisible to planOf)") {
    import org.apache.spark.sql.functions._
    val corpus = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 60)
    val batch = corpus.filter(col("doc_id") < 10)
      .select((col("doc_id") + 9000L).as("doc_id"), col("text"))
    // the gate's shape: both derived frames cached, shared by all
    // three consumers
    val bb = graft.operators.Dedup.minhashBandBuckets(
      batch, "doc_id", "text").cache()
    val bsh = graft.operators.Dedup.portableShingleHashes(
      batch, "doc_id", "text").cache()
    val intraPlan = graft.operators.Dedup
      .intraFlagsCore(bb, bsh, "doc_id", 0.5)
      .queryExecution.executedPlan.toString
    assert(!intraPlan.contains("CartesianProduct") &&
      !intraPlan.contains("BroadcastNestedLoopJoin"),
      s"intra self-probe is not an equi-join:\n$intraPlan")
    val probePlan = graft.operators.Dedup.nearDupProbeCore(
        bb, bsh, "doc_id",
        graft.operators.Dedup.minhashBandBuckets(corpus, "doc_id", "text"),
        graft.operators.Dedup.portableShingleHashes(corpus, "doc_id", "text"),
        0.5)
      .queryExecution.executedPlan.toString
    // the cached batch frames must not demote the explicit broadcast
    // hints: the store side stays shuffle-free
    assert(probePlan.contains("BroadcastHashJoin") &&
      !probePlan.contains("CartesianProduct") &&
      !probePlan.contains("BroadcastNestedLoopJoin"),
      s"precomputed-input probe lost its broadcast shape:\n$probePlan")
    bb.unpersist(blocking = true); bsh.unpersist(blocking = true)
    // the semantic twin: assigned-once frame, cell-scoped intra pairs
    // (centroids via a scratch store read — the public surface)
    val e = Tables.embeddings(spark, sf)
    val vdir = tempRoot("graft_audit_gate_").toString
    graft.operators.Similarity.writeIvfStore(
      e.filter(col("vec_id") < 100).select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", vdir, numCells = 8, kmeansIters = 1)
    val centroids = graft.operators.Similarity
      .readIvfStore(spark, vdir).centroids
    // stage the assigned frame through parquet so the asserted plan
    // holds ONLY the core's own joins (a cached frame's
    // InMemoryRelation embeds its child plan, which legitimately
    // contains the whitelisted bounded-centroid assignment cross)
    graft.operators.Similarity.ivfStoreRows(
        e.filter(col("vec_id") >= 100 && col("vec_id") < 110)
          .select((col("vec_id") + 9000L).as("vec_id"), col("embedding")),
        "vec_id", "embedding", centroids)
      .write.mode("overwrite").parquet(s"$vdir/staged_rows")
    val rows = spark.read.parquet(s"$vdir/staged_rows")
    val vIntra = graft.operators.Similarity
      .semanticIntraFlagsCore(rows, "vec_id", 0.999)
      .queryExecution.executedPlan.toString
    assert(!vIntra.contains("CartesianProduct") &&
      !vIntra.contains("BroadcastNestedLoopJoin"),
      s"semantic intra self-probe is not a cell equi-join:\n$vIntra")
    graft.streaming.IncrementalLoad.cleanStaging(
      java.nio.file.Paths.get(vdir).getParent,
      Seq(java.nio.file.Paths.get(vdir).getFileName.toString))
  }

  test("q144 phrase search broadcasts the phrase frame and prunes the scan") {
    val plan = planOf("q144_phrase_search")
    // the literal phrase-term frame must be the build side — a
    // sort-merge here shuffles the whole postings frame at 100 TB
    assert(plan.contains("BroadcastHashJoin") &&
      !plan.contains("SortMergeJoin"),
      s"phrase join is not a broadcast:\n$plan")
    // the term prefilter must reach the scan: postings derive from a
    // projected explode, so the pushable residue is the column prune —
    // only text survives to the reader (plus the key)
    assert(!plan.contains("n_chars") && !plan.contains("lang#"),
      s"documents scan reads unused columns:\n$plan")
  }

  test("q155 KN scoring joins hash-broadcast the bounded model frames") {
    val plan = planOf("q155_kn_perplexity")
    // every model frame (bigram counts, context totals, continuation
    // counts) is vocab-/bigram-bounded: the doc-bigram frame must
    // stream through BroadcastHashJoins, never sort-merge against a
    // model side
    assert(plan.contains("BroadcastHashJoin") &&
      !plan.contains("SortMergeJoin"),
      s"model join shuffles the scoring frame:\n$plan")
  }

  test("q157 BPE encode joins the broadcast word table — no corpus shuffle") {
    val plan = planOf("q157_bpe_encode")
    assert(plan.contains("BroadcastHashJoin") &&
      !plan.contains("SortMergeJoin"),
      s"vocabulary join shuffles the corpus:\n$plan")
  }

  test("q162 NB scoring joins broadcast the model frames — the corpus " +
      "never shuffles against the model") {
    val plan = planOf("q162_nb_classifier")
    // cc/ctot/classes are vocabulary×classes bounded: the per-doc
    // token frame must stream through BroadcastHashJoins
    assert(plan.contains("BroadcastHashJoin") &&
      !plan.contains("SortMergeJoin"),
      s"model join shuffles the scoring frame:\n$plan")
  }

  test("q163 DSIR broadcasts the bucket histogram and plans TakeOrdered") {
    val plan = planOf("q163_dsir_select")
    // the histogram is ≤ buckets rows by construction; top-k must be
    // TakeOrderedAndProject, never a global sort
    assert(plan.contains("BroadcastHashJoin") &&
      !plan.contains("SortMergeJoin"),
      s"histogram join shuffles the doc-feature frame:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k selection is not TakeOrdered:\n$plan")
  }

  test("q164 paragraph dedup: first-occurrence is an aggregate, not a " +
      "row_number window") {
    val plan = planOf("q164_paragraph_dedup")
    assert(!plan.contains("Window"),
      s"keep-first uses a window — the min(struct) aggregate regressed " +
        s"to a full-shuffle row_number:\n$plan")
  }

  test("q158 PQ assignment broadcasts the codebook — the corpus never " +
      "shuffles for coding") {
    val plan = planOf("q158_pq_codebook")
    // the only SortMergeJoin-shaped risk is subvectors ⋈ codebook; the
    // codebook is a collect-materialized ≤4096-row local relation and
    // must be the broadcast build side
    assert(plan.contains("BroadcastHashJoin") &&
      !plan.contains("SortMergeJoin"),
      s"codebook join shuffles the subvector frame:\n$plan")
  }
}
