package graft.queries

import graft.{QuerySpec, Tables}
import graft.functions.{Scalars, TextFunctions}
import org.apache.spark.sql.functions._

/** Text-analysis queries over the documents corpus (north-star ★).
  * The oracle SQL fragments are generated from the same vocabulary
  * constants as the Column implementations, so the two sides cannot
  * drift.
  */
object TextQueries {

  /** Corpus-wide (w1, w2) bigram pairs, exploded as structs straight
    * from the token array — no "w1 w2" string concat + substring_index
    * round-trip per bigram (shared by q119/q131; Search.bigramCross-
    * Entropy carries the same shape with the doc key). */
  private def bigramPairs(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .select(split(col("text"), " ").as("__toks"))
      .select(explode(when(size(col("__toks")) >= 2,
        transform(sequence(lit(1), size(col("__toks")) - 1),
          i => struct(element_at(col("__toks"), i).as("w1"),
            element_at(col("__toks"), i + lit(1)).as("w2"))))
        .otherwise(array().cast(
          "array<struct<w1:string,w2:string>>"))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))

  private def sqlQuote(s: String) = s"'${s.replace("'", "''")}'"

  /** DuckDB: token count as BIGINT. */
  private val sqlNTok = "CAST(len(string_split(text, ' ')) AS BIGINT)"

  private def sqlVocabHits(vocab: Seq[String]): String =
    s"CAST(len(list_filter(string_split(text, ' '), t -> t IN (${
      vocab.map(sqlQuote).mkString(", ")}))) AS BIGINT)"

  /** q26: corpus shape statistics per source — token counting over the
    * documents table (SURVEY ★ text analysis). Integer sums only, so
    * exact in both engines. */
  val q26TokenStats: QuerySpec = QuerySpec(
    "q26_token_stats",
    s"""SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM($sqlNTok) AS BIGINT) AS total_tokens,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  CAST(SUM($sqlNTok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_tokens,
       |  CAST(MIN($sqlNTok) AS BIGINT) AS min_tokens,
       |  CAST(MAX($sqlNTok) AS BIGINT) AS max_tokens
       |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("source"), col("n_chars"),
        TextFunctions.tokenCount(col("text")).as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_tok")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_tokens"),
        min(col("n_tok")).as("min_tokens"),
        max(col("n_tok")).as("max_tokens"))
      .orderBy(col("source"))
  }

  /** q27: per-document quality scoring (SURVEY ★): length saturation +
    * stopword ratio + token shape, all engine-portable per-row double
    * arithmetic. The SQL is the literal spelling of
    * TextFunctions.qualityScore. */
  val q27QualityScore: QuerySpec = QuerySpec(
    "q27_quality_score",
    s"""SELECT doc_id, $sqlNTok AS n_tokens,
       |  ${sqlVocabHits(TextFunctions.stopwords)} AS stop_hits,
       |  0.5 * least(CAST($sqlNTok AS DOUBLE) / 64.0, 1.0)
       |  + 0.3 * least(CAST(${sqlVocabHits(TextFunctions.stopwords)} AS DOUBLE)
       |      / CAST($sqlNTok AS DOUBLE) * 10.0, 1.0)
       |  + 0.2 * least((CAST(length(text) AS DOUBLE) - (CAST($sqlNTok AS DOUBLE) - 1))
       |      / CAST($sqlNTok AS DOUBLE) / 8.0, 1.0) AS quality
       |FROM documents
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.vocabHits(col("text"), TextFunctions.stopwords)
          .as("stop_hits"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** q28: language-ID heuristic vs the labeled lang column — a
    * confusion-matrix rollup. Argmax with first-listed-language
    * tie-break, identical CASE ladder on both sides. */
  val q28LangId: QuerySpec = {
    val hitExprs = TextFunctions.langMarkers.map { case (l, vocab) =>
      l -> sqlVocabHits(vocab)
    }
    val bestExpr = s"greatest(${hitExprs.map(_._2).mkString(", ")})"
    val caseLadder = hitExprs.map { case (l, e) =>
      s"WHEN $e = $bestExpr AND $bestExpr > 0 THEN '$l'"
    }.mkString(" ")
    QuerySpec(
      "q28_lang_id",
      s"""SELECT lang, CASE $caseLadder ELSE 'und' END AS predicted,
         |  COUNT(*) AS n
         |FROM documents
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("lang"),
          TextFunctions.langGuess(col("text")).as("predicted"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("predicted"))
    }
  }

  /** q29: md5 content fingerprinting (SURVEY ★ document
    * fingerprinting; md5 is the engine-portable choice — xxhash64 is
    * Spark-specific). Dup groups are synthesized by unioning a
    * key-shifted copy of the corpus so the rollup exercises real
    * collisions. */
  val q29Fingerprint: QuerySpec = QuerySpec(
    "q29_fingerprint",
    """WITH all_docs AS (
      |  SELECT doc_id, source, md5(text) AS fp FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, source, md5(text) AS fp FROM documents
      |    WHERE doc_id % 3 = 0)
      |SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT fp) AS n_distinct,
      |  CAST(MIN(doc_id) AS BIGINT) AS first_doc
      |FROM all_docs GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    val d = Tables.documents(s, dir)
    val base = d.select(col("doc_id"), col("source"),
      graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
    val copy = d.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("source"),
        graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
    base.unionByName(copy)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_distinct"),
        min(col("doc_id")).cast("long").as("first_doc"))
      .orderBy(col("source"))
  }

  /** q38: BPE-ish regex token counting next to whitespace counting —
    * the two tokenizer tiers of the north star, compared per source. */
  val q38BpeTokens: QuerySpec = QuerySpec(
    "q38_bpe_tokens",
    s"""SELECT source,
       |  CAST(SUM($sqlNTok) AS BIGINT) AS ws_tokens,
       |  CAST(SUM(len(regexp_extract_all(text,
       |    '${TextFunctions.bpeTokenPattern}'))) AS BIGINT) AS bpe_tokens
       |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("source"),
        TextFunctions.tokenCount(col("text")).as("ws"),
        TextFunctions.bpeTokenCount(col("text")).as("bpe"))
      .groupBy(col("source"))
      .agg(sum(col("ws")).cast("long").as("ws_tokens"),
        sum(col("bpe")).cast("long").as("bpe_tokens"))
      .orderBy(col("source"))
  }

  /** q39: rolling-hash document signatures (order-sensitive, unlike
    * the md5 content key of q29): dup-count per signature over a
    * replayed corpus. The Rabin-Karp fold over md5-derived token
    * hashes is engine-portable, so this is fully oracle-verified
    * (round 1 ran a Spark-only xxhash64 form, rows-only). */
  val q39RollingFingerprint: QuerySpec = QuerySpec(
    "q39_rolling_fingerprint",
    s"""WITH fps AS (
       |  SELECT doc_id, ${TextFunctions.sqlRollingFingerprint("text")} AS rfp
       |  FROM documents),
       |all_docs AS (
       |  SELECT doc_id, rfp FROM fps
       |  UNION ALL
       |  SELECT doc_id + 1000000, rfp FROM fps WHERE doc_id % 4 = 0),
       |groups AS (
       |  SELECT rfp, COUNT(*) AS copies, MIN(doc_id) AS kept
       |  FROM all_docs GROUP BY rfp)
       |SELECT copies, COUNT(*) AS n_groups
       |FROM groups GROUP BY copies ORDER BY copies""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          TextFunctions.rollingFingerprint(col("text")).as("rfp"))
      val copy = d.filter(col("doc_id") % 4 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000)
      d.unionByName(copy)
        .groupBy(col("rfp"))
        .agg(count(lit(1)).as("copies"), min(col("doc_id")).as("kept"))
        .groupBy(col("copies"))
        .agg(count(lit(1)).as("n_groups"))
        .orderBy(col("copies"))
    }

  /** q51: lexicon sentiment scoring — the reference repo's eponymous
    * capability, as one distributed pass: per-doc hit counts (pure
    * Column set-membership over the broadcast lexicon), per-row score
    * and label, rolled up per (source, label). The oracle spells out
    * the same lexicons (generated from the same constants). */
  val q51Sentiment: QuerySpec = {
    val pos = sqlVocabHits(TextFunctions.positiveWords)
    val neg = sqlVocabHits(TextFunctions.negativeWords)
    val score = s"CAST(($pos - $neg) AS DOUBLE) / CAST($sqlNTok AS DOUBLE)"
    QuerySpec(
      "q51_sentiment",
      s"""SELECT source,
         |  CASE WHEN $score > 0.01 THEN 'positive'
         |       WHEN $score < -0.01 THEN 'negative'
         |       ELSE 'neutral' END AS label,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM($pos) AS BIGINT) AS pos_hits,
         |  CAST(SUM($neg) AS BIGINT) AS neg_hits,
         |  CAST(SUM($pos) - SUM($neg) AS DOUBLE) / CAST(SUM($sqlNTok) AS DOUBLE)
         |    AS net_per_token
         |FROM documents
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("source"),
          TextFunctions.sentimentLabel(col("text")).as("label"),
          TextFunctions.vocabHits(col("text"), TextFunctions.positiveWords)
            .as("p"),
          TextFunctions.vocabHits(col("text"), TextFunctions.negativeWords)
            .as("n"),
          TextFunctions.tokenCount(col("text")).as("t"))
        .groupBy(col("source"), col("label"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("p")).cast("long").as("pos_hits"),
          sum(col("n")).cast("long").as("neg_hits"),
          ((sum(col("p")) - sum(col("n"))).cast("double") /
            sum(col("t")).cast("double")).as("net_per_token"))
        .orderBy(col("source"), col("label"))
    }
  }

  /** q61: corpus vocabulary — global term frequencies with document
    * frequency, top 25 terms (the vocabulary-building pass of a
    * training-data pipeline). One explode + one aggregate; top-k via
    * per-partition heaps (orderBy+limit), no global sort. */
  val q61Vocabulary: QuerySpec = QuerySpec(
    "q61_vocabulary",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      |SELECT term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
      |FROM tok GROUP BY term
      |ORDER BY tf DESC, term LIMIT 25""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("term"))
      .limit(25)
  }

  /** q62: TF-IDF scoring — the weighting pass over the vocabulary:
    * per-(doc, term) tf · ln(N/df), top 3 terms per document for a
    * doc subset. Double log/division on integer inputs is
    * engine-portable; ties break on the term. */
  val q62TfIdf: QuerySpec = QuerySpec(
    "q62_tfidf",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
      |df AS (
      |  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |scored AS (
      |  SELECT doc_id, term,
      |    CAST(tf AS DOUBLE) * ln(CAST(n.n AS DOUBLE) / CAST(df.df AS DOUBLE))
      |      AS tfidf
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |ranked AS (
      |  SELECT doc_id, term, round(tfidf, 6) AS tfidf,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY round(tfidf, 6) DESC, term) AS rn
      |  FROM scored)
      |SELECT doc_id, term, tfidf, CAST(rn AS INTEGER) AS rn
      |FROM ranked WHERE rn <= 3 AND doc_id < 40
      |ORDER BY doc_id, rn""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    // df derives from tf (each tf row IS a distinct (doc, term)), so the
    // corpus is tokenized once: both consumers share the tf exchange
    // (ReuseExchange), and the count replaces a countDistinct expand.
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDf = docs.agg(count(lit(1)).cast("double").as("n"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(nDf))
      .withColumn("tfidf", round(col("tf").cast("double") *
        log(col("n") / col("df").cast("double")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3 && col("doc_id") < 40)
      .select(col("doc_id"), col("term"), col("tfidf"), col("rn").cast("int").as("rn"))
      .orderBy(col("doc_id"), col("rn"))
  }

  /** q60: deterministic stratified sampling (training-data pipeline
    * ★): per-language rates, selection a pure function of doc_id —
    * re-runs and repartitions pick identical rows. The md5-derived
    * sampling key is engine-portable, so the exact selected set is
    * hash-verified against the oracle (round 1's xxhash64 key was
    * rows-only); SamplingSpec still pins determinism + rates. */
  val q60StratifiedSample: QuerySpec = QuerySpec(
    "q60_stratified_sample",
    s"""SELECT lang, COUNT(*) AS n_sampled
       |FROM documents
       |WHERE ${graft.operators.Sampling.sqlBucket("doc_id")} <
       |  CASE WHEN lang = 'en' THEN 500
       |       WHEN lang = 'zh' THEN 100
       |       ELSE 250 END
       |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      graft.operators.Sampling.stratifiedSample(
          Tables.documents(s, dir), "doc_id", "lang",
          Map("en" -> 500, "zh" -> 100), defaultPermille = 250)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
        .orderBy(col("lang"))
    }

  /** q72: token-window chunking (LLM training-data pipeline ★ — the
    * corpus→training-pieces pass): 32-token windows, stride 24, chunk
    * text verified by portable md5 so the oracle checks CONTENT, not
    * just counts. Window starts are 1, 1+stride, … while ≤ n (the tail
    * chunk is shorter; every token lands in ≥1 chunk). */
  val q72Chunking: QuerySpec = QuerySpec(
    "q72_chunking",
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |    len(string_split(text, ' ')) AS n
      |  FROM documents WHERE doc_id < 40),
      |chunks AS (
      |  SELECT doc_id,
      |    CAST((start - 1) / 24 AS BIGINT) AS chunk_id,
      |    CAST(start AS BIGINT) AS start_tok,
      |    CAST(least(32, n - start + 1) AS BIGINT) AS n_tok,
      |    md5(array_to_string(toks[start : start + 31], ' ')) AS chunk_md5
      |  FROM tok, LATERAL (SELECT unnest(range(1, n + 1, 24)) AS start))
      |SELECT doc_id, chunk_id, start_tok, n_tok, chunk_md5
      |FROM chunks ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
    graft.operators.Chunking.chunkTokenWindows(
        Tables.documents(s, dir).filter(col("doc_id") < 40),
        "doc_id", "text", chunkSize = 32, stride = 24)
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        col("n_tok"), md5(col("chunk")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** q73: bounded-memory heavy hitters per source — the SpaceSaving
    * TypedImperativeAggregate next to q61's exact vocabulary: a
    * k-entry summary per partition instead of shuffling every distinct
    * term. The ESTIMATES vary with encounter order, so the registered
    * output is the sketch's ORDER-FREE content — the published
    * guarantees audited against exact counts on the same corpus:
    * every emitted term satisfies count_est ≥ true ≥ count_est − err
    * (n_bound_violations = 0), every term with true frequency > n/k
    * is in the summary (n_missed_heavy = 0, the Metwally et al.
    * coverage theorem under the Agarwal et al. mergeable-summaries
    * merge), and the summary emits exactly min(k, |vocab|) entries.
    * All six columns are deterministic whatever the partitioning, so
    * DuckDB hash-verifies them from exact counts alone — the sketch's
    * verifiable surface, not its order-dependent estimates (those
    * remain exercised by SketchSpec's fixture assertions). The exact
    * per-(source, term) aggregation here is the AUDIT's cost, not the
    * sketch's — production reads the k-entry summaries directly. */
  val q73HeavyHitters: QuerySpec = QuerySpec(
    "q73_heavy_hitters",
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |t AS (
      |  SELECT source, COUNT(*) AS n_tokens,
      |    COUNT(DISTINCT term) AS n_distinct
      |  FROM tok GROUP BY 1)
      |SELECT source, n_tokens, n_distinct,
      |  least(10, n_distinct) AS n_emitted,
      |  CAST(0 AS BIGINT) AS n_bound_violations,
      |  CAST(0 AS BIGINT) AS n_missed_heavy
      |FROM t ORDER BY source""".stripMargin) { (s, dir) =>
      val k = 10
      val toks = Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
      val sketch = toks.groupBy(col("source"))
        .agg(graft.plans.SpaceSavingAgg.approxTopTerms(col("term"), k)
          .as("tt"))
        .select(col("source"), explode(col("tt")).as("e"))
        .select(col("source"), col("e.term").as("term"),
          col("e.count_est").as("est"), col("e.err").as("err"))
      val exact = toks.groupBy(col("source"), col("term"))
        .agg(count(lit(1)).as("c_true"))
      val totals = toks.groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("term")).as("n_distinct"))
      // the sketch side is |sources| × k rows; a LEFT outer join
      // cannot build its left side, but the exact frame arrives
      // already partitioned on (source, term) from its own aggregate,
      // so the sort-merge join reuses that exchange and only the tiny
      // sketch side shuffles
      val audited = sketch
        .join(exact, Seq("source", "term"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_emitted"),
          sum(when(col("c_true").isNull ||
              col("c_true") > col("est") ||
              col("c_true") < col("est") - col("err"), 1L)
            .otherwise(0L)).as("n_bound_violations"))
      val missed = exact.join(broadcast(totals), Seq("source"))
        .filter(col("c_true") * k > col("n_tokens"))
        .join(broadcast(sketch.select(col("source"), col("term"))),
          Seq("source", "term"), "left_anti")
        .groupBy(col("source")).agg(count(lit(1)).as("n_missed_heavy"))
      totals.join(audited, Seq("source"), "left")
        .join(missed, Seq("source"), "left")
        .select(col("source"), col("n_tokens"), col("n_distinct"),
          coalesce(col("n_emitted"), lit(0L)).as("n_emitted"),
          coalesce(col("n_bound_violations"), lit(0L))
            .as("n_bound_violations"),
          coalesce(col("n_missed_heavy"), lit(0L)).as("n_missed_heavy"))
        .orderBy(col("source"))
    }

  /** q82: deterministic train/val/test split (`Sampling.hashSplit`,
    * training-data pipeline ★): every document tagged 80/10/10 by a
    * pure hash of its key — stable across re-runs, engines, and corpus
    * growth. The oracle recomputes the same md5-derived bucket in SQL;
    * per-split doc counts, char volume, and an id-checksum pin the
    * exact membership, not just the rates. */
  val q82HashSplit: QuerySpec = QuerySpec(
    "q82_hash_split",
    s"""SELECT ${graft.operators.Sampling.sqlSplit("doc_id", 800, 100)}
       |    AS split,
       |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  CAST(SUM(doc_id) AS BIGINT) AS id_checksum
       |FROM documents
       |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    graft.operators.Sampling.hashSplit(
        Tables.documents(s, dir), "doc_id", "split",
        trainPermille = 800, valPermille = 100)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("doc_id")).as("id_checksum"))
      .orderBy(col("split"))
  }

  /** q93: the FULL LLM training-data pipeline as ONE verified query —
    * the engine's north-star lifecycle, every stage an operator that
    * is also individually oracle-checked: quality gate (q27's score) →
    * exact dedup (min-key per content fingerprint) → near-dup dedup
    * (exact 3-shingle Jaccard pairs via the PREFIX-FILTERED join —
    * `prefixJaccardPairs` ≡ `ngramJaccardPairs` by construction
    * (ExactSimilarityJoinSpec), but sub-quadratic, so the pipeline
    * runs the lossless tier at full-corpus scale where the naive
    * shingle self-join cannot — then `Dedup.dedupApply`, q77's
    * machinery) → token-window chunking
    * (q72) → per-DOCUMENT train/val/test tagging (q82 — chunks of one
    * doc never straddle splits). The oracle replays every stage in
    * SQL; chunk md5s pin the surviving content end to end. */
  val q93LlmPipeline: QuerySpec = QuerySpec(
    "q93_llm_pipeline",
    s"""WITH RECURSIVE gated AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE 0.5 * least(CAST($sqlNTok AS DOUBLE) / 64.0, 1.0)
       |    + 0.3 * least(CAST(${sqlVocabHits(TextFunctions.stopwords)}
       |        AS DOUBLE) / CAST($sqlNTok AS DOUBLE) * 10.0, 1.0)
       |    + 0.2 * least((CAST(length(text) AS DOUBLE)
       |        - (CAST($sqlNTok AS DOUBLE) - 1))
       |        / CAST($sqlNTok AS DOUBLE) / 8.0, 1.0) >= 0.5),
       |exact AS (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text, ROW_NUMBER() OVER (
       |      PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |    FROM gated) WHERE rn = 1),
       |tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM exact
       |  WHERE len(string_split(text, ' ')) >= 3),
       |sh AS (
       |  SELECT DISTINCT doc_id, unnest(list_transform(
       |    range(1, len(toks) - 1),
       |    i -> array_to_string(toks[i:i+2], ' '))) AS shingle
       |  FROM tok),
       |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b
       |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
       |  JOIN counts ca ON ca.doc_id = x.doc_id
       |  JOIN counts cb ON cb.doc_id = y.doc_id
       |  GROUP BY 1, 2
       |  HAVING CAST(COUNT(*) AS DOUBLE) /
       |    CAST(ANY_VALUE(ca.n_sh) + ANY_VALUE(cb.n_sh) - COUNT(*) AS DOUBLE)
       |    >= 0.5),
       |und(src, dst) AS (
       |  SELECT a, b FROM pairs UNION SELECT b, a FROM pairs
       |  UNION SELECT a, a FROM pairs UNION SELECT b, b FROM pairs),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM und
       |  UNION
       |  SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src),
       |comp AS (SELECT src AS v, MIN(dst) AS component FROM reach GROUP BY src),
       |drops AS (SELECT v FROM comp WHERE v <> component),
       |surv AS (
       |  SELECT doc_id, text FROM exact
       |  WHERE doc_id NOT IN (SELECT v FROM drops)),
       |stok AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |    len(string_split(text, ' ')) AS n
       |  FROM surv),
       |chunks AS (
       |  SELECT doc_id,
       |    CAST((start - 1) / 24 AS BIGINT) AS chunk_id,
       |    CAST(least(32, n - start + 1) AS BIGINT) AS n_tok,
       |    md5(array_to_string(toks[start : start + 31], ' ')) AS chunk_md5
       |  FROM stok, LATERAL (SELECT unnest(range(1, n + 1, 24)) AS start))
       |SELECT doc_id, chunk_id,
       |  ${graft.operators.Sampling.sqlSplit("doc_id", 800, 100)} AS split,
       |  n_tok, chunk_md5
       |FROM chunks ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
    import graft.operators.{Chunking, Dedup, Sampling}
    import org.apache.spark.sql.expressions.Window
    // markup stripping (q140's operator) slots in AHEAD of the gate
    // when the corpus is raw web pages; off by default because this
    // corpus is plain text and the oracle replays the unstripped
    // pipeline. On clean single-spaced text the strip is an identity,
    // so flipping the flag is oracle-safe here too (QueriesSpec pins
    // that).
    val raw = Tables.documents(s, dir)
    val src =
      if (s.conf.get("spark.graft.q93.stripMarkup", "false").toBoolean)
        raw.withColumn("text", TextFunctions.stripMarkup(col("text")))
      else raw
    val gated = src
      .filter(TextFunctions.qualityScore(col("text")) >= 0.5)
      .select(col("doc_id"), col("text"))
    // both the pair-generation subtree and the apply-step anti-join
    // consume `exact` — persist it (spill-safe) so the gate + window
    // dedup run once, the q65 lesson; a real pipeline materializes
    // this stage to storage anyway
    val exact = gated
      .withColumn("rn", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .filter(col("rn") === 1).drop("rn")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = Dedup.prefixJaccardPairs(
      exact.filter(size(split(col("text"), " ")) >= 3),
      "doc_id", "text", threshold = 0.5, shingleK = 3)
    val surv = Dedup.dedupApply(exact, "doc_id", pairs, "a", "b")
    val chunks = Chunking.chunkTokenWindows(surv, "doc_id", "text",
      chunkSize = 32, stride = 24)
    Sampling.hashSplit(chunks, "doc_id", "split",
        trainPermille = 800, valPermille = 100)
      .select(col("doc_id"), col("chunk_id"), col("split"), col("n_tok"),
        md5(col("chunk")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** q140: HTML/markup stripping (★ — the pass a real web corpus runs
    * BEFORE every text-analysis stage this engine ships): a third of
    * the documents get wrapped in a deterministic page shell — script
    * and style blocks with hostile content (`1 < 2`, a `<b>` inside
    * the script), a comment, attributed tags, the five ubiquitous
    * entities — and `TextFunctions.stripMarkup` must recover the
    * payload text exactly, cross-engine (md5 + length pin it). The
    * unwrapped two-thirds prove clean text passes through unchanged
    * modulo whitespace canonicalization. */
  val q140StripMarkup: QuerySpec = {
    val pre = """<html><head><style type="text/css">p {color: red}""" +
      """</style><!-- gen --></head><body onload="init()">""" +
      """<h1>Title &amp; &quot;Intro&quot;</h1>""" +
      """<script type="text/javascript">var x = 1 < 2; // <b></script>""" +
      """<p class="main">"""
    val suf = """</p>&nbsp;<div id="t">tail &lt;raw&gt; &#39;q&#39;""" +
      """</div></body></html>"""
    QuerySpec(
      "q140_strip_markup",
      s"""WITH seeded AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN '$pre' || text || '$suf'
         |      ELSE text END AS t
         |  FROM documents)
         |SELECT doc_id,
         |  md5(${TextFunctions.sqlStripMarkup("t")}) AS clean_md5,
         |  CAST(length(${TextFunctions.sqlStripMarkup("t")}) AS BIGINT)
         |    AS clean_len
         |FROM seeded ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val wrapped = when(col("doc_id") % 3 === 0,
        concat(lit(pre), col("text"), lit(suf))).otherwise(col("text"))
      val clean = TextFunctions.stripMarkup(wrapped)
      Tables.documents(s, dir)
        .select(col("doc_id"), md5(clean).as("clean_md5"),
          length(clean).cast("long").as("clean_len"))
        .orderBy(col("doc_id"))
    }
  }

  /** q141: URL canonicalization (★ — the pass ahead of URL-keyed
    * dedup and per-domain quotas): every six consecutive documents
    * spell the SAME page six ways — mixed-case scheme/host + `www.`,
    * explicit `:443`, a tracking parameter, a trailing slash, two
    * tracking parameters (exercising the leading-param weld guard),
    * and a fragment — and the canonicalizer must collapse each page
    * back to exactly one URL with all its variants counted. The
    * oracle replays the generated ladder (same pattern constants;
    * `\\1` vs `$1` replacement syntax is the one handled
    * divergence). */
  val q141UrlCanonicalize: QuerySpec = {
    val sqlPage = "CAST(doc_id - (doc_id % 6) AS VARCHAR)"
    QuerySpec(
      "q141_url_canonicalize",
      s"""WITH urls AS (
         |  SELECT doc_id,
         |    CASE CAST(doc_id % 6 AS INTEGER)
         |      WHEN 0 THEN 'https://example.com/p/' || $sqlPage
         |      WHEN 1 THEN 'HTTPS://WWW.EXAMPLE.COM/p/' || $sqlPage
         |      WHEN 2 THEN 'https://example.com:443/p/' || $sqlPage
         |        || '?utm_source=feed'
         |      WHEN 3 THEN 'https://www.example.com/p/' || $sqlPage || '/'
         |      WHEN 4 THEN 'https://example.com/p/' || $sqlPage
         |        || '?utm_a=1&utm_b=2'
         |      ELSE 'https://example.com/p/' || $sqlPage || '#section-2'
         |    END AS url
         |  FROM documents)
         |SELECT ${TextFunctions.sqlCanonicalizeUrl("url")} AS canon,
         |  COUNT(*) AS n_variants
         |FROM urls GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val page = (col("doc_id") - (col("doc_id") % 6)).cast("string")
      def p(pre: String, suf: String = "") =
        concat(lit(pre), page, lit(suf))
      val url = when(col("doc_id") % 6 === 0, p("https://example.com/p/"))
        .when(col("doc_id") % 6 === 1, p("HTTPS://WWW.EXAMPLE.COM/p/"))
        .when(col("doc_id") % 6 === 2,
          p("https://example.com:443/p/", "?utm_source=feed"))
        .when(col("doc_id") % 6 === 3, p("https://www.example.com/p/", "/"))
        .when(col("doc_id") % 6 === 4,
          p("https://example.com/p/", "?utm_a=1&utm_b=2"))
        .otherwise(p("https://example.com/p/", "#section-2"))
      Tables.documents(s, dir)
        .select(TextFunctions.canonicalizeUrl(url).as("canon"))
        .groupBy(col("canon")).agg(count(lit(1)).as("n_variants"))
        .orderBy(col("canon"))
    }
  }

  /** q105: Unicode text normalization (`TextFunctions.normalizeText`
    * over the codegen'd `plans.UnicodeNormalize` — JDK normalizer vs
    * DuckDB utf8proc, the SAME Unicode algorithm, which is exactly
    * what this oracle pins): every document gets a deterministic messy
    * suffix (composed É, decomposed e+combining-acute, doubled
    * whitespace, trailing pad) and both the NFC canonical form and the
    * accent-stripped form must hash identically cross-engine. This is
    * the step that makes exact dedup correct on multilingual corpora —
    * composed and decomposed spellings of the same text MUST collide.
    */
  val q105TextNormalize: QuerySpec = QuerySpec(
    "q105_text_normalize",
    """SELECT doc_id,
      |  md5(trim(regexp_replace(lower(nfc_normalize(
      |    text || CASE WHEN doc_id % 3 = 0
      |      THEN '  Élan CAFÉ  '
      |      WHEN doc_id % 3 = 1 THEN ' Élan  café'
      |      ELSE ' elan cafe' END)), '\s+', ' ', 'g')))
      |    AS norm_md5,
      |  md5(trim(regexp_replace(lower(strip_accents(nfc_normalize(
      |    text || CASE WHEN doc_id % 3 = 0
      |      THEN '  Élan CAFÉ  '
      |      WHEN doc_id % 3 = 1 THEN ' Élan  café'
      |      ELSE ' elan cafe' END))), '\s+', ' ', 'g')))
      |    AS strip_md5
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val suffix = when(col("doc_id") % 3 === 0, lit("  Élan CAFÉ  "))
      .when(col("doc_id") % 3 === 1, lit(" Élan  café"))
      .otherwise(lit(" elan cafe"))
    val messy = concat(col("text"), suffix)
    Tables.documents(s, dir)
      .select(col("doc_id"),
        md5(TextFunctions.normalizeText(messy)).as("norm_md5"),
        md5(TextFunctions.normalizeText(messy, stripAccents = true))
          .as("strip_md5"))
      .orderBy(col("doc_id"))
  }

  /** q112: Gopher-style repetition features, all pure per-row Column
    * expressions (scan-speed at 100 TB — no shuffle, no UDF). The
    * Spark side finds the max token multiplicity as the longest equal
    * run in the SORTED token array; the oracle counts per-distinct-
    * token occurrences — same value, independently computed. Ratios
    * are int/int double divisions, identical in both engines. */
  val q112Repetition: QuerySpec = QuerySpec(
    "q112_repetition",
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      |  CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
      |    AS distinct_token_ratio,
      |  CAST(list_max(list_transform(list_distinct(toks),
      |      t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE)
      |    / CAST(len(toks) AS DOUBLE) AS top_token_ratio,
      |  CAST(len(toks) - 1 - len(list_distinct(list_transform(
      |      range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' '))))
      |    AS DOUBLE) / CAST(len(toks) - 1 AS DOUBLE) AS dup_bigram_ratio
      |FROM tok ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.distinctTokenRatio(col("text"))
          .as("distinct_token_ratio"),
        TextFunctions.topTokenRatio(col("text")).as("top_token_ratio"),
        TextFunctions.dupBigramRatio(col("text")).as("dup_bigram_ratio"))
      .orderBy(col("doc_id"))
  }

  /** q113: sequence packing (concat-and-chunk) — per-language token
    * streams cut into 16-token training sequences; the result is the
    * (document × sequence) contribution map in exact longs. The spec
    * additionally asserts token conservation (Σ n_tok = Σ doc
    * tokens); the oracle pins every boundary. */
  val q113PackSequences: QuerySpec = QuerySpec(
    "q113_pack_sequences",
    """WITH t AS (
      |  SELECT lang, doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
      |    CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (
      |      PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS end_tok
      |  FROM documents),
      |x AS (
      |  SELECT lang, doc_id, n, end_tok, end_tok - n AS start_tok,
      |    unnest(generate_series((end_tok - n) // 16, (end_tok - 1) // 16))
      |      AS seq_id
      |  FROM t)
      |SELECT lang, doc_id, seq_id,
      |  LEAST(end_tok, (seq_id + 1) * 16) - GREATEST(start_tok, seq_id * 16)
      |    AS n_tok
      |FROM x ORDER BY lang, doc_id, seq_id""".stripMargin) { (s, dir) =>
    graft.operators.Chunking.packSequences(
        Tables.documents(s, dir), "lang", "doc_id", "text", seqLen = 16)
      .orderBy(col("lang"), col("doc_id"), col("seq_id"))
  }

  /** q114: source-mixture sampling — a 30k-token budget split over
    * target language weights (en 0.4, rest 0.15 each); under-supplied
    * languages cap at 1000‰ (taken whole). Emits the per-language
    * audit summary: applied permille, sampled docs, sampled tokens.
    * Membership is the deterministic portable-hash bucket, so the
    * oracle replays the exact sample, not just its size. */
  val q114MixtureSample: QuerySpec = {
    val weights = Map("en" -> 0.4, "de" -> 0.15, "es" -> 0.15,
      "fr" -> 0.15, "zh" -> 0.15)
    val wCase = "CASE lang " + weights.toSeq.sorted.map { case (l, wgt) =>
      s"WHEN '$l' THEN CAST($wgt AS DOUBLE) "
    }.mkString + "ELSE CAST(0.0 AS DOUBLE) END"
    QuerySpec(
      "q114_mixture_sample",
      s"""WITH d AS (
         |  SELECT lang, doc_id, CAST($sqlNTok AS BIGINT) AS n_tok,
         |    $wCase AS w
         |  FROM documents),
         |tot AS (
         |  SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS tot,
         |    ANY_VALUE(w) AS w
         |  FROM d GROUP BY 1),
         |rates AS (
         |  SELECT lang,
         |    ${graft.operators.Sampling.sqlMixturePermille("w", "tot", 30000L)}
         |      AS permille
         |  FROM tot)
         |SELECT d.lang, r.permille, COUNT(*) AS n_docs,
         |  CAST(SUM(d.n_tok) AS BIGINT) AS n_tokens
         |FROM d JOIN rates r USING (lang)
         |WHERE ${graft.operators.Sampling.sqlBucket("doc_id")} < r.permille
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin) { (s, dir) =>
      graft.operators.Sampling.mixtureSample(
          Tables.documents(s, dir)
            .withColumn("n_tok", TextFunctions.tokenCount(col("text"))),
          "lang", "doc_id", "n_tok", weights, tokenBudget = 30000L)
        .groupBy(col("lang"), col("permille"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        .orderBy(col("lang"))
    }
  }

  /** q154: mixture waterfilling (★ — closes the gap q114's operator
    * documents: a source too small for its target share is taken
    * WHOLE and its unused budget re-normalizes onto the unsaturated
    * sources, cascade-style). The weights deliberately oversubscribe
    * the small sources against this corpus so the cascade runs three
    * levels deep — de saturates in round 1, es/fr in round 2, zh in
    * round 3, and en absorbs the remainder — exercising every branch
    * of the loop, not just the no-saturation fixpoint. Integer
    * permille weights + integral token totals make every aggregate in
    * the cascade order-free-exact, so the oracle replays all four
    * rounds bit-for-bit via the generated `sqlWaterfillCtes` chain
    * (the GraphSql discipline). */
  val q154MixtureWaterfill: QuerySpec = {
    import graft.operators.Sampling
    val weights = Map("de" -> 500, "en" -> 125, "es" -> 125,
      "fr" -> 125, "zh" -> 125)
    val budget = 20000L
    val wCase = "CASE lang " + weights.toSeq.sorted.map { case (l, wgt) =>
      s"WHEN '$l' THEN CAST($wgt AS BIGINT) "
    }.mkString + "ELSE CAST(0 AS BIGINT) END"
    QuerySpec(
      "q154_mixture_waterfill",
      s"""WITH d AS (
         |  SELECT lang AS source, doc_id, CAST($sqlNTok AS BIGINT) AS n_tok,
         |    $wCase AS w
         |  FROM documents),
         |t0 AS (
         |  SELECT source, CAST(SUM(n_tok) AS DOUBLE) AS tot,
         |    ANY_VALUE(w) AS w
         |  FROM d GROUP BY 1),
         |${Sampling.sqlWaterfillCtes(budget, 4)}
         |SELECT d.source AS lang, CAST(t0.tot AS BIGINT) AS tot_tokens,
         |  p.permille, COUNT(*) AS n_docs,
         |  CAST(SUM(d.n_tok) AS BIGINT) AS n_tokens
         |FROM d JOIN perm p USING (source) JOIN t0 USING (source)
         |WHERE ${Sampling.sqlBucket("doc_id")} < p.permille
         |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .withColumn("n_tok", TextFunctions.tokenCount(col("text")))
      val tots = docs.groupBy(col("lang"))
        .agg(sum(col("n_tok")).as("tot_tokens"))
      Sampling.mixtureWaterfill(docs, "lang", "doc_id", "n_tok",
          weights, budget)
        .groupBy(col("lang"), col("permille"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        .join(broadcast(tots), Seq("lang"))
        .select(col("lang"), col("tot_tokens"), col("permille"),
          col("n_docs"), col("n_tokens"))
        .orderBy(col("lang"))
    }
  }

  /** q170: temperature-scaled mixture sampling (★ — the mBERT/mT5
    * multilingual rebalance: weights ∝ tot^α COMPUTED from the corpus
    * with α = 0.5, upsampling low-resource languages; q114/q154 take
    * their weights as GIVEN. See [[Sampling.temperatureMixture]] for
    * the iterated-sqrt dyadic-α determinism contract and the
    * sorted-fold normalization). Same presentation as q154 so the two
    * policies read side-by-side. */
  val q170TemperatureMix: QuerySpec = {
    import graft.operators.Sampling
    val budget = 10000L
    QuerySpec(
      "q170_temperature_mix",
      s"""WITH d AS (
         |  SELECT lang AS source, doc_id, CAST($sqlNTok AS BIGINT) AS n_tok
         |  FROM documents),
         |${Sampling.sqlTemperatureCtes(budget, 1)}
         |SELECT d.source AS lang, p.tot AS tot_tokens, p.permille,
         |  COUNT(*) AS n_docs, CAST(SUM(d.n_tok) AS BIGINT) AS n_tokens
         |FROM d JOIN tmperm p USING (source)
         |WHERE ${Sampling.sqlBucket("doc_id")} < p.permille
         |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
      Sampling.temperatureMixture(docs, "lang", "doc_id", "n_tok",
          budget, sqrtTimes = 1)
        .groupBy(col("lang"), col("tot"), col("permille"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        .select(col("lang"), col("tot").as("tot_tokens"), col("permille"),
          col("n_docs"), col("n_tokens"))
        .orderBy(col("lang"))
    }
  }

  /** q115: unigram entropy (perplexity-proxy quality feature). The
    * Spark side folds the SORTED token array once (O(n log n)); the
    * oracle scans per distinct token (O(n·d)) — independent
    * computations, same distribution. Both round to 6 decimals, which
    * absorbs ln's last-ulp divergence and the summation-order drift
    * (≪ 1e-6 for ≤100-term sums). */
  val q115TokenEntropy: QuerySpec = QuerySpec(
    "q115_token_entropy",
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      |SELECT doc_id,
      |  round(0.0 - list_sum(list_transform(list_distinct(toks),
      |    t -> (CAST(len(list_filter(toks, x -> x = t)) AS DOUBLE)
      |          / CAST(len(toks) AS DOUBLE))
      |      * ln(CAST(len(list_filter(toks, x -> x = t)) AS DOUBLE)
      |           / CAST(len(toks) AS DOUBLE)))), 6) AS entropy
      |FROM tok ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        TextFunctions.tokenEntropy(col("text")).as("entropy"))
      .orderBy(col("doc_id"))
  }

  /** q116: PII scrubbing over a deterministically seeded corpus (the
    * synthetic documents carry no PII, so the query plants email and
    * card-number shapes on a doc_id schedule — the q105 seeding
    * recipe). The md5 of the scrubbed text pins every replacement;
    * the count composes like the redaction (digit runs counted after
    * email replacement). Patterns live in the RE2 ∩ Java common
    * subset so both engines run the same automaton. */
  val q116PiiScrub: QuerySpec = QuerySpec(
    "q116_pii_scrub",
    s"""WITH seeded AS (
       |  SELECT doc_id, text ||
       |    CASE WHEN doc_id % 7 = 0
       |      THEN ' reach me at jane.doe42@mail.example.org now'
       |    WHEN doc_id % 11 = 0 THEN ' card 4111111122223333 on file'
       |    ELSE '' END AS t
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '${TextFunctions.piiEmailPattern}'))
       |    + len(regexp_extract_all(regexp_replace(t,
       |        '${TextFunctions.piiEmailPattern}', '<EMAIL>', 'g'),
       |      '${TextFunctions.piiNumberPattern}')) AS BIGINT)
       |    AS n_redactions,
       |  md5(regexp_replace(regexp_replace(t,
       |      '${TextFunctions.piiEmailPattern}', '<EMAIL>', 'g'),
       |    '${TextFunctions.piiNumberPattern}', '<NUM>', 'g')) AS clean_md5
       |FROM seeded ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val seeded = concat(col("text"),
      when(col("doc_id") % 7 === 0,
        lit(" reach me at jane.doe42@mail.example.org now"))
        .when(col("doc_id") % 11 === 0,
          lit(" card 4111111122223333 on file"))
        .otherwise(lit("")))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        TextFunctions.piiCount(seeded).as("n_redactions"),
        md5(TextFunctions.piiRedact(seeded)).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  /** q117: BM25 relevance scoring for a literal query-term set — one
    * corpus-stats scan broadcast back onto a second scan, per-row term
    * frequencies (no corpus explode), fixed-order 6-decimal-rounded
    * sum. The oracle mirrors the arithmetic operation-for-operation
    * (literals CAST to DOUBLE so both engines fold the same IEEE
    * constants). */
  val q117Bm25: QuerySpec = {
    val terms = Seq("spark", "join", "window")
    val av = "(tot_len / n_docs)"
    def sqlTerm(t: String, i: Int): String = {
      val tf = s"CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE)"
      s"ln(CAST(1.0 AS DOUBLE) + (n_docs - df_$i + 0.5) / (df_$i + 0.5))" +
        s" * ($tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))" +
        s" / ($tf + CAST(1.2 AS DOUBLE) * ((CAST(1.0 AS DOUBLE) - " +
        s"CAST(0.75 AS DOUBLE)) + CAST(0.75 AS DOUBLE) * " +
        s"CAST(len(toks) AS DOUBLE) / $av))"
    }
    val score = terms.zipWithIndex.map { case (t, i) => sqlTerm(t, i) }
      .mkString(" + ")
    val dfs = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(SUM(CASE WHEN len(list_filter(toks, x -> x = '$t')) > 0 " +
        s"THEN 1 ELSE 0 END) AS DOUBLE) AS df_$i"
    }.mkString(", ")
    QuerySpec(
      "q117_bm25",
      s"""WITH tok AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |stats AS (
         |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         |    CAST(SUM(len(toks)) AS DOUBLE) AS tot_len, $dfs
         |  FROM tok)
         |SELECT doc_id, score FROM (
         |  SELECT doc_id, round($score, 6) AS score
         |  FROM tok CROSS JOIN stats)
         |WHERE score > 0.0 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.operators.Search.bm25(
          Tables.documents(s, dir), "doc_id", "text", terms)
        .orderBy(col("doc_id"))
    }
  }

  /** q119: bigram language-model table — each token's most likely
    * successor with its conditional probability (count-based LM, the
    * statistic behind repetition filters and domain classifiers).
    * Scale shape: bigram counts are VOCABULARY²-bounded (not corpus-
    * bounded) with map-side combine, the per-w1 totals reuse the
    * count aggregate, and the window ranks within vocabulary-sized
    * groups. p_next is an exact-int double division — cross-engine
    * identical without rounding. */
  val q119BigramLm: QuerySpec = QuerySpec(
    "q119_bigram_lm",
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |bi0 AS (
      |  SELECT unnest(list_transform(range(1, len(toks)),
      |    i -> {'w1': toks[i], 'w2': toks[i+1]})) AS p
      |  FROM tok WHERE len(toks) >= 2),
      |bi AS (SELECT p.w1 AS w1, p.w2 AS w2 FROM bi0),
      |cnt AS (SELECT w1, w2, COUNT(*) AS c FROM bi GROUP BY 1, 2),
      |tot AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS tot FROM cnt GROUP BY 1),
      |ranked AS (
      |  SELECT w1, w2, c,
      |    ROW_NUMBER() OVER (PARTITION BY w1 ORDER BY c DESC, w2) AS rn
      |  FROM cnt)
      |SELECT r.w1, r.w2 AS next_tok, CAST(r.c AS BIGINT) AS n_pair,
      |  CAST(r.c AS DOUBLE) / CAST(t.tot AS DOUBLE) AS p_next
      |FROM ranked r JOIN tot t USING (w1) WHERE rn = 1
      |ORDER BY w1""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val pairs = bigramPairs(Tables.documents(s, dir))
    // vocabulary²-sized — cache it so the corpus explode+aggregate
    // feeds both the ranking and the totals once
    val cnt = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c")).cache()
    val tot = cnt.groupBy(col("w1")).agg(sum(col("c")).as("tot"))
    val w = Window.partitionBy(col("w1"))
      .orderBy(col("c").desc, col("w2"))
    cnt.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(tot, Seq("w1"))
      .select(col("w1"), col("w2").as("next_tok"),
        col("c").as("n_pair"),
        (col("c").cast("double") / col("tot").cast("double")).as("p_next"))
      .orderBy(col("w1"))
  }

  /** q121: bigram-LM cross-entropy scoring — each document's average
    * −log2 transition probability under the corpus's own q119 bigram
    * model (the KenLM-style perplexity quality filter). Self-scoring
    * makes MLE exact (no unseen bigrams), so the oracle replays it
    * fully: same LM join, same per-doc fold over the SORTED
    * (w1, w2, nl) array — `aggregate` in Spark, `list_reduce` in
    * DuckDB — so float addition order is pinned on both engines.
    * log2 is mirrored as ln/ln2 op-for-op; round-6 (+0.0, the q115
    * normalizations) absorbs the last-ulp ln divergence. */
  val q121LmScore: QuerySpec = QuerySpec(
    "q121_lm_score",
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |bi0 AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |    i -> {'w1': toks[i], 'w2': toks[i+1]})) AS p
      |  FROM tok WHERE len(toks) >= 2),
      |bi AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bi0),
      |cnt AS (SELECT w1, w2, COUNT(*) AS c FROM bi GROUP BY 1, 2),
      |tot AS (SELECT w1, SUM(c) AS tot FROM cnt GROUP BY 1),
      |lm AS (
      |  SELECT w1, w2, CAST(c AS DOUBLE) / CAST(tot AS DOUBLE) AS p
      |  FROM cnt JOIN tot USING (w1)),
      |db AS (
      |  SELECT doc_id, w1, w2, COUNT(*) AS m FROM bi GROUP BY 1, 2, 3),
      |e AS (
      |  SELECT doc_id, m,
      |    {'w1': w1, 'w2': w2,
      |     'nl': CAST(m AS DOUBLE) * -(ln(p) / ln(2))} AS e
      |  FROM db JOIN lm USING (w1, w2)),
      |g AS (
      |  SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_bigrams,
      |    list_sort(list(e)) AS es
      |  FROM e GROUP BY 1)
      |SELECT doc_id, n_bigrams,
      |  round(list_reduce(list_prepend(0.0,
      |      list_transform(es, x -> x.nl)), (acc, x) -> acc + x)
      |    / n_bigrams, 6) + 0.0 AS xent
      |FROM g ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.operators.Search.bigramCrossEntropy(
        Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("n_bigrams"),
        (col("xent") + lit(0.0)).as("xent"))
      .orderBy(col("doc_id"))
  }

  /** q131: PMI collocations — the top bigrams by pointwise mutual
    * information ln(c₁₂·N / (c₁·c₂)), the classic collocation statistic
    * (and the feature behind phrase-mining vocabulary growth). Counts
    * are exact ints; the single ln closes in double and rounds to 6,
    * with (w1, w2) tie-breaks making the top-40 cut deterministic.
    * Scale shape: three bigram-bounded aggregates (pair, first-
    * position, second-position counts) joined on rare keys, plus a
    * 1-row total broadcast (the q76 metadata cross). */
  val q131PmiCollocations: QuerySpec = QuerySpec(
    "q131_pmi_collocations",
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |bi0 AS (
      |  SELECT unnest(list_transform(range(1, len(toks)),
      |    i -> {'w1': toks[i], 'w2': toks[i+1]})) AS p
      |  FROM tok WHERE len(toks) >= 2),
      |bi AS (SELECT p.w1 AS w1, p.w2 AS w2 FROM bi0),
      |cnt AS (SELECT w1, w2, COUNT(*) AS c FROM bi GROUP BY 1, 2),
      |nb AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nb FROM bi),
      |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY 1),
      |c2 AS (SELECT w2, COUNT(*) AS c2 FROM bi GROUP BY 1)
      |SELECT w1, w2, CAST(c AS BIGINT) AS n_pair,
      |  round(ln(CAST(c AS DOUBLE) * (SELECT nb FROM nb)
      |    / (CAST(c1.c1 AS DOUBLE) * CAST(c2.c2 AS DOUBLE))), 6) AS pmi
      |FROM cnt JOIN c1 USING (w1) JOIN c2 USING (w2)
      |WHERE c >= 5
      |ORDER BY pmi DESC, w1, w2 LIMIT 40""".stripMargin) { (s, dir) =>
    val bi = bigramPairs(Tables.documents(s, dir))
      .cache() // four consumers below; bigram-explode runs once
    val cnt = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    val nb = bi.agg(count(lit(1)).cast("double").as("nb"))
    val c1 = bi.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val c2 = bi.groupBy(col("w2")).agg(count(lit(1)).as("c2"))
    cnt.join(c1, Seq("w1")).join(c2, Seq("w2"))
      .crossJoin(broadcast(nb))
      .filter(col("c") >= 5)
      .select(col("w1"), col("w2"), col("c").as("n_pair"),
        round(log(col("c").cast("double") * col("nb")
          / (col("c1").cast("double") * col("c2").cast("double"))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(40)
  }

  /** q134: content-defined chunking — cut points are anchor tokens
    * (portable hash ≡ 0 mod 12), so chunk identity survives document
    * edits (the FastCDC property fixed windows lack; see
    * Chunking.contentDefinedChunks). Chunk content is pinned by md5
    * on both engines. */
  val q134CdcChunks: QuerySpec = {
    val gate = 12
    val h = graft.functions.Scalars.sqlPortableHash64("u.t")
    QuerySpec(
      "q134_cdc_chunks",
      s"""WITH tok AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks
         |  FROM documents WHERE doc_id < 300),
         |t0 AS (
         |  SELECT doc_id, unnest(list_transform(
         |    range(1, len(toks) + 1), i -> {'i': i, 't': toks[i]})) AS u
         |  FROM tok),
         |t AS (
         |  SELECT doc_id, u.i AS pos, u.t AS tok,
         |    CASE WHEN ($h) % $gate = 0 THEN 1 ELSE 0 END AS anchor
         |  FROM t0),
         |c AS (
         |  SELECT doc_id, pos, tok, COALESCE(SUM(anchor) OVER (
         |    PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS chunk_id
         |  FROM t)
         |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_md5
         |FROM c GROUP BY doc_id, chunk_id
         |ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
      graft.operators.Chunking.contentDefinedChunks(
          Tables.documents(s, dir).filter(col("doc_id") < 300),
          "doc_id", "text", gate)
        .orderBy(col("doc_id"), col("chunk_id"))
    }
  }

  /** q137: corpus card — the per-(lang, source) + rollup statistics a
    * dataset card publishes, in ONE scan: doc/token/char totals and
    * the short/long tails. Exact-int measures only, so the rollup is
    * hash-stable. Rollup rows are labeled 'ALL' via GROUPING() — not
    * by coalescing the key itself, which would conflate a rollup row
    * with a genuine NULL data value and make duplicate ('ALL', x)
    * keys possible; data NULLs print as 'NULL', keeping output keys
    * unique by construction on both engines. */
  val q137CorpusCard: QuerySpec = QuerySpec(
    "q137_corpus_card",
    """SELECT
      |  CASE WHEN GROUPING(lang) = 1 THEN 'ALL'
      |       ELSE COALESCE(lang, 'NULL') END AS lang,
      |  CASE WHEN GROUPING(source) = 1 THEN 'ALL'
      |       ELSE COALESCE(source, 'NULL') END AS source,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(SUM(CASE WHEN len(string_split(text, ' ')) < 80
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
      |  CAST(SUM(CASE WHEN len(string_split(text, ' ')) >= 120
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_long
      |FROM documents
      |GROUP BY ROLLUP (lang, source)
      |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val tk = size(split(col("text"), " "))
    Tables.documents(s, dir)
      .select(col("lang"), col("source"), tk.as("tk"), col("n_chars"))
      .rollup(col("lang"), col("source"))
      .agg(grouping(col("lang")).as("gl"),
        grouping(col("source")).as("gs"),
        count(lit(1)).as("n_docs"),
        sum(col("tk")).cast("long").as("total_tokens"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        sum(when(col("tk") < 80, 1L).otherwise(0L)).as("n_short"),
        sum(when(col("tk") >= 120, 1L).otherwise(0L)).as("n_long"))
      .select(
        when(col("gl") === 1, lit("ALL"))
          .otherwise(coalesce(col("lang"), lit("NULL"))).as("lang"),
        when(col("gs") === 1, lit("ALL"))
          .otherwise(coalesce(col("source"), lit("NULL"))).as("source"),
        col("n_docs"), col("total_tokens"), col("total_chars"),
        col("n_short"), col("n_long"))
      .orderBy(col("lang"), col("source"))
  }

  /** q144: positional inverted index + phrase search (SURVEY §2.15) —
    * the retrieval structure next to q117's BM25 term scoring: exact
    * multi-token phrase queries answered from postings, not substring
    * scans. The oracle is deliberately a DIFFERENT algorithm — a
    * brute-force token-slice comparison straight off the definition
    * ("tokens p..p+n−1 equal the phrase") — so the hash match verifies
    * the index intersection's SEMANTICS, not a replay of its
    * arithmetic. The phrase set exercises the two classic traps:
    * repeated tokens ("a a") and overlapping occurrences ("a a" twice
    * inside an "a a a" run — replace()-style counting misses these),
    * plus a 3-token phrase. */
  val q144PhraseSearch: QuerySpec = {
    val phrases = Seq("a a", "table table", "key scan", "query key scan")
    def occSelect(p: String): String = {
      val ts = p.split(" ")
      val conds = ts.zipWithIndex.map { case (t, i) =>
        s"toks[pos + $i] = '$t'"
      }.mkString(" AND ")
      s"""  SELECT '$p' AS phrase, doc_id, pos AS start
         |  FROM p WHERE pos + ${ts.length - 1} <= n_toks AND $conds"""
        .stripMargin
    }
    QuerySpec(
      "q144_phrase_search",
      s"""WITH d AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks
         |  FROM documents),
         |p AS (
         |  SELECT doc_id, toks, len(toks) AS n_toks,
         |    unnest(range(1, len(toks) + 1)) AS pos
         |  FROM d),
         |occ AS (
         |${phrases.map(occSelect).mkString("\n  UNION ALL\n")})
         |SELECT phrase, doc_id, CAST(COUNT(*) AS BIGINT) AS n_occ,
         |  MIN(start) AS first_pos
         |FROM occ GROUP BY 1, 2
         |ORDER BY phrase, doc_id""".stripMargin) { (s, dir) =>
      import graft.operators.Search
      val postings = Search.positionalPostings(
        Tables.documents(s, dir), "doc_id", "text")
      Search.phraseSearch(postings, "doc_id", phrases)
        .select(col("phrase"), col("doc_id"), col("n_occ"),
          col("first_pos"))
        .orderBy(col("phrase"), col("doc_id"))
    }
  }

  /** q148: Gopher-style heuristic quality rule bank (★ — Rae et al.
    * 2021's published per-document filter rules; the rule-level audit
    * a corpus curation run reports before dropping documents). The
    * corpus alone would leave most rules' fail branches untested, so
    * the query unions four deterministic hostile mutations — truncated
    * ("short"), symbol-spammed ("symbol"), de-lexicalized ("digits"),
    * single-token-looped ("loop") — each expressible identically in
    * both engines, then evaluates every rule as its own boolean column
    * plus the conjunction. Rule expressions and thresholds come from
    * TextFunctions.heuristicRules / sqlHeuristicRules, generated from
    * one constant set. Per-row Column arithmetic only — scan speed, no
    * shuffle beyond the final sort. */
  val q148QualityRules: QuerySpec = {
    val rulesSql = TextFunctions.sqlHeuristicRules("text")
    QuerySpec(
      "q148_quality_rules",
      s"""WITH v AS (
         |  SELECT 'base' AS variant, doc_id, text FROM documents
         |  UNION ALL SELECT 'digits', doc_id,
         |    regexp_replace(text, '[a-z]+', '0', 'g') FROM documents
         |  UNION ALL SELECT 'loop', doc_id,
         |    trim(repeat((string_split(text, ' '))[1] || ' ', 40))
         |    FROM documents
         |  UNION ALL SELECT 'short', doc_id,
         |    array_to_string((string_split(text, ' '))[1:3], ' ')
         |    FROM documents
         |  UNION ALL SELECT 'symbol', doc_id,
         |    regexp_replace(text, ' ', ' ## ', 'g') FROM documents)
         |SELECT variant, doc_id,
         |${rulesSql.map { case (n, e) => s"  $e AS $n," }.mkString("\n")}
         |  (${rulesSql.map(_._2).mkString("\n    AND ")}) AS keep
         |FROM v ORDER BY variant, doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val toks = split(col("text"), " ")
      def variant(name: String, t: org.apache.spark.sql.Column) =
        docs.select(lit(name).as("variant"), col("doc_id"), t.as("text"))
      val v = variant("base", col("text"))
        .unionByName(variant("digits",
          regexp_replace(col("text"), "[a-z]+", "0")))
        .unionByName(variant("loop",
          trim(repeat(concat(element_at(toks, 1), lit(" ")), 40))))
        .unionByName(variant("short", array_join(slice(toks, 1, 3), " ")))
        .unionByName(variant("symbol",
          regexp_replace(col("text"), " ", " ## ")))
      // keep is the conjunction of the SAME rule columns (not a fresh
      // heuristicKeep build): rulesStruct's lambda variables get new
      // ids per build, so two builds are not semantically equal and
      // codegen CSE cannot share them — one shared tree halves the
      // per-row evaluation
      val rules = TextFunctions.heuristicRules(col("text"))
      v.select(col("variant") +: col("doc_id") +:
          rules.map { case (n, c) => c.as(n) } :+
          rules.map(_._2).reduce(_ && _).as("keep"): _*)
        .orderBy(col("variant"), col("doc_id"))
    }
  }

  /** q149: harvested domain link graph → PageRank (★ — the link-graph
    * feature pass of a web-corpus pipeline: pages carry outlinks,
    * extraction + canonicalization collapse the crawl's spelling
    * variants, and domain-level PageRank scores feed quality
    * weighting). The corpus has no native URLs, so each doc embeds two
    * anchor links whose targets derive from its own tokens — spelled
    * three hostile ways by doc_id mod 3 (clean / SHOUTED+www+:443 /
    * sole tracking param) plus a fragment+trailing-slash second link,
    * all of which canonicalize to ONE spelling per target, which is
    * the point. Then: extractUrls over the page, canonicalizeUrl,
    * host extraction, distinct symmetrized domain edges, and the
    * production decimal PageRank (q124's operator); the oracle replays
    * the whole chain with the SQL generated from the same pattern
    * constants (sqlExtractUrls / sqlCanonicalizeUrl / sqlUrlHost) and
    * the shared GraphSql CTE chain. */
  val q149DomainPagerank: QuerySpec = {
    val iters = 3
    val canonSql = TextFunctions.sqlCanonicalizeUrl("url")
    val hostSql = TextFunctions.sqlUrlHost(s"($canonSql)")
    QuerySpec(
      "q149_domain_pagerank",
      s"""WITH tk AS (
         |  SELECT doc_id, source, lang, text, string_split(text, ' ') AS toks
         |  FROM documents),
         |lnk AS (
         |  SELECT doc_id, source, text,
         |    CASE doc_id % 3
         |      WHEN 0 THEN 'https://' || toks[1] || '.example.com/p/' || lang
         |      WHEN 1 THEN 'HTTPS://WWW.' || upper(toks[1])
         |        || '.EXAMPLE.COM:443/p/' || lang
         |      ELSE 'https://' || toks[1] || '.example.com/p/' || lang
         |        || '?utm_campaign=z'
         |    END AS u1,
         |    'https://' || COALESCE(toks[2], toks[1]) || '.example.com/p/'
         |      || lang || '/#top' AS u2
         |  FROM tk),
         |page AS (
         |  SELECT source, text || ' <a href="' || u1 || '">l</a> <a href="'
         |    || u2 || '">l</a>' AS page
         |  FROM lnk),
         |u AS (
         |  SELECT source, unnest(${TextFunctions.sqlExtractUrls("page")}) AS url
         |  FROM page),
         |raw AS (
         |  SELECT DISTINCT source || '.example.com' AS src, $hostSql AS dst
         |  FROM u WHERE source || '.example.com' <> $hostSql),
         |ed0 AS (SELECT src, dst FROM raw UNION SELECT dst, src FROM raw),
         |dict AS (SELECT DISTINCT src AS domain FROM ed0),
         |ed AS (
         |  SELECT ${Scalars.sqlPortableHash64("src")} AS src,
         |    ${Scalars.sqlPortableHash64("dst")} AS dst
         |  FROM ed0),
         |${GraphSql.prCtes(iters)}
         |SELECT d.domain, round(rank, 6) AS pr
         |FROM r$iters r JOIN dict d
         |  ON r.node = ${Scalars.sqlPortableHash64("d.domain")}
         |ORDER BY pr DESC, domain""".stripMargin) { (s, dir) =>
      import graft.operators.Graph
      val toks = split(col("text"), " ")
      val t1 = element_at(toks, 1)
      val t2 = when(size(toks) >= 2, element_at(toks, 2)).otherwise(t1)
      val u1 = when(col("doc_id") % 3 === 0,
          concat(lit("https://"), t1, lit(".example.com/p/"), col("lang")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("HTTPS://WWW."), upper(t1),
            lit(".EXAMPLE.COM:443/p/"), col("lang")))
        .otherwise(concat(lit("https://"), t1, lit(".example.com/p/"),
          col("lang"), lit("?utm_campaign=z")))
      val u2 = concat(lit("https://"), t2, lit(".example.com/p/"),
        col("lang"), lit("/#top"))
      val page = concat(col("text"), lit(" <a href=\""), u1,
        lit("\">l</a> <a href=\""), u2, lit("\">l</a>"))
      val raw = Tables.documents(s, dir)
        .select(col("source"), explode(TextFunctions.extractUrls(page))
          .as("url"))
        .select(concat(col("source"), lit(".example.com")).as("src"),
          TextFunctions.urlHost(TextFunctions.canonicalizeUrl(col("url")))
            .as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
      // dictionary-encode domains to long ids ahead of the iterative
      // walk (string keys must not ride through every iteration's
      // shuffle); the portable hash keeps the encoding oracle-
      // replayable, and the label join-back is one broadcast
      val ed0 = raw
        .unionByName(raw.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val dict = ed0.select(col("src").as("domain")).distinct()
      val edges = ed0.select(
        Scalars.portableHash64(col("src")).as("src"),
        Scalars.portableHash64(col("dst")).as("dst"))
      Graph.pageRank(edges, "src", "dst", iters, exactDecimalSum = true)
        .join(broadcast(dict),
          col("node") === Scalars.portableHash64(col("domain")))
        .select(col("domain"), round(col("rank"), 6).as("pr"))
        .orderBy(col("pr").desc, col("domain"))
    }
  }

  /** q150: the composed web-curation pipeline — the crawl-to-corpus
    * posture run end to end as ONE oracle-verified plan: raw page →
    * URL harvest spelling-collapse ([[TextFunctions.canonicalizeUrl]])
    * → markup strip → Gopher rule gate → URL-keyed dedup (first doc
    * per canonical page) → per-domain quota cap
    * (Sampling.reservoirPerGroup, the salted skew-shielded operator).
    * Every doc keeps its stage verdicts (`gate_keep`, `url_keep`,
    * `kept`) so the output is the per-stage audit a curation run
    * reports, with both branches of every stage populated (the corpus
    * fails ~22% of docs on the stopword rule; 400 canonical pages
    * across 20 domains make both dedup and the k=3 quota bite).
    * Plan shape: scan-speed regex ladders, ONE canon-partitioned
    * window (url_keep ranks gate-passers first, so no self-join), the
    * quota operator's salted two-stage window, and a final doc_id
    * join against the quota survivors (3·domains rows — small
    * relative to the corpus at any scale). Oracle: every stage's SQL
    * is generated from the same constants as the Column side. */
  val q150CurationPipeline: QuerySpec = {
    import graft.operators.Sampling
    val quotaK = 3
    val rulesConj =
      TextFunctions.sqlHeuristicRules("clean").map(_._2)
        .mkString("(", "\n       AND ", ")")
    QuerySpec(
      "q150_curation_pipeline",
      s"""WITH d AS (
         |  SELECT doc_id, text, CAST(doc_id % 400 AS VARCHAR) AS g,
         |    CAST((doc_id % 400) % 20 AS VARCHAR) AS dm
         |  FROM documents),
         |u AS (
         |  SELECT doc_id, text,
         |    CASE doc_id % 3
         |      WHEN 0 THEN 'https://site' || dm || '.example.com/page/' || g
         |      WHEN 1 THEN 'HTTPS://SITE' || dm || '.EXAMPLE.COM:443/page/' || g
         |      ELSE 'https://www.site' || dm || '.example.com/page/' || g
         |        || '?utm_source=x'
         |    END AS url
         |  FROM d),
         |p AS (
         |  SELECT doc_id, url, '<html><body><p>' || text
         |    || '</p> <a href="' || url || '">x</a></body></html>' AS page
         |  FROM u),
         |c AS (
         |  SELECT doc_id, ${TextFunctions.sqlCanonicalizeUrl("url")} AS canon,
         |    ${TextFunctions.sqlStripMarkup("page")} AS clean
         |  FROM p),
         |b AS (
         |  SELECT doc_id, canon, ${TextFunctions.sqlUrlHost("canon")} AS domain,
         |    $rulesConj AS gate_keep
         |  FROM c),
         |w AS (
         |  SELECT doc_id, canon, domain, gate_keep,
         |    (gate_keep AND ROW_NUMBER() OVER (
         |      PARTITION BY canon
         |      ORDER BY CASE WHEN gate_keep THEN 0 ELSE 1 END, doc_id) = 1)
         |      AS url_keep
         |  FROM b),
         |q AS (
         |  SELECT doc_id, ROW_NUMBER() OVER (
         |    PARTITION BY domain
         |    ORDER BY ${Sampling.sqlReservoirOrder("doc_id")}) AS qr
         |  FROM w WHERE url_keep)
         |SELECT w.doc_id, w.canon, w.domain, w.gate_keep, w.url_keep,
         |  COALESCE(q.qr <= $quotaK, FALSE) AS kept
         |FROM w LEFT JOIN q ON w.doc_id = q.doc_id
         |ORDER BY w.doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val g = (col("doc_id") % 400).cast("string")
      val dm = ((col("doc_id") % 400) % 20).cast("string")
      val url = when(col("doc_id") % 3 === 0,
          concat(lit("https://site"), dm, lit(".example.com/page/"), g))
        .when(col("doc_id") % 3 === 1,
          concat(lit("HTTPS://SITE"), dm, lit(".EXAMPLE.COM:443/page/"), g))
        .otherwise(concat(lit("https://www.site"), dm,
          lit(".example.com/page/"), g, lit("?utm_source=x")))
      val page = concat(lit("<html><body><p>"), col("text"),
        lit("</p> <a href=\""), col("url"), lit("\">x</a></body></html>"))
      // the Generate wrapper is a projection-collapse barrier (the
      // round-5 CollapseProject lesson): without it the strip-markup
      // regex ladder inlines into EVERY reference the six rules make
      // to `clean` (the bigram lambda re-evaluates it per element) —
      // measured 10.8 s at sf0.1; 1.3 s with the barrier
      val b = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), url.as("url"))
        .select(explode(array(struct(col("doc_id"),
          TextFunctions.canonicalizeUrl(col("url")).as("canon"),
          TextFunctions.stripMarkup(page).as("clean")))).as("r"))
        .select(col("r.doc_id").as("doc_id"), col("r.canon").as("canon"),
          col("r.clean").as("clean"))
        .select(col("doc_id"), col("canon"),
          TextFunctions.urlHost(col("canon")).as("domain"),
          TextFunctions.heuristicKeep(col("clean")).as("gate_keep"))
      // url dedup without a self-join: gate-passers rank FIRST inside
      // each canonical page's window, so "first gate-passer" is rank 1
      val w = b.withColumn("url_keep",
        col("gate_keep") && row_number().over(
          Window.partitionBy(col("canon"))
            .orderBy(when(col("gate_keep"), 0).otherwise(1),
              col("doc_id"))) === 1)
      val quota = Sampling.reservoirPerGroup(
        w.filter(col("url_keep")).select(col("doc_id"), col("domain")),
        Seq("domain"), "doc_id", quotaK)
      w.join(quota.select(col("doc_id"), lit(true).as("__q")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("canon"), col("domain"),
          col("gate_keep"), col("url_keep"),
          coalesce(col("__q"), lit(false)).as("kept"))
        .orderBy(col("doc_id"))
    }
  }

  /** q152: corpus-wide percentile-rank normalization of the quality
    * score via the bottom-k sample (★ — mixture recipes weight
    * documents by quality RANK, not raw score, and the exact
    * `percent_rank` is a GLOBAL sort: one task sorts the corpus at
    * 100 TB). The k-sample aggregates to one sorted-array row,
    * broadcasts, and every doc scores with an in-row O(k) filter —
    * the corpus never shuffles. est_pct is deterministic (the sample
    * is a pure function of the key set), so the oracle replays it
    * exactly; the O(1/√k) rank-error bound vs the exact CDF is pinned
    * in SketchSpec, where the exact side belongs (computing it in the
    * query would ship the very global sort the operator exists to
    * avoid). */
  val q152PercentileNormalize: QuerySpec = {
    import graft.operators.QuantileSketch
    val k = 100
    val qualitySql =
      s"""0.5 * least(CAST($sqlNTok AS DOUBLE) / 64.0, 1.0)
         |    + 0.3 * least(CAST(${sqlVocabHits(TextFunctions.stopwords)}
         |        AS DOUBLE) / CAST($sqlNTok AS DOUBLE) * 10.0, 1.0)
         |    + 0.2 * least((CAST(length(text) AS DOUBLE)
         |        - (CAST($sqlNTok AS DOUBLE) - 1))
         |      / CAST($sqlNTok AS DOUBLE) / 8.0, 1.0)""".stripMargin
    QuerySpec(
      "q152_percentile_normalize",
      s"""WITH q AS (
         |  SELECT doc_id, $qualitySql AS quality
         |  FROM documents),
         |sk AS (
         |  SELECT quality AS value FROM q
         |  ORDER BY ${graft.operators.Sampling.sqlReservoirOrder("doc_id")}
         |  LIMIT $k),
         |vs AS (SELECT list_sort(list(value)) AS vs FROM sk)
         |SELECT doc_id, quality,
         |  ${QuantileSketch.sqlApproxPercentile("(SELECT vs FROM vs)",
              "quality")} AS est_pct
         |FROM q ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val q = Tables.documents(s, dir)
        .select(col("doc_id"),
          TextFunctions.qualityScore(col("text")).as("quality"))
      val sk = QuantileSketch.sketch(q, Seq.empty, "doc_id", "quality", k)
      QuantileSketch.approxPercentile(q, sk, "quality")
        .select(col("doc_id"), col("quality"), col("est_pct"))
        .orderBy(col("doc_id"))
    }
  }

  /** q155: Kneser–Ney perplexity gate (★ — the CCNet quality-filter
    * setup q121's self-scoring MLE cannot express: the LM is trained
    * on a reference partition (doc_id % 3 ≠ 0) and scores the WHOLE
    * corpus, so held-out docs hit unseen bigrams and unseen contexts
    * and the interpolated-KN smoothing + continuation backoff carry
    * real probability mass). Model statistics are exact ints; P is
    * an op-for-op mirrored IEEE sequence; the per-doc fold sorts
    * before summing and rounds to 6 (the q121 discipline), so the
    * oracle replays training AND scoring bit-for-bit. oov_rate is an
    * exact-int single division. */
  val q155KnPerplexity: QuerySpec = QuerySpec(
    "q155_kn_perplexity",
    s"""WITH ${KnSql.ctes}
      |SELECT doc_id, n_bigrams, n_unseen, oov_rate, xent
      |FROM kn ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    graft.operators.Search.knCrossEntropy(
        docs.filter(col("doc_id") % 3 =!= 0), docs, "doc_id", "text")
      .select(col("doc_id"), col("n_bigrams"), col("n_unseen"),
        col("oov_rate"), (col("xent") + lit(0.0)).as("xent"))
      .orderBy(col("doc_id"))
  }

  /** q156: distributed BPE tokenizer training (★ — the top-8 learned
    * merges on the word-frequency-table formulation: ONE corpus scan,
    * then vocabulary-bounded iterations; see [[graft.operators.Bpe]]).
    * Every output is an exact int/string and the argmax tie-break is
    * total (count DESC, pair ASC), so the oracle unrolls the same 8
    * iterations as CTEs and matches bit-for-bit. */
  val q156BpeMerges: QuerySpec = QuerySpec(
    "q156_bpe_merges",
    graft.operators.Bpe.sqlLearnMerges("documents", "text", 8)) {
    (s, dir) =>
      graft.operators.Bpe.learnMerges(Tables.documents(s, dir), "text", 8)
        .orderBy(col("merge_rank"))
  }

  /** q157: BPE corpus encoding (★ — the learned segmentation applied
    * back to every document through a BROADCAST join against the
    * vocabulary-bounded word table, never a per-token corpus fold;
    * reports the chars-per-token compression a vocab sweep tunes on).
    * Counts are exact ints; compression is one exact-int division. */
  val q157BpeEncode: QuerySpec = QuerySpec(
    "q157_bpe_encode",
    graft.operators.Bpe.sqlEncodedLengths("documents", "doc_id", "text", 8)) {
    (s, dir) =>
      graft.operators.Bpe.encodedLengths(
          Tables.documents(s, dir), "doc_id", "text", 8)
        .orderBy(col("doc_id"))
  }

  /** q160: robots-exclusion policy gate (★ — RFC 9309 longest-match-
    * wins over the canonical URL frame: the compliance pass a crawl
    * corpus clears before curation touches it). Seeded like q149 with
    * hostile spellings (SHOUTED + www + :443 + tracking param) that
    * must collapse under `canonicalize_url` BEFORE policy applies —
    * a policy evaluated on raw spellings would be evadable. The rule
    * set exercises every branch: longest-prefix override (the.…:
    * disallow / + allow /p/en), the equal-length allow-wins tie
    * (fast.…), a plain disallow (key.…), and the no-rules default
    * allow. Sort keys are null-free so the rank replays identically. */
  val q160RobotsGate: QuerySpec = {
    import graft.operators.Robots
    val rules = Seq(
      ("the.example.com", "/", false),
      ("the.example.com", "/p/en", true),
      ("fast.example.com", "/p", false),
      ("fast.example.com", "/p", true),
      ("key.example.com", "/p/fr", false))
    val canonSql = TextFunctions.sqlCanonicalizeUrl("rawurl")
    QuerySpec(
      "q160_robots_gate",
      s"""WITH tk AS (
         |  SELECT doc_id, lang, string_split(text, ' ') AS toks
         |  FROM documents),
         |seeded AS (
         |  SELECT CASE doc_id % 2
         |    WHEN 0 THEN 'https://' || toks[1] || '.example.com/p/' || lang
         |    ELSE 'HTTPS://WWW.' || upper(toks[1]) || '.EXAMPLE.COM:443/p/'
         |      || lang || '?utm_source=x'
         |    END AS rawurl
         |  FROM tk),
         |urls AS (SELECT $canonSql AS url FROM seeded),
         |${Robots.sqlEvaluate("urls", rules)}
         |SELECT url, host, path, allowed, rule_prefix
         |FROM rverdict ORDER BY url""".stripMargin) { (s, dir) =>
      val toks = split(col("text"), " ")
      val t1 = element_at(toks, 1)
      val raw = when(col("doc_id") % 2 === 0,
          concat(lit("https://"), t1, lit(".example.com/p/"), col("lang")))
        .otherwise(concat(lit("HTTPS://WWW."), upper(t1),
          lit(".EXAMPLE.COM:443/p/"), col("lang"), lit("?utm_source=x")))
      val urls = Tables.documents(s, dir)
        .select(TextFunctions.canonicalizeUrl(raw).as("url"))
      Robots.evaluate(urls, "url", rules)
        .orderBy(col("url"))
    }
  }

  /** q161: Luhn-gated card redaction (★ — the precision upgrade over
    * q116's redact-every-digit-run tier: only checksum-VALID 13–19
    * digit runs are cards; invalid runs survive as the identifiers
    * they are). Seeds plant a valid card (doc_id % 5) and a same-
    * shaped invalid number (doc_id % 7) so both branches of the gate
    * are oracle-exercised; the masked md5 pins every replacement.
    * Integer checksum + sorted replacement fold → exact replay. */
  val q161LuhnRedact: QuerySpec = {
    val luhnX = TextFunctions.sqlLuhnValid("x")
    QuerySpec(
      "q161_luhn_redact",
      s"""WITH seeded AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 5 = 0
         |      THEN ' card 4111111111111111 on file' ELSE '' END ||
         |    CASE WHEN doc_id % 7 = 0
         |      THEN ' ref 4111111111111112 batch' ELSE '' END AS t
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, t,
         |    regexp_extract_all(t, '${TextFunctions.cardCandidatePattern}')
         |      AS cands
         |  FROM seeded),
         |v AS (
         |  SELECT doc_id, t, cands,
         |    list_filter(cands, x -> $luhnX) AS valid
         |  FROM c)
         |SELECT doc_id, CAST(len(cands) AS BIGINT) AS n_candidates,
         |  CAST(len(valid) AS BIGINT) AS n_valid,
         |  md5(list_reduce(list_prepend(t, list_sort(valid)),
         |    (acc, x) -> replace(acc, x, '<CARD>'))) AS masked_md5
         |FROM v ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val t = concat(col("text"),
        when(col("doc_id") % 5 === 0,
          lit(" card 4111111111111111 on file")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          lit(" ref 4111111111111112 batch")).otherwise(lit("")))
      Tables.documents(s, dir)
        .select(col("doc_id"), t.as("t"))
        .withColumn("cands", regexp_extract_all(col("t"),
          lit(TextFunctions.cardCandidatePattern), lit(0)))
        .withColumn("valid",
          filter(col("cands"), x => TextFunctions.luhnValid(x)))
        .select(col("doc_id"),
          size(col("cands")).cast("long").as("n_candidates"),
          size(col("valid")).cast("long").as("n_valid"),
          md5(aggregate(array_sort(col("valid")), col("t"),
            (acc, c) => replace(acc, c, lit("<CARD>")))).as("masked_md5"))
        .orderBy(col("doc_id"))
    }
  }

  /** q162: multinomial Naive Bayes classifier (★ — the learned
    * curation-routing tier: train on the labeled partition
    * (doc_id % 3 ≠ 0, label = lang), score the WHOLE corpus, report
    * prediction + correctness per doc. Closed-form count model —
    * no iterative fit; the sorted-fold + round(6) + sort-take-LAST
    * argmax discipline (see [[graft.operators.TextClassifier]]) makes
    * train AND apply replay bit-for-bit in the oracle. Held-out docs
    * (doc_id % 3 = 0) hit unseen tokens, exercising the add-one
    * smoothing branch. */
  val q162NbClassifier: QuerySpec = QuerySpec(
    "q162_nb_classifier",
    s"""WITH ${graft.operators.TextClassifier.sqlNaiveBayes(
           "documents", "doc_id", "text", "lang", "doc_id % 3 <> 0")}
       |SELECT k AS doc_id, actual, pred, ll, correct
       |FROM nbpred ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    graft.operators.TextClassifier.naiveBayes(
        docs.filter(col("doc_id") % 3 =!= 0), docs,
        "doc_id", "text", "lang")
      .orderBy(col("doc_id"))
  }

  /** q222: classifier calibration audit (★ — Guo et al. 2017's
    * reliability diagram + ECE over the q162 NB gate's posteriors:
    * before a classifier's scores steer corpus curation, the audit
    * that says whether "0.9 confident" means 90% correct. Softmax
    * confidence folds 2^(ll − ll_win) over the SAME sorted per-class
    * array the argmax reads; equal-width bins; per-bin accuracy vs
    * mean confidence and the N-weighted ECE on every row. Bin sums
    * ride the Exact decimal rule; the ECE 1-row frame is a
    * whitelisted metadata cross. */
  val q222NbCalibration: QuerySpec = QuerySpec(
    "q222_nb_calibration",
    s"""WITH ${graft.operators.TextClassifier.sqlNaiveBayes(
           "documents", "doc_id", "text", "lang", "doc_id % 3 <> 0")},
       |${graft.operators.TextClassifier.sqlCalibrationBins(10)}
       |SELECT bin, n_docs, n_correct, accuracy, avg_conf, gap, ece
       |FROM nbcal ORDER BY bin""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    graft.operators.TextClassifier.calibrationBins(
        docs.filter(col("doc_id") % 3 =!= 0), docs,
        "doc_id", "text", "lang", bins = 10)
      .orderBy(col("bin"))
  }

  /** q223: classifier class report + Cohen's κ (★ — the
    * confusion-matrix tier of the q162/q222 audit stack: per-class
    * precision / recall / F1 with corpus accuracy and the
    * chance-corrected agreement κ on every row — the statistic
    * labeled-data pipelines report before a gate's routing is
    * trusted. Everything reads the |classes|²-bounded confusion
    * matrix; the κ expectation's rowTot·colTot products run in
    * DECIMAL(38,0) (int64 products overflow at corpus counts),
    * divided in double space. */
  val q223NbClassReport: QuerySpec = QuerySpec(
    "q223_nb_class_report",
    s"""WITH ${graft.operators.TextClassifier.sqlNaiveBayes(
           "documents", "doc_id", "text", "lang", "doc_id % 3 <> 0")},
       |${graft.operators.TextClassifier.sqlClassReport}
       |SELECT cls, n_true, n_pred, n_correct, precision, recall, f1,
       |  accuracy, kappa
       |FROM nbrep ORDER BY cls""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    graft.operators.TextClassifier.classReport(
        docs.filter(col("doc_id") % 3 =!= 0), docs,
        "doc_id", "text", "lang")
      .orderBy(col("cls"))
  }

  /** q224: χ² feature selection (★ — top-10 class-discriminative
    * tokens by the presence×class 2×2 χ², the vocabulary-pruning
    * pass routing classifiers and lexicon builders run before
    * training. One distinct over the exploded corpus is the only
    * corpus shuffle; scoring lives on the vocab×classes frame with
    * the class counts broadcast and the 1-row N cross whitelisted;
    * χ² in double from exact-int counts (identical IEEE op sequence
    * both engines — the products exceed any fixed decimal), round-6
    * before the (χ² desc, token) rank. */
  val q224Chi2Tokens: QuerySpec = QuerySpec(
    "q224_chi2_tokens",
    s"""WITH ${graft.operators.TextClassifier.sqlChiSquareTokens(
           "documents", "doc_id", "text", "lang", 10)}
       |SELECT cls, tok, n_docs, chi2, rank
       |FROM chtop ORDER BY cls, rank""".stripMargin) { (s, dir) =>
    graft.operators.TextClassifier.chiSquareTokens(
        Tables.documents(s, dir), "doc_id", "text", "lang", 10)
      .orderBy(col("cls"), col("rank"))
  }

  /** q225: curation-gate disparate-impact audit (★ — the four-fifths
    * rule over the q148 heuristic keep gate: per-language document
    * and kept counts, keep rate, ratio to the best group, and the
    * adverse-impact flag. The seed mangles 'de' documents with the
    * q148 symbol variant so the gate measurably discriminates — the
    * audit exists to catch exactly a filter tuned on the majority
    * that silently drops one group. One grouped aggregate over one
    * scan; the best-rate frame is a whitelisted 1-row cross. */
  val q225GateParity: QuerySpec = QuerySpec(
    "q225_gate_parity",
    s"""WITH seeded AS (
       |  SELECT lang,
       |    CASE WHEN lang = 'de'
       |      THEN regexp_replace(text, ' ', ' ## ', 'g')
       |      ELSE text END AS t
       |  FROM documents),
       |${graft.operators.Audit.sqlSelectionParity("seeded", "lang",
           "(" + TextFunctions.sqlHeuristicRules("t").map(_._2)
             .mkString("\n      AND ") + ")")}
       |SELECT lang, n_docs, n_kept, keep_rate, rate_ratio,
       |  adverse_impact
       |FROM parity ORDER BY lang""".stripMargin) { (s, dir) =>
    val seeded = Tables.documents(s, dir).select(col("lang"),
      when(col("lang") === "de",
        regexp_replace(col("text"), " ", " ## "))
        .otherwise(col("text")).as("t"))
    graft.operators.Audit.selectionParity(seeded, "lang",
        TextFunctions.heuristicKeep(col("t")))
      .orderBy(col("lang"))
  }

  /** q226: one-vs-rest ROC-AUC per class (★ — the ranking-quality
    * tier completing the q162/q222/q223 audit stack: threshold-free
    * separability of each class's posterior, via the Mann–Whitney
    * rank-sum with tie-averaged ranks riding as the exact integer
    * 2r̄. Rank sums and the n(n+1) product run in DECIMAL(38,0) —
    * past int64 at corpus counts — with only the final ratio in
    * double; the per-class rank is the one sort the audit needs. */
  val q226NbAuc: QuerySpec = QuerySpec(
    "q226_nb_auc",
    s"""WITH ${graft.operators.TextClassifier.sqlNaiveBayes(
           "documents", "doc_id", "text", "lang", "doc_id % 3 <> 0")},
       |${graft.operators.TextClassifier.sqlOneVsRestAuc}
       |SELECT cls, n_pos, n_neg, auc
       |FROM nbauc ORDER BY cls""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    graft.operators.TextClassifier.oneVsRestAuc(
        docs.filter(col("doc_id") % 3 =!= 0), docs,
        "doc_id", "text", "lang")
      .orderBy(col("cls"))
  }

  /** q228: Jensen–Shannon token-distribution drift per source (★ —
    * the symmetric companion to q183's PSI, over the TOKEN mix
    * instead of the length shape: JS(source ‖ rest-of-corpus) in
    * nats on the top-64-token + OTHER support, Laplace-smoothed.
    * See [[graft.operators.Audit.jsTokenDrift]] for the scale shape
    * (one corpus explode, broadcast spine, metadata-sized grid,
    * DECIMAL term sums). */
  val q228JsDrift: QuerySpec = {
    import graft.operators.Audit.sqlJsTerm
    val k = 64
    QuerySpec(
      "q228_js_token_drift",
      s"""WITH tok AS (
         |  SELECT source AS grp, unnest(string_split(text, ' ')) AS term
         |  FROM documents),
         |tc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n_glob
         |       FROM tok GROUP BY 1),
         |spine AS (SELECT term, n_glob FROM tc
         |          ORDER BY n_glob DESC, term LIMIT $k),
         |gt AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS tot_grp
         |       FROM tok GROUP BY 1),
         |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM tok),
         |sg AS (SELECT CAST(SUM(n_glob) AS BIGINT) AS spine_glob
         |       FROM spine),
         |gterm AS (
         |  SELECT t.grp, t.term, CAST(COUNT(*) AS BIGINT) AS n_grp
         |  FROM tok t JOIN spine s ON s.term = t.term GROUP BY 1, 2),
         |cells AS (
         |  SELECT g.grp, g.tot_grp, COALESCE(x.n_grp, 0) AS n_grp,
         |    ${sqlJsTerm("COALESCE(x.n_grp, 0)", "g.tot_grp",
                "s.n_glob - COALESCE(x.n_grp, 0)",
                "nt.n_tot - g.tot_grp", k)} AS t6
         |  FROM gt g CROSS JOIN spine s CROSS JOIN nt
         |  LEFT JOIN gterm x ON x.grp = g.grp AND x.term = s.term),
         |pg AS (
         |  SELECT grp, tot_grp, SUM(CAST(t6 AS DECIMAL(18,6))) AS sj,
         |    CAST(SUM(n_grp) AS BIGINT) AS spine_grp
         |  FROM cells GROUP BY 1, 2)
         |SELECT grp AS source, tot_grp AS n_tokens,
         |  round(CAST(sj + CAST(${sqlJsTerm("tot_grp - spine_grp",
                "tot_grp",
                "(nt.n_tot - sg.spine_glob) - (tot_grp - spine_grp)",
                "nt.n_tot - tot_grp", k)} AS DECIMAL(18,6))
         |    AS DOUBLE), 6) AS js_nats
         |FROM pg CROSS JOIN nt CROSS JOIN sg
         |ORDER BY source""".stripMargin) { (s, dir) =>
      graft.operators.Audit.jsTokenDrift(
          Tables.documents(s, dir), "source", "text", topK = k)
        .select(col("grp").as("source"), col("n_tokens"), col("js_nats"))
        .orderBy(col("source"))
    }
  }

  /** q230: DoReMi-style domain reweighting (★ — Xie et al. 2023's
    * excess-loss multiplicative-weights step, deterministic: per
    * source on held-out docs, how much worse the WEAK proxy KN model
    * (trained on the doc_id % 9 = 1 subsplit) scores than the
    * reference model (trained on the standard doc_id % 3 ≠ 0 split),
    * exponentiated and renormalized into next-epoch sampling
    * weights). See [[graft.operators.Search.domainExcessWeights]];
    * the oracle runs TWO prefixed [[KnSql]] chains off one `tok`
    * base, so both engines' model arithmetic is generated from one
    * source. */
  val q230DomainReweight: QuerySpec = QuerySpec(
    "q230_domain_reweight",
    s"""WITH ${KnSql.tokCte},
       |${KnSql.chain("r", "doc_id % 3 <> 0", "doc_id % 3 = 0")},
       |${KnSql.chain("k", "doc_id % 9 = 1", "doc_id % 3 = 0")},
       |src AS (
       |  SELECT doc_id, source FROM documents WHERE doc_id % 3 = 0),
       |pd AS (
       |  SELECT s.source, r.xent AS xr, k.xent AS xk
       |  FROM src s JOIN rkn r USING (doc_id) JOIN kkn k USING (doc_id)),
       |per AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    round(CAST(SUM(CAST(xr AS DECIMAL(18,6))) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE), 6) AS xent_ref,
       |    round(CAST(SUM(CAST(xk AS DECIMAL(18,6))) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE), 6) AS xent_weak
       |  FROM pd GROUP BY 1),
       |ex AS (
       |  SELECT source, n_docs, xent_ref, xent_weak,
       |    round(greatest(xent_weak - xent_ref, CAST(0 AS DOUBLE)), 6)
       |      AS excess,
       |    round(exp(round(greatest(xent_weak - xent_ref,
       |      CAST(0 AS DOUBLE)), 6)), 6) AS ew
       |  FROM per),
       |nm AS (
       |  SELECT CAST(SUM(CAST(ew AS DECIMAL(18,6))) AS DOUBLE) AS nrm
       |  FROM ex)
       |SELECT source, n_docs, xent_ref, xent_weak, excess,
       |  round(ew / nrm, 6) AS weight
       |FROM ex CROSS JOIN nm ORDER BY source""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    graft.operators.Search.domainExcessWeights(docs, "source", "doc_id",
        "text", refTrain = col("doc_id") % 3 =!= 0,
        weakTrain = col("doc_id") % 9 === 1,
        scorePred = col("doc_id") % 3 === 0)
      .select(col("grp").as("source"), col("n_docs"), col("xent_ref"),
        col("xent_weak"), col("excess"), col("weight"))
      .orderBy(col("source"))
  }

  /** q163: DSIR importance resampling (★ — distribution-matching doc
    * selection, Xie et al. 2023: hashed-feature likelihood-ratio
    * weights toward the English subcorpus, top-100 kept). The hashed
    * bucket space (256) keeps both histograms corpus-size-independent
    * and broadcastable; weights replay exactly under the sorted-fold
    * + round(6) discipline; the (weight desc, doc_id) rank is total.
    * Plans as TakeOrderedAndProject — no global sort. */
  val q163DsirSelect: QuerySpec = QuerySpec(
    "q163_dsir_select",
    s"""WITH ${graft.operators.Dsir.sqlImportanceWeights(
           "documents", "doc_id", "text", "lang = 'en'", 256)}
       |SELECT k AS doc_id, n_toks, weight
       |FROM dsirw ORDER BY weight DESC, doc_id LIMIT 100""".stripMargin) {
    (s, dir) =>
      graft.operators.Dsir.importanceWeights(
          Tables.documents(s, dir), "doc_id", "text",
          col("lang") === "en", 256)
        .orderBy(col("weight").desc, col("doc_id"))
        .limit(100)
  }

  /** q166: encoding repair (★ — the ftfy-lite pass web corpora need
    * before any text analysis: mangled UTF-8-as-1252 sequences
    * repaired via the shared [[TextFunctions.mojibakeMap]] ladder,
    * U+FFFD replacement chars counted then dropped, C0/DEL controls
    * stripped). Seeds plant smart-punct triples + accent digraphs on
    * doc_id % 4 and a control byte + U+FFFD on doc_id % 6, so every
    * ladder tier fires. Pure per-row scan-speed expression; counts
    * are exact ints and the repaired text is md5-pinned. */
  val q166FixEncoding: QuerySpec = {
    val moji = " cafÃ© naÃ¯ve â€” smart â€œquoteâ€¦"
    val fixSql = TextFunctions.sqlFixEncoding("t")
    val nrSql = TextFunctions.sqlReplacementCharCount("t")
    QuerySpec(
      "q166_fix_encoding",
      s"""WITH seeded AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 4 = 0 THEN '$moji' ELSE '' END ||
         |    CASE WHEN doc_id % 6 = 0
         |      THEN chr(7) || 'bell' || chr(65533) || 'lost'
         |      ELSE '' END AS t
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(length(t) - length($fixSql) AS BIGINT)
         |    AS chars_recovered,
         |  $nrSql AS n_fffd,
         |  md5($fixSql) AS fixed_md5
         |FROM seeded ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val t = concat(col("text"),
        when(col("doc_id") % 4 === 0, lit(moji)).otherwise(lit("")),
        when(col("doc_id") % 6 === 0,
          lit("\u0007bell\uFFFDlost")).otherwise(lit("")))
      val fixed = TextFunctions.fixEncoding(col("t"))
      Tables.documents(s, dir)
        .select(col("doc_id"), t.as("t"))
        .select(col("doc_id"),
          (length(col("t")) - length(fixed)).cast("long")
            .as("chars_recovered"),
          TextFunctions.replacementCharCount(col("t")).as("n_fffd"),
          md5(fixed).as("fixed_md5"))
        .orderBy(col("doc_id"))
    }
  }

  /** q167: C4-style line-level filtering (★ — Raffel et al. 2020's
    * published cleaning heuristics; see [[graft.operators.LineFilter]]
    * for where it sits between q148's doc-level bank and q153's
    * cross-document boilerplate pass). The corpus has no native lines
    * or punctuation, so the query manufactures both: docs chunk into
    * 12-token lines with a terminal '.' on 2/3 of them (keyed on
    * doc_id + line index), then four deterministic seed lines
    * exercise each rule independently — a 2-word punctuated line
    * (min-words), a punctuated "enable javascript" line (js tell), a
    * punctuated lorem-ipsum line (doc-level placeholder drop), and a
    * brace-bearing code line (doc-level code drop + punct fail). All
    * counts are exact ints; cleaned text travels as md5. */
  val q167C4Filter: QuerySpec = {
    val seedShort = "click here."
    val seedJs = "please enable javascript to view this site."
    val seedLorem = "lorem ipsum dolor sit amet consectetur adipiscing elit."
    val seedBrace = "function config() { return }"
    QuerySpec(
      "q167_c4_filters",
      s"""WITH tok AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |seeded AS (
         |  SELECT doc_id, array_to_string(
         |    list_transform(range(0, CAST(ceil(len(toks) / 12.0) AS BIGINT)),
         |      i -> array_to_string(
         |             toks[CAST(i*12+1 AS BIGINT):CAST(i*12+12 AS BIGINT)],
         |             ' ')
         |           || CASE WHEN (doc_id + i) % 3 != 0 THEN '.'
         |                   ELSE '' END)
         |    || CASE WHEN doc_id % 5 = 0 THEN ['$seedShort']
         |            ELSE CAST([] AS VARCHAR[]) END
         |    || CASE WHEN doc_id % 7 = 0 THEN ['$seedJs']
         |            ELSE CAST([] AS VARCHAR[]) END
         |    || CASE WHEN doc_id % 31 = 0 THEN ['$seedLorem']
         |            ELSE CAST([] AS VARCHAR[]) END
         |    || CASE WHEN doc_id % 37 = 0 THEN ['$seedBrace']
         |            ELSE CAST([] AS VARCHAR[]) END,
         |    chr(10)) AS t
         |  FROM tok),
         |${graft.operators.LineFilter.sqlC4Filter("seeded", "doc_id", "t")}
         |SELECT k AS doc_id, n_lines, n_kept, n_fail_punct,
         |  n_fail_words, n_fail_js, doc_keep, clean_md5
         |FROM c4out ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val toks = split(col("text"), " ")
      val baseLines = transform(
        sequence(lit(0L),
          ceil(size(toks).cast("double") / lit(12.0)).cast("long") - 1L),
        i => concat(
          array_join(slice(toks, (i * 12 + 1).cast("int"), lit(12)), " "),
          when((col("doc_id") + i) % 3 =!= 0, lit(".")).otherwise(lit(""))))
      def seedIf(m: Int, line: String) =
        when(col("doc_id") % m === 0, array(lit(line)))
          .otherwise(array().cast("array<string>"))
      val seeded = Tables.documents(s, dir).select(col("doc_id"),
        array_join(concat(baseLines, seedIf(5, seedShort),
          seedIf(7, seedJs), seedIf(31, seedLorem), seedIf(37, seedBrace)),
          "\n").as("t"))
      graft.operators.LineFilter.c4Filter(seeded, "doc_id", "t")
        .orderBy(col("doc_id"))
    }
  }

  /** q168: skip-gram pair extraction (★ — word2vec's data prep,
    * Mikolov et al. 2013; see [[graft.operators.Skipgram]] for the
    * deterministic frequency subsample and the compaction-widens-
    * context property). The corpus's small vocabulary makes the
    * subsample bite (f ≈ 1/40 ⇒ p ≈ 0.63 at t = 0.01), so both the
    * thinning branch and the across-dropped-tokens pairing are
    * exercised on every document. Top-100 pairs under a total order;
    * exact integer counts → hash-verified. */
  val q168SkipgramPairs: QuerySpec = QuerySpec(
    "q168_skipgram_pairs",
    s"""WITH ${graft.operators.Skipgram.sqlPairs(
         "documents", "doc_id", "text", 2, 0.01)}
       |SELECT center, context, n_pairs FROM sgout
       |ORDER BY n_pairs DESC, center, context LIMIT 100""".stripMargin) {
    (s, dir) =>
      graft.operators.Skipgram.pairs(Tables.documents(s, dir),
        "doc_id", "text", window = 2, t = 0.01, topK = 100)
  }

  /** q173: BPE vocabulary-size sweep (★ — the tuning curve q157's
    * scaladoc promised: corpus compression and in-use vocab size at
    * merge ranks 0/2/4/8, from ONE training run via word-table
    * snapshots; see [[graft.operators.Bpe.vocabSweep]]). Monotone
    * contracts (subwords never increase, compression never decreases
    * along the sweep) are pinned in BpeSpec; here every count is an
    * exact int and the oracle unrolls the same iterations. */
  val q173VocabSweep: QuerySpec = QuerySpec(
    "q173_vocab_sweep",
    graft.operators.Bpe.sqlVocabSweep("documents", "text",
      Seq(0, 2, 4, 8))) { (s, dir) =>
    graft.operators.Bpe.vocabSweep(Tables.documents(s, dir), "text",
      Seq(0, 2, 4, 8))
  }

  /** q178: crawl-frontier scheduling (★ — the polite wave selection
    * upstream of every web corpus this engine curates: robots gate +
    * per-host politeness cap + global priority budget; see
    * [[graft.operators.Robots.frontier]]). Candidates: two URL shapes
    * per doc (host = first token, ~vocab-many hosts) with n_chars as
    * the priority prior — tokens recur across docs, so the
    * max-priority URL collapse is exercised corpus-wide; the q160
    * rule set (plus a /q disallow) kills whole hosts and path
    * subtrees. All-int priorities and string URLs → hash-verified. */
  val q178CrawlFrontier: QuerySpec = {
    import graft.operators.Robots
    val rules = Seq(
      ("the.example.com", "/", false),
      ("the.example.com", "/p/en", true),
      ("fast.example.com", "/p", false),
      ("key.example.com", "/p/fr", false),
      ("key.example.com", "/q", false))
    QuerySpec(
      "q178_crawl_frontier",
      s"""WITH tk AS (
         |  SELECT doc_id, lang, n_chars, string_split(text, ' ') AS toks
         |  FROM documents),
         |cands AS (
         |  SELECT 'https://' || toks[1] || '.example.com/p/' || lang
         |      AS url,
         |    CAST(n_chars AS BIGINT) AS priority FROM tk
         |  UNION ALL
         |  SELECT 'https://' || toks[1] || '.example.com/q/' || lang,
         |    CAST(n_chars AS BIGINT) FROM tk WHERE doc_id % 3 = 0),
         |${Robots.sqlFrontier("cands", rules, 3)}
         |SELECT url, host, priority, host_rank FROM fwave
         |ORDER BY priority DESC, url LIMIT 50""".stripMargin) { (s, dir) =>
      val toks = split(col("text"), " ")
      val t1 = element_at(toks, 1)
      val d = Tables.documents(s, dir)
      val c1 = d.select(
        concat(lit("https://"), t1, lit(".example.com/p/"), col("lang"))
          .as("url"),
        col("n_chars").cast("long").as("priority"))
      val c2 = d.filter(col("doc_id") % 3 === 0)
        .select(
          concat(lit("https://"), t1, lit(".example.com/q/"), col("lang"))
            .as("url"),
          col("n_chars").cast("long").as("priority"))
      Robots.frontier(c1.unionByName(c2), "url", "priority",
          rules, perHostCap = 3, budget = 50)
        .orderBy(col("priority").desc, col("url"))
    }
  }

  /** q183/q249's shared deterministic drift rule — every 3rd doc
    * lengthened by [[driftPad]], every 5th truncated to 10 tokens —
    * and the shared 5-bucket length spine, each with ONE Spark and
    * ONE SQL spelling (the BackboneSql single-source discipline):
    * q249's claim that its streamed snapshot IS q183's cannot drift. */
  private val driftPad = " padding tokens extra appended here now for drift"
  private def driftedText: org.apache.spark.sql.Column =
    when(col("doc_id") % 3 === 0, concat(col("text"), lit(driftPad)))
      .when(col("doc_id") % 5 === 1,
        array_join(slice(split(col("text"), " "), 1, 10), " "))
      .otherwise(col("text"))
  private val sqlDriftedText: String =
    s"""CASE
       |    WHEN doc_id % 3 = 0 THEN text || '$driftPad'
       |    WHEN doc_id % 5 = 1 THEN array_to_string(
       |      (string_split(text, ' '))[1:10], ' ')
       |    ELSE text END""".stripMargin
  private def lenBucket(len: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    least(lit(4L), floor(len.cast("double") / lit(150.0)).cast("long"))
  private def sqlLenBucket(e: String): String =
    s"LEAST(4, CAST(floor($e / 150.0) AS BIGINT))"

  /** q249: end-to-end STREAMING drift monitor (★ — q183's PSI run the
    * way production runs it, completing the q248 wire family for the
    * histogram store): the DRIFTED snapshot (q183's deterministic b —
    * every 3rd doc lengthened, every 5th truncated) is staged as two
    * files split at the doc_id midpoint, drained through a file-source
    * stream into [[graft.operators.Audit.histogramFoldIntoStore]]
    * (`maxFilesPerTrigger = 1` → two micro-batches, so batch 1
    * exercises the real read-merge-write fold), and the emitted rows
    * are [[graft.operators.Audit.psiTerms]] of the KILOBYTE drained
    * store against the batch-built reference histogram — the arriving
    * corpus is never reprocessed, the alert path reads only the store.
    * DuckDB replays both histograms and the Laplace-smoothed terms
    * exactly (counter addition is order-free), and the emitted
    * `applied` stamp (= 1) is the in-output proof that two
    * micro-batches folded with the idempotence bookkeeping committed
    * alongside the counts ([[graft.operators.Stores]]). */
  val q249StreamingDrift: QuerySpec = {
    QuerySpec(
      "q249_streaming_drift",
      s"""WITH raw AS (
         |  SELECT ${sqlLenBucket("length(text)")} AS bucket
         |  FROM documents),
         |drift AS (
         |  SELECT ${sqlLenBucket(s"length($sqlDriftedText)")} AS bucket
         |  FROM documents),
         |spine AS (SELECT unnest(range(0, 5)) AS bucket),
         |cr AS (
         |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_ref
         |  FROM raw GROUP BY 1),
         |cc AS (
         |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_cur
         |  FROM drift GROUP BY 1),
         |cnt AS (
         |  SELECT s.bucket, COALESCE(cr.n_ref, 0) AS n_ref,
         |    COALESCE(cc.n_cur, 0) AS n_cur
         |  FROM spine s LEFT JOIN cr USING (bucket)
         |    LEFT JOIN cc USING (bucket)),
         |tot AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM cnt)
         |SELECT bucket, n_ref, n_cur,
         |  round((CAST(n_cur + 1 AS DOUBLE) / CAST(tc + 5 AS DOUBLE)
         |    - CAST(n_ref + 1 AS DOUBLE) / CAST(tr + 5 AS DOUBLE))
         |    * ln((CAST(n_cur + 1 AS DOUBLE) / CAST(tc + 5 AS DOUBLE))
         |      / (CAST(n_ref + 1 AS DOUBLE) / CAST(tr + 5 AS DOUBLE))),
         |    6) AS psi_term,
         |  CAST(1 AS BIGINT) AS applied
         |FROM cnt CROSS JOIN tot ORDER BY bucket""".stripMargin) {
      (s, dir) =>
        import graft.operators.Audit
        import graft.streaming.IncrementalLoad
        val d = Tables.documents(s, dir)
        val drifted = d.select(col("doc_id"),
          lenBucket(length(driftedText)).as("bucket"))
        val bounds = drifted.agg(min(col("doc_id")), max(col("doc_id")))
          .head()
        val cut = bounds.getLong(0) +
          (bounds.getLong(1) - bounds.getLong(0)) / 2
        val (stream, root) = IncrementalLoad.stageTwoFileStream(
          drifted, col("doc_id") < cut, "graft_q249")
        val store = root.resolve("store").toString
        val q = IncrementalLoad.streamingDriftFold(
          s, stream, "bucket", store, root.resolve("ckpt").toString)
        IncrementalLoad.awaitDrained(q, root, Seq("in", "ckpt"), 300000L)
        val ref = d.select(lenBucket(length(col("text"))).as("bucket"))
          .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
        // the replay stamp now rides the store pointer, not the payload
        val applied = graft.operators.Stores.lastApplied(s, store)
        Audit.psiTerms(ref, Audit.readHistogramStore(s, store), 5)
          .withColumn("applied", lit(applied))
          .orderBy(col("bucket"))
    }
  }

  /** q183: length-distribution drift (PSI — ★ the population
    * stability index, the standard production monitor for "did this
    * month's crawl change shape": Σ (p_b − p_a)·ln(p_b/p_a) over
    * fixed n_chars buckets, Laplace-smoothed so empty buckets stay
    * finite). Snapshot B drifts deterministically (every 3rd doc
    * lengthened, every 5th truncated to 10 tokens). Per-bucket terms
    * round to 6 (the q115 ln discipline); bucket spine is dense so
    * both engines agree on empty buckets. */
  val q183LengthPsi: QuerySpec = {
    QuerySpec(
      "q183_length_psi",
      s"""WITH snap AS (
         |  SELECT 'a' AS snap, length(text) AS len FROM documents
         |  UNION ALL
         |  SELECT 'b', length($sqlDriftedText)
         |  FROM documents),
         |bk AS (
         |  SELECT snap, ${sqlLenBucket("len")} AS bucket
         |  FROM snap),
         |spine AS (SELECT unnest(range(0, 5)) AS bucket),
         |cnt0 AS (
         |  SELECT bucket,
         |    CAST(SUM(CASE WHEN snap = 'a' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_a,
         |    CAST(SUM(CASE WHEN snap = 'b' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_b
         |  FROM bk GROUP BY 1),
         |cnt AS (
         |  SELECT s.bucket, COALESCE(c.n_a, 0) AS n_a,
         |    COALESCE(c.n_b, 0) AS n_b
         |  FROM spine s LEFT JOIN cnt0 c ON c.bucket = s.bucket),
         |tot AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM cnt)
         |SELECT bucket, n_a, n_b,
         |  round((CAST(n_b + 1 AS DOUBLE) / CAST(tb + 5 AS DOUBLE)
         |    - CAST(n_a + 1 AS DOUBLE) / CAST(ta + 5 AS DOUBLE))
         |    * ln((CAST(n_b + 1 AS DOUBLE) / CAST(tb + 5 AS DOUBLE))
         |      / (CAST(n_a + 1 AS DOUBLE) / CAST(ta + 5 AS DOUBLE))), 6)
         |    AS psi_term
         |FROM cnt CROSS JOIN tot ORDER BY bucket""".stripMargin) {
      (s, dir) =>
        val d = Tables.documents(s, dir)
        val a = d.select(lit("a").as("snap"),
          length(col("text")).cast("long").as("len"))
        val b = d.select(lit("b").as("snap"),
          length(driftedText).cast("long").as("len"))
        val bk = a.unionByName(b)
          .select(col("snap"), lenBucket(col("len")).as("bucket"))
        val spine = s.range(0, 5).select(col("id").as("bucket"))
        val cnt0 = bk.groupBy(col("bucket"))
          .agg(sum(when(col("snap") === "a", 1L).otherwise(0L)).as("n_a"),
            sum(when(col("snap") === "b", 1L).otherwise(0L)).as("n_b"))
        val cnt = spine.join(cnt0, Seq("bucket"), "left")
          .select(col("bucket"), coalesce(col("n_a"), lit(0L)).as("n_a"),
            coalesce(col("n_b"), lit(0L)).as("n_b"))
        val tot = cnt.agg(sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb"))
        def p(n: org.apache.spark.sql.Column, t: org.apache.spark.sql.Column) =
          (n + lit(1L)).cast("double") / (t + lit(5L)).cast("double")
        cnt.crossJoin(broadcast(tot))
          .select(col("bucket"), col("n_a"), col("n_b"),
            round((p(col("n_b"), col("tb")) - p(col("n_a"), col("ta"))) *
              log(p(col("n_b"), col("tb")) / p(col("n_a"), col("ta"))),
              6).as("psi_term"))
          .orderBy(col("bucket"))
    }
  }

  /** q184: Zipf-fit corpus health check (★ — the token-frequency
    * power-law audit: natural corpora show ln(count) ≈ a + s·ln(rank)
    * with s near −1; a flat slope flags synthetic or templated text —
    * which is exactly what it reports for THIS deliberately uniform
    * fixture, making the diagnostic itself the interesting output).
    * OLS over the top-100 (count DESC, token) ranks, all sums folded
    * in RANK order over one collected vocab-bounded array (the q121
    * discipline); ln's last-ulp divergence is absorbed by round-6
    * outputs (the q115 rule). */
  val q184ZipfFit: QuerySpec = QuerySpec(
    "q184_zipf_fit",
    """WITH tok AS (
      |  SELECT unnest(string_split(text, ' ')) AS t FROM documents),
      |cnt AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY 1),
      |ranked AS (
      |  SELECT t, c, row_number() OVER (ORDER BY c DESC, t) AS r
      |  FROM cnt QUALIFY r <= 100),
      |pts AS (
      |  SELECT list_sort(list({'r': r,
      |    'x': ln(CAST(r AS DOUBLE)), 'y': ln(CAST(c AS DOUBLE))})) AS ps
      |  FROM ranked),
      |acc AS (
      |  SELECT CAST(len(ps) AS BIGINT) AS n,
      |    list_reduce(list_prepend(
      |      {'sx': 0.0, 'sy': 0.0, 'sxx': 0.0, 'sxy': 0.0, 'syy': 0.0},
      |      list_transform(ps, p -> {'sx': p.x, 'sy': p.y,
      |        'sxx': p.x * p.x, 'sxy': p.x * p.y, 'syy': p.y * p.y})),
      |      (a, b) -> {'sx': a.sx + b.sx, 'sy': a.sy + b.sy,
      |        'sxx': a.sxx + b.sxx, 'sxy': a.sxy + b.sxy,
      |        'syy': a.syy + b.syy}) AS s
      |  FROM pts)
      |SELECT n AS n_terms,
      |  round((CAST(n AS DOUBLE) * s.sxy - s.sx * s.sy)
      |    / (CAST(n AS DOUBLE) * s.sxx - s.sx * s.sx), 6) AS slope,
      |  round((s.sy - (CAST(n AS DOUBLE) * s.sxy - s.sx * s.sy)
      |    / (CAST(n AS DOUBLE) * s.sxx - s.sx * s.sx) * s.sx)
      |    / CAST(n AS DOUBLE), 6) AS intercept,
      |  round(((CAST(n AS DOUBLE) * s.sxy - s.sx * s.sy)
      |    * (CAST(n AS DOUBLE) * s.sxy - s.sx * s.sy))
      |    / ((CAST(n AS DOUBLE) * s.sxx - s.sx * s.sx)
      |      * (CAST(n AS DOUBLE) * s.syy - s.sy * s.sy)), 6) AS r2
      |FROM acc""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val cnt = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    // top-100 via orderBy+limit (TakeOrderedAndProject — a
    // distributed per-partition top-k + driver merge), NOT a global
    // row_number window: the window spelling sorted the ENTIRE
    // vocabulary on one partition before the r ≤ 100 filter — the
    // one genuinely unbounded single-partition sort the round-15
    // window audit found (a 100 TB corpus vocabulary is billions of
    // types). The bounded 100-row frame then gets its ranks from a
    // window that is single-partition by construction. Same rows,
    // same (c desc, t) tie-break, same output.
    val ranked = cnt
      .orderBy(col("c").desc, col("t")).limit(100)
      .withColumn("r", row_number().over(
        Window.orderBy(col("c").desc, col("t"))))
      .select(col("r"),
        log(col("r").cast("double")).as("x"),
        log(col("c").cast("double")).as("y"))
    val pts = ranked.agg(sort_array(collect_list(
      struct(col("r"), col("x"), col("y")))).as("ps"))
    val zero = struct(lit(0.0).as("sx"), lit(0.0).as("sy"),
      lit(0.0).as("sxx"), lit(0.0).as("sxy"), lit(0.0).as("syy"))
    val folded = pts.select(size(col("ps")).cast("long").as("n"),
      aggregate(col("ps"), zero, (a, p) => struct(
        (a.getField("sx") + p.getField("x")).as("sx"),
        (a.getField("sy") + p.getField("y")).as("sy"),
        (a.getField("sxx") + p.getField("x") * p.getField("x")).as("sxx"),
        (a.getField("sxy") + p.getField("x") * p.getField("y")).as("sxy"),
        (a.getField("syy") + p.getField("y") * p.getField("y")).as("syy")))
        .as("s"))
    val n = col("n").cast("double")
    val num = n * col("s.sxy") - col("s.sx") * col("s.sy")
    val den = n * col("s.sxx") - col("s.sx") * col("s.sx")
    folded.select(col("n").as("n_terms"),
      round(num / den, 6).as("slope"),
      round((col("s.sy") - num / den * col("s.sx")) / n, 6).as("intercept"),
      round((num * num) /
        (den * (n * col("s.syy") - col("s.sy") * col("s.sy"))), 6).as("r2"))
  }

  /** q232: Heaps'-law vocabulary-growth audit (★ — the companion
    * power law to q184's Zipf: distinct type count grows as
    * V(N) ≈ k·N^β, β ≈ 0.4–0.6 for natural text; a saturating curve
    * (β → 0) flags a closed/templated vocabulary, β → 1 flags
    * near-random token soup — the corpus-health diagnostic run before
    * committing a tokenizer budget). Types are the q169 4-gram
    * shingle universe (the raw 31-token synthetic unigram vocabulary
    * saturates in the first bucket, which would make the fit
    * degenerate — the 4-gram universe keeps growing and the measured
    * β IS the health signal). The corpus splits into 16 doc_id-range
    * buckets; cumulative (tokens, types) per bucket give 16 log-log
    * points; OLS via the q184 sorted-fold discipline.
    *
    * Scale shape: one corpus explode; first-seen bucket is ONE
    * min-aggregate over the type universe, shuffled as the 8-byte
    * portable hash of the 4-gram rather than the ~25-byte string
    * (identical on both engines, so the oracle stays exact; a 2⁻⁶⁴
    * collision would merge two types — the standard sketch trade at
    * this statistic's precision); the cumulative window runs on the 16-row
    * bucket spine (metadata-sized); the max-id attach is a 1-row
    * cross (q76). */
  val q232HeapsGrowth: QuerySpec = QuerySpec(
    "q232_heaps_growth",
    s"""WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
      |tok AS (
      |  SELECT least(15, CAST(floor(CAST(doc_id * 16 AS DOUBLE)
      |      / CAST(m + 1 AS DOUBLE)) AS BIGINT)) AS bucket,
      |    string_split(text, ' ') AS toks
      |  FROM documents CROSS JOIN mx),
      |gr0 AS (
      |  SELECT bucket, unnest(list_transform(range(1, len(toks) - 2),
      |    i -> array_to_string(toks[i:i+3], ' '))) AS g
      |  FROM tok WHERE len(toks) >= 4),
      |gr AS (SELECT bucket, ${graft.functions.Scalars.sqlPortableHash64("g")} AS h FROM gr0),
      |nb AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS nt
      |       FROM gr GROUP BY 1),
      |fs AS (SELECT h, MIN(bucket) AS b0 FROM gr GROUP BY 1),
      |nv AS (SELECT b0 AS bucket, CAST(COUNT(*) AS BIGINT) AS nv
      |       FROM fs GROUP BY 1),
      |sp AS (SELECT unnest(range(0, 16)) AS bucket),
      |cum AS (
      |  SELECT sp.bucket,
      |    CAST(SUM(COALESCE(nb.nt, 0)) OVER (ORDER BY sp.bucket)
      |      AS BIGINT) AS tcum,
      |    CAST(SUM(COALESCE(nv.nv, 0)) OVER (ORDER BY sp.bucket)
      |      AS BIGINT) AS vcum
      |  FROM sp LEFT JOIN nb ON nb.bucket = sp.bucket
      |  LEFT JOIN nv ON nv.bucket = sp.bucket),
      |pts AS (
      |  SELECT list_sort(list({'b': bucket,
      |    'x': ln(CAST(tcum AS DOUBLE)),
      |    'y': ln(CAST(vcum AS DOUBLE))})) AS ps
      |  FROM cum WHERE tcum > 0 AND vcum > 0),
      |acc AS (
      |  SELECT CAST(len(ps) AS BIGINT) AS n,
      |    list_reduce(list_prepend(
      |      {'sx': 0.0, 'sy': 0.0, 'sxx': 0.0, 'sxy': 0.0, 'syy': 0.0},
      |      list_transform(ps, p -> {'sx': p.x, 'sy': p.y,
      |        'sxx': p.x * p.x, 'sxy': p.x * p.y, 'syy': p.y * p.y})),
      |      (a, b) -> {'sx': a.sx + b.sx, 'sy': a.sy + b.sy,
      |        'sxx': a.sxx + b.sxx, 'sxy': a.sxy + b.sxy,
      |        'syy': a.syy + b.syy}) AS s
      |  FROM pts)
      |SELECT n AS n_buckets,
      |  round((CAST(n AS DOUBLE) * s.sxy - s.sx * s.sy)
      |    / (CAST(n AS DOUBLE) * s.sxx - s.sx * s.sx), 6) AS beta,
      |  round((s.sy - (CAST(n AS DOUBLE) * s.sxy - s.sx * s.sy)
      |    / (CAST(n AS DOUBLE) * s.sxx - s.sx * s.sx) * s.sx)
      |    / CAST(n AS DOUBLE), 6) AS intercept,
      |  round(((CAST(n AS DOUBLE) * s.sxy - s.sx * s.sy)
      |    * (CAST(n AS DOUBLE) * s.sxy - s.sx * s.sy))
      |    / ((CAST(n AS DOUBLE) * s.sxx - s.sx * s.sx)
      |      * (CAST(n AS DOUBLE) * s.syy - s.sy * s.sy)), 6) AS r2
      |FROM acc""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val mx = docs.agg(max(col("doc_id")).as("m"))
    val toks = split(col("text"), " ")
    val gr = docs.crossJoin(broadcast(mx))
      .filter(size(toks) >= 4)
      .select(least(lit(15L),
          floor((col("doc_id") * 16).cast("double") /
            (col("m") + 1).cast("double")).cast("long")).as("bucket"),
        explode(transform(sequence(lit(1), size(toks) - 3),
          i => array_join(slice(toks, i, lit(4)), " "))).as("g"))
      .select(col("bucket"),
        graft.functions.Scalars.portableHash64(col("g")).as("h"))
    val nb = gr.groupBy(col("bucket")).agg(count(lit(1)).as("nt"))
    val nv = gr.groupBy(col("h")).agg(min(col("bucket")).as("b0"))
      .groupBy(col("b0")).agg(count(lit(1)).as("nv"))
      .withColumnRenamed("b0", "bucket")
    val sp = s.range(0, 16).select(col("id").as("bucket"))
    // unpartitioned window BOUNDED: input is the 16-row bucket spine
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = sp.join(nb, Seq("bucket"), "left")
      .join(nv, Seq("bucket"), "left")
      .select(col("bucket"),
        sum(coalesce(col("nt"), lit(0L))).over(w).as("tcum"),
        sum(coalesce(col("nv"), lit(0L))).over(w).as("vcum"))
    val pts = cum.filter(col("tcum") > 0 && col("vcum") > 0)
      .select(col("bucket").as("b"),
        log(col("tcum").cast("double")).as("x"),
        log(col("vcum").cast("double")).as("y"))
      .agg(sort_array(collect_list(struct(col("b"), col("x"), col("y"))))
        .as("ps"))
    val zero = struct(lit(0.0).as("sx"), lit(0.0).as("sy"),
      lit(0.0).as("sxx"), lit(0.0).as("sxy"), lit(0.0).as("syy"))
    val folded = pts.select(size(col("ps")).cast("long").as("n"),
      aggregate(col("ps"), zero, (a, p) => struct(
        (a.getField("sx") + p.getField("x")).as("sx"),
        (a.getField("sy") + p.getField("y")).as("sy"),
        (a.getField("sxx") + p.getField("x") * p.getField("x")).as("sxx"),
        (a.getField("sxy") + p.getField("x") * p.getField("y")).as("sxy"),
        (a.getField("syy") + p.getField("y") * p.getField("y")).as("syy")))
        .as("s"))
    val n = col("n").cast("double")
    val num = n * col("s.sxy") - col("s.sx") * col("s.sy")
    val den = n * col("s.sxx") - col("s.sx") * col("s.sx")
    folded.select(col("n").as("n_buckets"),
      round(num / den, 6).as("beta"),
      round((col("s.sy") - num / den * col("s.sx")) / n, 6).as("intercept"),
      round((num * num) /
        (den * (n * col("s.syy") - col("s.sy") * col("s.sy"))), 6).as("r2"))
  }

  /** q235: padding-waste audit (★ — the static-shape batching cost
    * report, the measurement behind choosing max_seq_len and behind
    * adopting q113's packing at all: for each candidate length L,
    * pad-to-L batching wastes L − n_tok slots per shorter doc and
    * TRUNCATES n_tok − L tokens off longer ones; utilization =
    * Σ min(n_tok, L) / (n_docs·L) is the fraction of the compute
    * budget that touches real tokens). One corpus scan computes
    * per-doc token counts; the 4-row L spine explodes in-row, so the
    * whole sweep is one aggregate — exact integers until one rounded
    * division per row. */
  val q235PaddingWaste: QuerySpec = QuerySpec(
    "q235_padding_waste",
    """WITH d AS (
      |  SELECT len(string_split(text, ' ')) AS n_tok FROM documents),
      |sw AS (
      |  SELECT seq_len, n_tok
      |  FROM d, LATERAL (SELECT unnest([64, 128, 256, 512]) AS seq_len))
      |SELECT CAST(seq_len AS BIGINT) AS seq_len,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN n_tok > seq_len THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_truncated,
      |  CAST(SUM(greatest(n_tok - seq_len, 0)) AS BIGINT) AS tokens_lost,
      |  CAST(SUM(greatest(seq_len - n_tok, 0)) AS BIGINT)
      |    AS tokens_padded,
      |  round(CAST(SUM(least(n_tok, seq_len)) AS DOUBLE)
      |    / CAST(COUNT(*) * seq_len AS DOUBLE), 6) AS utilization
      |FROM sw GROUP BY sw.seq_len ORDER BY 1""".stripMargin) { (s, dir) =>
    val lens = Seq(64, 128, 256, 512).map(_.toLong)
    val sw = Tables.documents(s, dir)
      .select(size(split(col("text"), " ")).cast("long").as("n_tok"))
      .select(col("n_tok"),
        explode(typedlit(lens)).as("seq_len"))
    sw.groupBy(col("seq_len"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_tok") > col("seq_len"), 1L).otherwise(0L))
          .as("n_truncated"),
        sum(greatest(col("n_tok") - col("seq_len"), lit(0L)))
          .as("tokens_lost"),
        sum(greatest(col("seq_len") - col("n_tok"), lit(0L)))
          .as("tokens_padded"),
        round(sum(least(col("n_tok"), col("seq_len"))).cast("double") /
          (count(lit(1)) * col("seq_len")).cast("double"), 6)
          .as("utilization"))
      .orderBy(col("seq_len"))
  }

  /** q236: categorical mutual information, lang × source (★ — the
    * redundancy/leakage audit run before using a metadata column as a
    * model feature or stratification key: NMI ≈ 1 means the two
    * columns carry the same signal, ≈ 0 independent — here the
    * synthetic corpus's lang and source are independent by
    * construction and the audit measures exactly that). See
    * [[graft.operators.Audit.categoricalMi]]: every statistic lives
    * on the |A|·|B| joint frame after one grouped corpus aggregate;
    * round-6 log terms sum as DECIMAL(18,6). */
  val q236CategoricalMi: QuerySpec = QuerySpec(
    "q236_categorical_mi",
    """WITH joint AS (
      |  SELECT lang AS a, source AS b, CAST(COUNT(*) AS BIGINT) AS n_ab
      |  FROM documents GROUP BY 1, 2),
      |ma AS (SELECT a, CAST(SUM(n_ab) AS BIGINT) AS n_a
      |       FROM joint GROUP BY 1),
      |mb AS (SELECT b, CAST(SUM(n_ab) AS BIGINT) AS n_b
      |       FROM joint GROUP BY 1),
      |nt AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n FROM joint),
      |mi AS (
      |  SELECT round(CAST(SUM(CAST(round(
      |      (CAST(n_ab AS DOUBLE) / CAST(n AS DOUBLE))
      |      * ln(CAST(n_ab * n AS DOUBLE)
      |        / CAST(n_a * n_b AS DOUBLE)), 6) AS DECIMAL(18,6)))
      |    AS DOUBLE), 6) AS mi_nats
      |  FROM joint JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN nt),
      |ha AS (
      |  SELECT round(CAST(SUM(CAST(round(
      |      (CAST(n_a AS DOUBLE) / CAST(n AS DOUBLE))
      |      * -ln(CAST(n_a AS DOUBLE) / CAST(n AS DOUBLE)), 6)
      |    AS DECIMAL(18,6))) AS DOUBLE), 6) AS h_a
      |  FROM ma CROSS JOIN nt),
      |hb AS (
      |  SELECT round(CAST(SUM(CAST(round(
      |      (CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE))
      |      * -ln(CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE)), 6)
      |    AS DECIMAL(18,6))) AS DOUBLE), 6) AS h_b
      |  FROM mb CROSS JOIN nt),
      |ac AS (SELECT CAST(COUNT(*) AS BIGINT) AS a_cats FROM ma),
      |bc AS (SELECT CAST(COUNT(*) AS BIGINT) AS b_cats FROM mb)
      |SELECT nt.n AS n_rows, ac.a_cats, bc.b_cats, mi.mi_nats,
      |  ha.h_a, hb.h_b,
      |  CASE WHEN ha.h_a > 0 AND hb.h_b > 0
      |    THEN round(mi.mi_nats / sqrt(ha.h_a * hb.h_b), 6)
      |    ELSE CAST(0 AS DOUBLE) END AS nmi
      |FROM nt CROSS JOIN ac CROSS JOIN bc CROSS JOIN mi
      |CROSS JOIN ha CROSS JOIN hb""".stripMargin) { (s, dir) =>
    graft.operators.Audit.categoricalMi(
      Tables.documents(s, dir), "lang", "source")
  }

  /** q237: dataset datasheet (★ — the one-row release report of
    * "Datasheets for Datasets" (Gebru et al. 2021) practice, the
    * summary card attached to every corpus drop: volume, language/
    * source diversity, exact-duplicate rate, mean length, mean
    * unigram entropy (the q115 quality proxy), and the short-doc
    * fraction. Everything is ONE corpus pass — the only data-sized
    * work is the scan plus the three distinct aggregates (lang,
    * source, content hash; Spark's Expand), per-doc entropy is the
    * in-row q115 fold, and the mean rides the DECIMAL(18,6) rule. */
  val q237Datasheet: QuerySpec = QuerySpec(
    "q237_datasheet",
    """WITH tok AS (
      |  SELECT doc_id, lang, source, text, string_split(text, ' ')
      |    AS toks
      |  FROM documents),
      |per AS (
      |  SELECT lang, source, CAST(len(toks) AS BIGINT) AS n_tok,
      |    md5(text) AS h,
      |    round(0.0 - list_sum(list_transform(list_distinct(toks),
      |      t -> (CAST(len(list_filter(toks, x -> x = t)) AS DOUBLE)
      |            / CAST(len(toks) AS DOUBLE))
      |        * ln(CAST(len(list_filter(toks, x -> x = t)) AS DOUBLE)
      |             / CAST(len(toks) AS DOUBLE)))), 6) AS ent
      |  FROM tok)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
      |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
      |  round(CAST(1 AS DOUBLE) - CAST(COUNT(DISTINCT h) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate,
      |  round(CAST(SUM(n_tok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
      |    AS mean_tokens,
      |  round(CAST(SUM(CAST(ent AS DECIMAL(18,6))) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE), 6) AS mean_entropy,
      |  round(CAST(SUM(CASE WHEN n_tok < 50 THEN 1 ELSE 0 END)
      |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS short_rate
      |FROM per""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.types.DecimalType
    val per = Tables.documents(s, dir)
      .select(col("lang"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        md5(col("text")).as("h"),
        graft.functions.TextFunctions.tokenEntropy(col("text")).as("ent"))
    per.agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        round(lit(1.0) - countDistinct(col("h")).cast("double") /
          count(lit(1)).cast("double"), 6).as("dup_rate"),
        round(sum(col("n_tok")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_tokens"),
        round(sum(col("ent").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_entropy"),
        round(sum(when(col("n_tok") < 50, 1L).otherwise(0L))
          .cast("double") / count(lit(1)).cast("double"), 6)
          .as("short_rate"))
  }

  /** q246: token-rank stability between corpus halves (★ — Spearman's
    * ρ over the global-top-100 tokens' frequency ranks in the
    * doc_id-parity halves: ρ near 1 says the token distribution is
    * stationary across the split, a drop flags vocabulary drift the
    * magnitude-sensitive q228 JS can under-report when only the tail
    * reshuffles). EXACT integer arithmetic end to end: ranks are
    * row_numbers (count desc, token asc — absent tokens count 0),
    * ρ = 1 − 6Σd²/(n(n²−1)), so the only double is the final ratio.
    * One corpus explode; everything after lives on the ≤100-token
    * spine. */
  val q246RankStability: QuerySpec = QuerySpec(
    "q246_rank_stability",
    """WITH tok AS (
      |  SELECT doc_id % 2 AS half, unnest(string_split(text, ' ')) AS t
      |  FROM documents),
      |tc AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c
      |       FROM tok GROUP BY 1),
      |spine AS (SELECT t FROM tc ORDER BY c DESC, t LIMIT 100),
      |hc AS (
      |  SELECT s.t, k.half, CAST(COUNT(tok.t) AS BIGINT) AS c
      |  FROM spine s CROSS JOIN (SELECT 0 AS half UNION ALL SELECT 1) k
      |  LEFT JOIN tok ON tok.t = s.t AND tok.half = k.half
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT t, half,
      |    CAST(row_number() OVER (PARTITION BY half
      |      ORDER BY c DESC, t) AS BIGINT) AS r
      |  FROM hc),
      |dd AS (
      |  SELECT a.t, (a.r - b.r) * (a.r - b.r) AS d2
      |  FROM rk a JOIN rk b ON b.t = a.t AND a.half = 0 AND b.half = 1)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
      |  CAST(SUM(d2) AS BIGINT) AS sum_d2,
      |  round(CAST(1 AS DOUBLE)
      |    - 6.0 * CAST(SUM(d2) AS DOUBLE)
      |      / (CAST(COUNT(*) AS DOUBLE)
      |        * (CAST(COUNT(*) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)
      |          - 1)), 6) AS spearman_rho
      |FROM dd""".stripMargin) { (s, dir) =>
    val tok = Tables.documents(s, dir)
      .select((col("doc_id") % 2).as("half"),
        explode(split(col("text"), " ")).as("t"))
    val spine = tok.groupBy(col("t")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t")).limit(100).select(col("t"))
    val halves = s.range(0, 2).select(col("id").as("half"))
    val hc = spine.crossJoin(broadcast(halves))
      .join(tok.groupBy(col("t"), col("half")).agg(count(lit(1)).as("c")),
        Seq("t", "half"), "left")
      .select(col("t"), col("half"), coalesce(col("c"), lit(0L)).as("c"))
    import org.apache.spark.sql.expressions.Window
    val rk = hc.withColumn("r", row_number().over(
        Window.partitionBy(col("half")).orderBy(col("c").desc, col("t")))
      .cast("long"))
    val dd = rk.filter(col("half") === 0)
      .select(col("t"), col("r").as("ra"))
      .join(rk.filter(col("half") === 1)
        .select(col("t"), col("r").as("rb")), Seq("t"))
      .select(((col("ra") - col("rb")) * (col("ra") - col("rb")))
        .as("d2"))
    dd.agg(count(lit(1)).as("n_terms"), sum(col("d2")).as("sum_d2"))
      .select(col("n_terms"), col("sum_d2"),
        round(lit(1.0) - lit(6.0) * col("sum_d2").cast("double") /
          (col("n_terms").cast("double") *
            (col("n_terms").cast("double") *
              col("n_terms").cast("double") - 1)), 6).as("spearman_rho"))
  }

  /** q187: tokenizer fertility by language (★ — the multilingual
    * tokenizer-equity audit from XLM-R/NLLB: subword tokens per word
    * ("fertility") and chars per token per LANGUAGE from ONE BPE
    * training run — a vocabulary trained on a mixed corpus fragments
    * under-represented languages, and this is the table that shows
    * it). Rides the whole q156/q157 machinery with the language as
    * the aggregation key: the corpus is scanned once for the word
    * table, iterations are vocabulary-bounded, and the learned
    * segmentation joins back through a BROADCAST word table. All-int
    * sums + two exact-int divisions. */
  val q187TokenizerFertility: QuerySpec = QuerySpec(
    "q187_tokenizer_fertility",
    graft.operators.Bpe.sqlEncodedLengths("documents", "lang", "text", 8)) {
    (s, dir) =>
      graft.operators.Bpe.encodedLengths(
          Tables.documents(s, dir), "lang", "text", 8)
        .orderBy(col("lang"))
  }

  /** q215: spaceless-script tokenizer fertility (★ — q187's
    * multilingual-equity audit extended to scripts that write WITHOUT
    * word spaces, where a whitespace tokenizer collapses every
    * sentence into one pseudo-word and the fertility statistic
    * degenerates). The corpus gains deterministic CJK (doc_id % 3 = 0)
    * and Thai (doc_id % 3 = 1) tails — Thai spelled with standalone
    * consonants only, so codepoint and grapheme indexing agree across
    * engines — and the BPE machinery runs with the OPT-IN
    * [[graft.functions.TextFunctions.segmentText]] pre-pass: each
    * CJK/Thai run becomes its own word, character-split into initial
    * tokens, so the trained vocabulary contains the scripts' units and
    * per-script fertility is a MEASURED subword rate (≫ 1 while the
    * merge budget favors the Latin majority — exactly the
    * under-representation the XLM-R audit exists to show) instead of
    * one giant unmatched pseudo-word. The oracle replays segmentation,
    * training, and encoding through the shared [[graft.operators.Bpe]]
    * SQL twins with `segment = true`. */
  val q215CjkFertility: QuerySpec = {
    // whole-document replacements, not tails: a cjk/thai "document" is
    // entirely its script, so the per-script fertility rows measure
    // the scripts themselves instead of averaging against the Latin
    // base text. Several runs per doc (runs embed no spaces) with
    // repeated within-run pairs, so merges are learnable and the
    // run-length spread is real.
    val cjkText = "数据清洗 数据质量 清洗流程数据清洗 数据流程"
    val thaiText = "ขอมล คณภาพขอมล ขอมลสะอาด ขอมลคณภาพ"
    val seededSql =
      "(SELECT CASE doc_id % 3 WHEN 0 THEN 'cjk' WHEN 1 THEN 'thai' " +
        "ELSE 'latin' END AS script, CASE doc_id % 3 " +
        s"WHEN 0 THEN '$cjkText' WHEN 1 THEN '$thaiText' " +
        "ELSE text END AS t FROM documents)"
    QuerySpec(
      "q215_cjk_fertility",
      graft.operators.Bpe.sqlEncodedLengths(seededSql, "script", "t", 8,
        segment = true)) { (s, dir) =>
      val seeded = Tables.documents(s, dir).select(
        when(col("doc_id") % 3 === 0, lit("cjk"))
          .when(col("doc_id") % 3 === 1, lit("thai"))
          .otherwise(lit("latin")).as("script"),
        when(col("doc_id") % 3 === 0, lit(cjkText))
          .when(col("doc_id") % 3 === 1, lit(thaiText))
          .otherwise(col("text")).as("t"))
      graft.operators.Bpe.encodedLengths(seeded, "script", "t", 8,
          segment = true)
        .orderBy(col("script"))
    }
  }

  /** q217: unigram-LM (SentencePiece) tokenizer training (★ — Kudo
    * 2018's Viterbi hard-EM, the OTHER subword family beside q156's
    * BPE: seed vocabulary of all ≤4-char substrings of the word
    * table, two EM rounds of min-cost segmentation under round-6
    * −log p with deterministic tie-breaks, exact piece-count
    * re-estimation between rounds; see [[graft.operators.Unigram]]
    * for the determinism engineering). Output = the top-40 final
    * pieces by exact count — ints and strings only; the oracle
    * replays the seed statistics, BOTH Viterbi DPs (recursive CTEs —
    * `list_reduce`'s struct-accumulator mutation makes folds unsafe,
    * the q202 lesson), both backwalks, and the count re-estimation. */
  val q217UnigramTrain: QuerySpec = QuerySpec(
    "q217_unigram_train",
    graft.operators.Unigram.sqlTrainCounts("documents", "text") +
      "\nSELECT piece, piece_len, cnt FROM out " +
      "ORDER BY cnt DESC, piece LIMIT 40") { (s, dir) =>
    graft.operators.Unigram.trainCounts(Tables.documents(s, dir), "text")
      .orderBy(col("cnt").desc, col("piece")).limit(40)
  }

  /** q218: unigram-tokenizer fertility by language (★ — q187's
    * multilingual-equity audit under the q217 unigram vocabulary
    * instead of BPE: pieces per word and chars per piece per
    * LANGUAGE from one unigram training run. The two tables together
    * are the tokenizer-selection comparison — same corpus, same
    * audit, the two subword families' fragmentation side by side.
    * Scale shape is q187's: the corpus is scanned once for the word
    * table, EM runs vocabulary-bounded, and the learned round-2
    * segmentation joins back through a BROADCAST word table; all-int
    * sums and two exact-int divisions. */
  val q218UnigramFertility: QuerySpec = QuerySpec(
    "q218_unigram_fertility",
    graft.operators.Unigram.sqlEncodedLengths(
      "documents", "lang", "text")) { (s, dir) =>
    graft.operators.Unigram.encodedLengths(
        Tables.documents(s, dir), "lang", "text")
      .orderBy(col("lang"))
  }

  /** q219: WordPiece tokenizer training (★ — the THIRD subword
    * family, completing the triple: q156's BPE merges by pair
    * frequency, q217's unigram fits by EM, and BERT's WordPiece
    * merges by unigram-likelihood GAIN score = c(lr)/(c(l)·c(r)),
    * with the `##` continuation convention keeping word-initial and
    * word-internal symbols distinct. Same one-corpus-scan word-table
    * formulation; the per-round unigram denominator is WordPiece's
    * extra vocabulary-bounded aggregate; see
    * [[graft.operators.WordPiece]] for the round-6 score stance. */
  val q219WordpieceMerges: QuerySpec = QuerySpec(
    "q219_wordpiece_merges",
    graft.operators.WordPiece.sqlLearnMerges("documents", "text", 8)) {
    (s, dir) =>
      graft.operators.WordPiece
        .learnMerges(Tables.documents(s, dir), "text", 8)
        .orderBy(col("merge_rank"))
  }

  /** q188: perplexity bucketing (★ — CCNet's head/middle/tail split:
    * per-doc KN cross-entropy from the q155 model, tertile thresholds
    * computed on the TRAINING partition's score distribution, every
    * doc bucketed against those thresholds; the head bucket is what
    * CCNet keeps). Thresholds come from the SORTED (xent, doc_id)
    * array of the reference partition — exact element picks at n/3
    * and 2n/3, no approximate percentile — and broadcast as a 1-row
    * cross (the q76/q117 whitelisted shape). Per-bucket sums ride the
    * Exact decimal rule; min/max of round-6 doubles are exact. The
    * oracle replays training, scoring, thresholds, and bucketing
    * through the shared [[KnSql]] chain. */
  val q188PerplexityBuckets: QuerySpec = QuerySpec(
    "q188_perplexity_buckets",
    s"""WITH ${KnSql.ctes},
      |ref AS (
      |  SELECT list_sort(list({'x': xent, 'id': doc_id})) AS xs,
      |    COUNT(*) AS n
      |  FROM kn WHERE doc_id % 3 <> 0),
      |thr AS (
      |  SELECT xs[greatest(1, n // 3)].x AS t1,
      |    xs[greatest(1, (2 * n) // 3)].x AS t2
      |  FROM ref),
      |b AS (
      |  SELECT k.doc_id, k.xent,
      |    CASE WHEN k.xent <= t.t1 THEN 'head'
      |         WHEN k.xent <= t.t2 THEN 'middle'
      |         ELSE 'tail' END AS bucket
      |  FROM kn k CROSS JOIN thr t)
      |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  ${graft.functions.Exact.sqlSum("xent")} AS total_xent,
      |  min(xent) AS min_xent, max(xent) AS max_xent
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val kn = graft.operators.Search.knCrossEntropy(
        docs.filter(col("doc_id") % 3 =!= 0), docs, "doc_id", "text")
      .select(col("doc_id"), (col("xent") + lit(0.0)).as("xent"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val thr = kn.filter(col("doc_id") % 3 =!= 0)
      .agg(array_sort(collect_list(struct(col("xent").as("x"),
        col("doc_id").as("id")))).as("xs"), count(lit(1)).as("n"))
      .select(
        element_at(col("xs"),
          greatest(lit(1L), expr("n div 3")).cast("int"))("x").as("t1"),
        element_at(col("xs"),
          greatest(lit(1L), expr("(2 * n) div 3")).cast("int"))("x")
          .as("t2"))
    kn.crossJoin(broadcast(thr))
      .withColumn("bucket",
        when(col("xent") <= col("t1"), lit("head"))
          .when(col("xent") <= col("t2"), lit("middle"))
          .otherwise(lit("tail")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        graft.functions.Exact.dsum(col("xent")).as("total_xent"),
        min(col("xent")).as("min_xent"), max(col("xent")).as("max_xent"))
      .orderBy(col("bucket"))
  }

  /** q189: Unicode script-mix audit (★ — the per-document script
    * histogram web curation uses for encoding/spam tells and routing:
    * per-script character counts, the dominant script, and a
    * mixed-script flag — two letter scripts in one doc is the classic
    * confusable/spam signal; fastText langid mis-scores such docs, so
    * pipelines gate on this FIRST). The corpus is ASCII, so the query
    * seeds deterministic Cyrillic/CJK/Arabic tails on doc_id % 4; the
    * char-class patterns are shared Scala constants interpolated into
    * both engines (literal BMP ranges — identical in Java regex and
    * RE2). Dominant = max of the sorted (count, script) struct array,
    * a total order both engines agree on; all outputs are ints,
    * strings, and bools. */
  val q189ScriptMix: QuerySpec = {
    // literal BMP ranges; endpoints embedded as characters so the
    // identical class text reaches Java regex and RE2
    val latin = "[A-Za-z]"
    val cyr = "[Ѐ-ӿ]"
    val cjk = "[一-鿿]"
    val arab = "[؀-ۿ]"
    val digit = "[0-9]"
    val seedSql =
      """text ||
        |    CASE doc_id % 4
        |      WHEN 1 THEN ' привет мир 2024'
        |      WHEN 2 THEN ' 你好世界'
        |      WHEN 3 THEN ' مرحبا بالعالم'
        |      ELSE '' END""".stripMargin
    QuerySpec(
      "q189_script_mix",
      s"""WITH seeded AS (
        |  SELECT doc_id, $seedSql AS t
        |  FROM documents),
        |counts AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(t, '$latin')) AS BIGINT) AS n_latin,
        |    CAST(len(regexp_extract_all(t, '$cyr')) AS BIGINT) AS n_cyrillic,
        |    CAST(len(regexp_extract_all(t, '$cjk')) AS BIGINT) AS n_cjk,
        |    CAST(len(regexp_extract_all(t, '$arab')) AS BIGINT) AS n_arabic,
        |    CAST(len(regexp_extract_all(t, '$digit')) AS BIGINT) AS n_digit
        |  FROM seeded)
        |SELECT doc_id, n_latin, n_cyrillic, n_cjk, n_arabic, n_digit,
        |  list_sort([
        |    {'cnt': n_latin, 's': 'latin'},
        |    {'cnt': n_cyrillic, 's': 'cyrillic'},
        |    {'cnt': n_cjk, 's': 'cjk'},
        |    {'cnt': n_arabic, 's': 'arabic'}])[4].s AS dominant,
        |  (CAST(n_latin > 0 AS INTEGER) + CAST(n_cyrillic > 0 AS INTEGER)
        |    + CAST(n_cjk > 0 AS INTEGER) + CAST(n_arabic > 0 AS INTEGER))
        |    >= 2 AS mixed
        |FROM counts ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val t = concat(col("text"),
        when(col("doc_id") % 4 === 1, lit(" привет мир 2024"))
          .when(col("doc_id") % 4 === 2, lit(" 你好世界"))
          .when(col("doc_id") % 4 === 3, lit(" مرحبا بالعالم"))
          .otherwise(lit("")))
      def cnt(pat: String): org.apache.spark.sql.Column =
        regexp_count(col("t"), lit(pat)).cast("long")
      Tables.documents(s, dir)
        .select(col("doc_id"), t.as("t"))
        .select(col("doc_id"),
          cnt(latin).as("n_latin"), cnt(cyr).as("n_cyrillic"),
          cnt(cjk).as("n_cjk"), cnt(arab).as("n_arabic"),
          cnt(digit).as("n_digit"))
        .select(col("doc_id"), col("n_latin"), col("n_cyrillic"),
          col("n_cjk"), col("n_arabic"), col("n_digit"),
          element_at(array_sort(array(
            struct(col("n_latin").as("cnt"), lit("latin").as("s")),
            struct(col("n_cyrillic").as("cnt"), lit("cyrillic").as("s")),
            struct(col("n_cjk").as("cnt"), lit("cjk").as("s")),
            struct(col("n_arabic").as("cnt"), lit("arabic").as("s")))),
            4)("s").as("dominant"),
          ((col("n_latin") > 0).cast("int")
            + (col("n_cyrillic") > 0).cast("int")
            + (col("n_cjk") > 0).cast("int")
            + (col("n_arabic") > 0).cast("int") >= 2).as("mixed"))
        .orderBy(col("doc_id"))
    }
  }

  /** q193: Unicode NFC normalization pass (★ — the canonical-
    * composition step every tokenizer pipeline runs FIRST: decomposed
    * "e"+U+0301 and composed "é" are different byte strings, so an
    * un-normalized corpus fragments the vocabulary, splits exact-dedup
    * keys, and double-counts shingles; see
    * [[graft.plans.NfcNormalizeExpr]] for the codegen expression —
    * Spark ships no normalizer built-in). The ASCII corpus is seeded
    * with decomposed (doc_id % 3 = 0) and composed (doc_id % 3 = 1)
    * spellings from SHARED Scala constants; DuckDB's `nfc_normalize`
    * implements the same canonical composition, so the changed flags,
    * char counts, and normalized md5 all replay byte-for-byte. Where
    * q105's ladder folds case/whitespace/accents for DEDUP KEYS, this
    * is the lossless standalone pass run on the text a pipeline
    * actually ships. */
  val q193NfcNormalize: QuerySpec = {
    // é as e+COMBINING ACUTE, ç as c+COMBINING CEDILLA (decomposed)
    val decomposed = "résumé français"
    // the same words in composed (NFC) form
    val composed = "résumé français"
    QuerySpec(
      "q193_nfc_normalize",
      s"""WITH seeded AS (
        |  SELECT doc_id, text || CASE doc_id % 3
        |    WHEN 0 THEN ' $decomposed'
        |    WHEN 1 THEN ' $composed'
        |    ELSE '' END AS t
        |  FROM documents),
        |n AS (SELECT doc_id, t, nfc_normalize(t) AS nt FROM seeded)
        |SELECT doc_id, nt <> t AS changed,
        |  CAST(length(t) AS BIGINT) AS n_before,
        |  CAST(length(nt) AS BIGINT) AS n_after,
        |  md5(nt) AS norm_md5
        |FROM n ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val t = concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(" " + decomposed))
          .when(col("doc_id") % 3 === 1, lit(" " + composed))
          .otherwise(lit("")))
      Tables.documents(s, dir)
        .select(col("doc_id"), t.as("t"))
        .select(col("doc_id"),
          graft.plans.UnicodeNormalize(col("t"), stripAccents = false)
            .as("nt"),
          col("t"))
        .select(col("doc_id"), (col("nt") =!= col("t")).as("changed"),
          length(col("t")).cast("long").as("n_before"),
          length(col("nt")).cast("long").as("n_after"),
          md5(col("nt")).as("norm_md5"))
        .orderBy(col("doc_id"))
    }
  }

  /** q194: dictionary blocklist gate (★ — the C4 §2.2 "bad words"
    * filter: any page containing a blocklisted TERM is dropped —
    * dictionary membership, not regex shape, which is why it sits
    * beside q116's pattern-based PII tier and q148's statistical
    * rules; production pipelines run all three). The blocklist is a
    * shared Scala constant interpolated into both engines (broadcast
    * literal array on the Spark side — the filter is one scan-shaped
    * lambda, no join, no shuffle before the per-doc project). Emits
    * the audit columns a curation report needs: occurrence count,
    * distinct terms hit (sorted), and the keep flag. */
  val q194BlocklistGate: QuerySpec = {
    val blocklist = Seq("slow", "stale", "drop")
    val sqlList = blocklist.map(t => s"'$t'").mkString("[", ", ", "]")
    QuerySpec(
      "q194_blocklist_gate",
      s"""WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    list_filter(toks, t -> list_contains($sqlList, t)) AS hits
        |  FROM tk)
        |SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_hits,
        |  CAST(len(list_distinct(hits)) AS BIGINT) AS n_terms,
        |  COALESCE(array_to_string(list_sort(list_distinct(hits)), ','),
        |    '') AS hit_terms,
        |  len(hits) = 0 AS keep
        |FROM h ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val blockLit = array(blocklist.map(lit): _*)
      val hits = filter(split(col("text"), " "),
        t => array_contains(blockLit, t))
      Tables.documents(s, dir)
        .select(col("doc_id"), hits.as("hits"))
        .select(col("doc_id"),
          size(col("hits")).cast("long").as("n_hits"),
          size(array_distinct(col("hits"))).cast("long").as("n_terms"),
          array_join(array_sort(array_distinct(col("hits"))), ",")
            .as("hit_terms"),
          (size(col("hits")) === 0).as("keep"))
        .orderBy(col("doc_id"))
    }
  }

  /** q198: readability scoring (★ — the Flesch–Kincaid grade /
    * Flesch reading-ease pair, the oldest quality signal in text
    * curation and still a standard feature in doc-quality stacks
    * next to q27's ratio score and q148's Gopher bank). Sentences
    * are seeded deterministically (the corpus has no terminal
    * punctuation — a '.' lands on every 7th token and the last, the
    * q167 seeding discipline) and then COUNTED from the constructed
    * text with regexp_count, not recomputed arithmetically — the
    * operator is exercised on text, not on n. Syllables use the
    * classic vowel-group heuristic ([aeiouy]+ runs; groups cannot
    * span a space, so one corpus-wide count equals the per-word
    * sum). Both ratios round to 6 before the two linear forms
    * (coefficients cast to DOUBLE on the SQL side so both engines
    * bind the identical literal), and each form is one pinned
    * left-to-right a·x + b·y − c chain + round(6) — hash-stable.
    * Scale shape: pure per-row Column work, no shuffle before the
    * final order; codegen end to end. */
  val q198Readability: QuerySpec = QuerySpec(
    "q198_readability",
    """WITH tk AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks, text
      |  FROM documents),
      |seeded AS (
      |  SELECT doc_id, text, toks,
      |    array_to_string(list_transform(range(1, len(toks) + 1),
      |      i -> toks[i] || CASE WHEN i % 7 = 0 OR i = len(toks)
      |                           THEN '.' ELSE '' END), ' ') AS st
      |  FROM tk),
      |c AS (
      |  SELECT doc_id,
      |    CAST(len(toks) AS BIGINT) AS n_words,
      |    CAST(len(regexp_extract_all(st, '\.')) AS BIGINT) AS n_sentences,
      |    CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT)
      |      AS n_syllables
      |  FROM seeded),
      |r AS (
      |  SELECT doc_id, n_words, n_sentences, n_syllables,
      |    round(CAST(n_words AS DOUBLE) / n_sentences, 6) AS wps,
      |    round(CAST(n_syllables AS DOUBLE) / n_words, 6) AS spw
      |  FROM c)
      |SELECT doc_id, n_words, n_sentences, n_syllables, wps, spw,
      |  round(CAST(0.39 AS DOUBLE) * wps + CAST(11.8 AS DOUBLE) * spw
      |    - CAST(15.59 AS DOUBLE), 6) + 0.0 AS fk_grade,
      |  round(CAST(206.835 AS DOUBLE) - CAST(1.015 AS DOUBLE) * wps
      |    - CAST(84.6 AS DOUBLE) * spw, 6) + 0.0 AS flesch_ease
      |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val seeded = TextFunctions.bound(split(col("text"), " ")) { toks =>
      struct(
        size(toks).cast("long").as("n_words"),
        array_join(zip_with(toks, sequence(lit(1), size(toks)),
          (w, i) => concat(w,
            when(i % 7 === 0 || i === size(toks), lit("."))
              .otherwise(lit("")))), " ").as("st"))
    }
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), seeded.as("x"))
      .select(col("doc_id"),
        col("x.n_words").as("n_words"),
        regexp_count(col("x.st"), lit("\\.")).cast("long")
          .as("n_sentences"),
        regexp_count(col("text"), lit("[aeiouy]+")).cast("long")
          .as("n_syllables"))
      .withColumn("wps",
        round(col("n_words").cast("double") / col("n_sentences"), 6))
      .withColumn("spw",
        round(col("n_syllables").cast("double") / col("n_words"), 6))
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"), col("wps"), col("spw"),
        (round(lit(0.39) * col("wps") + lit(11.8) * col("spw")
          - lit(15.59), 6) + lit(0.0)).as("fk_grade"),
        (round(lit(206.835) - lit(1.015) * col("wps")
          - lit(84.6) * col("spw"), 6) + lit(0.0)).as("flesch_ease"))
      .orderBy(col("doc_id"))
  }

  val specs: Seq[QuerySpec] = Seq(
    q26TokenStats, q27QualityScore, q28LangId, q29Fingerprint,
    q38BpeTokens, q39RollingFingerprint, q51Sentiment, q60StratifiedSample,
    q61Vocabulary, q62TfIdf, q72Chunking, q73HeavyHitters, q82HashSplit,
    q93LlmPipeline, q105TextNormalize, q112Repetition, q113PackSequences,
    q114MixtureSample, q115TokenEntropy, q116PiiScrub, q117Bm25,
    q119BigramLm, q121LmScore, q131PmiCollocations, q134CdcChunks,
    q137CorpusCard, q140StripMarkup, q141UrlCanonicalize,
    q144PhraseSearch, q148QualityRules, q149DomainPagerank,
    q150CurationPipeline, q152PercentileNormalize, q154MixtureWaterfill,
    q155KnPerplexity, q156BpeMerges, q157BpeEncode, q160RobotsGate,
    q161LuhnRedact, q162NbClassifier, q163DsirSelect, q166FixEncoding,
    q167C4Filter, q168SkipgramPairs, q170TemperatureMix, q173VocabSweep,
    q178CrawlFrontier, q183LengthPsi, q184ZipfFit,
    q187TokenizerFertility, q188PerplexityBuckets, q189ScriptMix,
    q193NfcNormalize, q194BlocklistGate, q198Readability,
    q215CjkFertility, q217UnigramTrain, q218UnigramFertility,
    q219WordpieceMerges, q222NbCalibration, q223NbClassReport,
    q224Chi2Tokens, q225GateParity, q226NbAuc, q228JsDrift,
    q230DomainReweight, q232HeapsGrowth, q235PaddingWaste,
    q236CategoricalMi, q237Datasheet, q246RankStability,
    q249StreamingDrift)
}

/** The interpolated-Kneser–Ney CTE chain (train on doc_id % 3 ≠ 0,
  * score the whole corpus), shared by q155 (per-doc perplexity gate)
  * and q188 (CCNet head/middle/tail bucketing) so the two oracles'
  * model arithmetic is generated from one source (the IvfSql/
  * MinhashSql discipline). Emits CTEs ending in
  * `kn(doc_id, n_bigrams, n_unseen, oov_rate, xent)`; xent is the
  * round-6, -0.0-normalized per-doc cross-entropy. */
private[queries] object KnSql {
  /** The `tok` base CTE every chain hangs off (emit ONCE per query
    * even when two model chains follow). */
  val tokCte: String =
    """tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents)"""
      .stripMargin

  /** One full KN model + scoring chain with every CTE name prefixed
    * `p` (so two models can coexist in one query), the training
    * corpus selected by `trainPred` and the scored corpus by
    * `scorePred` (both over `tok`'s columns). Ends in
    * `${p}kn(doc_id, n_bigrams, n_unseen, oov_rate, xent)`. */
  def chain(p: String, trainPred: String,
            scorePred: String = "TRUE"): String =
    s"""${p}tbi0 AS (
      |  SELECT unnest(list_transform(range(1, len(toks)),
      |    i -> {'w1': toks[i], 'w2': toks[i+1]})) AS p
      |  FROM tok WHERE len(toks) >= 2 AND ($trainPred)),
      |${p}tbi AS (SELECT p.w1 AS w1, p.w2 AS w2 FROM ${p}tbi0),
      |${p}cnt AS (SELECT w1, w2, COUNT(*) AS c FROM ${p}tbi GROUP BY 1, 2),
      |${p}ctx AS (
      |  SELECT w1, CAST(SUM(c) AS BIGINT) AS tot, COUNT(*) AS n1f
      |  FROM ${p}cnt GROUP BY 1),
      |${p}cont AS (SELECT w2, COUNT(*) AS n1b FROM ${p}cnt GROUP BY 1),
      |${p}gstat AS (
      |  SELECT COUNT(*) AS bb, COUNT(DISTINCT w2) AS vv FROM ${p}cnt),
      |${p}sbi0 AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |    i -> {'w1': toks[i], 'w2': toks[i+1]})) AS p
      |  FROM tok WHERE len(toks) >= 2 AND ($scorePred)),
      |${p}sbi AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM ${p}sbi0),
      |${p}db AS (
      |  SELECT doc_id, w1, w2, COUNT(*) AS m FROM ${p}sbi GROUP BY 1, 2, 3),
      |${p}e AS (
      |  SELECT doc_id, m,
      |    CASE WHEN c IS NULL THEN m ELSE CAST(0 AS BIGINT) END AS un,
      |    {'w1': w1, 'w2': w2,
      |     'nl': CAST(m AS DOUBLE) * -(ln(
      |        CASE WHEN tot IS NOT NULL
      |          THEN greatest(CAST(COALESCE(c, 0) AS DOUBLE) - 0.75, 0.0)
      |                 / CAST(tot AS DOUBLE)
      |             + (0.75 * CAST(n1f AS DOUBLE) / CAST(tot AS DOUBLE))
      |               * (CAST(COALESCE(n1b, 0) + 1 AS DOUBLE)
      |                  / CAST(bb + vv + 1 AS DOUBLE))
      |          ELSE CAST(COALESCE(n1b, 0) + 1 AS DOUBLE)
      |               / CAST(bb + vv + 1 AS DOUBLE) END) / ln(2))} AS e
      |  FROM ${p}db LEFT JOIN ${p}cnt USING (w1, w2)
      |    LEFT JOIN ${p}ctx USING (w1) LEFT JOIN ${p}cont USING (w2)
      |    CROSS JOIN ${p}gstat),
      |${p}g AS (
      |  SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_bigrams,
      |    CAST(SUM(un) AS BIGINT) AS n_unseen, list_sort(list(e)) AS es
      |  FROM ${p}e GROUP BY 1),
      |${p}kn AS (
      |  SELECT doc_id, n_bigrams, n_unseen,
      |    CAST(n_unseen AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
      |      AS oov_rate,
      |    round(list_reduce(list_prepend(0.0,
      |        list_transform(es, x -> x.nl)), (acc, x) -> acc + x)
      |      / n_bigrams, 6) + 0.0 AS xent
      |  FROM ${p}g)""".stripMargin

  /** The q155/q188 chain: train on doc_id % 3 ≠ 0, score the whole
    * corpus, unprefixed names ending in `kn`. */
  val ctes: String = tokCte + ",\n" + chain("", "doc_id % 3 <> 0")
}
