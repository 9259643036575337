package graft.queries

import graft.{QuerySpec, Tables}
import graft.functions.Exact
import graft.operators.Similarity
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding similarity-search queries (north-star ★, SURVEY §7.6).
  * Cosine values are rounded to 6 decimals before ranking on BOTH
  * sides so rank order is stable under sub-ulp accumulation
  * differences; ties break on candidate id.
  */
object SimilarityQueries {

  /** q34: brute-force exact cosine top-k — query vectors broadcast,
    * corpus streamed once, per-query top-k window (no global sort).
    * Oracle: DuckDB list_cosine_similarity over the same float→double
    * casts. */
  val q34CosineTopK: QuerySpec = QuerySpec(
    "q34_cosine_topk",
    """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
      |           FROM embeddings WHERE vec_id < 16),
      |sims AS (
      |  SELECT q.q_id, e.vec_id AS c_id,
      |    round(list_cosine_similarity(
      |      CAST(q.q_vec AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 6) AS sim
      |  FROM q JOIN embeddings e ON e.vec_id <> q.q_id),
      |ranked AS (
      |  SELECT q_id, c_id, sim,
      |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rn
      |  FROM sims)
      |SELECT q_id, c_id, sim, rn FROM ranked WHERE rn <= 5
      |ORDER BY q_id, rn""".stripMargin) { (s, dir) =>
    val e = Tables.embeddings(s, dir)
    val queries = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val corpus = e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    corpus.join(broadcast(queries), col("q_id") =!= col("c_id"))
      .withColumn("sim", round(Similarity.cosine(
        col("q_vec").cast("array<double>"),
        col("c_vec").cast("array<double>")), 6))
      .select(col("q_id"), col("c_id"), col("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .withColumnRenamed("rn", "rn0")
      .select(col("q_id"), col("c_id"), col("sim"), col("rn0").cast("long").as("rn"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** q35: embedding norm / centroid-ish statistics per label — array
    * aggregation via exact decimal sums of per-row double features
    * (per-row array fold is sequential and portable; only the
    * cross-row aggregation needs the decimal rule). */
  val q35EmbeddingStats: QuerySpec = QuerySpec(
    "q35_embedding_stats",
    s"""SELECT label, COUNT(*) AS n,
       |  ${Exact.sqlSum("round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 6)")} AS total_norm,
       |  ${Exact.sqlSum("round(CAST(embedding[1] AS DOUBLE), 6)")} AS total_first,
       |  ${Exact.sqlSum("round(CAST(embedding[64] AS DOUBLE), 6)")} AS total_last
       |FROM embeddings GROUP BY label ORDER BY label""".stripMargin) { (s, dir) =>
    val v = col("embedding").cast("array<double>")
    val dot = aggregate(zip_with(v, v, (p, q) => p * q), lit(0.0),
      (acc, x) => acc + x)
    Tables.embeddings(s, dir)
      .select(col("label"),
        round(sqrt(dot), 6).as("norm"),
        round(element_at(v, 1), 6).as("first_d"),
        round(element_at(v, 64), 6).as("last_d"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        Exact.dsum(col("norm")).as("total_norm"),
        Exact.dsum(col("first_d")).as("total_first"),
        Exact.dsum(col("last_d")).as("total_last"))
      .orderBy(col("label"))
  }

  /** q36: LSH-bucketed approximate top-k (the scale path: bucket join
    * instead of cross product; hamming-1 probe set for recall). Fully
    * oracle-replayed: the hyperplanes are seeded literals interpolated
    * into the SQL in shortest-round-trip form, the sign dot products
    * are pinned left folds (list_reduce over a 0.0-prepended list —
    * the same accumulation order as Spark's aggregate()), and the
    * candidate cosine rides the q34-proven list_cosine_similarity +
    * round(6). SimilaritySpec still holds recall vs the exact tier. */
  val q36CosineLshTopK: QuerySpec = {
    val numPlanes = 12
    val planeRows = Similarity.planeValues(numPlanes, 64).zipWithIndex
      .map { case (p, i) => s"($i, [${p.mkString(", ")}]::DOUBLE[])" }
      .mkString(",\n      |    ")
    val probes = ("bucket0" +: (0 until numPlanes)
      .map(i => s"xor(bucket0, ${1L << i})")).mkString(", ")
    QuerySpec(
      "q36_cosine_lsh_topk",
      s"""WITH planes(pi, pv) AS (VALUES
        |    $planeRows),
        |vecs AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS dv, embedding
        |  FROM embeddings),
        |dots AS (
        |  SELECT v.id, pl.pi,
        |    list_reduce(list_prepend(0.0,
        |      list_transform(range(1, 65), j -> v.dv[j] * pl.pv[j])),
        |      (a, b) -> a + b) AS d
        |  FROM vecs v CROSS JOIN planes pl),
        |buckets AS (
        |  SELECT id,
        |    CAST(sum(CASE WHEN d > 0 THEN (1::BIGINT << pi) ELSE 0 END)
        |      AS BIGINT) AS bucket
        |  FROM dots GROUP BY id),
        |cb AS (
        |  SELECT v.id AS c_id, v.embedding AS c_vec, b.bucket
        |  FROM vecs v JOIN buckets b ON b.id = v.id),
        |qb AS (
        |  SELECT v.id AS q_id, v.embedding AS q_vec,
        |    unnest([$probes]) AS bucket
        |  FROM vecs v JOIN (SELECT id, bucket AS bucket0 FROM buckets) b
        |    ON b.id = v.id
        |  WHERE v.id < 16),
        |cand AS (
        |  SELECT DISTINCT q.q_id, c.c_id,
        |    round(list_cosine_similarity(
        |      CAST(q.q_vec AS DOUBLE[]), CAST(c.c_vec AS DOUBLE[])), 6) AS sim
        |  FROM qb q JOIN cb c ON q.bucket = c.bucket AND q.q_id <> c.c_id),
        |ranked AS (
        |  SELECT q_id, c_id, sim,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rn
        |  FROM cand)
        |SELECT q_id, c_id, sim FROM ranked WHERE rn <= 5
        |ORDER BY q_id, sim DESC, c_id""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      Similarity.lshTopK(queries, corpus, k = 5, numPlanes = numPlanes)
        .orderBy(col("q_id"), col("sim").desc, col("c_id"))
    }
  }

  /** q37: embedding-cosine near-dup pairs (the dedup family's
    * embedding tier): every (a<b) pair at cosine >= 0.25 — on this
    * corpus of near-orthogonal random vectors that is the extreme
    * upper tail, so the set is small but non-empty and exact. */
  val q37CosineNearDup: QuerySpec = QuerySpec(
    "q37_cosine_neardup",
    """SELECT x.vec_id AS a, y.vec_id AS b,
      |  round(list_cosine_similarity(
      |    CAST(x.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[])), 6) AS sim
      |FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
      |WHERE round(list_cosine_similarity(
      |    CAST(x.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[])), 6) >= 0.25
      |ORDER BY a, b""".stripMargin) { (s, dir) =>
    Similarity.cosineNearDupPairs(
        Tables.embeddings(s, dir), "vec_id", "embedding", 0.25)
      .orderBy(col("a"), col("b"))
  }

  /** q52: IVF approximate top-k (clustering-flavored ANN scale path
    * next to q36's hyperplane LSH). Fully oracle-replayed: the seed
    * centroids are the 16 lowest ids, the Lloyd's pass recomputes
    * means through exact DECIMAL(30,18) sums (order-insensitive, so
    * the refined centroid doubles are bit-equal cross-engine), and
    * every nearest-cell assignment is the rounded-cosine /
    * cell-ascending rank both engines order identically. One
    * refinement pass in the registered query (each extra pass is a
    * full corpus × centroids rescan — SimilaritySpec covers deeper
    * iteration counts). */
  val q52IvfTopK: QuerySpec = {
    import IvfSql.{assignSql, lloydSql}
    QuerySpec(
      "q52_ivf_topk",
      s"""WITH vecs AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS dv
        |  FROM embeddings),
        |seed AS (SELECT id AS cell, dv AS cv FROM vecs ORDER BY id LIMIT 16),
        |${lloydSql(1, "seed")},
        |cc AS (
        |  SELECT id, cell FROM (
        |    SELECT v.id, c.cell,
        |      row_number() OVER (PARTITION BY v.id
        |        ORDER BY round(list_cosine_similarity(v.dv, c.cv), 6) DESC,
        |          c.cell) AS rn
        |    FROM vecs v CROSS JOIN c1 c) WHERE rn = 1),
        |qc AS (
        |  SELECT id, cell FROM (
        |    SELECT v.id, c.cell,
        |      row_number() OVER (PARTITION BY v.id
        |        ORDER BY round(list_cosine_similarity(v.dv, c.cv), 6) DESC,
        |          c.cell) AS rn
        |    FROM vecs v CROSS JOIN c1 c WHERE v.id < 16) WHERE rn <= 3),
        |cand AS (
        |  SELECT DISTINCT q.id AS q_id, c.id AS c_id,
        |    round(list_cosine_similarity(qv.dv, cv2.dv), 6) AS sim
        |  FROM qc q JOIN cc c ON q.cell = c.cell AND q.id <> c.id
        |  JOIN vecs qv ON qv.id = q.id
        |  JOIN vecs cv2 ON cv2.id = c.id),
        |ranked AS (
        |  SELECT q_id, c_id, sim,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rn
        |  FROM cand)
        |SELECT q_id, c_id, sim FROM ranked WHERE rn <= 5
        |ORDER BY q_id, sim DESC, c_id""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      Similarity.ivfTopK(queries, corpus, k = 5, kmeansIters = 1)
        .orderBy(col("q_id"), col("sim").desc, col("c_id"))
    }
  }

  /** q67: the MLlib BucketedRandomProjectionLSH cross-check of q36
    * (north star "DataFrame ops + MLlib"): normalized embeddings,
    * Euclidean buckets ordering exactly like cosine on the unit
    * sphere. Seeded model → rows-only driver check; SimilaritySpec
    * holds its planted-duplicate recall to the custom tier's. */
  val q67MllibBrpTopK: QuerySpec = QuerySpec.noOracle("q67_mllib_brp_topk") { (s, dir) =>
    // capped corpus, same rationale as q66: cross-check tier only —
    // q36 (hyperplane LSH) and q52 (IVF) run the full table; the MLlib
    // fit()+transform cost belongs out of the hot registry
    val e = Tables.embeddings(s, dir).filter(col("vec_id") < 1500)
    val queries = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val corpus = e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    graft.operators.MllibCrossCheck.brpTopK(queries, corpus, k = 5)
      .select(col("q_id"), col("c_id"), col("sim"), col("rn"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** q83: scalar int8 quantization (`Quantize.int8` — the storage tier
    * of similarity search: 4 bytes/dim → 1): per-vector min/max codes,
    * pure Column transform, no shuffle. The oracle recomputes the same
    * arithmetic in DuckDB and the md5 of the joined code list pins the
    * EXACT code vector (integer codes, so no float-rendering hazard);
    * QuantizeSpec carries the reconstruction-error bound. */
  val q83Quantize: QuerySpec = QuerySpec(
    "q83_quantize_int8",
    """WITH q AS (
      |  SELECT vec_id,
      |    CAST(list_min(embedding) AS DOUBLE) AS vmin,
      |    (CAST(list_max(embedding) AS DOUBLE)
      |      - CAST(list_min(embedding) AS DOUBLE)) / 255.0 AS scale,
      |    embedding
      |  FROM embeddings),
      |c AS (
      |  SELECT vec_id,
      |    CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0)
      |         ELSE list_transform(embedding, x ->
      |           CAST(round((CAST(x AS DOUBLE) - vmin) / scale) AS INTEGER))
      |    END AS codes
      |  FROM q)
      |SELECT vec_id, md5(array_to_string(codes, ',')) AS codes_md5,
      |  CAST(list_reduce(codes, (a, b) -> a + b) AS BIGINT) AS code_sum
      |FROM c ORDER BY vec_id""".stripMargin) { (s, dir) =>
    import graft.operators.Quantize
    Quantize.int8(Tables.embeddings(s, dir), "embedding")
      .select(col("vec_id"),
        md5(array_join(col("codes"), ",")).as("codes_md5"),
        aggregate(col("codes"), lit(0L),
          (acc, c) => acc + c.cast("long")).as("code_sum"))
      .orderBy(col("vec_id"))
  }

  /** q107: the storage-tier ANN pipeline as ONE verified query (the
    * embedding sibling of q93's text lifecycle): exact vector dedup
    * (bit-identical embeddings collapse, min id survives) → per-vector
    * int8 quantization (`Quantize.int8`, the 4×-compression layout the
    * 100 TB index actually stores) → exact cosine top-k over the
    * DEQUANTIZED vectors. The oracle replays every stage including
    * the quantization round-trip, so the sub-float precision the codes
    * lose is IN the verified answer — the engine's stored-tier ranking
    * is pinned end to end, not just the float-tier one (q34). */
  val q107AnnPipeline: QuerySpec = QuerySpec(
    "q107_ann_pipeline",
    """WITH all_vecs AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000, embedding FROM embeddings
      |  WHERE vec_id % 5 = 0),
      |dedup AS (
      |  SELECT MIN(vec_id) AS vec_id, embedding
      |  FROM all_vecs GROUP BY embedding),
      |quant AS (
      |  SELECT vec_id,
      |    list_min(CAST(embedding AS DOUBLE[])) AS vmin,
      |    (list_max(CAST(embedding AS DOUBLE[]))
      |      - list_min(CAST(embedding AS DOUBLE[]))) / 255.0 AS scale,
      |    CAST(embedding AS DOUBLE[]) AS v
      |  FROM dedup),
      |deq AS (
      |  SELECT vec_id,
      |    CASE WHEN scale = 0 THEN list_transform(v, x -> vmin)
      |      ELSE list_transform(v,
      |        x -> vmin + round((x - vmin) / scale) * scale) END AS dvec
      |  FROM quant),
      |sims AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
      |    round(list_cosine_similarity(q.dvec, c.dvec), 6) AS sim
      |  FROM deq q JOIN deq c ON c.vec_id <> q.vec_id
      |  WHERE q.vec_id < 8),
      |ranked AS (
      |  SELECT q_id, c_id, sim,
      |    row_number() OVER (PARTITION BY q_id
      |      ORDER BY sim DESC, c_id) AS rn
      |  FROM sims)
      |SELECT q_id, c_id, sim, rn FROM ranked WHERE rn <= 5
      |ORDER BY q_id, rn""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val dups = e.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
    val dedup = e.unionByName(dups)
      .groupBy(col("embedding")).agg(min(col("vec_id")).as("vec_id"))
    val deq = graft.operators.Quantize.int8(dedup, "embedding")
      .select(col("vec_id"),
        graft.operators.Quantize.dequantize(col("codes"), col("vmin"),
          col("scale")).as("dvec"))
    val queries = deq.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("dvec").as("q_vec"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc,
      col("c_id"))
    deq.select(col("vec_id").as("c_id"), col("dvec"))
      .join(broadcast(queries), col("q_id") =!= col("c_id"))
      .withColumn("sim",
        round(Similarity.cosine(col("q_vec"), col("dvec")), 6))
      .select(col("q_id"), col("c_id"), col("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .withColumnRenamed("rn", "rn0")
      .select(col("q_id"), col("c_id"), col("sim"),
        col("rn0").cast("long").as("rn"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** q136: per-label embedding centroids — the class prototypes of
    * nearest-centroid classification and the seeding step of IVF
    * training. Each (label, dim) mean folds the SORTED (vec_id, v)
    * array (the q121 pinned-order discipline), so centroids are
    * bit-identical cross-engine and round-6 hashes match; float32
    * inputs widen to double exactly. Scale shape: one narrow
    * posexplode, ONE shuffle on (label, dim) — 640 groups here,
    * label×dim-bounded generally. */
  val q136LabelCentroids: QuerySpec = QuerySpec(
    "q136_label_centroids",
    """WITH e AS (
      |  SELECT label, vec_id, unnest(list_transform(
      |    range(1, len(embedding) + 1),
      |    i -> {'d': i - 1, 'v': CAST(embedding[i] AS DOUBLE)})) AS u
      |  FROM embeddings),
      |f AS (SELECT label, u.d AS dim, vec_id, u.v AS v FROM e),
      |g AS (
      |  SELECT label, dim, CAST(COUNT(*) AS BIGINT) AS n_vectors,
      |    list_sort(list({'id': vec_id, 'v': v})) AS xs
      |  FROM f GROUP BY 1, 2)
      |SELECT CAST(label AS INTEGER) AS label, CAST(dim AS INTEGER) AS dim,
      |  n_vectors,
      |  round(list_reduce(list_prepend(0.0,
      |      list_transform(xs, x -> x.v)), (acc, x) -> acc + x)
      |    / n_vectors, 6) + 0.0 AS centroid
      |FROM g ORDER BY label, dim""".stripMargin) { (s, dir) =>
    Tables.embeddings(s, dir)
      .select(col("label"), col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n_vectors"),
        array_sort(collect_list(
          struct(col("vec_id").as("id"), col("v").cast("double").as("v"))))
          .as("xs"))
      .select(col("label"), col("dim"), col("n_vectors"),
        (round(aggregate(transform(col("xs"), x => x("v")), lit(0.0),
          (acc, x) => acc + x) / col("n_vectors"), 6) + lit(0.0))
          .as("centroid"))
      .orderBy(col("label"), col("dim"))
  }

  /** q146: SemDeDup-style semantic dedup scoped to IVF cells (Abbas
    * et al. 2023) — q37's corpus-wide O(N²) near-dup pass restricted
    * to k-means cells, each similarity neighborhood keeping its
    * lowest id. The oracle replays the full chain with the SAME
    * generators as q52 ([[IvfSql]] — the two queries' centroid /
    * assignment SQL cannot drift): seed centroids, one exact-decimal
    * Lloyd pass, nearest-cell assignment, then within-cell pairs at
    * rounded cosine ≥ 0.25 (the q37 tail threshold) aggregated to
    * per-vector drop flags. */
  val q146SemanticDedup: QuerySpec = {
    import IvfSql.{assignSql, lloydSql}
    QuerySpec(
      "q146_semantic_dedup",
      s"""WITH vecs AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS dv
        |  FROM embeddings),
        |seed AS (SELECT id AS cell, dv AS cv FROM vecs ORDER BY id LIMIT 16),
        |${lloydSql(1, "seed")},
        |${assignSql("cc", "c1")},
        |pairs AS (
        |  SELECT x.id AS a, y.id AS b,
        |    round(list_cosine_similarity(vx.dv, vy.dv), 6) AS sim
        |  FROM cc x JOIN cc y ON x.cell = y.cell AND x.id < y.id
        |  JOIN vecs vx ON vx.id = x.id
        |  JOIN vecs vy ON vy.id = y.id),
        |drops AS (
        |  SELECT b AS id, CAST(COUNT(*) AS BIGINT) AS n_smaller_dups,
        |    MIN(a) AS dup_of
        |  FROM pairs WHERE sim >= 0.25 GROUP BY b)
        |SELECT c.id AS vec_id, c.cell, d.id IS NULL AS kept,
        |  COALESCE(d.n_smaller_dups, 0) AS n_smaller_dups,
        |  COALESCE(d.dup_of, -1) AS dup_of
        |FROM cc c LEFT JOIN drops d USING (id)
        |ORDER BY vec_id""".stripMargin) { (s, dir) =>
      Similarity.semanticDedup(Tables.embeddings(s, dir),
          "vec_id", "embedding", threshold = 0.25,
          numCells = 16, kmeansIters = 1)
        .orderBy(col("vec_id"))
    }
  }

  /** Scratch path for the persisted vector index, keyed by the scale
    * directory (the DedupQueries sharedDocStore pattern — concurrent
    * runs over different SFs must not share a store). */
  private def scratchPath(tag: String, sfDir: String): String =
    s"/tmp/graft_${tag}_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  /** The embeddings-corpus vector index q147 probes: signed once into
    * the sfDir-keyed path, reused while current (manifest n_vecs
    * check — the store is deterministic in the corpus). */
  private def sharedIvfStore(s: org.apache.spark.sql.SparkSession,
                             dir: String,
                             store: org.apache.spark.sql.DataFrame)
      : Similarity.IvfStore = {
    val path = scratchPath("ivf_store", dir)
    if (!Similarity.ivfStoreIsCurrent(store, path))
      Similarity.writeIvfStore(store, "vec_id", "embedding", path,
        numCells = 16, kmeansIters = 1)
    Similarity.readIvfStore(s, path)
  }

  /** q147: the incremental SEMANTIC dedup lifecycle — q139/q142's
    * persisted-index posture for the embedding tier. The corpus
    * (vec_id < 400) is signed ONCE into a disk-backed IVF index
    * (frozen centroids + assigned vectors + manifest); batch 1 =
    * exact copies of store vectors (flagged, best_match = their
    * source) plus genuinely novel vectors (admitted — max natural
    * cosine in this corpus is ~0.6, far under the 0.999 gate); the
    * admitted vectors join the index; batch 2 copies the batch-1
    * admissions and is flaggable only by the GROWN index, its
    * best_match ids proving the matches are the admissions. The
    * oracle replays centroids/assignment with the q52/q146 [[IvfSql]]
    * generators and both probes with [[IvfSql.probeSql]]. */
  val q147VectorIndexLifecycle: QuerySpec = {
    import IvfSql.{assignSql, lloydSql, probeSql}
    QuerySpec(
      "q147_vector_index_lifecycle",
      s"""WITH vecs AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS dv
        |  FROM embeddings WHERE vec_id < 400),
        |b1v AS (
        |  SELECT vec_id + 100000 AS id, CAST(embedding AS DOUBLE[]) AS dv
        |  FROM embeddings WHERE vec_id < 20
        |  UNION ALL
        |  SELECT vec_id + 200000, CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id >= 400 AND vec_id < 450),
        |b2v AS (
        |  SELECT vec_id + 300000 AS id, CAST(embedding AS DOUBLE[]) AS dv
        |  FROM embeddings WHERE vec_id >= 400 AND vec_id < 450),
        |allv AS (
        |  SELECT id, dv FROM vecs
        |  UNION ALL SELECT id, dv FROM b1v
        |  UNION ALL SELECT id, dv FROM b2v),
        |seed AS (SELECT id AS cell, dv AS cv FROM vecs ORDER BY id LIMIT 16),
        |${lloydSql(1, "seed")},
        |${assignSql("cs", "c1")},
        |${assignSql("cb1", "c1", "b1v")},
        |${assignSql("cb2", "c1", "b2v")},
        |${probeSql("p1", "cb1", "cs", "0.999")},
        |adm1 AS (
        |  SELECT id FROM b1v WHERE id NOT IN (SELECT b FROM p1flag)),
        |cs2 AS (
        |  SELECT id, cell FROM cs
        |  UNION ALL
        |  SELECT id, cell FROM cb1 WHERE id IN (SELECT id FROM adm1)),
        |${probeSql("p2", "cb2", "cs2", "0.999")}
        |SELECT CAST(1 AS INTEGER) AS stage, b, best_match, sim, n_matches
        |FROM p1flag
        |UNION ALL
        |SELECT CAST(2 AS INTEGER), b, best_match, sim, n_matches
        |FROM p2flag
        |ORDER BY stage, b""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val store = e.filter(col("vec_id") < 400)
        .select(col("vec_id"), col("embedding"))
      val b1 = e.filter(col("vec_id") < 20)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
        .unionByName(e.filter(col("vec_id") >= 400 && col("vec_id") < 450)
          .select((col("vec_id") + 200000).as("vec_id"), col("embedding")))
      val b2 = e.filter(col("vec_id") >= 400 && col("vec_id") < 450)
        .select((col("vec_id") + 300000).as("vec_id"), col("embedding"))
      val idx = sharedIvfStore(s, dir, store)
      val p1 = Similarity.semanticDedupAgainstStore(b1, "embedding", idx,
        threshold = 0.999)
      val adm1 = b1.join(p1.select(col("b").as("vec_id")),
        Seq("vec_id"), "left_anti")
      // grown in-plan (the q142 posture; q147's disk round trip is
      // the store build itself, and SimilaritySpec drives the
      // appendToIvfStore path)
      val sv2 = idx.vectors.unionByName(
        Similarity.ivfStoreRows(adm1, "vec_id", "embedding",
          idx.centroids))
      val p2 = Similarity.semanticDedupAgainstStore(b2, "embedding",
        idx.centroids, sv2, "vec_id", threshold = 0.999)
      p1.withColumn("stage", lit(1))
        .unionByName(p2.withColumn("stage", lit(2)))
        .select(col("stage"), col("b"), col("best_match"), col("sim"),
          col("n_matches"))
        .orderBy(col("stage"), col("b"))
    }
  }

  /** q252: the q147 grow-then-probe lifecycle driven through a REAL
    * file-source stream (★ — q251's wire for the EMBEDDING tier,
    * closing the last MemoryStream-pinned streaming surface): batch 1
    * = exact copies of store vectors (flagged) plus genuinely novel
    * vectors (admitted) plus an INTRA-BATCH duplicate pair per vector
    * in [450, 460) — two copies at +150000 and +160000, both new to
    * the index, so only the gate's within-batch self-probe can reject
    * the +160000 copy (keep-min-id; without it both would admit — the
    * round-11 admission hole). Batch 2 = copies of the batch-1
    * ADMISSIONS (flaggable only by the GROWN index) plus NEGATED
    * store vectors (cosine −1 against their sources, under the 0.999
    * gate against everything else → admitted — novelty that needs no
    * extra corpus rows, so the fixture is SF-invariant like q147's).
    * Two staged files → `maxFilesPerTrigger = 1` → [[graft.streaming
    * .IncrementalLoad.streamingSemanticGate]]; the query emits the
    * admitted (batch, vec_id) rows plus the gatelog `applied` stamp
    * (= 1), and the oracle replays centroids/assignment/intra-pass/
    * probes with the q52/q146/q147 [[IvfSql]] generators. The IVF
    * index is built fresh in the wire's temp root per run (the gate
    * MUTATES it — probing [[sharedIvfStore]] would poison q147's
    * reads; 400 vectors, one Lloyd pass — trivial) and swept with the
    * staging after the drain. */
  val q252StreamingSemanticGate: QuerySpec = {
    import IvfSql.{assignSql, intraSql, lloydSql, probeSql}
    QuerySpec(
      "q252_streaming_semantic_gate",
      s"""WITH vecs AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS dv
        |  FROM embeddings WHERE vec_id < 400),
        |b1v AS (
        |  SELECT vec_id + 100000 AS id, CAST(embedding AS DOUBLE[]) AS dv
        |  FROM embeddings WHERE vec_id < 20
        |  UNION ALL
        |  SELECT vec_id + 150000, CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id >= 450 AND vec_id < 460
        |  UNION ALL
        |  SELECT vec_id + 160000, CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id >= 450 AND vec_id < 460
        |  UNION ALL
        |  SELECT vec_id + 200000, CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id >= 400 AND vec_id < 450),
        |b2v AS (
        |  SELECT vec_id + 300000 AS id, CAST(embedding AS DOUBLE[]) AS dv
        |  FROM embeddings WHERE vec_id >= 400 AND vec_id < 450
        |  UNION ALL
        |  SELECT vec_id + 400000,
        |    list_transform(CAST(embedding AS DOUBLE[]), x -> -x)
        |  FROM embeddings WHERE vec_id < 20),
        |allv AS (
        |  SELECT id, dv FROM vecs
        |  UNION ALL SELECT id, dv FROM b1v
        |  UNION ALL SELECT id, dv FROM b2v),
        |seed AS (SELECT id AS cell, dv AS cv FROM vecs ORDER BY id LIMIT 16),
        |${lloydSql(1, "seed")},
        |${assignSql("cs", "c1")},
        |${assignSql("cb1", "c1", "b1v")},
        |${assignSql("cb2", "c1", "b2v")},
        |${intraSql("i1", "cb1", "0.999")},
        |${probeSql("p1", "cb1f", "cs", "0.999")},
        |adm1 AS (
        |  SELECT id FROM b1v
        |  WHERE id NOT IN (SELECT b FROM i1i)
        |    AND id NOT IN (SELECT b FROM p1flag)),
        |cs2 AS (
        |  SELECT id, cell FROM cs
        |  UNION ALL
        |  SELECT id, cell FROM cb1 WHERE id IN (SELECT id FROM adm1)),
        |${intraSql("i2", "cb2", "0.999")},
        |${probeSql("p2", "cb2f", "cs2", "0.999")},
        |adm2 AS (
        |  SELECT id FROM b2v
        |  WHERE id NOT IN (SELECT b FROM i2i)
        |    AND id NOT IN (SELECT b FROM p2flag))
        |SELECT CAST(0 AS BIGINT) AS batch, id AS vec_id,
        |  CAST(1 AS BIGINT) AS applied FROM adm1
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), id, CAST(1 AS BIGINT) FROM adm2
        |ORDER BY batch, vec_id""".stripMargin) { (s, dir) =>
      import graft.streaming.IncrementalLoad
      val e = Tables.embeddings(s, dir)
      val store = e.filter(col("vec_id") < 400)
        .select(col("vec_id"), col("embedding"))
      val b1 = e.filter(col("vec_id") < 20)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
        .unionByName(e.filter(col("vec_id") >= 450 && col("vec_id") < 460)
          .select((col("vec_id") + 150000).as("vec_id"), col("embedding")))
        .unionByName(e.filter(col("vec_id") >= 450 && col("vec_id") < 460)
          .select((col("vec_id") + 160000).as("vec_id"), col("embedding")))
        .unionByName(e.filter(col("vec_id") >= 400 && col("vec_id") < 450)
          .select((col("vec_id") + 200000).as("vec_id"), col("embedding")))
      val b2 = e.filter(col("vec_id") >= 400 && col("vec_id") < 450)
        .select((col("vec_id") + 300000).as("vec_id"), col("embedding"))
        .unionByName(e.filter(col("vec_id") < 20)
          .select((col("vec_id") + 400000).as("vec_id"),
            transform(col("embedding"), x => -x).as("embedding")))
      val (stream, root) = IncrementalLoad.stageTwoFileStream(
        b1.unionByName(b2), col("vec_id") < 300000, "graft_q252")
      val storePath = root.resolve("store").toString
      val admittedPath = root.resolve("admitted").toString
      // sweep in a FINALLY (the q251 crash-hygiene posture): a failed
      // drain can't leak staging/checkpoint/per-run index; a killed
      // run is retired by the next run's aged-root sweep
      try {
        Similarity.writeIvfStore(store, "vec_id", "embedding", storePath,
          numCells = 16, kmeansIters = 1)
        IncrementalLoad.awaitDrained(
          IncrementalLoad.streamingSemanticGate(s, stream, "embedding",
            storePath, admittedPath, root.resolve("ckpt").toString,
            threshold = 0.999),
          root, Seq("in", "ckpt"), 300000L)
        val applied = graft.operators.Stores.lastApplied(
          s, s"$storePath/gatelog")
        s.read.parquet(admittedPath)
          .select(col("batch").cast("long").as("batch"), col("vec_id"),
            lit(applied).as("applied"))
          .orderBy(col("batch"), col("vec_id"))
      } finally IncrementalLoad.cleanStaging(root, Seq("in", "ckpt", "store"))
    }
  }

  /** q260: IVF store compaction under the DuckDB oracle (★ — q259's
    * discipline for the EMBEDDING tier: the
    * [[Similarity.compactIvfStore]] lifecycle hash-checked against an
    * independent replay): build a 400-vector index, commit TWO
    * generations through the gate protocol
    * ([[Similarity.appendToIvfStore]] — novel vectors, then negated
    * copies that are novel under the 0.999 gate), plant one
    * UNCOMMITTED orphan generation (written, never gatelog-flipped),
    * compact into a fresh root, and probe a four-family batch against
    * the COMPACTED store: copies of base vectors (flag ⇒ base rows
    * survived), copies of each generation (flag ⇒ the fold happened
    * AND the copied-verbatim FROZEN centroids still assign them to
    * the same cells), and copies of the orphan (any flag ⇒ the
    * uncommitted generation leaked — hash mismatch). The oracle
    * replays centroids/assignment/probe with the [[IvfSql]]
    * generators over base ∪ committed generations, where compaction
    * is semantically the identity; the compacted manifest's `n_vecs`
    * rides every row, pinning the count arithmetic. */
  val q260IvfCompaction: QuerySpec = {
    import IvfSql.{assignSql, lloydSql, probeSql}
    QuerySpec(
      "q260_ivf_compaction",
      s"""WITH vecs AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS dv
        |  FROM embeddings WHERE vec_id < 400),
        |g1 AS (
        |  SELECT vec_id + 200000 AS id, CAST(embedding AS DOUBLE[]) AS dv
        |  FROM embeddings WHERE vec_id >= 400 AND vec_id < 450),
        |g2 AS (
        |  SELECT vec_id + 400000 AS id,
        |    list_transform(CAST(embedding AS DOUBLE[]), x -> -x) AS dv
        |  FROM embeddings WHERE vec_id < 20),
        |grown AS (
        |  SELECT id, dv FROM vecs
        |  UNION ALL SELECT id, dv FROM g1
        |  UNION ALL SELECT id, dv FROM g2),
        |probe AS (
        |  SELECT vec_id + 100000 AS id, CAST(embedding AS DOUBLE[]) AS dv
        |  FROM embeddings WHERE vec_id < 20
        |  UNION ALL
        |  SELECT vec_id + 300000, CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id >= 400 AND vec_id < 450
        |  UNION ALL
        |  SELECT vec_id + 600000, CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id >= 450 AND vec_id < 460
        |  UNION ALL
        |  SELECT vec_id + 700000,
        |    list_transform(CAST(embedding AS DOUBLE[]), x -> -x)
        |  FROM embeddings WHERE vec_id < 20),
        |allv AS (
        |  SELECT id, dv FROM grown
        |  UNION ALL SELECT id, dv FROM probe),
        |nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs FROM grown),
        |seed AS (SELECT id AS cell, dv AS cv FROM vecs ORDER BY id LIMIT 16),
        |${lloydSql(1, "seed")},
        |${assignSql("cs", "c1", "grown")},
        |${assignSql("cp", "c1", "probe")},
        |${probeSql("p", "cp", "cs", "0.999")}
        |SELECT b, best_match, sim, n_matches, n.n_vecs
        |FROM pflag CROSS JOIN nv n ORDER BY b""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val store = e.filter(col("vec_id") < 400)
        .select(col("vec_id"), col("embedding"))
      val g1 = e.filter(col("vec_id") >= 400 && col("vec_id") < 450)
        .select((col("vec_id") + 200000).as("vec_id"), col("embedding"))
      val g2 = e.filter(col("vec_id") < 20)
        .select((col("vec_id") + 400000).as("vec_id"),
          transform(col("embedding"), x => -x).as("embedding"))
      val orphan = e.filter(col("vec_id") >= 450 && col("vec_id") < 460)
        .select((col("vec_id") + 500000).as("vec_id"), col("embedding"))
      val probe = e.filter(col("vec_id") < 20)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
        .unionByName(e.filter(col("vec_id") >= 400 && col("vec_id") < 450)
          .select((col("vec_id") + 300000).as("vec_id"), col("embedding")))
        .unionByName(e.filter(col("vec_id") >= 450 && col("vec_id") < 460)
          .select((col("vec_id") + 600000).as("vec_id"), col("embedding")))
        .unionByName(e.filter(col("vec_id") < 20)
          .select((col("vec_id") + 700000).as("vec_id"),
            transform(col("embedding"), x => -x).as("embedding")))
      val root = java.nio.file.Files.createTempDirectory("graft_q260")
      try {
        val storePath = root.resolve("store").toString
        val croot = root.resolve("compacted").toString
        Similarity.writeIvfStore(store, "vec_id", "embedding", storePath,
          numCells = 16, kmeansIters = 1)
        Similarity.appendToIvfStore(g1, "embedding", storePath)
        Similarity.appendToIvfStore(g2, "embedding", storePath)
        // the crashed batch: a generation without its gatelog flip —
        // compaction must exclude it, or the +600000 probe family
        // flags against it and the oracle hash-mismatches
        val base = Similarity.readIvfStoreBase(s, storePath)
        Similarity.writeGateVectors(
          Similarity.ivfStoreRows(orphan, "vec_id", "embedding",
            base.centroids), storePath, 99L)
        Similarity.compactIvfStore(s, storePath, croot)
        for (d <- Seq("vectors-batches", "gatelog"))
          require(!java.nio.file.Files.exists(
              root.resolve("compacted").resolve(d)),
            s"compacted root must not carry $d")
        val idx = Similarity.readIvfStore(s, croot)
        val nVecs = graft.operators.Stores.readManifest(s, s"$croot/params")
          .get("n_vecs").toLong
        // materialize before the finally sweeps the store out from
        // under the (otherwise lazy) probe plan
        Similarity.semanticDedupAgainstStore(probe, "embedding", idx,
            threshold = 0.999)
          .withColumn("n_vecs", lit(nVecs))
          .localCheckpoint(true)
          .orderBy(col("b"))
      } finally {
        graft.streaming.IncrementalLoad.cleanStaging(root,
          Seq("store", "compacted"))
        java.nio.file.Files.deleteIfExists(root)
      }
    }
  }

  /** q158: product-quantization codebook (★ — the IVF-PQ compression
    * tier: 4 subspaces × 8 L2 k-means centroids over the 64-dim
    * embeddings, one decimal-mean Lloyd pass; codes and the round-6
    * reconstruction error replay bit-for-bit, the q52 discipline
    * transplanted to euclidean distance). */
  val q158PqCodebook: QuerySpec = QuerySpec(
    "q158_pq_codebook",
    graft.operators.Pq.sqlCodebook("embeddings", "vec_id", "embedding",
      dim = 64, numSub = 4, ks = 8)) { (s, dir) =>
    graft.operators.Pq.codebook(Tables.embeddings(s, dir), "vec_id",
        "embedding", dim = 64, numSub = 4, ks = 8)
      .orderBy(col("vec_id"))
  }

  /** q159: ADC top-k over PQ codes (★ — the search half of IVF-PQ:
    * the 8 lowest-id vectors query the compressed index; distances
    * are M lookup-table entries folded in subspace order, the raw
    * vectors never enter the scan). Same determinism chain as q158
    * plus an exact-arithmetic LUT join; replays bit-for-bit. */
  val q159PqAdcTopK: QuerySpec = QuerySpec(
    "q159_pq_adc_topk",
    graft.operators.Pq.sqlAdcTopK("embeddings", "vec_id", "embedding",
      dim = 64, numSub = 4, ks = 8, k = 5, numQueries = 8)) { (s, dir) =>
    graft.operators.Pq.adcTopK(Tables.embeddings(s, dir), "vec_id",
        "embedding", dim = 64, numSub = 4, ks = 8, k = 5, numQueries = 8)
      .orderBy(col("q_id"), col("adist"), col("c_id"))
  }

  /** q174: top principal component by power iteration (★ — the
    * anisotropy diagnostic embedding curation runs before cosine-based
    * dedup/ANN: a dominant common direction inflates every cosine,
    * and its explained-variance share says how much; see
    * [[graft.operators.Pca]] for the decimal-sum second-moment pass,
    * the dim²-bounded driver iteration, and the pinned fold orders
    * that let the oracle replay the entire IEEE sequence through
    * unrolled list-fold CTEs). */
  val q174PcaPower: QuerySpec = QuerySpec(
    "q174_pca_power",
    graft.operators.Pca.sqlTopComponent("embeddings", "vec_id",
      "embedding", 64, 10, samplePermille = 200)) { (s, dir) =>
    graft.operators.Pca.topComponent(Tables.embeddings(s, dir),
      "vec_id", "embedding", 64, 10, samplePermille = 200)
  }

  /** q175: all-but-the-top embedding correction (★ — Mu & Viswanath
    * 2018: subtract every vector's projection onto the dominant
    * direction before cosine ranking, the standard anisotropy fix
    * q174 diagnoses; see [[graft.operators.Pca.removeDirection]]).
    * Composition: pc1 = the ROUNDED q174 output (collected as a
    * model-sized literal, the IVF-centroid discipline), correction is
    * a per-row scan-speed projection with the dot `bound` once, and
    * the ≤8-query set broadcasts into the similarity join (q34's
    * whitelisted shape). The oracle recomputes pc1 through the q174
    * CTE chain and replays the identical fold arithmetic. */
  val q175AllButTop: QuerySpec = {
    import graft.operators.Pca
    QuerySpec(
      "q175_all_but_top",
      s"""WITH ${Pca.sqlTopComponentCtes("embeddings", "vec_id",
            "embedding", 64, 10, samplePermille = 200)},
         |pdir AS (
         |  SELECT list_transform(range(1, 65), j -> round(fin.v[j], 6))
         |    AS p
         |  FROM it10 fin),
         |allv AS (
         |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS dv
         |  FROM embeddings),
         |${Pca.sqlRemoveDirection("corrv", "allv", 64)},
         |qset AS (SELECT id AS q, cv AS qv FROM corrv WHERE id < 8),
         |cset AS (SELECT id AS c, cv FROM corrv WHERE id >= 8),
         |sims AS (
         |  SELECT q, c, round(dot / (sqrt(qq) * sqrt(cc)), 6) AS sim
         |  FROM (
         |    SELECT q, c,
         |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |        list_transform(range(1, 65), j -> qv[j] * cv[j])),
         |        (a, b) -> a + b) AS dot,
         |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |        list_transform(range(1, 65), j -> qv[j] * qv[j])),
         |        (a, b) -> a + b) AS qq,
         |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |        list_transform(range(1, 65), j -> cv[j] * cv[j])),
         |        (a, b) -> a + b) AS cc
         |    FROM cset CROSS JOIN qset)),
         |ranked AS (
         |  SELECT q, c, sim, row_number() OVER (PARTITION BY q
         |    ORDER BY sim DESC, c) AS rnk
         |  FROM sims)
         |SELECT q, c AS neighbor, sim, CAST(rnk AS INTEGER) AS rank
         |FROM ranked WHERE rnk <= 3 ORDER BY q, rank""".stripMargin) {
      (s, dir) =>
        val emb = Tables.embeddings(s, dir)
        val pcRows = Pca.topComponent(emb, "vec_id", "embedding", 64, 10,
            samplePermille = 200)
          .select(col("dim"), col("pc1")).collect()
        val pc = Array.ofDim[Double](64)
        pcRows.foreach(r => pc(r.getInt(0) - 1) = r.getDouble(1))
        val corr = Pca.removeDirection(
          emb.select(col("vec_id").as("id"), col("embedding")),
          "id", "embedding", pc)
        val qset = corr.filter(col("id") < 8)
          .select(col("id").as("q"), col("corrected").as("qv"))
        val cset = corr.filter(col("id") >= 8)
          .select(col("id").as("c"), col("corrected").as("cv"))
        def fold(c: org.apache.spark.sql.Column) =
          aggregate(c, lit(0.0), (acc, x) => acc + x)
        val dot = fold(zip_with(col("qv"), col("cv"), (a, b) => a * b))
        val qq = fold(transform(col("qv"), x => x * x))
        val cc = fold(transform(col("cv"), x => x * x))
        import org.apache.spark.sql.expressions.Window
        cset.crossJoin(broadcast(qset))
          .select(col("q"), col("c"),
            round(dot / (sqrt(qq) * sqrt(cc)), 6).as("sim"))
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("q"))
              .orderBy(col("sim").desc, col("c"))))
          .filter(col("rank") <= 3)
          .select(col("q"), col("c").as("neighbor"), col("sim"),
            col("rank"))
          .orderBy(col("q"), col("rank"))
    }
  }

  /** q179: binary-sketch Hamming ANN (★ — the 1-bit-per-dimension
    * tier below PQ: mean-thresholded sign bits packed 2×32, Hamming
    * top-k; see [[Similarity.binaryCodes]] for the packed layout and
    * the q33-style 32-bit overflow reasoning). The ≤8-query code set
    * broadcasts (q34's whitelisted shape); the oracle replays means,
    * packing, and ranking bit-for-bit. */
  val q179BinaryAnn: QuerySpec = QuerySpec(
    "q179_binary_hamming_ann",
    s"""WITH allv AS (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS dv
       |  FROM embeddings),
       |${Similarity.sqlBinaryCodes("bcodes", "allv")},
       |qset AS (
       |  SELECT id AS q_id, code_lo AS qlo, code_hi AS qhi
       |  FROM bcodes WHERE id < 8),
       |cset AS (SELECT id AS c_id, code_lo, code_hi FROM bcodes),
       |hams AS (
       |  SELECT q.q_id, c.c_id,
       |    CAST(bit_count(xor(c.code_lo, q.qlo)) +
       |      bit_count(xor(c.code_hi, q.qhi)) AS INTEGER) AS hamming
       |  FROM cset c CROSS JOIN qset q WHERE q.q_id != c.c_id),
       |ranked AS (
       |  SELECT q_id, c_id, hamming,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY hamming, c_id) AS INTEGER) AS rank
       |  FROM hams)
       |SELECT q_id, c_id, hamming, rank FROM ranked WHERE rank <= 3
       |ORDER BY q_id, rank""".stripMargin) { (s, dir) =>
    val codes = Similarity.binaryCodes(Tables.embeddings(s, dir),
      "vec_id", "embedding")
    val queries = codes.filter(col("vec_id") < 8)
      .withColumnRenamed("vec_id", "q_id")
    val corpus = codes.withColumnRenamed("vec_id", "c_id")
    Similarity.binaryHammingTopK(queries, corpus, "q_id", "c_id", k = 3)
      .orderBy(col("q_id"), col("rank"))
  }

  /** q180: channel-wise calibrated int8 quantization (★ — the
    * TensorRT/ONNX percentile-calibration recipe next to q83's
    * per-vector scaling; see [[graft.operators.Quantize.channelInt8]]
    * for the q151-sketch calibration set and the broadcast cut
    * arrays). Codes digest + sum + round-6 mean reconstruction error
    * — the sketch, cuts, clip, and error chain all replay in the
    * oracle. */
  val q180ChannelQuant: QuerySpec = {
    import graft.operators.Quantize
    QuerySpec(
      "q180_channel_quantize",
      s"""WITH allv AS (
         |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS dv
         |  FROM embeddings),
         |${Quantize.sqlChannelInt8("cq", "allv", 64, 256, 0.01, 0.99)}
         |SELECT id AS vec_id, codes_md5, code_sum, recon_err FROM cq
         |ORDER BY vec_id""".stripMargin) { (s, dir) =>
      Quantize.channelInt8(Tables.embeddings(s, dir), "vec_id",
          "embedding", dim = 64, k = 256, pLo = 0.01, pHi = 0.99)
        .orderBy(col("vec_id"))
    }
  }

  /** q181: IVF-PQ top-k (★ — the published two-level ANN layout,
    * assembled from the engine's own parts: the coarse quantizer is a
    * one-subspace PQ with the identical Lloyd discipline, queries
    * probe nprobe of numCells coarse cells, and ADC runs only on the
    * residents — where q159's brute ADC touches every code; see
    * [[graft.operators.Pq.ivfAdcTopK]]). Fully oracle-replayed: two
    * tagged training chains + probes + candidate-restricted fold. */
  val q181IvfPqTopK: QuerySpec = QuerySpec(
    "q181_ivfpq_topk",
    graft.operators.Pq.sqlIvfAdcTopK("embeddings", "vec_id", "embedding",
      dim = 64, numSub = 4, ks = 8, k = 5, numQueries = 8,
      numCells = 8, nprobe = 3)) { (s, dir) =>
    graft.operators.Pq.ivfAdcTopK(Tables.embeddings(s, dir), "vec_id",
        "embedding", dim = 64, numSub = 4, ks = 8, k = 5,
        numQueries = 8, numCells = 8, nprobe = 3)
      .orderBy(col("q_id"), col("adist"), col("c_id"))
  }

  /** q185: hard-negative mining (★ — the retrieval/contrastive
    * training-data step from DPR/SimCSE: for each query vector, the
    * top-k most-similar candidates with a DIFFERENT label — "hard"
    * because they look like the query but aren't — plus the best
    * same-label positive and the positive-negative margin the
    * curriculum filters on). The ≤8-query frame broadcasts into both
    * the positive and negative passes (q34's whitelisted shape); sims
    * ride the q34-proven cosine + round(6); the 8-row positive frame
    * broadcasts into the final join. Margin subtracts two round-6
    * doubles — one IEEE op both engines agree on — then re-rounds. */
  val q185HardNegatives: QuerySpec = QuerySpec(
    "q185_hard_negatives",
    """WITH q AS (
      |  SELECT vec_id AS q_id, label AS q_label,
      |    CAST(embedding AS DOUBLE[]) AS q_vec
      |  FROM embeddings WHERE vec_id < 8),
      |c AS (
      |  SELECT vec_id AS c_id, label AS c_label,
      |    CAST(embedding AS DOUBLE[]) AS c_vec
      |  FROM embeddings),
      |pos AS (
      |  SELECT q.q_id,
      |    max(round(list_cosine_similarity(q.q_vec, c.c_vec), 6)) AS pos_sim
      |  FROM q JOIN c ON c.c_label = q.q_label AND c.c_id <> q.q_id
      |  GROUP BY 1),
      |negs AS (
      |  SELECT q.q_id, c.c_id, c.c_label AS neg_label,
      |    round(list_cosine_similarity(q.q_vec, c.c_vec), 6) AS sim
      |  FROM q JOIN c ON c.c_label <> q.q_label),
      |ranked AS (
      |  SELECT q_id, c_id, neg_label, sim,
      |    row_number() OVER (PARTITION BY q_id
      |      ORDER BY sim DESC, c_id) AS rn
      |  FROM negs)
      |SELECT r.q_id, r.c_id, r.neg_label, r.sim, r.rn, p.pos_sim,
      |  round(p.pos_sim - r.sim, 6) AS margin
      |FROM ranked r JOIN pos p USING (q_id)
      |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, dir)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("q_vec"))
    val corpus = e.select(col("vec_id").as("c_id"),
      col("label").as("c_label"), col("embedding").as("c_vec"))
    def sim: Column = round(Similarity.cosine(
      col("q_vec").cast("array<double>"),
      col("c_vec").cast("array<double>")), 6)
    val pos = corpus.join(broadcast(queries),
        col("c_label") === col("q_label") && col("c_id") =!= col("q_id"))
      .withColumn("sim", sim)
      .groupBy(col("q_id")).agg(max(col("sim")).as("pos_sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("c_id"))
    corpus.join(broadcast(queries), col("c_label") =!= col("q_label"))
      .withColumn("sim", sim)
      .select(col("q_id"), col("c_id"), col("c_label").as("neg_label"),
        col("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .join(broadcast(pos), Seq("q_id"))
      .select(col("q_id"), col("c_id"), col("neg_label"), col("sim"),
        col("rn").cast("long").as("rn"), col("pos_sim"),
        round(col("pos_sim") - col("sim"), 6).as("margin"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** q186: embedding outlier audit (★ — the geometric mislabel check
    * embedding curation runs before training on labeled vectors: each
    * vector's euclidean distance to its OWN label's centroid, z-scored
    * within the label; z > 2 flags probable mislabels/outliers — the
    * label-noise analogue of q91's scalar z-score pass). Centroids
    * ride the q136 sorted-fold + round(6) discipline (label×dim
    * bounded, collected to one rounded array per label and BROADCAST
    * into the distance pass — the corpus never shuffles); per-label
    * mean/std fold the SORTED (id, dist) array with the identical
    * round(6)-var → sqrt → round(6) sequence on both engines, so z
    * replays bit-for-bit. */
  val q186EmbeddingOutliers: QuerySpec = QuerySpec(
    "q186_embedding_outliers",
    """WITH e AS (
      |  SELECT label, vec_id, unnest(list_transform(
      |    range(1, len(embedding) + 1),
      |    i -> {'d': i - 1, 'v': CAST(embedding[i] AS DOUBLE)})) AS u
      |  FROM embeddings),
      |f AS (SELECT label, u.d AS dim, vec_id, u.v AS v FROM e),
      |g AS (
      |  SELECT label, dim, COUNT(*) AS n,
      |    list_sort(list({'id': vec_id, 'v': v})) AS xs
      |  FROM f GROUP BY 1, 2),
      |cd AS (
      |  SELECT label, dim,
      |    round(list_reduce(list_prepend(0.0,
      |      list_transform(xs, x -> x.v)), (a, x) -> a + x) / n, 6)
      |      + 0.0 AS c
      |  FROM g),
      |cent AS (
      |  SELECT label, list_transform(
      |    list_sort(list({'dim': dim, 'c': c})), x -> x.c) AS cv
      |  FROM cd GROUP BY label),
      |vd AS (
      |  SELECT v.vec_id, v.label,
      |    round(sqrt(list_reduce(list_prepend(0.0,
      |      list_transform(range(1, len(v.embedding) + 1),
      |        i -> (CAST(v.embedding[i] AS DOUBLE) - ct.cv[i])
      |           * (CAST(v.embedding[i] AS DOUBLE) - ct.cv[i]))),
      |      (a, x) -> a + x)), 6) AS dist
      |  FROM embeddings v JOIN cent ct USING (label)),
      |st AS (
      |  SELECT label, COUNT(*) AS n,
      |    list_sort(list({'id': vec_id, 'd': dist})) AS ds
      |  FROM vd GROUP BY label),
      |st2 AS (
      |  SELECT label, n, ds,
      |    round(list_reduce(list_prepend(0.0,
      |      list_transform(ds, x -> x.d)), (a, x) -> a + x) / n, 6)
      |      + 0.0 AS mean_d
      |  FROM st),
      |st3 AS (
      |  SELECT label, mean_d,
      |    round(sqrt(round(list_reduce(list_prepend(0.0,
      |      list_transform(ds, x -> (x.d - mean_d) * (x.d - mean_d))),
      |      (a, x) -> a + x) / n, 6)), 6) + 0.0 AS std_d
      |  FROM st2),
      |zed AS (
      |  SELECT vd.vec_id, vd.label, vd.dist,
      |    CASE WHEN std_d > 0.0
      |      THEN round((dist - mean_d) / std_d, 6) + 0.0
      |      ELSE 0.0 END AS z
      |  FROM vd JOIN st3 USING (label))
      |SELECT vec_id, label, dist, z, z > 2.0 AS is_outlier
      |FROM zed ORDER BY vec_id""".stripMargin) { (s, dir) =>
    Similarity.labelOutliers(Tables.embeddings(s, dir),
        "vec_id", "embedding", "label")
      .orderBy(col("vec_id"))
  }

  /** q190: margin-based bitext mining (★ — Artetxe & Schwenk 2019's
    * ratio-margin criterion, the selection rule behind CCMatrix/
    * WikiMatrix parallel-corpus mining: a source-target pair is mined
    * when its cosine BEATS both vectors' neighborhood averages —
    * absolute-threshold mining fails because "hubness" vectors score
    * high against everything). Source = the 8 lowest-id label-0
    * vectors (contract-bounded, broadcast — q34's whitelisted shape);
    * target = every label-1 vector; margin = sim / ((aₓ + b_y)/2)
    * with aₓ/b_y the round-6 top-4 neighborhood means folded in rank
    * order. The forward frame (≤8 rows) broadcasts; the backward
    * frame is target-sized and joins on the target key — the one
    * shuffle the criterion's mutual-ranking genuinely needs. */
  val q190BitextMargin: QuerySpec = QuerySpec(
    "q190_bitext_margin",
    """WITH src AS (
      |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
      |  FROM embeddings WHERE label = 0 ORDER BY vec_id LIMIT 8),
      |tgt AS (
      |  SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_vec
      |  FROM embeddings WHERE label = 1),
      |sims AS (
      |  SELECT q_id, c_id,
      |    round(list_cosine_similarity(q_vec, c_vec), 6) AS sim
      |  FROM src CROSS JOIN tgt),
      |fr AS (
      |  SELECT q_id, c_id, sim, row_number() OVER (PARTITION BY q_id
      |    ORDER BY sim DESC, c_id) AS rn
      |  FROM sims),
      |fwd AS (
      |  SELECT q_id, round(list_reduce(list_prepend(0.0,
      |      list_transform(list_sort(list({'rn': rn, 's': sim})),
      |        x -> x.s)), (a, x) -> a + x)
      |    / least(4, count(*)), 6) + 0.0 AS a_x
      |  FROM fr WHERE rn <= 4 GROUP BY q_id),
      |br AS (
      |  SELECT q_id, c_id, sim, row_number() OVER (PARTITION BY c_id
      |    ORDER BY sim DESC, q_id) AS rn
      |  FROM sims),
      |bwd AS (
      |  SELECT c_id, round(list_reduce(list_prepend(0.0,
      |      list_transform(list_sort(list({'rn': rn, 's': sim})),
      |        x -> x.s)), (a, x) -> a + x)
      |    / least(4, count(*)), 6) + 0.0 AS b_y
      |  FROM br WHERE rn <= 4 GROUP BY c_id),
      |m AS (
      |  SELECT s.q_id, s.c_id, s.sim, f.a_x, b.b_y,
      |    round(s.sim / ((f.a_x + b.b_y) / 2), 6) AS margin
      |  FROM sims s JOIN fwd f USING (q_id) JOIN bwd b USING (c_id)),
      |rk AS (
      |  SELECT *, row_number() OVER (PARTITION BY q_id
      |    ORDER BY margin DESC, c_id) AS rk
      |  FROM m)
      |SELECT q_id, c_id, sim, a_x, b_y, margin, margin > 1.05 AS accepted
      |FROM rk WHERE rk = 1 ORDER BY q_id""".stripMargin) { (s, dir) =>
    val e = Tables.embeddings(s, dir)
    val src = e.filter(col("label") === 0).orderBy(col("vec_id")).limit(8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val tgt = e.filter(col("label") === 1)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    Similarity.bitextMarginMine(src, tgt).orderBy(col("q_id"))
  }

  /** q191: reciprocal-rank fusion of two retrieval tiers (★ —
    * Cormack, Clarke & Buettcher 2009, the standard hybrid-retrieval
    * combiner: each ranker contributes 1/(60 + rank) for candidates
    * in its top-20, summed across rankers — fusing the exact-cosine
    * tier (q34) with the binary-Hamming sketch tier (q179) hedges
    * each tier's failure mode without score calibration, exactly how
    * production retrieval mixes dense and compressed indexes). Ranks
    * are exact ints; the fused score adds two IEEE reciprocals in a
    * pinned cos-then-ham order and rounds to 6; the full-outer merge
    * is an equi-join on (q_id, c_id). */
  val q191RrfFusion: QuerySpec = QuerySpec(
    "q191_rrf_fusion",
    s"""WITH allv AS (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS dv
       |  FROM embeddings),
       |${Similarity.sqlBinaryCodes("bcodes", "allv")},
       |q AS (SELECT id AS q_id, dv AS q_vec FROM allv WHERE id < 8),
       |cosr AS (
       |  SELECT q_id, c_id, rn FROM (
       |    SELECT q.q_id, c.id AS c_id,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY
       |        round(list_cosine_similarity(q.q_vec, c.dv), 6) DESC,
       |        c.id) AS rn
       |    FROM q JOIN allv c ON c.id <> q.q_id)
       |  WHERE rn <= 20),
       |qb AS (
       |  SELECT id AS q_id, code_lo AS qlo, code_hi AS qhi
       |  FROM bcodes WHERE id < 8),
       |hamr AS (
       |  SELECT q_id, c_id, rn FROM (
       |    SELECT qb.q_id, c.id AS c_id,
       |      row_number() OVER (PARTITION BY qb.q_id ORDER BY
       |        bit_count(xor(c.code_lo, qb.qlo)) +
       |        bit_count(xor(c.code_hi, qb.qhi)), c.id) AS rn
       |    FROM qb JOIN bcodes c ON c.id <> qb.q_id)
       |  WHERE rn <= 20),
       |fused AS (
       |  SELECT COALESCE(c.q_id, h.q_id) AS q_id,
       |    COALESCE(c.c_id, h.c_id) AS c_id,
       |    c.rn AS cos_rank, h.rn AS ham_rank,
       |    round(COALESCE(1.0 / (60 + c.rn), 0.0)
       |        + COALESCE(1.0 / (60 + h.rn), 0.0), 6) AS rrf
       |  FROM cosr c FULL OUTER JOIN hamr h
       |    ON c.q_id = h.q_id AND c.c_id = h.c_id),
       |rk AS (
       |  SELECT q_id, c_id, cos_rank, ham_rank, rrf,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY rrf DESC, c_id) AS fused_rank
       |  FROM fused)
       |SELECT q_id, c_id, cos_rank, ham_rank, rrf, fused_rank
       |FROM rk WHERE fused_rank <= 5
       |ORDER BY q_id, fused_rank""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, dir)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val corpus = e.select(col("vec_id").as("c_id"),
      col("embedding").as("c_vec"))
    val wq = Window.partitionBy(col("q_id"))
    val cosr = corpus.join(broadcast(queries), col("q_id") =!= col("c_id"))
      .withColumn("rn", row_number().over(wq.orderBy(
        round(Similarity.cosine(col("q_vec").cast("array<double>"),
          col("c_vec").cast("array<double>")), 6).desc, col("c_id"))))
      .filter(col("rn") <= 20)
      .select(col("q_id"), col("c_id"), col("rn"))
    val codes = Similarity.binaryCodes(e, "vec_id", "embedding")
    val hamr = Similarity.binaryHammingTopK(
        codes.filter(col("vec_id") < 8).withColumnRenamed("vec_id", "q_id"),
        codes.withColumnRenamed("vec_id", "c_id"),
        "q_id", "c_id", k = 20)
      .select(col("q_id"), col("c_id"), col("rank").as("rn"))
    val fused = cosr.withColumnRenamed("rn", "cos_rank")
      .join(hamr.withColumnRenamed("rn", "ham_rank"),
        Seq("q_id", "c_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60) + col("cos_rank")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60) + col("ham_rank")), lit(0.0)), 6))
    fused
      .withColumn("fused_rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("rrf").desc, col("c_id"))))
      .filter(col("fused_rank") <= 5)
      .select(col("q_id"), col("c_id"),
        col("cos_rank").cast("long").as("cos_rank"),
        col("ham_rank").cast("long").as("ham_rank"),
        col("rrf"), col("fused_rank").cast("long").as("fused_rank"))
      .orderBy(col("q_id"), col("fused_rank"))
  }

  /** q196: prototype-distance data pruning (★ — Sorscher et al. 2022,
    * "Beyond neural scaling laws": when data is abundant, TRAIN ON THE
    * HARD examples — rank each vector by cosine distance to its own
    * class prototype and drop the most prototypical half; the easy
    * examples carry the least marginal information). Prototypes are
    * q136's per-label centroids verbatim (sorted struct fold +
    * round(6) per dimension — bit-identical cross-engine), assembled
    * into dim-ordered arrays that BROADCAST into one label equi-join;
    * distance rides the q34-proven cosine + round(6) (one 1−sim IEEE
    * op both engines share). Prototypicality rank / class size are a
    * per-label window — label-bounded partitions, no global sort.
    * Scale shape: centroid frame is label×dim-bounded; the corpus is
    * scanned once and never shuffles except the label window. */
  val q196PrototypePrune: QuerySpec = QuerySpec(
    "q196_prototype_prune",
    """WITH e AS (
      |  SELECT label, vec_id, unnest(list_transform(
      |    range(1, len(embedding) + 1),
      |    i -> {'d': i - 1, 'v': CAST(embedding[i] AS DOUBLE)})) AS u
      |  FROM embeddings),
      |f AS (SELECT label, u.d AS dim, vec_id, u.v AS v FROM e),
      |g AS (
      |  SELECT label, dim, CAST(COUNT(*) AS BIGINT) AS n,
      |    list_sort(list({'id': vec_id, 'v': v})) AS xs
      |  FROM f GROUP BY 1, 2),
      |cent AS (
      |  SELECT label, dim,
      |    round(list_reduce(list_prepend(0.0,
      |        list_transform(xs, x -> x.v)), (acc, x) -> acc + x)
      |      / n, 6) + 0.0 AS c
      |  FROM g),
      |cv AS (
      |  SELECT label, list_transform(list_sort(list({'d': dim, 'c': c})),
      |    x -> x.c) AS proto
      |  FROM cent GROUP BY label),
      |d AS (
      |  SELECT e.vec_id, e.label,
      |    1 - round(list_cosine_similarity(
      |      CAST(e.embedding AS DOUBLE[]), c.proto), 6) AS dist
      |  FROM embeddings e JOIN cv c ON c.label = e.label),
      |r AS (
      |  SELECT vec_id, label, dist,
      |    CAST(row_number() OVER (PARTITION BY label ORDER BY dist, vec_id)
      |      AS BIGINT) AS proto_rank,
      |    CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT) AS n_label
      |  FROM d)
      |SELECT vec_id, label, dist, proto_rank, n_label,
      |  proto_rank > n_label // 2 AS kept
      |FROM r ORDER BY vec_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, dir)
    val cent = e
      .select(col("label"), col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"),
        array_sort(collect_list(
          struct(col("vec_id").as("id"), col("v").cast("double").as("v"))))
          .as("xs"))
      .select(col("label"), col("dim"),
        (round(aggregate(transform(col("xs"), x => x("v")), lit(0.0),
          (acc, x) => acc + x) / col("n"), 6) + lit(0.0)).as("c"))
    val protos = cent.groupBy(col("label"))
      .agg(transform(array_sort(collect_list(
        struct(col("dim").as("d"), col("c").as("c")))), x => x("c"))
        .as("proto"))
    val w = Window.partitionBy(col("label"))
    val wr = w.orderBy(col("dist"), col("vec_id"))
    e.join(broadcast(protos), "label")
      .select(col("vec_id"), col("label"),
        (lit(1) - round(Similarity.cosine(
          col("embedding").cast("array<double>"), col("proto")), 6))
          .as("dist"))
      .withColumn("proto_rank", row_number().over(wr).cast("long"))
      .withColumn("n_label", count(lit(1)).over(w))
      .select(col("vec_id"), col("label"), col("dist"), col("proto_rank"),
        col("n_label"),
        (col("proto_rank") > floor(col("n_label") / 2)).as("kept"))
      .orderBy(col("vec_id"))
  }

  /** q195: greedy k-center coreset selection (★ — Gonzalez 1985
    * farthest-point traversal, the coreset constructor of Sener &
    * Savarese 2018's active-learning selection and a standard
    * diversity-pruning pass over embedding corpora: k rounds of "add
    * the point farthest from every center picked so far" give a
    * 2-approximate minimal covering radius). See
    * [[Similarity.kCenterCoreset]] for the scale shape (k bounded
    * corpus scans, no shuffle, TakeOrdered(1) argmax per round). The
    * oracle unrolls all k rounds as CTEs — selection, radii, AND the
    * final nearest-center assignment counts replay bit-for-bit
    * (distance = 1 − round(cosine, 6) on both sides; argmin ties
    * resolve to the lowest round via first-index / MIN(r)). */
  val q195KCenterCoreset: QuerySpec = {
    val k = 6
    val iters = (1 until k).map { t =>
      s"""d$t AS (
        |  SELECT v.id,
        |    MIN(1 - round(list_cosine_similarity(v.dv, c.dv), 6)) AS d
        |  FROM vecs v CROSS JOIN cents$t c GROUP BY v.id),
        |s$t AS (SELECT id, d FROM d$t ORDER BY d DESC, id LIMIT 1),
        |cents${t + 1} AS (
        |  SELECT * FROM cents$t UNION ALL
        |  SELECT $t AS r, v.id, v.dv FROM s$t JOIN vecs v USING (id))"""
        .stripMargin
    }.mkString(",\n")
    val roundRows = (1 until k).map(t =>
      s"  UNION ALL SELECT $t, (SELECT id FROM s$t), (SELECT d FROM s$t)")
      .mkString("\n")
    QuerySpec(
      "q195_kcenter_coreset",
      s"""WITH vecs AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS dv
        |  FROM embeddings),
        |cents1 AS (SELECT 0 AS r, id, dv FROM vecs ORDER BY id LIMIT 1),
        |$iters,
        |da AS (
        |  SELECT v.id, c.r,
        |    1 - round(list_cosine_similarity(v.dv, c.dv), 6) AS d
        |  FROM vecs v CROSS JOIN cents$k c),
        |amin AS (SELECT id, MIN(d) AS md FROM da GROUP BY id),
        |asg AS (
        |  SELECT da.id, MIN(da.r) AS r
        |  FROM da JOIN amin ON amin.id = da.id AND da.d = amin.md
        |  GROUP BY da.id),
        |cnt AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS n_assigned
        |        FROM asg GROUP BY r),
        |rounds AS (
        |  SELECT 0 AS round, (SELECT id FROM cents1) AS center_id,
        |    CAST(NULL AS DOUBLE) AS radius
        |$roundRows)
        |SELECT r.round, r.center_id, r.radius,
        |  COALESCE(c.n_assigned, 0) AS n_assigned
        |FROM rounds r LEFT JOIN cnt c ON c.r = r.round
        |ORDER BY r.round""".stripMargin) { (s, dir) =>
      Similarity.kCenterCoreset(Tables.embeddings(s, dir),
        "vec_id", "embedding", k = k)
    }
  }

  /** q200: Matryoshka truncated-dimension recall audit (★ — the
    * report run before serving MRL-style embeddings at a reduced
    * dimension, Kusupati et al. 2022: re-rank with only the FIRST d′
    * dimensions and measure how much of the full-dimension top-k
    * survives). Ground truth = q34's exact 64-dim top-5; candidate =
    * the same ranking over the 16-dim prefix (array slice on both
    * engines); recall@5 = overlap/5, an exact-int ratio. Both passes
    * broadcast the ≤16-query set (q34's whitelisted shape); the
    * overlap join is (q_id, c_id)-keyed and top-k-sized. */
  val q200MatryoshkaRecall: QuerySpec = QuerySpec(
    "q200_matryoshka_recall",
    """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
      |           FROM embeddings WHERE vec_id < 16),
      |full_r AS (
      |  SELECT q_id, c_id FROM (
      |    SELECT q.q_id, e.vec_id AS c_id,
      |      row_number() OVER (PARTITION BY q.q_id ORDER BY
      |        round(list_cosine_similarity(CAST(q.q_vec AS DOUBLE[]),
      |          CAST(e.embedding AS DOUBLE[])), 6) DESC, e.vec_id) AS rn
      |    FROM q JOIN embeddings e ON e.vec_id <> q.q_id)
      |  WHERE rn <= 5),
      |pref_r AS (
      |  SELECT q_id, c_id FROM (
      |    SELECT q.q_id, e.vec_id AS c_id,
      |      row_number() OVER (PARTITION BY q.q_id ORDER BY
      |        round(list_cosine_similarity(
      |          CAST(q.q_vec[1:16] AS DOUBLE[]),
      |          CAST(e.embedding[1:16] AS DOUBLE[])), 6) DESC,
      |        e.vec_id) AS rn
      |    FROM q JOIN embeddings e ON e.vec_id <> q.q_id)
      |  WHERE rn <= 5),
      |ov AS (
      |  SELECT f.q_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
      |  FROM full_r f JOIN pref_r p
      |    ON p.q_id = f.q_id AND p.c_id = f.c_id
      |  GROUP BY f.q_id)
      |SELECT q.q_id, COALESCE(o.n_overlap, 0) AS n_overlap,
      |  round(CAST(COALESCE(o.n_overlap, 0) AS DOUBLE) / 5, 6) AS recall
      |FROM q LEFT JOIN ov o ON o.q_id = q.q_id
      |ORDER BY q.q_id""".stripMargin) { (s, dir) =>
    val e = Tables.embeddings(s, dir)
    val queries = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val corpus = e.select(col("vec_id").as("c_id"),
      col("embedding").as("c_vec"))
    def top5(qv: Column, cv: Column) = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("sim").desc, col("c_id"))
      corpus.join(broadcast(queries), col("q_id") =!= col("c_id"))
        .withColumn("sim", round(Similarity.cosine(qv, cv), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("q_id"), col("c_id"))
    }
    val fullR = top5(col("q_vec").cast("array<double>"),
      col("c_vec").cast("array<double>"))
    val prefR = top5(slice(col("q_vec"), 1, 16).cast("array<double>"),
      slice(col("c_vec"), 1, 16).cast("array<double>"))
    val ov = fullR.join(prefR, Seq("q_id", "c_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_overlap"))
    queries.select(col("q_id")).join(ov, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        round(coalesce(col("n_overlap"), lit(0L)).cast("double") / 5, 6)
          .as("recall"))
      .orderBy(col("q_id"))
  }

  /** q220: judged retrieval metrics (★ — precision@10, MRR, and
    * binary-relevance nDCG@10 over the q34 exact-cosine run with
    * same-label relevance judgments: the standard IR eval tier that
    * scores ranked quality, complementing q176's detector-recall
    * audit and q191's rank fusion. The run is the audited q34 chain
    * (broadcast queries, one corpus stream, per-query window); label
    * counts and metric assembly are query-bounded broadcasts; every
    * log2 term is round-6 BEFORE its left fold (the Pca foldSum
    * discipline), so both engines sum identical doubles in identical
    * order. */
  val q220RetrievalMetrics: QuerySpec = QuerySpec(
    "q220_retrieval_metrics",
    s"""WITH q AS (
      |  SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label
      |  FROM embeddings WHERE vec_id < 16),
      |lc AS (SELECT label, COUNT(*) AS n_label FROM embeddings GROUP BY 1),
      |sims AS (
      |  SELECT q.q_id, q.q_label, e.vec_id AS c_id,
      |    CASE WHEN e.label = q.q_label THEN 1 ELSE 0 END AS rel,
      |    round(list_cosine_similarity(
      |      CAST(q.q_vec AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 6)
      |      AS sim
      |  FROM q JOIN embeddings e ON e.vec_id <> q.q_id),
      |run AS (
      |  SELECT q_id, q_label, rel,
      |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id)
      |      AS rn
      |  FROM sims),
      |rc AS (
      |  SELECT q.q_id, lc.n_label - 1 AS n_rel
      |  FROM (SELECT DISTINCT q_id, q_label FROM run) q
      |  JOIN lc ON lc.label = q.q_label),
      |${graft.operators.RetrievalEval.sqlJudgedMetrics(10)}"""
      .stripMargin) { (s, dir) =>
    val e = Tables.embeddings(s, dir)
    val queries = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("label").as("q_label"))
    val lc = e.groupBy(col("label")).agg(count(lit(1)).as("n_label"))
    val corpus = e.select(col("vec_id").as("c_id"),
      col("embedding").as("c_vec"), col("label").as("c_label"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("c_id"))
    val run = corpus.join(broadcast(queries), col("q_id") =!= col("c_id"))
      .withColumn("sim", round(Similarity.cosine(
        col("q_vec").cast("array<double>"),
        col("c_vec").cast("array<double>")), 6))
      .withColumn("rn", row_number().over(w).cast("long"))
      .select(col("q_id"), col("rn"),
        when(col("c_label") === col("q_label"), 1L).otherwise(0L)
          .as("rel"))
    val relCounts = queries.select(col("q_id"), col("q_label"))
      .join(broadcast(lc), col("q_label") === col("label"))
      .select(col("q_id"), (col("n_label") - 1L).as("n_rel"))
    graft.operators.RetrievalEval.judgedMetrics(run, relCounts, 10)
      .orderBy(col("q_id"))
  }

  /** q227: clustering-quality audit (★ — the report read before
    * trusting any cell-bucketed operator: simplified silhouette,
    * Hruschka et al. 2004, and the per-cell Davies–Bouldin term,
    * Davies & Bouldin 1979, over the SAME 16-cell / 1-Lloyd's-pass
    * structure q52/q146 probe). See
    * [[Similarity.clusterQualityAudit]] for the scale shape (one
    * corpus scan, per-row literal-centroid distances, k-group
    * aggregate; DB matrix is a k×k metadata cross). The oracle
    * reuses the shared [[IvfSql]] Lloyd's chain, so both engines'
    * centroids are generated from one source. */
  val q227ClusterQuality: QuerySpec = QuerySpec(
    "q227_cluster_quality",
    s"""WITH vecs AS (
      |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS dv
      |  FROM embeddings),
      |seed AS (SELECT id AS cell, dv AS cv FROM vecs ORDER BY id LIMIT 16),
      |${IvfSql.lloydSql(1, "seed")},
      |dist AS (
      |  SELECT v.id, c.cell,
      |    1 - round(list_cosine_similarity(v.dv, c.cv), 6) AS d
      |  FROM vecs v CROSS JOIN c1 c),
      |two AS (
      |  SELECT id, cell, d,
      |    row_number() OVER (PARTITION BY id ORDER BY d, cell) AS rn
      |  FROM dist),
      |pt AS (
      |  SELECT a.cell AS cell, a.d AS a_d,
      |    CASE WHEN greatest(a.d, b.d) = 0 THEN CAST(0 AS DOUBLE)
      |         ELSE round((b.d - a.d) / greatest(a.d, b.d), 6)
      |    END AS sil
      |  FROM (SELECT id, cell, d FROM two WHERE rn = 1) a
      |  JOIN (SELECT id, d FROM two WHERE rn = 2) b USING (id)),
      |cs AS (
      |  SELECT cell, CAST(COUNT(*) AS BIGINT) AS n,
      |    round(CAST(SUM(CAST(sil AS DECIMAL(27,6))) AS DOUBLE)
      |      / CAST(COUNT(*) AS DOUBLE), 6) AS mean_sil,
      |    round(CAST(SUM(CAST(a_d AS DECIMAL(27,6))) AS DOUBLE)
      |      / CAST(COUNT(*) AS DOUBLE), 6) AS s_c
      |  FROM pt GROUP BY 1),
      |cd AS (
      |  SELECT x.cell AS cell, y.cell AS cell2,
      |    1 - round(list_cosine_similarity(x.cv, y.cv), 6) AS dcc
      |  FROM c1 x JOIN c1 y ON x.cell <> y.cell),
      |db AS (
      |  SELECT d.cell,
      |    round(MAX((s1.s_c + s2.s_c) / d.dcc), 6) AS db_c
      |  FROM cd d JOIN cs s1 ON s1.cell = d.cell
      |  JOIN cs s2 ON s2.cell = d.cell2
      |  WHERE d.dcc > 0 GROUP BY 1)
      |SELECT cs.cell, cs.n, cs.mean_sil, cs.s_c,
      |  coalesce(db.db_c, CAST(0 AS DOUBLE)) AS db_c
      |FROM cs LEFT JOIN db ON db.cell = cs.cell
      |ORDER BY cs.cell""".stripMargin) { (s, dir) =>
    Similarity.clusterQualityAudit(Tables.embeddings(s, dir),
        "vec_id", "embedding", numCells = 16, kmeansIters = 1)
      .orderBy(col("cell"))
  }

  /** q231: index-staleness (centroid-drift) audit (★ — the "when do
    * we rebuild" report for a serving IVF structure: per cell, how
    * far one more Lloyd's pass over the CURRENT corpus moves the
    * centroid and what fraction of the cell's vectors would change
    * cells — reassignment, not displacement, is what degrades probe
    * recall). See [[Similarity.centroidDriftAudit]] (one corpus scan
    * with two literal-centroid argmins, k-group aggregate, k-row
    * shift join). Oracle: the shared [[IvfSql]] Lloyd's chain run one
    * pass deeper, with fresh assignments under both centroid sets. */
  val q231CentroidDrift: QuerySpec = {
    import IvfSql.{assignSql, lloydSql}
    QuerySpec(
      "q231_centroid_drift",
      s"""WITH vecs AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS dv
        |  FROM embeddings),
        |seed AS (SELECT id AS cell, dv AS cv FROM vecs ORDER BY id LIMIT 16),
        |${lloydSql(1, "seed")},
        |${lloydSql(2, "c1")},
        |${assignSql("b0", "c1")},
        |${assignSql("b1", "c2")},
        |per AS (
        |  SELECT b0.cell, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN b0.cell <> b1.cell THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_reassigned
        |  FROM b0 JOIN b1 USING (id) GROUP BY 1),
        |sh AS (
        |  SELECT x.cell,
        |    1 - round(list_cosine_similarity(x.cv, y.cv), 6) AS shift
        |  FROM c1 x JOIN c2 y USING (cell))
        |SELECT p.cell, p.n, s.shift, p.n_reassigned,
        |  round(CAST(p.n_reassigned AS DOUBLE) / CAST(p.n AS DOUBLE), 6)
        |    AS reassign_rate
        |FROM per p JOIN sh s USING (cell)
        |ORDER BY p.cell""".stripMargin) { (s, dir) =>
      Similarity.centroidDriftAudit(Tables.embeddings(s, dir),
          "vec_id", "embedding", numCells = 16, kmeansIters = 1)
        .orderBy(col("cell"))
    }
  }

  /** q234: IVF recall-vs-nprobe sweep (★ — the tuning curve read
    * before fixing q52's probe depth: recall@5 at every nprobe =
    * 1..16, from ONE computation per exact-top-k pair — the probe
    * depth that finds a pair IS the rank of its cell in the query's
    * centroid order, so no per-depth index scans). See
    * [[Similarity.ivfRecallSweep]]; the truth pass is the audit's
    * honest brute-force cost (the q176 stance). Oracle reuses the
    * shared [[IvfSql]] chain for centroids and assignment. */
  val q234NprobeSweep: QuerySpec = {
    import IvfSql.{assignSql, lloydSql}
    QuerySpec(
      "q234_nprobe_sweep",
      s"""WITH vecs AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS dv
        |  FROM embeddings),
        |q AS (SELECT id AS q_id, dv AS q_dv FROM vecs WHERE id < 16),
        |seed AS (SELECT id AS cell, dv AS cv FROM vecs ORDER BY id LIMIT 16),
        |${lloydSql(1, "seed")},
        |${assignSql("cc", "c1")},
        |truth AS (
        |  SELECT q_id, c_id FROM (
        |    SELECT q.q_id, v.id AS c_id,
        |      row_number() OVER (PARTITION BY q.q_id
        |        ORDER BY round(list_cosine_similarity(q.q_dv, v.dv), 6)
        |          DESC, v.id) AS rn
        |    FROM q JOIN vecs v ON v.id <> q.q_id) WHERE rn <= 5),
        |porder AS (
        |  SELECT q.q_id, c.cell,
        |    CAST(row_number() OVER (PARTITION BY q.q_id
        |      ORDER BY round(list_cosine_similarity(q.q_dv, c.cv), 6)
        |        DESC, c.cell) AS BIGINT) AS prank
        |  FROM q CROSS JOIN c1 c),
        |found AS (
        |  SELECT t.q_id, p.prank
        |  FROM truth t JOIN cc ON cc.id = t.c_id
        |  JOIN porder p ON p.q_id = t.q_id AND p.cell = cc.cell),
        |hits AS (
        |  SELECT prank, CAST(COUNT(*) AS BIGINT) AS h
        |  FROM found GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM truth),
        |sp AS (SELECT unnest(range(1, 17)) AS nprobe)
        |SELECT sp.nprobe,
        |  CAST(SUM(COALESCE(h.h, 0)) OVER (ORDER BY sp.nprobe)
        |    AS BIGINT) AS n_found,
        |  t.n_pairs,
        |  round(CAST(SUM(COALESCE(h.h, 0)) OVER (ORDER BY sp.nprobe)
        |    AS DOUBLE) / CAST(t.n_pairs AS DOUBLE), 6) AS recall
        |FROM sp LEFT JOIN hits h ON h.prank = sp.nprobe
        |CROSS JOIN tot t
        |ORDER BY sp.nprobe""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      Similarity.ivfRecallSweep(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 16), "vec_id", "embedding",
          k = 5, numCells = 16, kmeansIters = 1)
        .orderBy(col("nprobe"))
    }
  }

  /** q262: the q234 nprobe sweep with a SAMPLED truth set (★ — the
    * q256 estimator transplanted to the remaining exact-truth ANN
    * audit, the r12 brief's named item: q234's brute-force top-k
    * truth is the sweep's honest linear term — 8.5× per decade at
    * sf10, SCALING.md — and a 100 TB operator reads this curve
    * nightly). The QUERY population grows to 80 and the truth pass
    * runs only for its deterministic 20% hash stratum (17 of 80),
    * cutting the |queries| × corpus brute term ~4.7× — queries are
    * sampled rather than the corpus because kNN truth is competitive
    * and a corpus stratum would bias the curve low, see
    * [[Similarity.ivfRecallSweepSampled]]. The OPERATOR's side stays
    * full and exact, and gains the cost axis the recall axis is
    * traded against: `n_scanned` = stored vectors the FULL 80-query
    * population scans at each probe depth. Per nprobe: exact scan
    * cost, sampled hits/truth counts, the recall estimate, and its
    * Wilson 95% interval ([[Wilson]] — one operation order,
    * bit-for-bit in DuckDB). SimilaritySpec pins the interval against
    * the exact 80-query sweep at this SF. Oracle reuses the shared
    * [[IvfSql]] chain for centroids and assignment. */
  val q262NprobeSweepSampled: QuerySpec = {
    import IvfSql.{assignSql, lloydSql}
    val (wEst, wLo, wHi) = Wilson.sqlFragments(
      "n_found_sampled", "n_true_sampled")
    QuerySpec(
      "q262_nprobe_sweep_sampled",
      s"""WITH vecs AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS dv
        |  FROM embeddings),
        |q AS (SELECT id AS q_id, dv AS q_dv FROM vecs WHERE id < 80),
        |seed AS (SELECT id AS cell, dv AS cv FROM vecs ORDER BY id LIMIT 16),
        |${lloydSql(1, "seed")},
        |${assignSql("cc", "c1")},
        |qs AS MATERIALIZED (
        |  SELECT q_id, q_dv FROM q
        |  WHERE ${graft.functions.Scalars.sqlPortableHash64("q_id")}
        |    % 10 < 2),
        |struth AS MATERIALIZED (
        |  SELECT q_id, c_id FROM (
        |    SELECT qs.q_id, v.id AS c_id,
        |      row_number() OVER (PARTITION BY qs.q_id
        |        ORDER BY round(list_cosine_similarity(qs.q_dv, v.dv), 6)
        |          DESC, v.id) AS rn
        |    FROM qs JOIN vecs v ON v.id <> qs.q_id) WHERE rn <= 5),
        |porder AS MATERIALIZED (
        |  SELECT q.q_id, c.cell,
        |    CAST(row_number() OVER (PARTITION BY q.q_id
        |      ORDER BY round(list_cosine_similarity(q.q_dv, c.cv), 6)
        |        DESC, c.cell) AS BIGINT) AS prank
        |  FROM q CROSS JOIN c1 c),
        |csize AS (
        |  SELECT cell, CAST(COUNT(*) AS BIGINT) AS sz
        |  FROM cc GROUP BY 1),
        |scan_at AS (
        |  SELECT p.prank, CAST(SUM(COALESCE(cs.sz, 0)) AS BIGINT) AS s
        |  FROM porder p LEFT JOIN csize cs ON cs.cell = p.cell
        |  GROUP BY 1),
        |found AS (
        |  SELECT t.q_id, p.prank
        |  FROM struth t JOIN cc ON cc.id = t.c_id
        |  JOIN porder p ON p.q_id = t.q_id AND p.cell = cc.cell),
        |hits AS (
        |  SELECT prank, CAST(COUNT(*) AS BIGINT) AS h
        |  FROM found GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true_sampled
        |        FROM struth),
        |sp AS (SELECT unnest(range(1, 17)) AS nprobe),
        |agg AS (
        |  SELECT sp.nprobe,
        |    CAST(SUM(COALESCE(sc.s, 0)) OVER (ORDER BY sp.nprobe)
        |      AS BIGINT) AS n_scanned,
        |    CAST(SUM(COALESCE(h.h, 0)) OVER (ORDER BY sp.nprobe)
        |      AS BIGINT) AS n_found_sampled,
        |    t.n_true_sampled
        |  FROM sp LEFT JOIN hits h ON h.prank = sp.nprobe
        |  LEFT JOIN scan_at sc ON sc.prank = sp.nprobe
        |  CROSS JOIN tot t)
        |SELECT nprobe, n_scanned, n_found_sampled, n_true_sampled,
        |  $wEst AS recall_est,
        |  $wLo AS ci_lo,
        |  $wHi AS ci_hi
        |FROM agg ORDER BY nprobe""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val sw = Similarity.ivfRecallSweepSampled(e, "vec_id",
        "embedding", e.filter(col("vec_id") < 80), "vec_id",
        "embedding", k = 5, numCells = 16, kmeansIters = 1)
      val (rEst, rLo, rHi) = Wilson.columns(col("n_found_sampled"),
        col("n_true_sampled").cast("double"))
      sw.select(col("nprobe"), col("n_scanned"),
          col("n_found_sampled"), col("n_true_sampled"),
          rEst.as("recall_est"), rLo.as("ci_lo"), rHi.as("ci_hi"))
        .orderBy(col("nprobe"))
    }
  }

  /** q247: rank-biased overlap of the full-dimension vs 16-dim-prefix
    * rankings (★ — Webber et al. 2010's TOP-WEIGHTED ranking
    * similarity, the drift statistic q200's flat recall@5 cannot
    * grade: RBO discounts disagreement geometrically with depth, so a
    * swap at rank 1 costs more than one at rank 10 — the metric
    * ranking-serving teams actually alert on). Truncated at depth 10
    * with p = 0.9 (documented: no extrapolation term — the audited
    * quantity is the PREFIX agreement itself). Each (query, doc) pair
    * in both top-10s contributes to every depth d ≥ max(rank_a,
    * rank_b); overlap counts are exact ints, the 10 weighted terms
    * round-6 and fold as DECIMAL(18,6). Both ranking passes broadcast
    * the ≤16-query set (q34's shape); everything after is
    * query×depth-bounded. */
  val q247Rbo: QuerySpec = QuerySpec(
    "q247_rbo",
    """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
      |           FROM embeddings WHERE vec_id < 16),
      |full_r AS (
      |  SELECT q_id, c_id, rn FROM (
      |    SELECT q.q_id, e.vec_id AS c_id,
      |      row_number() OVER (PARTITION BY q.q_id ORDER BY
      |        round(list_cosine_similarity(CAST(q.q_vec AS DOUBLE[]),
      |          CAST(e.embedding AS DOUBLE[])), 6) DESC, e.vec_id) AS rn
      |    FROM q JOIN embeddings e ON e.vec_id <> q.q_id)
      |  WHERE rn <= 10),
      |pref_r AS (
      |  SELECT q_id, c_id, rn FROM (
      |    SELECT q.q_id, e.vec_id AS c_id,
      |      row_number() OVER (PARTITION BY q.q_id ORDER BY
      |        round(list_cosine_similarity(
      |          CAST(q.q_vec[1:16] AS DOUBLE[]),
      |          CAST(e.embedding[1:16] AS DOUBLE[])), 6) DESC,
      |        e.vec_id) AS rn
      |    FROM q JOIN embeddings e ON e.vec_id <> q.q_id)
      |  WHERE rn <= 10),
      |both_r AS (
      |  SELECT f.q_id, greatest(f.rn, p.rn) AS mx
      |  FROM full_r f JOIN pref_r p
      |    ON p.q_id = f.q_id AND p.c_id = f.c_id),
      |sp AS (SELECT unnest(range(1, 11)) AS d),
      |ov AS (
      |  SELECT q.q_id, sp.d, CAST(COUNT(b.mx) AS BIGINT) AS o
      |  FROM q CROSS JOIN sp
      |  LEFT JOIN both_r b ON b.q_id = q.q_id AND b.mx <= sp.d
      |  GROUP BY 1, 2)
      |SELECT q_id,
      |  round(CAST(SUM(CAST(round(
      |    (CAST(1 AS DOUBLE) - 0.9) * power(0.9, d - 1)
      |      * CAST(o AS DOUBLE) / CAST(d AS DOUBLE), 6)
      |    AS DECIMAL(18,6))) AS DOUBLE), 6) AS rbo
      |FROM ov GROUP BY 1 ORDER BY q_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val e = Tables.embeddings(s, dir)
    val queries = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val corpus = e.select(col("vec_id").as("c_id"),
      col("embedding").as("c_vec"))
    def ranked(sim: org.apache.spark.sql.Column)
        : org.apache.spark.sql.DataFrame =
      corpus.join(broadcast(queries), col("q_id") =!= col("c_id"))
        .withColumn("sim", sim)
        .withColumn("rn", row_number().over(Window.partitionBy(col("q_id"))
          .orderBy(col("sim").desc, col("c_id"))).cast("long"))
        .filter(col("rn") <= 10)
        .select(col("q_id"), col("c_id"), col("rn"))
    val fullR = ranked(round(Similarity.cosine(
      col("q_vec").cast("array<double>"),
      col("c_vec").cast("array<double>")), 6))
    val prefR = ranked(round(Similarity.cosine(
      slice(col("q_vec"), 1, 16).cast("array<double>"),
      slice(col("c_vec"), 1, 16).cast("array<double>")), 6))
    val bothR = fullR.join(
        prefR.select(col("q_id"), col("c_id"), col("rn").as("rp")),
        Seq("q_id", "c_id"))
      .select(col("q_id"), greatest(col("rn"), col("rp")).as("mx"))
    val sp = s.range(1, 11).select(col("id").as("d"))
    val ov = queries.select(col("q_id")).crossJoin(broadcast(sp))
      .join(bothR, Seq("q_id"), "left")
      .groupBy(col("q_id"), col("d"))
      .agg(sum(when(col("mx") <= col("d"), 1L).otherwise(0L)).as("o"))
    ov.groupBy(col("q_id"))
      .agg(round(sum(
        round((lit(1.0) - lit(0.9)) * pow(lit(0.9), col("d") - 1) *
          col("o").cast("double") / col("d").cast("double"), 6)
          .cast(DecimalType(18, 6)))
        .cast("double"), 6).as("rbo"))
      .orderBy(col("q_id"))
  }

  val specs: Seq[QuerySpec] = Seq(q34CosineTopK, q35EmbeddingStats,
    q36CosineLshTopK, q37CosineNearDup, q52IvfTopK, q67MllibBrpTopK,
    q83Quantize, q107AnnPipeline, q136LabelCentroids, q146SemanticDedup,
    q147VectorIndexLifecycle, q158PqCodebook, q159PqAdcTopK,
    q174PcaPower, q175AllButTop, q179BinaryAnn, q180ChannelQuant,
    q181IvfPqTopK, q185HardNegatives, q186EmbeddingOutliers,
    q190BitextMargin, q191RrfFusion, q195KCenterCoreset,
    q196PrototypePrune, q200MatryoshkaRecall, q220RetrievalMetrics,
    q227ClusterQuality, q231CentroidDrift, q234NprobeSweep, q247Rbo,
    q252StreamingSemanticGate, q260IvfCompaction,
    q262NprobeSweepSampled)
}

/** One Lloyd pass / nearest-cell assignment in DuckDB SQL, shared by
  * q52 (IVF top-k) and q146 (semantic dedup) so the two oracles'
  * centroid arithmetic is generated from one source (the MinhashSql
  * discipline): assignment is the rounded-cosine / cell-ascending
  * rank both engines order identically; the mean runs through exact
  * DECIMAL(30,18) sums so refined centroid doubles are bit-equal
  * cross-engine. Requires CTEs `vecs(id, dv)` and the centroid-set
  * CTE named by `cin`. */
private[queries] object IvfSql {
  def assignSql(name: String, cin: String, vin: String = "vecs"): String =
    s"""$name AS (
      |  SELECT id, cell FROM (
      |    SELECT v.id, c.cell,
      |      row_number() OVER (PARTITION BY v.id
      |        ORDER BY round(list_cosine_similarity(v.dv, c.cv), 6) DESC,
      |          c.cell) AS rn
      |    FROM $vin v CROSS JOIN $cin c) WHERE rn = 1)"""

  /** The within-batch pass (the SQL twin of
    * Similarity.semanticIntraBatchFlags): self-join batch cells
    * `bCells` (id, cell), verify rounded cosine over `allv`, and flag
    * every id with a SMALLER-id near-dup in the same batch — CTE
    * `(tag)i(b)` — plus the survivor view `(bCells)f` the store probe
    * then runs on. */
  def intraSql(tag: String, bCells: String, tau: String): String =
    s"""${tag}i AS (
      |  SELECT DISTINCT y.id AS b
      |  FROM $bCells x JOIN $bCells y
      |    ON x.cell = y.cell AND x.id < y.id
      |  JOIN allv xv ON xv.id = x.id
      |  JOIN allv yv ON yv.id = y.id
      |  WHERE round(list_cosine_similarity(xv.dv, yv.dv), 6) >= $tau),
      |${bCells}f AS (
      |  SELECT id, cell FROM $bCells
      |  WHERE id NOT IN (SELECT b FROM ${tag}i))"""

  /** Cell-scoped probe of batch cells `bCells` against store cells
    * `sCells` (both (id, cell)), vectors looked up in CTE
    * `allv(id, dv)`: pairs at rounded cosine ≥ `tau` summarize to one
    * row per flagged batch id — (b, best_match, sim, n_matches), best
    * = (sim desc, store id asc). The SQL twin of
    * Similarity.semanticDedupAgainstStore. */
  def probeSql(tag: String, bCells: String, sCells: String,
               tau: String): String =
    s"""${tag}p AS (
      |  SELECT b.id AS b, s.id AS s,
      |    round(list_cosine_similarity(bv.dv, sv.dv), 6) AS sim
      |  FROM $bCells b JOIN $sCells s ON b.cell = s.cell
      |  JOIN allv bv ON bv.id = b.id
      |  JOIN allv sv ON sv.id = s.id),
      |${tag}flag AS (
      |  SELECT b, s AS best_match, sim, n_matches FROM (
      |    SELECT b, s, sim,
      |      CAST(COUNT(*) OVER (PARTITION BY b) AS BIGINT) AS n_matches,
      |      row_number() OVER (PARTITION BY b
      |        ORDER BY sim DESC, s) AS rn
      |    FROM ${tag}p WHERE sim >= $tau) WHERE rn = 1)"""
  def lloydSql(i: Int, cin: String): String =
    s"""${assignSql(s"a$i", cin)},
      |m$i AS (
      |  SELECT a.cell, t.j AS pos,
      |    CAST(SUM(CAST(v.dv[t.j] AS DECIMAL(30,18))) AS DOUBLE)
      |      / CAST(COUNT(*) AS DOUBLE) AS mv
      |  FROM a$i a JOIN vecs v ON v.id = a.id,
      |    LATERAL (SELECT unnest(range(1, 65)) AS j) t
      |  GROUP BY 1, 2),
      |c$i AS (
      |  SELECT s.cell, coalesce(r.cv, s.cv) AS cv
      |  FROM $cin s LEFT JOIN (
      |    SELECT cell, list(mv ORDER BY pos) AS cv FROM m$i GROUP BY cell) r
      |    ON r.cell = s.cell)"""
}
