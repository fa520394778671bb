package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Materialize, Tables}
import graft.expressions.NearestCentroid
import graft.functions.VectorFunctions._

/** Similarity search over the embedding column (driver north star):
  * brute-force cosine top-k as the correctness baseline and an
  * IVF-partitioned variant as the scale path.
  *
  * Scale: q32 broadcast-joins the (tiny) query set against the corpus —
  * a map-only scan at any corpus size. q33 additionally prunes by
  * cluster (label = IVF cell, nprobe=1): the join key includes the cell
  * id, so a 100 TB corpus bucketed by cell turns ANN into a co-located
  * partial scan. Ordering ties break on candidate id, so top-k is
  * deterministic.
  */
object VectorQueries {

  /** Norms are precomputed per VECTOR (not per pair) and the dot is the
    * fused native expression — per pair only one multiply-add loop
    * remains. Values are bit-identical to the per-pair HOF formulation
    * (same fold order), so the oracle SQL is unchanged. */
  private def scored(s: SparkSession, d: String, sameLabel: Boolean)
      : DataFrame = {
    val emb = Tables.embeddings(s, d)
      .withColumn("nrm", norm(col("embedding")))
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"), col("nrm").as("q_nrm"))
    val cands = emb.select(col("vec_id").as("c_id"),
      col("embedding").as("c_emb"), col("label").as("c_label"),
      col("nrm").as("c_nrm"))
    val joined =
      if (sameLabel)
        cands.join(broadcast(queries), col("q_label") === col("c_label"))
      else cands.crossJoin(broadcast(queries))
    joined.filter(col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        round(expr("float_vector_dot(q_emb, c_emb)") /
          (col("q_nrm") * col("c_nrm")), 6).as("cos_sim"))
  }

  private def topK(df: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("c_id").asc)
    df.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  private def scoredSql(sameLabel: Boolean): String = {
    val joinCond =
      if (sameLabel) "q.label = c.label AND c.vec_id <> q.vec_id"
      else "c.vec_id <> q.vec_id"
    s"""SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |  round(${cosineSql("q.embedding", "c.embedding")}, 6) AS cos_sim
       |FROM (SELECT * FROM embeddings WHERE vec_id < 8) q
       |JOIN embeddings c ON $joinCond""".stripMargin
  }

  private def topKSql(inner: String, k: Int): String =
    s"""SELECT q_id, c_id, cos_sim, rk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos_sim DESC, c_id) AS rk
       |  FROM ($inner))
       |WHERE rk <= $k""".stripMargin

  /** q32: brute-force cosine top-5 — the exact ANN baseline. */
  private def q32(s: SparkSession, d: String): DataFrame =
    topK(scored(s, d, sameLabel = false), 5)

  /** q33: IVF-style ANN — same-cell (label) candidates only, top-3. */
  private def q33(s: SparkSession, d: String): DataFrame =
    topK(scored(s, d, sameLabel = true), 3)

  /** q34: per-cluster embedding statistics (norms in double, exact
    * dims), the profile a 100 TB pipeline computes before choosing an
    * index layout. */
  private def q34(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"), size(col("embedding")).as("dim"),
        norm(col("embedding")).as("nrm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        min(col("dim")).as("min_dim"), max(col("dim")).as("max_dim"),
        round(min(col("nrm")), 6).as("min_norm"),
        round(max(col("nrm")), 6).as("max_norm"))

  private val q34Sql =
    s"""SELECT label, count(*) AS n,
       |  min(len(embedding)) AS min_dim, max(len(embedding)) AS max_dim,
       |  round(min(${normSql("embedding")}), 6) AS min_norm,
       |  round(max(${normSql("embedding")}), 6) AS max_norm
       |FROM embeddings GROUP BY label""".stripMargin

  /** q53: int8 quantization roundtrip — the compression step of a
    * 100 TB vector store (4× smaller than float32; recall measured
    * against the full-precision ranking). Per-vector symmetric scale =
    * max|x|/127; outputs the quantization error bound per cluster.
    * Exact integer math after the rounded quantize on both engines. */
  private def q53(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        expr("aggregate(embedding, CAST(0.0 AS DOUBLE), " +
          "(acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))").as("amax"))
      .filter(col("amax") > 0.0)
      .select(col("vec_id"), col("label"),
        round(col("amax"), 6).as("scale_max"),
        round(col("amax") / 127.0, 8).as("q_step"))

  private val q53Sql =
    """SELECT vec_id, label, round(amax, 6) AS scale_max,
      |  round(amax / 127.0, 8) AS q_step
      |FROM (
      |  SELECT vec_id, label,
      |    list_reduce(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
      |      (a, b) -> greatest(a, b)) AS amax
      |  FROM embeddings)
      |WHERE amax > 0.0""".stripMargin

  /** q62: embedding-cosine near-duplicate pairs — the vector analog of
    * MinHash near-dup (q29): candidate pairs blocked by IVF cell
    * (label), kept when cosine clears the near-dup threshold (0.3 on this synthetic corpus — random 64-dim vectors have cos ~ N(0, 1/8); real embeddings would use ~0.95). At 100 TB the cell id is the
    * shuffle key, so the pairwise work stays inside cells exactly like
    * LSH bands. */
  private def q62(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .withColumn("nrm", norm(col("embedding")))
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("e_a"),
      col("label"), col("nrm").as("na"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("e_b"),
      col("label").as("label_b"), col("nrm").as("nb"))
    a.join(b, col("label") === col("label_b") && col("id_a") < col("id_b"))
      .withColumn("cos_sim",
        round(expr("float_vector_dot(e_a, e_b)") / (col("na") * col("nb")), 6))
      .filter(col("cos_sim") >= 0.3)
      .select(col("id_a"), col("id_b"), col("label"), col("cos_sim"))
  }

  private val q62Sql =
    s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label,
       |  round(${cosineSql("a.embedding", "b.embedding")}, 6) AS cos_sim
       |FROM embeddings a
       |JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE round(${cosineSql("a.embedding", "b.embedding")}, 6) >= 0.3""".stripMargin

  /** q80: ANN recall@3 — IVF results (q33 shape) scored against the
    * exact brute-force top-3 ground truth (q32 shape at k=3), per
    * query: the evaluation a pipeline runs before trusting an
    * approximate index at 100 TB (where only sampled ground truth is
    * affordable; here the query set IS the sample). */
  private def q80(s: SparkSession, d: String): DataFrame = {
    val exact = topK(scored(s, d, sameLabel = false), 3)
      .select(col("q_id"), col("c_id"))
    val ivf = topK(scored(s, d, sameLabel = true), 3)
      .select(col("q_id").as("q2"), col("c_id").as("c2"))
    exact.join(ivf,
        exact("q_id") === ivf("q2") && exact("c_id") === ivf("c2"), "left")
      .groupBy(col("q_id"))
      .agg(count(col("c2")).as("n_hit"))
      .select(col("q_id"), col("n_hit"),
        expr("(10000L * n_hit) div 3").as("recall_at_3_bp"))
  }

  private val q80Sql =
    s"""WITH exact AS (${topKSql(scoredSql(sameLabel = false), 3)}),
       |ivf AS (${topKSql(scoredSql(sameLabel = true), 3)})
       |SELECT e.q_id, count(i.c_id) AS n_hit,
       |  (10000 * count(i.c_id)) // 3 AS recall_at_3_bp
       |FROM exact e LEFT JOIN ivf i ON e.q_id = i.q_id AND e.c_id = i.c_id
       |GROUP BY 1""".stripMargin

  /** q110: IVF index BUILD + multi-probe search — the two mechanics q33
    * takes as given (labels pre-assigned, nprobe=1). Centroids are
    * computed from the data as exact per-dimension integer-unit sums
    * (micro-units: round(v·10⁶) summed in LONG — order-independent, so
    * both engines build bit-identical centroids); each query then
    * probes its TWO nearest centroids (ranked by dot/‖centroid‖ — the
    * query's own norm is rank-invariant; the score divides two exact
    * integers, one fp divide + sqrt, engine-identical) and takes the
    * exact cosine top-3 within the probed cells. nprobe is the recall
    * knob a 100 TB deployment turns instead of rescanning the corpus.
    *
    * Scale shape: the centroid build is one (label, dim)-keyed shuffle
    * with map-side partials (output: cells × dims rows — tiny); probe
    * ranking joins the 8-query dim table against the broadcast centroid
    * table; the search joins the broadcast (query, probed-cell) pairs
    * against the corpus ON THE CELL KEY, so a corpus bucketed by cell
    * answers from two co-located partitions per query. Integer-unit
    * products stay < 2⁶³ up to ~10⁹-vector cells; beyond that, store
    * per-dim MEANS (divide by n) or DECIMAL partials — same plan. */
  private def q110(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val dims = emb
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("u", round(col("v").cast("double") * 1e6).cast("long"))
    val cs = dims.groupBy(col("label"), col("dim"))
      .agg(sum(col("u")).as("csum"))
    val cnorm = cs.groupBy(col("label"))
      .agg(sum(col("csum") * col("csum")).as("csumsq"))
    val dots = dims.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("dim"), col("u").as("qu"))
      .join(broadcast(cs.withColumnRenamed("label", "c_label")), "dim")
      .groupBy(col("q_id"), col("c_label"))
      .agg(sum(col("qu") * col("csum")).as("dotnum"))
    val probes = dots
      .join(broadcast(cnorm.withColumnRenamed("label", "c_label")), "c_label")
      .withColumn("score",
        col("dotnum").cast("double") / sqrt(col("csumsq").cast("double")))
      .withColumn("pk", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("score").desc, col("c_label").asc)))
      .filter(col("pk") <= 2)
      .select(col("q_id"), col("c_label"))
    val withNrm = emb.withColumn("nrm", norm(col("embedding")))
    val queries = withNrm.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    withNrm
      .select(col("vec_id").as("c_id"), col("label").as("c_label"),
        col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
      .join(broadcast(probes.join(queries, "q_id")), "c_label")
      .filter(col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        round(expr("float_vector_dot(q_emb, c_emb)") /
          (col("q_nrm") * col("c_nrm")), 6).as("cos_sim"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc, col("c_id").asc)))
      .filter(col("rk") <= 3)
  }

  private val q110Sql =
    s"""WITH dims AS (
       |  SELECT vec_id, label, i - 1 AS dim,
       |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS u
       |  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) ix),
       |cs AS (
       |  SELECT label, dim, CAST(sum(u) AS BIGINT) AS csum
       |  FROM dims GROUP BY 1, 2),
       |cnorm AS (
       |  SELECT label, CAST(sum(csum * csum) AS BIGINT) AS csumsq
       |  FROM cs GROUP BY 1),
       |dots AS (
       |  SELECT q.vec_id AS q_id, cs.label AS c_label,
       |    CAST(sum(q.u * cs.csum) AS BIGINT) AS dotnum
       |  FROM dims q JOIN cs ON q.dim = cs.dim
       |  WHERE q.vec_id < 8
       |  GROUP BY 1, 2),
       |probes AS (
       |  SELECT q_id, c_label FROM (
       |    SELECT q_id, c_label, row_number() OVER (PARTITION BY q_id
       |      ORDER BY CAST(dotnum AS DOUBLE) / sqrt(CAST(csumsq AS DOUBLE))
       |        DESC, c_label) AS pk
       |    FROM dots JOIN cnorm ON c_label = cnorm.label)
       |  WHERE pk <= 2)
       |SELECT q_id, c_id, cos_sim, rk FROM (
       |  SELECT p.q_id, c.vec_id AS c_id,
       |    round(${cosineSql("q.embedding", "c.embedding")}, 6) AS cos_sim,
       |    row_number() OVER (PARTITION BY p.q_id
       |      ORDER BY round(${cosineSql("q.embedding", "c.embedding")}, 6)
       |        DESC, c.vec_id) AS rk
       |  FROM probes p
       |  JOIN embeddings q ON q.vec_id = p.q_id
       |  JOIN embeddings c ON c.label = p.c_label AND c.vec_id <> p.q_id)
       |WHERE rk <= 3""".stripMargin

  /** q125: one k-means Lloyd refinement step over the embedding corpus —
    * the index-maintenance loop behind q110's IVF build: centroids from
    * the current assignment, every vector re-assigned to its nearest
    * centroid, centroids recomputed, and per-cluster movement reported
    * (n_stayed / n_vecs is the convergence signal a pipeline watches).
    *
    * Engine-identical math without float-parity traps: coordinates
    * become micro-unit integers, so centroid numerators (per-dim sums)
    * and all dot products are EXACT int64; the nearest-centroid rule
    * minimizes ‖c‖² − 2x·c (‖x‖² is rank-invariant), computed as two
    * IEEE divisions of exact integers — both engines derive identical
    * doubles, and ties break on the lower cluster id via a struct-min
    * AGGREGATE (a regular partial-aggregable min, not a row_number
    * window that would force a per-vector sort).
    *
    * Scale shape: centroid build = one (label, dim)-keyed shuffle with
    * map-side partials (k·dims rows out — tiny); the k×dims centroid
    * table BROADCASTS onto the vector dim table, so assignment is a
    * map-side join + one (vec, cluster)-keyed partial-aggregated
    * shuffle; the rebuild joins the assignment back on vec_id and
    * reduces to (cluster, dim) again. No step is quadratic in corpus
    * size; k is the only blow-up factor, exactly as in a production
    * Lloyd sweep. */
  private def q125(s: SparkSession, d: String): DataFrame = {
    val p = pq(s, d)
    // Whole-vector forms derived from the shared subspace pieces: the
    // per-dim codeword sums are the same rows (a dim belongs to exactly
    // one subspace), and the full-vector norm numerator is the exact
    // integer sum of the per-subspace ones — one source of truth for
    // the centroid math across q125/q126/q127/q130.
    val cmeta = p.cmeta.groupBy(col("c_label"), col("n"))
      .agg(sum(col("csumsq")).as("csumsq"))
    val dots = p.dims
      .join(broadcast(p.cs.select(col("label").as("c_label"), col("dim"),
        col("csum"))), "dim")
      .groupBy(col("vec_id"), col("label"), col("c_label"))
      .agg(sum(col("u") * col("csum")).as("dotnum"))
    val assign = dots
      .join(broadcast(cmeta), "c_label")
      .withColumn("score", pqScore)
      .groupBy(col("vec_id"))
      .agg(first(col("label")).as("old_label"),
        min(struct(col("score"), col("c_label"))).as("best"))
      .select(col("vec_id"), col("old_label"),
        col("best.c_label").as("new_label"))
    val nstat = p.dims.select(col("vec_id"), col("dim"), col("u"))
      .join(assign.select(col("vec_id"), col("new_label")), "vec_id")
      .groupBy(col("new_label"), col("dim"))
      .agg(sum(col("u")).as("nsum"))
      .groupBy(col("new_label"))
      .agg(sum(col("nsum") * col("nsum")).as("nsumsq"))
    assign.groupBy(col("new_label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum((col("old_label") === col("new_label")).cast("long"))
          .as("n_stayed"))
      .join(nstat, "new_label")
      .select(col("new_label"), col("n_vecs"), col("n_stayed"),
        round(sqrt(col("nsumsq").cast("double"))
          / (col("n_vecs").cast("double") * 1e6), 6).as("centroid_norm"))
  }

  private val q125Sql =
    """WITH dims AS (
      |  SELECT vec_id, label, i - 1 AS dim,
      |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS u
      |  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) ix),
      |cs AS (
      |  SELECT label, dim, CAST(sum(u) AS BIGINT) AS csum
      |  FROM dims GROUP BY 1, 2),
      |cmeta AS (
      |  SELECT cs.label AS c_label,
      |    CAST(sum(csum * csum) AS BIGINT) AS csumsq, any_value(n) AS n
      |  FROM cs JOIN (SELECT label, count(*) AS n FROM embeddings GROUP BY 1)
      |    cn ON cs.label = cn.label
      |  GROUP BY 1),
      |dots AS (
      |  SELECT d.vec_id, d.label AS old_label, cs.label AS c_label,
      |    CAST(sum(d.u * cs.csum) AS BIGINT) AS dotnum
      |  FROM dims d JOIN cs ON d.dim = cs.dim
      |  GROUP BY 1, 2, 3),
      |assign AS (
      |  SELECT vec_id, old_label, c_label AS new_label FROM (
      |    SELECT vec_id, old_label, c_label,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY
      |        CAST(csumsq AS DOUBLE) / CAST(n * n AS DOUBLE)
      |          - CAST(dotnum * 2 AS DOUBLE) / CAST(n AS DOUBLE) ASC,
      |        c_label ASC) AS rn
      |    FROM dots JOIN cmeta USING (c_label))
      |  WHERE rn = 1),
      |nstat AS (
      |  SELECT new_label, CAST(sum(nsum * nsum) AS BIGINT) AS nsumsq
      |  FROM (
      |    SELECT a.new_label, d.dim, CAST(sum(d.u) AS BIGINT) AS nsum
      |    FROM dims d JOIN assign a ON d.vec_id = a.vec_id
      |    GROUP BY 1, 2)
      |  GROUP BY 1)
      |SELECT new_label, count(*) AS n_vecs,
      |  CAST(sum(CAST(old_label = new_label AS BIGINT)) AS BIGINT)
      |    AS n_stayed,
      |  round(sqrt(CAST(any_value(nsumsq) AS DOUBLE))
      |    / (count(*) * 1000000.0), 6) AS centroid_norm
      |FROM assign JOIN nstat USING (new_label)
      |GROUP BY 1""".stripMargin

  /** q126: product-quantization (PQ) encoding — the compression step
    * that makes billion-vector ANN affordable: the 64-dim embedding
    * splits into 4 contiguous 16-dim subspaces, each sub-vector snaps to
    * its nearest per-subspace codeword, and a vector becomes 4 small
    * codes (+ its per-subspace quantization error, the fidelity signal
    * that decides codebook size). Codewords are the per-subspace
    * centroids of the existing label partition (exact integer-unit
    * sums — the q110/q125 build), so the whole encode is engine-exact:
    * nearest codeword minimizes ‖c‖²−2x·c from int64 numerators with
    * two IEEE divisions, the argmin is a struct-min AGGREGATE (partial-
    * aggregable, no per-vector sort), and the reported error adds the
    * exact ‖x_sub‖² term back.
    *
    * Scale shape: codebooks are (label, subspace)-keyed sums — tiny at
    * any corpus size — and BROADCAST onto the vector dim table;
    * per-vector work is k·m dot products and a grouped argmin; nothing
    * shuffles the embeddings themselves except the initial dim
    * explode's partial aggregation. Codes then join ANN candidate
    * streams by (subspace, code) — the asymmetric-distance lookup
    * tables of a production PQ index. */
  /** Shared PQ building blocks (q126/q127): the micro-unit dim table
    * (with `subsp = dim div 16`), per-(label, subspace, dim) codeword
    * sums, codeword metadata (‖c_sub‖² numerator + member count), the
    * per-(vector, subspace) squared norm, and the corpus encode
    * (nearest codeword per subspace, argmin of ‖c‖²−2x·c as a
    * struct-min aggregate). All numerators are exact int64; `score` is
    * the 10¹²-scaled ‖c_sub‖²−2·x_sub·c_sub from two IEEE divisions —
    * engine-identical given identical integers. */
  private final case class Pq(dims: DataFrame, cs: DataFrame,
      cmeta: DataFrame, xstat: DataFrame, codes: DataFrame)

  private def pqScore: Column =
    col("csumsq").cast("double") / (col("n") * col("n")).cast("double") -
      (col("dotnum") * 2).cast("double") / col("n").cast("double")

  private def pq(s: SparkSession, d: String): Pq = {
    val emb = Tables.embeddings(s, d)
    val dims = emb
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("u", round(col("v").cast("double") * 1e6).cast("long"))
      .withColumn("subsp", expr("dim div 16"))
    // The codebook frames are k·dims (cs) and k·m ≤ k·dims (cmeta)
    // rows — the quantizer artifact (never corpus-sized), exactly what
    // AnnIvfIndex broadcasts and q197 collects. Collected ONCE and
    // re-entered as local relations (r18): fully-lazy, every PQ query
    // re-executed the two aggregation chains per reference (codes, the
    // ADC query table, Lloyd's dots — 16-32 AQE-materialized exchange
    // jobs per query at 300-500 ms of driver latency each); as local
    // rows each reference is a trivial broadcast.
    val matrix = NearestCentroid.MaxCells * NearestCentroid.MaxDims
    val csL = Materialize.local(cs(dims), "pq.codebook", matrix).df
    val cmetaL = Materialize.local(cmeta(emb, csL), "pq.codebook_meta",
      matrix).df
    val xstat = dims.groupBy(col("vec_id"), col("subsp"))
      .agg(sum(col("u") * col("u")).as("xsumsq"))
    val codes = dims
      .join(broadcast(csL.select(col("label").as("c_label"), col("dim"),
        col("csum"))), "dim")
      .groupBy(col("vec_id"), col("subsp"), col("c_label"))
      .agg(sum(col("u") * col("csum")).as("dotnum"))
      .join(broadcast(cmetaL), Seq("c_label", "subsp"))
      .withColumn("score", pqScore)
      .groupBy(col("vec_id"), col("subsp"))
      .agg(min(struct(col("score"), col("c_label"))).as("best"))
      .select(col("vec_id"), col("subsp"),
        col("best.c_label").as("code"), col("best.score").as("score"))
    Pq(dims, csL, cmetaL, xstat, codes)
  }

  private def cs(dims: DataFrame): DataFrame =
    dims.groupBy(col("label"), col("subsp"), col("dim"))
      .agg(sum(col("u")).as("csum"))

  private def cmeta(emb: DataFrame, cs: DataFrame): DataFrame =
    cs.groupBy(col("label"), col("subsp"))
      .agg(sum(col("csum") * col("csum")).as("csumsq"))
      .join(emb.groupBy(col("label")).agg(count(lit(1)).as("n")), "label")
      .withColumnRenamed("label", "c_label")

  /** Shared oracle-SQL prefix for the PQ family (q126/q127/q130): the
    * DuckDB mirror of [[pq]]. One definition per engine — a change to
    * the micro-unit scale, dim count, or score formula edits exactly
    * two places (here and [[pq]]/[[pqScore]]) instead of one per
    * query. */
  private val pqSqlPrefix =
    """dims AS (
      |  SELECT vec_id, label, i - 1 AS dim, (i - 1) // 16 AS subsp,
      |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS u
      |  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) ix),
      |cs AS (
      |  SELECT label, subsp, dim, CAST(sum(u) AS BIGINT) AS csum
      |  FROM dims GROUP BY 1, 2, 3),
      |cmeta AS (
      |  SELECT cs.label AS c_label, subsp,
      |    CAST(sum(csum * csum) AS BIGINT) AS csumsq, any_value(n) AS n
      |  FROM cs JOIN (SELECT label, count(*) AS n FROM embeddings GROUP BY 1)
      |    cn ON cs.label = cn.label
      |  GROUP BY 1, 2),
      |xstat AS (
      |  SELECT vec_id, subsp, CAST(sum(u * u) AS BIGINT) AS xsumsq
      |  FROM dims GROUP BY 1, 2),
      |dots AS (
      |  SELECT d.vec_id, d.subsp, cs.label AS c_label,
      |    CAST(sum(d.u * cs.csum) AS BIGINT) AS dotnum
      |  FROM dims d JOIN cs ON d.dim = cs.dim
      |  GROUP BY 1, 2, 3),
      |scored AS (
      |  SELECT vec_id, subsp, c_label,
      |    CAST(csumsq AS DOUBLE) / CAST(n * n AS DOUBLE)
      |      - CAST(dotnum * 2 AS DOUBLE) / CAST(n AS DOUBLE) AS score
      |  FROM dots JOIN cmeta USING (c_label, subsp))""".stripMargin

  /** ...plus the corpus encode and per-query distance tables the two
    * search queries (q127/q130) both need. */
  private val pqSearchSqlPrefix =
    s"""$pqSqlPrefix,
       |codes AS (
       |  SELECT vec_id AS c_id, subsp, c_label FROM (
       |    SELECT vec_id, subsp, c_label,
       |      row_number() OVER (PARTITION BY vec_id, subsp
       |        ORDER BY score ASC, c_label ASC) AS rn
       |    FROM scored) WHERE rn = 1),
       |tbl AS (
       |  SELECT s.vec_id AS q_id, s.subsp, s.c_label,
       |    CAST(x.xsumsq AS DOUBLE) + s.score AS part
       |  FROM scored s JOIN xstat x
       |    ON s.vec_id = x.vec_id AND s.subsp = x.subsp
       |  WHERE s.vec_id < 8)""".stripMargin

  /** The fixed-order pivot sum + per-query rank over a `cand` CTE with
    * (q_id, c_id, p0..p3) — the SQL mirror of [[adcTopK]]. */
  private def adcRankSql(k: Int): String =
    s"""SELECT q_id, c_id, adc_dist, rk FROM (
       |  SELECT q_id, c_id, adc_dist,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY adc_dist ASC, c_id ASC) AS rk
       |  FROM (
       |    SELECT q_id, c_id,
       |      round((((p0 + p1) + p2) + p3) / 1000000000000.0, 6) AS adc_dist
       |    FROM cand))
       |WHERE rk <= $k""".stripMargin

  private def q126(s: SparkSession, d: String): DataFrame = {
    val p = pq(s, d)
    p.codes
      .join(p.xstat, Seq("vec_id", "subsp"))
      .select(col("vec_id"), col("subsp"), col("code"),
        round((col("xsumsq").cast("double") + col("score")) / 1e12, 6)
          .as("quant_err"))
  }

  private val q126Sql =
    s"""WITH $pqSqlPrefix,
       |codes AS (
       |  SELECT vec_id, subsp, c_label AS code, score FROM (
       |    SELECT vec_id, subsp, c_label, score,
       |      row_number() OVER (PARTITION BY vec_id, subsp
       |        ORDER BY score ASC, c_label ASC) AS rn
       |    FROM scored) WHERE rn = 1)
       |SELECT c.vec_id, c.subsp, c.code,
       |  round((CAST(x.xsumsq AS DOUBLE) + c.score) / 1000000000000.0, 6)
       |    AS quant_err
       |FROM codes c JOIN xstat x
       |  ON c.vec_id = x.vec_id AND c.subsp = x.subsp""".stripMargin

  /** q127: PQ asymmetric-distance (ADC) top-5 search — how a production
    * PQ index answers queries: each query precomputes a tiny distance
    * TABLE (its exact distance to every codeword, per subspace:
    * ‖q_sub‖² + ‖c‖² − 2q·c from the shared exact numerators), and a
    * corpus vector's approximate distance is just 4 table lookups keyed
    * by its stored codes — the embedding itself is never touched at
    * query time. The 4 per-subspace parts pivot to fixed columns and
    * add in a FIXED left-to-right order (((p0+p1)+p2)+p3): double
    * addition is order-sensitive, so a plain grouped sum would be
    * shuffle-nondeterministic — the pivot makes it engine-exact.
    * Ranking orders by the ROUNDED distance (the q110 rule) with c_id
    * tiebreak.
    *
    * Scale shape: the distance table is queries × k × m rows — tiny,
    * broadcast; the search side touches only the (vec, subsp, code)
    * encode (4 rows/vector, no embeddings), joins on (subsp, code), and
    * does one (q, c)-grouped pivot + per-query top-k. This is the
    * memory-bandwidth shape that makes PQ viable at 10⁹ vectors. */
  /** Per-query ADC distance table (q127/q130): for every (query,
    * subspace, codeword), the exact distance part
    * ‖q_sub‖² + ‖c‖² − 2q·c (10¹²-scaled), plus the raw sub-dot for
    * full-vector probe ranking. [[PqQueries]] × k × m rows — always
    * tiny. */
  private def pqQueryTable(p: Pq): DataFrame = {
    val qstat = p.xstat.filter(col("vec_id") < PqQueries)
      .select(col("vec_id").as("q_id"), col("subsp"),
        col("xsumsq").as("qsumsq"))
    val tbl = p.dims.filter(col("vec_id") < PqQueries)
      .join(broadcast(p.cs.select(col("label").as("c_label"), col("dim"),
        col("csum"))), "dim")
      .groupBy(col("vec_id").as("q_id"), col("subsp"), col("c_label"))
      .agg(sum(col("u") * col("csum")).as("dotnum"))
      .join(broadcast(p.cmeta), Seq("c_label", "subsp"))
      .withColumn("score", pqScore)
      .join(broadcast(qstat), Seq("q_id", "subsp"))
      .select(col("q_id"), col("subsp"), col("c_label"), col("dotnum"),
        (col("qsumsq").cast("double") + col("score")).as("part"))
    // collected once so q130's three references (probes, the cand
    // broadcast, the full-dot reuse) don't re-run the dim chain.
    Materialize.local(tbl, "pq.query_table",
      PqQueries * NearestCentroid.MaxCells * NearestCentroid.MaxDims).df
  }

  /** The PQ queries' vectors: `vec_id` < 8. */
  private val PqQueries = 8

  /** Fixed-order pivot sum of the 4 per-subspace ADC parts + per-query
    * top-k (rounded-distance rank, c_id tiebreak — the q110 rule). */
  private def adcTopK(cand: DataFrame, k: Int): DataFrame = cand
    .groupBy(col("q_id"), col("c_id"))
    .agg(min(when(col("subsp") === 0, col("part"))).as("p0"),
      min(when(col("subsp") === 1, col("part"))).as("p1"),
      min(when(col("subsp") === 2, col("part"))).as("p2"),
      min(when(col("subsp") === 3, col("part"))).as("p3"))
    .select(col("q_id"), col("c_id"),
      round((((col("p0") + col("p1")) + col("p2")) + col("p3")) / 1e12, 6)
        .as("adc_dist"))
    .withColumn("rk", row_number().over(Window.partitionBy(col("q_id"))
      .orderBy(col("adc_dist").asc, col("c_id").asc)))
    .filter(col("rk") <= k)

  private def q127(s: SparkSession, d: String): DataFrame = {
    val p = pq(s, d)
    adcTopK(p.codes
      .select(col("vec_id").as("c_id"), col("subsp"),
        col("code").as("c_label"))
      .join(broadcast(pqQueryTable(p).drop("dotnum")),
        Seq("subsp", "c_label"))
      .filter(col("c_id") =!= col("q_id")), 5)
  }

  private val q127Sql =
    s"""WITH $pqSearchSqlPrefix,
       |cand AS (
       |  SELECT t.q_id, c.c_id,
       |    min(CASE WHEN c.subsp = 0 THEN t.part END) AS p0,
       |    min(CASE WHEN c.subsp = 1 THEN t.part END) AS p1,
       |    min(CASE WHEN c.subsp = 2 THEN t.part END) AS p2,
       |    min(CASE WHEN c.subsp = 3 THEN t.part END) AS p3
       |  FROM codes c JOIN tbl t
       |    ON c.subsp = t.subsp AND c.c_label = t.c_label
       |  WHERE c.c_id <> t.q_id
       |  GROUP BY 1, 2)
       |${adcRankSql(5)}""".stripMargin

  /** q130: IVF-PQ combined search (the FAISS IVFADC shape, flat codes):
    * q110's cell pruning composed with q127's code-table scoring — each
    * query probes its 2 best cells by full-vector centroid score (the
    * full dot is the exact SUM of the 4 sub-dots the table already
    * carries — no extra pass), and only vectors RESIDENT in a probed
    * cell get ADC-scored from their 4 stored codes. This is the
    * production recipe at 10⁹+ vectors: IVF cuts the candidate set by
    * nprobe/k, PQ cuts the bytes touched per candidate; neither the
    * query nor the corpus embeddings move at search time. (Codes here
    * quantize the raw vector, not the cell residual — the residual
    * refinement is a codebook change, same plan.)
    *
    * Scale shape: probes and distance tables are per-query × k — tiny,
    * broadcast; the corpus side touches only (vec, subsp, code) rows
    * joined on the resident cell then (q, subsp, code). A corpus
    * bucketed by cell answers each probe from co-located partitions,
    * exactly like q110 — the cell attach below is a join only because
    * the testdata isn't pre-bucketed. */
  private def q130(s: SparkSession, d: String): DataFrame = {
    val p = pq(s, d)
    val table = pqQueryTable(p)
    val cfull = p.cmeta.groupBy(col("c_label"), col("n"))
      .agg(sum(col("csumsq")).as("cnormsq"))
    val probes = table.groupBy(col("q_id"), col("c_label"))
      .agg(sum(col("dotnum")).as("dotfull"))
      .join(broadcast(cfull), "c_label")
      .withColumn("cscore", col("dotfull").cast("double")
        / sqrt(col("cnormsq").cast("double")))
      .withColumn("pk", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("cscore").desc, col("c_label").asc)))
      .filter(col("pk") <= 2)
      .select(col("q_id"), col("c_label").as("cell"))
    val cand = p.codes
      .select(col("vec_id").as("c_id"), col("subsp"),
        col("code").as("c_label"))
      .join(Tables.embeddings(s, d)
        .select(col("vec_id").as("c_id"), col("label").as("cell")), "c_id")
      .join(broadcast(probes), "cell")
      .join(broadcast(table.select(col("q_id"), col("subsp"),
        col("c_label"), col("part"))), Seq("q_id", "subsp", "c_label"))
      .filter(col("c_id") =!= col("q_id"))
    adcTopK(cand, 3)
  }

  private val q130Sql =
    s"""WITH $pqSearchSqlPrefix,
       |cfull AS (
       |  SELECT c_label, any_value(n) AS n,
       |    CAST(sum(csumsq) AS BIGINT) AS cnormsq
       |  FROM cmeta GROUP BY 1),
       |probes AS (
       |  SELECT q_id, cell FROM (
       |    SELECT f.q_id, f.c_label AS cell,
       |      row_number() OVER (PARTITION BY f.q_id
       |        ORDER BY CAST(f.dotfull AS DOUBLE)
       |          / sqrt(CAST(cf.cnormsq AS DOUBLE)) DESC,
       |        f.c_label ASC) AS pk
       |    FROM (
       |      SELECT vec_id AS q_id, c_label,
       |        CAST(sum(dotnum) AS BIGINT) AS dotfull
       |      FROM dots WHERE vec_id < 8 GROUP BY 1, 2) f
       |    JOIN cfull cf ON f.c_label = cf.c_label)
       |  WHERE pk <= 2),
       |cand AS (
       |  SELECT t.q_id, c.c_id,
       |    min(CASE WHEN c.subsp = 0 THEN t.part END) AS p0,
       |    min(CASE WHEN c.subsp = 1 THEN t.part END) AS p1,
       |    min(CASE WHEN c.subsp = 2 THEN t.part END) AS p2,
       |    min(CASE WHEN c.subsp = 3 THEN t.part END) AS p3
       |  FROM codes c
       |  JOIN embeddings e ON c.c_id = e.vec_id
       |  JOIN probes pr ON e.label = pr.cell
       |  JOIN tbl t ON t.q_id = pr.q_id AND t.subsp = c.subsp
       |    AND t.c_label = c.c_label
       |  WHERE c.c_id <> pr.q_id
       |  GROUP BY 1, 2)
       |${adcRankSql(3)}""".stripMargin

  /** q148: IVF-PQ + EXACT re-rank — the full production ANN recipe
    * (FAISS IVFADC + refine): q130's compressed-domain search nominates
    * top-3 candidates per query, then ONLY those ≤3×queries rows read
    * their full-precision embeddings for an exact-cosine re-rank. At
    * 10⁹+ vectors this is the standard two-stage shape: the corpus scan
    * runs entirely in the compressed domain (4 bytes of codes/vector),
    * and full vectors are fetched for a per-query constant number of
    * finalists. The candidate list is broadcast on BOTH joins, so the
    * embedding side stays a streamed semi-join probe — no shuffle of
    * the corpus. The oracle replays q130 verbatim and re-scores in SQL. */
  private def q148(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).withColumn("nrm", norm(col("embedding")))
    val cands = q130(s, d).select(col("q_id"), col("c_id"), col("adc_dist"))
    emb
      .join(broadcast(cands), col("vec_id") === col("c_id"))
      .select(col("q_id"), col("c_id"), col("adc_dist"),
        col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
      .join(broadcast(emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("nrm").as("q_nrm"))), "q_id")
      .select(col("q_id"), col("c_id"), col("adc_dist"),
        round(expr("float_vector_dot(q_emb, c_emb)") /
          (col("q_nrm") * col("c_nrm")), 6).as("cos_exact"))
      .withColumn("rerank", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("cos_exact").desc, col("c_id").asc)))
  }

  private val q148Sql =
    s"""SELECT a.q_id, a.c_id, a.adc_dist,
       |  round(${cosineSql("q.embedding", "c.embedding")}, 6) AS cos_exact,
       |  CAST(row_number() OVER (PARTITION BY a.q_id
       |    ORDER BY round(${cosineSql("q.embedding", "c.embedding")}, 6) DESC,
       |    a.c_id ASC) AS INT) AS rerank
       |FROM ($q130Sql) a
       |JOIN embeddings q ON q.vec_id = a.q_id
       |JOIN embeddings c ON c.vec_id = a.c_id""".stripMargin

  /** q151: SEMANTIC dedup (SemDeDup shape, Abbas et al. 2023): docs
    * whose embeddings sit within a cosine ball are transitively
    * clustered and only the minimum id per cluster survives. Composes
    * q62's cell-blocked near-dup pairs (never all-pairs: candidates
    * share an IVF cell) with the pointer-jump CC operator, then
    * summarizes the keep/drop decision per class LABEL (the
    * embeddings table's `label` column — not the IVF cell id, which
    * only blocks the candidate join). At 100 TB the pair
    * stage is the cell-bucketed join q62 already is, the CC stage runs
    * on the (small) duplicate population, and the drop-list join keys
    * on vec_id with NO forced broadcast — AQE broadcasts it at typical
    * dup rates and falls back to a shuffled join when the drop set is
    * a large corpus fraction, so the plan can't OOM on the hint. */
  private def q151(s: SparkSession, d: String): DataFrame = {
    val pairs = q62(s, d).select(col("id_a").as("src"), col("id_b").as("dst"))
    val edges = pairs
      .union(pairs.select(col("dst").as("src"), col("src").as("dst")))
    val (cc, _) = graft.operators.ConnectedComponents.minLabel(edges)
    val dropped = cc.filter(col("node") =!= col("label"))
      .select(col("node").as("vec_id"), lit(true).as("is_dup"))
    Tables.embeddings(s, d)
      .join(dropped, Seq("vec_id"), "left")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("is_dup"), 0L).otherwise(1L)).as("n_kept"))
  }

  private val q151Sql =
    s"""WITH RECURSIVE pairs AS ($q62Sql),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT id_b AS src, id_a AS dst FROM pairs),
       |lab AS (
       |  SELECT vec_id AS node, vec_id AS lbl FROM embeddings
       |  UNION
       |  SELECT e.dst AS node, lab.lbl AS lbl
       |  FROM lab JOIN edges e ON lab.node = e.src),
       |final AS (SELECT node, min(lbl) AS lbl FROM lab GROUP BY node),
       |dropped AS (SELECT node FROM final WHERE lbl <> node)
       |SELECT em.label, count(*) AS n_vecs,
       |  CAST(sum(CASE WHEN dr.node IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_dropped,
       |  CAST(sum(CASE WHEN dr.node IS NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_kept
       |FROM embeddings em LEFT JOIN dropped dr ON em.vec_id = dr.node
       |GROUP BY 1""".stripMargin

  /** q172: semantic dedup with OCCUPANCY-TARGETED cell count — the
    * "cells ∝ n" production knob PLANS.md names as q151's missing
    * scale fix, shipped. q151's blocking grid is FIXED (the 10-label
    * IVF cells), so per-cell occupancy doubles with the corpus and
    * pair work grows ~occupancy² (measured exponent 1.26→1.62). Here
    * the grid SCALES: each vector gets a 16-bit sign-LSH signature
    * (sign of its dot with 16 deterministic ±1 hyperplanes, computed
    * over q110-style exact integer micro-units so both engines agree
    * bit-for-bit — no float summation at the sign threshold), and the
    * cell is the signature's low b bits where 2^b is the smallest
    * power of two with 64·2^b ≥ n. Doubling the corpus adds one bit:
    * cell count doubles, target occupancy stays ~64, per-cell pair
    * work stays constant, TOTAL pair work stays linear (times the
    * multiprobe log factor below) at any scale. Candidate generation
    * is MULTIPROBE: q175 measures a single table's same-cell recall
    * at (1−θ/π)^b ≈ 0.3 on cos≈0.8 pairs, so each vector also probes
    * its 1-bit AND 2-bit flip neighbor cells — pairs whose signatures
    * differ in ≤2 cell bits are candidates (recall ≈ 0.94 at b=5,
    * SemDeDup-grade, pinned by q175's probe_recall_bp column), at
    * 1 + b + C(b,2) = O(log²(n/64)) probes per vector. 16 planes cap
    * the demo at 65,536 cells (~4M vectors at occ 64); production
    * raises the plane count, nothing else changes.
    *
    * Scale shape: one corpus scan computes signatures (1,024 integer
    * adds/vector, codegen'd), the corpus-count scalar is a 1-row
    * broadcast, the pair join shuffles ON THE CELL KEY only, CC runs
    * on the dup population, and the drop-list join has no forced
    * broadcast (AQE decides). The oracle replays the identical
    * signature/cell/pair/fixpoint chain in DuckDB. */
  private val SigPlanes = 16
  private val SigDim = 64
  private[graft] val SigOcc = 64L
  /** Deterministic ±1 hyperplane matrix (splitmix64 bit per (j,i)) —
    * canonical copy in [[graft.expressions.SignLshSig]] (the Spark side
    * evaluates it as the fused codegen expression; the oracle SQL
    * inlines these signs as literals). */
  private[graft] val planeSign: Array[Array[Int]] =
    graft.expressions.SignLshSig.planeSign
  /** The 16-bit signature as one integer expression over the micro-unit
    * array `u`: Σ_j 2^j·[Σ_i ±u_i ≥ 0]. `elem` maps dim index to the
    * engine's array accessor (0-based Spark, 1-based DuckDB). */
  private def sigTerms(elem: Int => String): String =
    (0 until SigPlanes).map { j =>
      val body = (0 until SigDim).map { i =>
        (if (planeSign(j)(i) > 0) "+ " else "- ") + elem(i)
      }.mkString(" ")
      s"(CASE WHEN (0 $body) >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", "\n      + ", ")")
  /** Smallest 2^b with SigOcc·2^b ≥ n (b ≤ SigPlanes) — exact integer
    * CASE chain, no float log anywhere near the cutoff. */
  private def pow2bCol(n: Column): Column =
    (0 until SigPlanes).foldLeft(Option.empty[Column]) { (acc, j) =>
      val c = 1L << j
      Some(acc match {
        case None => when(n <= SigOcc * c, c)
        case Some(w) => w.when(n <= SigOcc * c, c)
      })
    }.get.otherwise(1L << SigPlanes)
  private def pow2bSqlCase: String =
    "CAST(CASE " + (0 until SigPlanes).map { j =>
      s"WHEN n <= ${SigOcc * (1L << j)} THEN ${1L << j} "
    }.mkString + s"ELSE ${1L << SigPlanes} END AS BIGINT)"
  /** The depth b itself (log₂ of [[pow2bCol]]) — the multiprobe flip
    * count. */
  private def bitsCol(n: Column): Column =
    (0 until SigPlanes).foldLeft(Option.empty[Column]) { (acc, j) =>
      Some(acc match {
        case None => when(n <= SigOcc * (1L << j), j)
        case Some(w) => w.when(n <= SigOcc * (1L << j), j)
      })
    }.get.otherwise(SigPlanes).cast("int")
  private def bitsSqlCase: String =
    "CAST(CASE " + (0 until SigPlanes).map { j =>
      s"WHEN n <= ${SigOcc * (1L << j)} THEN $j "
    }.mkString + s"ELSE $SigPlanes END AS INTEGER)"

  /** The corpus-count scalar that fixes the deployed grid: 1 row with
    * `n_cells_cap` and `nbits`. */
  private[graft] def gridCapRow(emb: DataFrame): DataFrame =
    emb.agg(count(lit(1)).as("n_total"))
      .select(pow2bCol(col("n_total")).as("n_cells_cap"),
        bitsCol(col("n_total")).as("nbits"))

  /** The grid-cap row for an ALREADY-KNOWN corpus size — how a
    * production deployment fixes the grid at snapshot-cut time
    * ([[graft.operators.DeltaSemDedupIndex]]) instead of re-counting
    * the corpus per query. */
  private[graft] def gridCapRowFor(s: SparkSession, n: Long): DataFrame =
    s.range(1).select(pow2bCol(lit(n)).as("n_cells_cap"),
      bitsCol(lit(n)).as("nbits"))

  /** Sign-LSH cell assignment under the deployed grid: (`vec_id`,
    * `label`, `embedding`, `nrm`, `cell`, `nbits`) for every row of
    * `emb`. The signature is the fused codegen expression
    * [[graft.expressions.SignLshSig]] (r17: replaced a 1,024-term
    * inlined CASE/add tree — same integer adds, same order, far less
    * generated code per stage); the opt_barrier pins the micro-unit
    * array projection as its own evaluation. */
  private[graft] def withCells(emb: DataFrame, capRow: DataFrame): DataFrame = {
    emb
      .withColumn("u", expr("opt_barrier(transform(embedding, " +
        "x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0D) AS BIGINT)))"))
      .withColumn("sig", expr("sign_lsh_sig(u)"))
      .crossJoin(broadcast(capRow))
      .withColumn("cell", col("sig") % col("n_cells_cap"))
      .withColumn("nrm", norm(col("embedding")))
      .select(col("vec_id"), col("label"), col("embedding"), col("nrm"),
        col("cell"), col("nbits"))
  }

  /** The multiprobe expansion expression over `cell`/`nbits`: the cell
    * itself, the nbits one-bit flips, and the C(nbits,2) two-bit flips
    * — 1 + b + b(b−1)/2 probes at depth b. q175 measured ≤1-bit recall
    * on hi-cos (≈0.8) pairs at only ~0.72 (per-bit agreement p ≈ 0.80,
    * so p⁵ + 5p⁴(1−p) at b=5); SemDeDup-grade dedup wants ≥0.9, and
    * the 2-bit ring adds C(b,2)·p^(b−2)(1−p)² ≈ 0.21 → ≈ 0.94, pinned
    * by q175's probe_recall_bp. The cost is the probe fan-out growing
    * from b+1 to 1+b+b(b−1)/2 (16 vs 6 at b=5; still O(log²n) per
    * vector at fixed occupancy) — q175's n_pairs/probe columns are the
    * recorded price. Each qualifying pair still matches EXACTLY one
    * probe (the index side is single-cell, so the probe whose flip
    * mask equals the signatures' differing-bit set — now any set of
    * size ≤ 2 — is unique); the empty-ring guards keep Spark's
    * sequence() from running descending when nbits < 2. */
  private[graft] val multiprobeExpr: String =
    "transform(concat(array(cast(0 as bigint)), " +
      "if(nbits >= 1, transform(sequence(1, nbits), " +
      "k -> shiftleft(cast(1 as bigint), k - 1)), " +
      "cast(array() as array<bigint>)), " +
      "if(nbits >= 2, flatten(transform(sequence(1, nbits - 1), " +
      "k -> transform(sequence(k + 1, nbits), " +
      "l -> shiftleft(cast(1 as bigint), k - 1) + " +
      "shiftleft(cast(1 as bigint), l - 1)))), " +
      "cast(array() as array<bigint>))), m -> cell ^ m)"

  /** The oracle-side probe flip masks as a CTE over the deployed depth
    * (mask 0 = the cell itself, then 1-bit, then 2-bit flips) —
    * mirrors [[multiprobeExpr]]. */
  private def flipsSqlCte: String =
    """flips AS (
      |  SELECT CAST(0 AS BIGINT) AS mask
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT) << CAST(k AS INTEGER) AS mask
      |  FROM (SELECT unnest(range(0, nbits)) AS k FROM p2)
      |  UNION ALL
      |  SELECT (CAST(1 AS BIGINT) << CAST(k AS INTEGER))
      |    + (CAST(1 AS BIGINT) << CAST(l AS INTEGER)) AS mask
      |  FROM (SELECT unnest(range(0, nbits)) AS k FROM p2) a,
      |       (SELECT unnest(range(0, nbits)) AS l FROM p2) b
      |  WHERE k < l)""".stripMargin

  private def q172(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val capRow = gridCapRow(emb)
    val withCell = withCells(emb, capRow)
    // MULTIPROBE (q175's measured finding): a single sign-LSH table's
    // same-cell recall on cos≈0.8 pairs is only (1−θ/π)^b ≈ 0.3, so
    // the PROBE side of the join expands each vector to its cell plus
    // the b single-bit and C(b,2) two-bit flips — a pair is a
    // candidate when signatures differ in ≤2 of the b cell bits,
    // recall ≈ p^b + b·p^(b−1)(1−p) + C(b,2)p^(b−2)(1−p)² (~0.94 at
    // b=5, the ≥0.9 SemDeDup bar). The index side stays single-cell,
    // so each qualifying pair matches EXACTLY one probe (the probe
    // whose flip mask equals the differing-bit set). Probing is
    // DIRECTIONAL — this symmetric self-join only keeps the nonzero
    // probes that DECREASE the cell value, so a cross-cell pair is
    // generated once, by its larger-cell member (the delta/streaming
    // variants can't use this: their probing side is fixed by which
    // data is incoming); same-cell pairs keep the id_a < id_b rule.
    // This halves both the probe-row shuffle (each row carries the
    // embedding) and the candidate count vs probing both directions.
    // Candidate volume stays linear with a log² factor:
    // ≤ 1+b+C(b,2) probes/vector at fixed occupancy, b = log₂(n/64).
    val probeRows = withCell
      .withColumn("pcell", explode(expr(multiprobeExpr)))
      .filter(col("pcell") <= col("cell"))
    val a = probeRows.select(col("vec_id").as("id_a"),
      col("embedding").as("e_a"), col("nrm").as("na"),
      col("cell").as("cell_a"), col("pcell"))
    val b = withCell.select(col("vec_id").as("id_b"),
      col("embedding").as("e_b"), col("nrm").as("nb"),
      col("cell").as("cell_b"))
    val pairs = a.join(b,
        col("pcell") === col("cell_b") &&
          (col("cell_a") =!= col("cell_b") || col("id_a") < col("id_b")))
      .withColumn("cos_sim", round(
        expr("float_vector_dot(e_a, e_b)") / (col("na") * col("nb")), 6))
      .filter(col("cos_sim") >= 0.3)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val edges = pairs
      .union(pairs.select(col("dst").as("src"), col("src").as("dst")))
    val (cc, _) = graft.operators.ConnectedComponents.minLabel(edges)
    val dropped = cc.filter(col("node") =!= col("label"))
      .select(col("node").as("vec_id"), lit(true).as("is_dup"))
    Tables.embeddings(s, d)
      .join(dropped, Seq("vec_id"), "left")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("is_dup"), 0L).otherwise(1L)).as("n_kept"))
      .crossJoin(broadcast(capRow.select(col("n_cells_cap"))))
  }

  private val q172Sql =
    s"""WITH RECURSIVE nt AS (SELECT count(*) AS n FROM embeddings),
       |p2 AS (SELECT $pow2bSqlCase AS n_cells_cap,
       |  $bitsSqlCase AS nbits FROM nt),
       |uu AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS u
       |  FROM embeddings),
       |cells AS (
       |  SELECT vec_id, ${sigTerms(i => s"u[${i + 1}]")}
       |    % (SELECT n_cells_cap FROM p2) AS cell
       |  FROM uu),
       |$flipsSqlCte,
       |probes AS (
       |  SELECT vec_id, cell AS ocell, xor(cell, mask) AS pcell
       |  FROM cells CROSS JOIN flips
       |  WHERE xor(cell, mask) <= cell),
       |pairs AS (
       |  SELECT p.vec_id AS id_a, c.vec_id AS id_b
       |  FROM probes p JOIN cells c
       |    ON p.pcell = c.cell
       |    AND (p.ocell <> c.cell OR p.vec_id < c.vec_id)
       |  JOIN embeddings ea ON ea.vec_id = p.vec_id
       |  JOIN embeddings eb ON eb.vec_id = c.vec_id
       |  WHERE round(${cosineSql("ea.embedding", "eb.embedding")}, 6)
       |    >= 0.3),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT id_b AS src, id_a AS dst FROM pairs),
       |lab AS (
       |  SELECT vec_id AS node, vec_id AS lbl FROM embeddings
       |  UNION
       |  SELECT e.dst AS node, lab.lbl AS lbl
       |  FROM lab JOIN edges e ON lab.node = e.src),
       |final AS (SELECT node, min(lbl) AS lbl FROM lab GROUP BY node),
       |dropped AS (SELECT node FROM final WHERE lbl <> node)
       |SELECT em.label, count(*) AS n_vecs,
       |  CAST(sum(CASE WHEN dr.node IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_dropped,
       |  CAST(sum(CASE WHEN dr.node IS NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_kept,
       |  (SELECT n_cells_cap FROM p2) AS n_cells_cap
       |FROM embeddings em LEFT JOIN dropped dr ON em.vec_id = dr.node
       |GROUP BY 1""".stripMargin

  /** q175: MEASURED recall of q172's scaled cell grid — the q155/q170
    * discipline applied to the new blocking scheme before anyone has
    * to trust it: exact cosine ground truth over a FIXED 512-vector
    * sample (all-pairs inside the sample only — fixed cost at any
    * corpus size, the q170 sampling contract), each truth pair
    * (cos ≥ 0.3) scored against both grids as deployed at this corpus
    * size: q172's sign-LSH cells (cell count ∝ n) — BOTH the
    * single-table same-cell criterion and the shipped ≤2-bit
    * multiprobe criterion — and q151's fixed label grid. Output: per
    * cosine band (lo [0.3,0.5) / mid [0.5,0.8) / hi [0.8,1]), pair
    * count and each criterion's detection recall — the measured price
    * of linear-scaling pair work, pinned as oracle output so a grid
    * regression fails parity. (This query is WHY q172 multiprobes,
    * and why with TWO flip rings: same-cell recall on hi-cos pairs is
    * ~0.3, ≤1-bit lifted it only to ~0.72, and the shipped ≤2-bit
    * ring clears the ≥0.9 SemDeDup bar.)
    *
    * Scale shape: the sample is 512 rows regardless of corpus size
    * (~131k candidate pairs, one broadcastable frame); the only
    * corpus-sized term is the 1-row count that fixes the deployed
    * cell depth. */
  private def q175(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val sample = withCells(emb.filter(col("vec_id") < 512), gridCapRow(emb))
    val a = sample.select(col("vec_id").as("id_a"), col("label").as("la"),
      col("embedding").as("e_a"), col("nrm").as("na"), col("cell").as("ca"))
    val b = sample.select(col("vec_id").as("id_b"), col("label").as("lb"),
      col("embedding").as("e_b"), col("nrm").as("nb"), col("cell").as("cb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos_sim", round(
        expr("float_vector_dot(e_a, e_b)") / (col("na") * col("nb")), 6))
      .filter(col("cos_sim") >= 0.3)
      .withColumn("band",
        when(col("cos_sim") < 0.5, "lo")
          .when(col("cos_sim") < 0.8, "mid").otherwise("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("ca") === col("cb"), 1L).otherwise(0L)).as("n_cell_hit"),
        sum(when(expr("bit_count(ca ^ cb)") <= 2, 1L).otherwise(0L))
          .as("n_probe_hit"),
        sum(when(col("la") === col("lb"), 1L).otherwise(0L)).as("n_label_hit"))
      .select(col("band"), col("n_pairs"),
        col("n_cell_hit"),
        expr("(10000L * n_cell_hit) div n_pairs").as("cell_recall_bp"),
        col("n_probe_hit"),
        expr("(10000L * n_probe_hit) div n_pairs").as("probe_recall_bp"),
        col("n_label_hit"),
        expr("(10000L * n_label_hit) div n_pairs").as("label_recall_bp"))
  }

  private val q175Sql =
    s"""WITH nt AS (SELECT count(*) AS n FROM embeddings),
       |p2 AS (SELECT $pow2bSqlCase AS n_cells_cap FROM nt),
       |uu AS (
       |  SELECT vec_id, label, embedding, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS u
       |  FROM embeddings WHERE vec_id < 512),
       |cells AS (
       |  SELECT vec_id, label, embedding,
       |    ${sigTerms(i => s"u[${i + 1}]")}
       |    % (SELECT n_cells_cap FROM p2) AS cell
       |  FROM uu),
       |truth AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    a.label AS la, b.label AS lb, a.cell AS ca, b.cell AS cb,
       |    round(${cosineSql("a.embedding", "b.embedding")}, 6) AS cos_sim
       |  FROM cells a JOIN cells b ON a.vec_id < b.vec_id
       |  WHERE round(${cosineSql("a.embedding", "b.embedding")}, 6) >= 0.3),
       |banded AS (
       |  SELECT CASE WHEN cos_sim < 0.5 THEN 'lo'
       |    WHEN cos_sim < 0.8 THEN 'mid' ELSE 'hi' END AS band,
       |    la, lb, ca, cb
       |  FROM truth)
       |SELECT band, CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(CASE WHEN ca = cb THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_cell_hit,
       |  (10000 * CAST(sum(CASE WHEN ca = cb THEN 1 ELSE 0 END) AS BIGINT))
       |    // count(*) AS cell_recall_bp,
       |  CAST(sum(CASE WHEN bit_count(xor(ca, cb)) <= 2 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_probe_hit,
       |  (10000 * CAST(sum(CASE WHEN bit_count(xor(ca, cb)) <= 2
       |      THEN 1 ELSE 0 END) AS BIGINT))
       |    // count(*) AS probe_recall_bp,
       |  CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_label_hit,
       |  (10000 * CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT))
       |    // count(*) AS label_recall_bp
       |FROM banded GROUP BY 1""".stripMargin

  /** q176: DELTA semantic dedup — q173's contract in embedding space:
    * an incoming refresh batch (the deterministic 25% slice
    * vec_id % 4 = 0) is admitted against the corpus SNAPSHOT (the
    * rest) under q172's deployed grid. The MULTIPROBE expansion runs
    * on the INCOMING side only — exactly where it belongs, since the
    * delta is refresh-cycle-bounded — while the snapshot side stays
    * single-cell (in production a materialized (vec_id, cell) table,
    * the [[graft.operators.DeltaDedupIndex]] discipline), so the
    * snapshot never pairs with itself and never probe-expands. Each
    * qualifying pair (signatures differing in ≤2 cell bits) matches
    * exactly one probe; cos ≥ 0.3 verifies. Per incoming vector:
    * match count, first (min-id) snapshot match, best cosine, and the
    * admitted verdict. */
  private def q176(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cells = withCells(emb, gridCapRow(emb))
    val inc = cells.filter(col("vec_id") % 4 === 0)
      .withColumn("pcell", explode(expr(multiprobeExpr)))
      .select(col("vec_id").as("id_n"), col("embedding").as("e_n"),
        col("nrm").as("nn"), col("pcell"))
    val snap = cells.filter(col("vec_id") % 4 =!= 0)
      .select(col("vec_id").as("id_s"), col("embedding").as("e_s"),
        col("nrm").as("ns"), col("cell").as("cell_s"))
    val verdict = snap.join(inc, col("pcell") === col("cell_s"))
      .withColumn("cs", round(
        expr("float_vector_dot(e_n, e_s)") / (col("nn") * col("ns")), 6))
      .filter(col("cs") >= 0.3)
      .groupBy(col("id_n"))
      .agg(count(lit(1)).as("n_matches"),
        min(col("id_s")).as("first_match"),
        max(col("cs")).as("max_cos"))
    emb.filter(col("vec_id") % 4 === 0)
      .select(col("vec_id"), col("label"))
      .join(verdict.withColumnRenamed("id_n", "vec_id"),
        Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("first_match"), lit(-1L)).as("first_match"),
        coalesce(col("max_cos"), lit(0.0)).as("max_cos"),
        (coalesce(col("n_matches"), lit(0L)) === 0).as("admitted"))
  }

  private val q176Sql =
    s"""WITH nt AS (SELECT count(*) AS n FROM embeddings),
       |p2 AS (SELECT $pow2bSqlCase AS n_cells_cap,
       |  $bitsSqlCase AS nbits FROM nt),
       |uu AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS u
       |  FROM embeddings),
       |cells AS (
       |  SELECT vec_id, ${sigTerms(i => s"u[${i + 1}]")}
       |    % (SELECT n_cells_cap FROM p2) AS cell
       |  FROM uu),
       |$flipsSqlCte,
       |probes AS (
       |  SELECT vec_id, xor(cell, mask) AS pcell
       |  FROM cells CROSS JOIN flips WHERE vec_id % 4 = 0),
       |ver AS (
       |  SELECT p.vec_id AS id_n, c.vec_id AS id_s,
       |    round(${cosineSql("a.embedding", "b.embedding")}, 6) AS cs
       |  FROM probes p
       |  JOIN cells c ON p.pcell = c.cell AND c.vec_id % 4 <> 0
       |  JOIN embeddings a ON a.vec_id = p.vec_id
       |  JOIN embeddings b ON b.vec_id = c.vec_id
       |  WHERE round(${cosineSql("a.embedding", "b.embedding")}, 6)
       |    >= 0.3),
       |agg AS (
       |  SELECT id_n, count(*) AS n_matches, min(id_s) AS first_match,
       |    max(cs) AS max_cos
       |  FROM ver GROUP BY 1)
       |SELECT e.vec_id, e.label,
       |  coalesce(a.n_matches, 0) AS n_matches,
       |  coalesce(a.first_match, CAST(-1 AS BIGINT)) AS first_match,
       |  coalesce(a.max_cos, 0.0) AS max_cos,
       |  (coalesce(a.n_matches, 0) = 0) AS admitted
       |FROM embeddings e LEFT JOIN agg a ON a.id_n = e.vec_id
       |WHERE e.vec_id % 4 = 0""".stripMargin

  /** q178: PQ-COMPRESSED delta semantic dedup — q176's admit contract
    * with the snapshot's verify pass run in the COMPRESSED domain
    * first. The motivation is bytes at 100 TB: a full-precision
    * snapshot index row is ~300 B (64 floats + norm); its PQ encode is
    * 4 one-byte codes, so the per-refresh snapshot scan touches ~70×
    * fewer bytes — the q127/q130 ADC recipe applied to the delta-dedup
    * join instead of top-k search. The codebook here is FINER than
    * q126's 10-label one (whose reconstruction error, measured first,
    * was ±0.3 in cosine — useless as a prefilter): per subspace, the
    * ≤256 codewords are the centroids of the sub-vector's 8-dim sign
    * ORTHANTS — data-adaptive, deterministic, engine-exact, and
    * exactly the 1-byte-per-code layout production PQ uses. The encode
    * stays q126's argmin of ‖c‖²−2x·c over all codewords. Per grid
    * candidate (q176's deployed-grid multiprobe, incoming side only)
    * the APPROXIMATE cosine is computed against the snapshot vector's
    * PQ RECONSTRUCTION from the exact centroid micro-units cbar =
    * csum/n (dot(q, recon) = Σ u·cbar, ‖recon‖² = Σ cbar² — every sum
    * pivots to fixed columns and adds left-to-right, the q127
    * engine-exactness rule; only LINEAR int64 aggregates exist, so
    * nothing overflows at any orthant size), prefiltered at a RELAXED
    * 0.05
    * (the verify threshold 0.3 minus a reconstruction-error margin
    * chosen from the measured ADC error: recall 99.5% of true pairs
    * at ~35% keep on the sweep corpus), and only survivors would
    * fetch full embeddings for the exact confirm. This is a
    * MEASUREMENT query, so it also computes the
    * exact cosine on ALL candidates (ground truth at test scale) and
    * pins the tradeoff per label: candidate volume, ADC keep rate,
    * prefilter recall on true pairs (basis points), and the admit
    * verdicts both ways with their flip count — a codebook or margin
    * regression fails parity. All output columns are integer-exact;
    * the doubles exist only inside comparisons.
    *
    * Scale shape: the LUT is |sample|·4·k rows of int64-derived parts
    * (linear in the refresh batch, independent of corpus size); the
    * snapshot side of the ADC join moves only (vec, subsp, code) rows
    * — never embeddings; the exact confirm in production touches just
    * ADC survivors (here additionally all candidates, for the pinned
    * ground truth). The ground-truth term itself runs over a FIXED
    * incoming sample ([[PqSampleCap]] — VERDICT r13 #2, q175's
    * fixed-sample discipline), so the measurement's exact-cosine cost
    * is bounded at any corpus size while the production admit path
    * ([[graft.operators.PqSemDedupIndex.admit]]) stays unsampled. */
  /** Micro-unit PQ dim table: (`vec_id`, `dim`, `subsp`, `u`) — the
    * 10⁶-scaled exact-integer projection with `subsp = dim div 16`,
    * shared by q178 and [[graft.operators.PqSemDedupIndex]]. */
  private[graft] def pqDims(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("u", round(col("v").cast("double") * 1e6).cast("long"))
      .withColumn("subsp", expr("dim div 16"))
      .select(col("vec_id"), col("dim"), col("subsp"), col("u"))

  /** The left-associated 16-term sum `((t0 + t1) + t2) + …` — ONE
    * association order generated for both engines, so the doubles are
    * bit-identical. */
  private[graft] def fixedSum16(term: Int => String): String =
    (0 until 16).map(term).reduce((a, b) => s"($a + $b)")

  /** The orthant-seeded codebook over a dim table: per subspace, one
    * codeword per occupied 8-dim sign orthant (≤256 — 1-byte codes).
    * OVERFLOW-PROOF at any orthant size: the only int64 aggregates are
    * LINEAR (per-dim `csum`, member count `n` — csum ≈ n·10⁶ stays in
    * range to n ≈ 10¹³ members); every squared term derives from the
    * exact centroid micro-units `cbar = csum/n` (double — identical on
    * both engines given identical integers) summed in FIXED dim order,
    * never from an int64 product (sum(csum²) wraps at ~6k members —
    * the bug this layout replaces). Returns (cw, rmeta): per-dim rows
    * (`seed`, `subsp`, `dim`, `csum`, `n`, `cbar`) and per-codeword
    * reconstruction-norm numerators (`seed`, `subsp`, `rpart` =
    * Σ cbar², 10¹²-scaled). */
  private[graft] def pqOrthantCodebook(dims: DataFrame)
      : (DataFrame, DataFrame) = {
    val seeds = dims.filter(col("dim") % 16 < 8)
      .groupBy(col("vec_id"), col("subsp"))
      .agg(sum(when(col("u") >= 0,
        expr("shiftleft(cast(1 as bigint), cast(dim % 16 as int))"))
        .otherwise(0L)).as("seed"))
    val cw = dims.join(seeds, Seq("vec_id", "subsp"))
      .groupBy(col("seed"), col("subsp"), col("dim"))
      .agg(sum(col("u")).as("csum"))
      .join(seeds.groupBy(col("seed"), col("subsp"))
        .agg(count(lit(1)).as("n")), Seq("seed", "subsp"))
      .withColumn("cbar",
        col("csum").cast("double") / col("n").cast("double"))
    (cw, pqRmeta(cw))
  }

  /** Per-codeword ‖recon_sub‖² numerator from a `cw` frame: the 16
    * cbar values pivot to fixed columns and square-sum left-to-right. */
  private[graft] def pqRmeta(cw: DataFrame): DataFrame = {
    val pivots = (0 until 16).map(d =>
      min(when(col("dim") % 16 === d, col("cbar"))).as(s"c$d"))
    cw.groupBy(col("seed"), col("subsp"))
      .agg(pivots.head, pivots.tail: _*)
      .select(col("seed"), col("subsp"),
        expr(fixedSum16(d => s"(c$d * c$d)")).as("rpart"))
  }

  /** Per (vector, subspace, codeword): the ADC dot part `dpart` =
    * Σ u·cbar (fixed dim order, 10¹²-scaled), the codeword's `rpart`
    * and `n`, and the q126 encode score rpart − 2·dpart — feeds both
    * the encode argmin and the ADC lookup parts. The codebook sides
    * broadcast (≤256·4 codewords at any corpus size).
    *
    * Shape: PIVOT-FIRST. Both sides pivot their 16 dim values into
    * columns (one shuffle each, input-sized), then the broadcast join
    * fans (vector, subspace) × codewords with the 16-term dot computed
    * INLINE in whole-stage codegen — ~16× fewer fanout rows and no
    * 16-way aggregate over them (the previous join-per-dim-then-pivot
    * shape was this family's dominant cost, measured 4-5 s per
    * evaluation at sf0.1 vs ~0.5 s for this one). The products and
    * their association order are IDENTICAL ([[fixedSum16]] over dim
    * slots 0..15), so every dpart/score is bit-for-bit the old value —
    * the DuckDB oracles (which keep the join-then-pivot form) still
    * hash-match. */
  private[graft] def pqCodeScores(dims: DataFrame, cw: DataFrame,
      rmeta: DataFrame): DataFrame = {
    val uCols = (0 until 16).map(d =>
      min(when(col("dim") % 16 === d, col("u"))).as(s"u$d"))
    val uPivot = dims.groupBy(col("vec_id"), col("subsp"))
      .agg(uCols.head, uCols.tail: _*)
    val cwPivot = cw.groupBy(col("seed"), col("subsp"))
      .agg(min(col("n")).as("n"), (0 until 16).map(d =>
        min(when(col("dim") % 16 === d, col("cbar"))).as(s"c$d")): _*)
    uPivot
      .join(broadcast(cwPivot), Seq("subsp"))
      .withColumn("dpart", expr(fixedSum16(d =>
        s"(cast(u$d as double) * c$d)")))
      .join(broadcast(rmeta), Seq("seed", "subsp"))
      .withColumn("score", col("rpart") - col("dpart") * 2)
      .select(col("vec_id"), col("subsp"), col("seed"), col("n"),
        col("dpart"), col("rpart"), col("score"))
  }

  /** q178's fixed incoming-sample cap (VERDICT r13 #2, q175's fixed-
    * sample discipline): the measured ADC-prefilter ground truth runs
    * over the incoming vectors with `vec_id % 4 = 0 AND vec_id <
    * PqSampleCap` — a bounded, content-addressed sample whose exact-
    * cosine verification cost is FIXED at any corpus size, while the
    * production path ([[graft.operators.PqSemDedupIndex]]) admits every
    * incoming vector without the ground-truth term. */
  private val PqSampleCap = 512L

  private def q178(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cells = withCells(emb, gridCapRow(emb))
    val inc = cells
      .filter(col("vec_id") % 4 === 0 && col("vec_id") < PqSampleCap)
      .withColumn("pcell", explode(expr(multiprobeExpr)))
      .select(col("vec_id").as("id_n"), col("embedding").as("e_n"),
        col("nrm").as("nn"), col("pcell"))
    val snap = cells.filter(col("vec_id") % 4 =!= 0)
      .select(col("vec_id").as("id_s"), col("embedding").as("e_s"),
        col("nrm").as("ns"), col("cell").as("cell_s"))
    // every grid candidate OF THE SAMPLE, with the exact cosine as
    // ground truth (the production path computes it only for ADC
    // survivors, and for every incoming vector)
    val cand = snap.join(inc, col("pcell") === col("cell_s"))
      .withColumn("cs", round(
        expr("float_vector_dot(e_n, e_s)") / (col("nn") * col("ns")), 6))
      .select(col("id_n"), col("id_s"), col("nn"), col("cs"))
    // the refined codebook: per subspace, codewords are the centroids
    // of the 8-dim sign ORTHANTS (≤256 codewords — 1-byte codes); the
    // encode is still the argmin of ‖c‖²−2x·c over ALL codewords, the
    // seeds only shape the codebook. The codebook TRAINS on the full
    // corpus (it is the deployed artifact), but the k-fold code-score
    // expansion — the query's one corpus×codewords term — runs only
    // over vectors a sampled candidate pair actually touches.
    val dims = pqDims(emb)
    val (cw, rmeta) = pqOrthantCodebook(dims)
    // per (vector, subspace, codeword): ADC dot part + the q126 encode
    // score. The k-fold code-score expansion is this query's dominant
    // term, and a Spark DataFrame subtree referenced twice EXECUTES
    // twice (no CTE materialization) — so the snapshot encode and the
    // incoming side's ADC lookup parts each get their OWN expansion
    // over exactly the dim rows they need (snapshot vs sampled
    // incoming), one evaluation apiece instead of two full-corpus
    // passes. A candidate-derived semi-join would prune further but
    // re-evaluates the grid join inside this pipeline — measured
    // slower than the filters.
    val snapCodes = pqCodeScores(dims.filter(col("vec_id") % 4 =!= 0),
        cw, rmeta)
      .groupBy(col("vec_id"), col("subsp"))
      .agg(min(struct(col("score"), col("seed"))).as("best"))
      .select(col("vec_id").as("id_s"), col("subsp"),
        col("best.seed").as("code"))
    val lparts = pqCodeScores(dims.filter(col("vec_id") % 4 === 0 &&
        col("vec_id") < PqSampleCap), cw, rmeta)
      .select(col("vec_id").as("id_n"), col("subsp"),
        col("seed").as("code"), col("dpart"), col("rpart"))
    val flagged = cand
      .join(snapCodes, "id_s")
      .join(lparts, Seq("id_n", "subsp", "code"))
      .groupBy(col("id_n"), col("id_s"))
      .agg(min(col("cs")).as("cs"), min(col("nn")).as("nn"),
        min(when(col("subsp") === 0, col("dpart"))).as("d0"),
        min(when(col("subsp") === 1, col("dpart"))).as("d1"),
        min(when(col("subsp") === 2, col("dpart"))).as("d2"),
        min(when(col("subsp") === 3, col("dpart"))).as("d3"),
        min(when(col("subsp") === 0, col("rpart"))).as("r0"),
        min(when(col("subsp") === 1, col("rpart"))).as("r1"),
        min(when(col("subsp") === 2, col("rpart"))).as("r2"),
        min(when(col("subsp") === 3, col("rpart"))).as("r3"))
      .withColumn("acos", round(
        (((col("d0") + col("d1")) + col("d2")) + col("d3")) /
          (col("nn") * lit(1e6) *
            sqrt((((col("r0") + col("r1")) + col("r2")) + col("r3")))), 6))
      .select(col("id_n"),
        (col("acos") >= 0.05).as("adc_pass"),
        (col("cs") >= 0.3).as("exact_pass"))
    val pv = flagged.groupBy(col("id_n"))
      .agg(count(lit(1)).as("n_cand"),
        sum(when(col("adc_pass"), 1L).otherwise(0L)).as("n_adc"),
        sum(when(col("exact_pass"), 1L).otherwise(0L)).as("n_true"),
        sum(when(col("adc_pass") && col("exact_pass"), 1L).otherwise(0L))
          .as("n_conf"))
    emb.filter(col("vec_id") % 4 === 0 && col("vec_id") < PqSampleCap)
      .select(col("vec_id"), col("label"))
      .join(pv.withColumnRenamed("id_n", "vec_id"), Seq("vec_id"), "left")
      .select(col("label"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_adc"), lit(0L)).as("n_adc"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_conf"), lit(0L)).as("n_conf"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_inc"),
        sum(col("n_cand")).as("n_cand_pairs"),
        sum(col("n_adc")).as("n_adc_pairs"),
        sum(col("n_true")).as("n_true_pairs"),
        sum(col("n_conf")).as("n_confirmed_pairs"),
        sum(when(col("n_conf") === 0, 1L).otherwise(0L)).as("n_admit_pq"),
        sum(when(col("n_true") === 0, 1L).otherwise(0L))
          .as("n_admit_true"))
      .select(col("label"), col("n_inc"), col("n_cand_pairs"),
        col("n_adc_pairs"), col("n_true_pairs"), col("n_confirmed_pairs"),
        (col("n_true_pairs") - col("n_confirmed_pairs"))
          .as("n_missed_pairs"),
        expr("CASE WHEN n_cand_pairs = 0 THEN 0L " +
          "ELSE (10000L * n_adc_pairs) div n_cand_pairs END")
          .as("adc_keep_bp"),
        expr("CASE WHEN n_true_pairs = 0 THEN 10000L " +
          "ELSE (10000L * n_confirmed_pairs) div n_true_pairs END")
          .as("prefilter_recall_bp"),
        col("n_admit_pq"), col("n_admit_true"),
        (col("n_admit_pq") - col("n_admit_true")).as("n_verdict_flips"))
  }

  private val q178Sql =
    s"""WITH nt AS (SELECT count(*) AS n FROM embeddings),
       |p2 AS (SELECT $pow2bSqlCase AS n_cells_cap,
       |  $bitsSqlCase AS nbits FROM nt),
       |uu AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS u
       |  FROM embeddings),
       |cells AS (
       |  SELECT vec_id, ${sigTerms(i => s"u[${i + 1}]")}
       |    % (SELECT n_cells_cap FROM p2) AS cell
       |  FROM uu),
       |$flipsSqlCte,
       |probes AS (
       |  SELECT vec_id, xor(cell, mask) AS pcell
       |  FROM cells CROSS JOIN flips
       |  WHERE vec_id % 4 = 0 AND vec_id < $PqSampleCap),
       |cand AS (
       |  SELECT p.vec_id AS id_n, c.vec_id AS id_s,
       |    round(${cosineSql("a.embedding", "b.embedding")}, 6) AS cs,
       |    ${normSql("a.embedding")} AS nn
       |  FROM probes p
       |  JOIN cells c ON p.pcell = c.cell AND c.vec_id % 4 <> 0
       |  JOIN embeddings a ON a.vec_id = p.vec_id
       |  JOIN embeddings b ON b.vec_id = c.vec_id),
       |dims AS (
       |  SELECT vec_id, i - 1 AS dim, (i - 1) // 16 AS subsp,
       |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT)
       |      AS u
       |  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) ix),
       |seeds AS (
       |  SELECT vec_id, subsp,
       |    CAST(sum(CASE WHEN u >= 0 THEN
       |      (CAST(1 AS BIGINT) << CAST(dim % 16 AS INTEGER))
       |      ELSE 0 END) AS BIGINT) AS seed
       |  FROM dims WHERE dim % 16 < 8 GROUP BY 1, 2),
       |cw AS (
       |  SELECT s.seed, d.subsp, d.dim, CAST(sum(d.u) AS BIGINT) AS csum
       |  FROM dims d JOIN seeds s
       |    ON d.vec_id = s.vec_id AND d.subsp = s.subsp
       |  GROUP BY 1, 2, 3),
       |cn AS (SELECT seed, subsp, count(*) AS n FROM seeds GROUP BY 1, 2),
       |cwb AS (
       |  SELECT cw.seed, cw.subsp, cw.dim,
       |    CAST(cw.csum AS DOUBLE) / CAST(cn.n AS DOUBLE) AS cbar
       |  FROM cw JOIN cn ON cw.seed = cn.seed AND cw.subsp = cn.subsp),
       |rmeta AS (
       |  SELECT seed, subsp, ${fixedSum16(d => s"(c$d * c$d)")} AS rpart
       |  FROM (
       |    SELECT seed, subsp,
       |    ${(0 until 16).map(d =>
            s"min(CASE WHEN dim % 16 = $d THEN cbar END) AS c$d")
            .mkString(",\n       |    ")}
       |    FROM cwb GROUP BY 1, 2)),
       |dots AS (
       |  SELECT vec_id, subsp, seed, ${fixedSum16(d => s"t$d")} AS dpart
       |  FROM (
       |    SELECT d.vec_id, d.subsp, c.seed,
       |    ${(0 until 16).map(d =>
            s"min(CASE WHEN d.dim % 16 = $d THEN CAST(d.u AS DOUBLE)" +
              s" * c.cbar END) AS t$d").mkString(",\n       |    ")}
       |    FROM dims d JOIN cwb c ON d.dim = c.dim AND d.subsp = c.subsp
       |    WHERE d.vec_id % 4 <> 0 OR d.vec_id < $PqSampleCap
       |    GROUP BY 1, 2, 3)),
       |scored AS (
       |  SELECT o.vec_id, o.subsp, o.seed, o.dpart, m.rpart,
       |    m.rpart - (o.dpart * 2) AS score
       |  FROM dots o JOIN rmeta m
       |    ON o.seed = m.seed AND o.subsp = m.subsp),
       |codes AS (
       |  SELECT vec_id, subsp, seed AS code FROM (
       |    SELECT vec_id, subsp, seed,
       |      row_number() OVER (PARTITION BY vec_id, subsp
       |        ORDER BY score ASC, seed ASC) AS rn
       |    FROM scored) WHERE rn = 1 AND vec_id % 4 <> 0),
       |lparts AS (
       |  SELECT vec_id AS id_n, subsp, seed AS code, dpart, rpart
       |  FROM scored WHERE vec_id % 4 = 0),
       |flagged AS (
       |  SELECT id_n, id_s,
       |    (round((((d0 + d1) + d2) + d3) /
       |      (nn * 1000000.0 * sqrt((((r0 + r1) + r2) + r3))), 6)
       |      >= 0.05) AS adc_pass,
       |    (cs >= 0.3) AS exact_pass
       |  FROM (
       |    SELECT cd.id_n, cd.id_s, min(cd.cs) AS cs, min(cd.nn) AS nn,
       |      min(CASE WHEN k.subsp = 0 THEN lp.dpart END) AS d0,
       |      min(CASE WHEN k.subsp = 1 THEN lp.dpart END) AS d1,
       |      min(CASE WHEN k.subsp = 2 THEN lp.dpart END) AS d2,
       |      min(CASE WHEN k.subsp = 3 THEN lp.dpart END) AS d3,
       |      min(CASE WHEN k.subsp = 0 THEN lp.rpart END) AS r0,
       |      min(CASE WHEN k.subsp = 1 THEN lp.rpart END) AS r1,
       |      min(CASE WHEN k.subsp = 2 THEN lp.rpart END) AS r2,
       |      min(CASE WHEN k.subsp = 3 THEN lp.rpart END) AS r3
       |    FROM cand cd
       |    JOIN codes k ON k.vec_id = cd.id_s
       |    JOIN lparts lp ON lp.id_n = cd.id_n AND lp.subsp = k.subsp
       |      AND lp.code = k.code
       |    GROUP BY 1, 2)),
       |pv AS (
       |  SELECT id_n, CAST(count(*) AS BIGINT) AS n_cand,
       |    CAST(sum(CASE WHEN adc_pass THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_adc,
       |    CAST(sum(CASE WHEN exact_pass THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_true,
       |    CAST(sum(CASE WHEN adc_pass AND exact_pass THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_conf
       |  FROM flagged GROUP BY 1),
       |base AS (
       |  SELECT e.label,
       |    coalesce(p.n_cand, 0) AS n_cand,
       |    coalesce(p.n_adc, 0) AS n_adc,
       |    coalesce(p.n_true, 0) AS n_true,
       |    coalesce(p.n_conf, 0) AS n_conf
       |  FROM embeddings e LEFT JOIN pv p ON p.id_n = e.vec_id
       |  WHERE e.vec_id % 4 = 0 AND e.vec_id < $PqSampleCap)
       |SELECT label, CAST(count(*) AS BIGINT) AS n_inc,
       |  CAST(sum(n_cand) AS BIGINT) AS n_cand_pairs,
       |  CAST(sum(n_adc) AS BIGINT) AS n_adc_pairs,
       |  CAST(sum(n_true) AS BIGINT) AS n_true_pairs,
       |  CAST(sum(n_conf) AS BIGINT) AS n_confirmed_pairs,
       |  CAST(sum(n_true) - sum(n_conf) AS BIGINT) AS n_missed_pairs,
       |  CASE WHEN sum(n_cand) = 0 THEN CAST(0 AS BIGINT)
       |    ELSE (10000 * CAST(sum(n_adc) AS BIGINT))
       |      // CAST(sum(n_cand) AS BIGINT) END AS adc_keep_bp,
       |  CASE WHEN sum(n_true) = 0 THEN CAST(10000 AS BIGINT)
       |    ELSE (10000 * CAST(sum(n_conf) AS BIGINT))
       |      // CAST(sum(n_true) AS BIGINT) END AS prefilter_recall_bp,
       |  CAST(sum(CASE WHEN n_conf = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_admit_pq,
       |  CAST(sum(CASE WHEN n_true = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_admit_true,
       |  CAST(sum(CASE WHEN n_conf = 0 THEN 1 ELSE 0 END)
       |    - sum(CASE WHEN n_true = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_verdict_flips
       |FROM base GROUP BY 1""".stripMargin

  /** q179: grid STALENESS — the rebuild-trigger measurement that closes
    * the delta-index lifecycle (build → admit/append → **when to cut the
    * next snapshot** → rebuild). [[graft.operators.DeltaSemDedupIndex]]
    * deliberately fixes the deployed grid at build time (appends must
    * not shift the cell space under the snapshot), so as appends grow
    * the corpus the occupancy rule (≈[[SigOcc]] vectors/cell) drifts:
    * one doubling doubles mean occupancy, and candidate-pair work —
    * Σ occ² over cells — doubles PER VECTOR. This query pins that
    * drift: the SAME corpus is assigned under three deployed grids —
    * `fresh` (sized for n, the rule), `stale2` (sized for n/2: one
    * doubling of appends ago), `stale4` (two doublings) — and reports
    * per scenario the occupancy distribution and the per-vector pair
    * work, all integer-exact. The trigger rule it documents: cut a new
    * snapshot when avg occupancy exceeds 2·[[SigOcc]] (pairwork/vec
    * has doubled); beyond 4· the blocking degrades toward q151's
    * fixed-grid pathology (measured exponent 1.6).
    *
    * Scale shape: ONE corpus scan computes signatures (the 1,024
    * integer adds/vector, codegen'd); the three scenario grids are a
    * 3-row broadcast; everything after is a (scenario, cell) count
    * aggregate — map-side combinable, no joins, no embeddings moved. */
  private def q179(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val nrow = emb.agg(count(lit(1)).as("n_total"))
    val sigs = emb
      .withColumn("u", expr("opt_barrier(transform(embedding, " +
        "x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0D) AS BIGINT)))"))
      .withColumn("sig", expr("sign_lsh_sig(u)"))
      .select(col("vec_id"), col("sig"))
    // the scalar corpus count broadcasts (1 row — the plan-guard
    // discipline); the 3 scenario grids expand per signature row
    sigs.crossJoin(broadcast(nrow))
      .select(col("sig"), explode(array(
        struct(lit("fresh").as("scenario"), col("n_total").as("n_for")),
        struct(lit("stale2").as("scenario"),
          expr("(n_total + 1) div 2").as("n_for")),
        struct(lit("stale4").as("scenario"),
          expr("(n_total + 3) div 4").as("n_for")))).as("sc"))
      .select(col("sig"), col("sc.scenario").as("scenario"),
        pow2bCol(col("sc.n_for")).as("n_cells_cap"),
        bitsCol(col("sc.n_for")).as("nbits"))
      .withColumn("cell", col("sig") % col("n_cells_cap"))
      .groupBy(col("scenario"), col("n_cells_cap"), col("nbits"),
        col("cell"))
      .agg(count(lit(1)).as("occ"))
      .groupBy(col("scenario"), col("n_cells_cap"), col("nbits"))
      .agg(sum(col("occ")).as("n_vecs"),
        count(lit(1)).as("n_occupied_cells"),
        max(col("occ")).as("max_cell_occ"),
        sum(col("occ") * col("occ")).as("sum_occ_sq"))
      .select(col("scenario"), col("nbits"), col("n_cells_cap"),
        col("n_vecs"), col("n_occupied_cells"), col("max_cell_occ"),
        expr("(100L * n_vecs) div n_occupied_cells").as("avg_occ_x100"),
        col("sum_occ_sq"),
        expr("(100L * sum_occ_sq) div n_vecs").as("pairwork_per_vec_x100"))
  }

  private val q179Sql =
    s"""WITH nt AS (SELECT count(*) AS n_total FROM embeddings),
       |scen AS (
       |  SELECT 'fresh' AS scenario, n_total AS n FROM nt
       |  UNION ALL SELECT 'stale2', (n_total + 1) // 2 FROM nt
       |  UNION ALL SELECT 'stale4', (n_total + 3) // 4 FROM nt),
       |grids AS (
       |  SELECT scenario, $pow2bSqlCase AS n_cells_cap,
       |    $bitsSqlCase AS nbits
       |  FROM scen),
       |uu AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS u
       |  FROM embeddings),
       |sigs AS (
       |  SELECT vec_id, ${sigTerms(i => s"u[${i + 1}]")} AS sig
       |  FROM uu),
       |occ AS (
       |  SELECT g.scenario, g.n_cells_cap, g.nbits,
       |    s.sig % g.n_cells_cap AS cell, count(*) AS occ
       |  FROM sigs s CROSS JOIN grids g
       |  GROUP BY 1, 2, 3, 4)
       |SELECT scenario, nbits, n_cells_cap,
       |  CAST(sum(occ) AS BIGINT) AS n_vecs,
       |  CAST(count(*) AS BIGINT) AS n_occupied_cells,
       |  CAST(max(occ) AS BIGINT) AS max_cell_occ,
       |  (100 * CAST(sum(occ) AS BIGINT))
       |    // CAST(count(*) AS BIGINT) AS avg_occ_x100,
       |  CAST(sum(occ * occ) AS BIGINT) AS sum_occ_sq,
       |  (100 * CAST(sum(occ * occ) AS BIGINT))
       |    // CAST(sum(occ) AS BIGINT) AS pairwork_per_vec_x100
       |FROM occ
       |GROUP BY 1, 2, 3""".stripMargin

  /** q197: ANN RETRAIN recall recovery — the measured before/after of
    * the IVF lifecycle act behind `retrain_due` (VERDICT r14 #3; the
    * operator form is [[graft.operators.AnnIvfIndex.retrain]], whose
    * spec pins parity with this query's math). The drift scenario is
    * the one appends actually produce: the index was BUILT over the
    * true label assignment (so the DEPLOYED centroids are the true
    * cluster means — append never moves centroids), then half the
    * corpus (vec_id % 2 = 0) landed in the WRONG cell ((label+1) mod
    * k). Search pays for that in MEMBERSHIP, not probe ranking: an
    * nprobe=1 query ranks cells by the (correct) centroids, scans the
    * right bucket, and finds only the undrifted half of its true
    * neighbors.
    *
    * Retrain = two UNROLLED Lloyd rounds from the deployed centroids
    * (reassign to nearest centroid — the same max-cosine rule append
    * admits with, the [[graft.expressions.NearestCentroid]] kernel —
    * then recompute exact-integer centroids), the identical CTE chain
    * on the oracle (the q162 discipline). Round 2's move count rides
    * along as the retrained row's `n_changed` — the measured residual
    * (convergence-to-maxRounds is the OPERATOR's job; the query pins a
    * fixed-2-round retrain so both engines compute the identical
    * state).
    *
    * Three states, one row each: 'undrifted' (deployed centroids,
    * clean membership — the pre-drift baseline), 'drifted', and
    * 'retrained'. Each: nprobe=1 IVF recall@3 in basis points against
    * the brute-force ground truth over a fixed deterministic query
    * workload (the first 50 vec_ids — FIXED, the q175 sampling
    * contract: the all-pairs ground truth exists only inside a
    * size-capped sample, so its nested loop is bounded at any corpus
    * size), plus n_changed (drifted: injected wrong-cell count;
    * retrained: residual round-2 moves). On this corpus the labels
    * carry almost no cosine structure (in-label mean cosine ≈
    * cross-label — near-random 64-dim vectors), so the label-cell
    * baseline is weak to begin with; the three rows still read
    * degrade-then-recover (measured sf0.01: 1400 bp undrifted → 800
    * drifted → 2800 retrained — the retrain additionally EXCEEDS the
    * baseline because Lloyd builds cosine-coherent cells where the
    * labels never were). Either way the retrained row must dominate
    * the drifted row, which is the lifecycle claim under test.
    *
    * All centroid/score math is q110/q125's exact-integer micro-unit
    * form; `cbarq = csum div n` is [[graft.operators.AnnIvfIndex]]'s
    * occupancy-bounded mean (truncation toward zero on both engines),
    * so probe products stay ≤ dims·10¹² at any cell size.
    *
    * BOUNDED frames: only the three centroid frames c0/c1/c2 (k·dims
    * rows each — the quantizer artifact AnnIvfIndex keeps at any
    * corpus size) are collected, and they re-enter as the kernel's
    * literal matrix. Every membership (a0, a1, a2) and both probe
    * cells are kernel COLUMNS of one base frame (one row per vector),
    * so construction is three (cell, dim) aggregations and nothing
    * else; recall, the query count and both move counts are one
    * aggregate in one execution pass.
    *
    * Scale shape: each Lloyd round is one narrow kernel pass over the
    * corpus (k·dims multiply-adds per vector) plus one (cell, dim)
    * partial-aggregated shuffle of k·dims groups — Lloyd's cost,
    * nothing quadratic; the ground-truth brute force is |Q|·n pairs
    * with |Q| fixed at 50 (the q80/q175 measurement pattern: the
    * RECALL PROBE pays brute force so serving never has to). */
  private def q197(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    // one row per vector: the true cell and the micro-unit vector
    val base = emb.select(col("vec_id"), col("embedding"),
      col("label").cast("long").as("tcell"),
      microUnits(col("embedding")).as("u"))

    // Centroid matrix of the assignment `cell`, COLLECTED: one
    // aggregation, k·dims rows. Each vector contributes exactly one row
    // per dim, so count(1) per (cell, dim) IS the cell occupancy; cnormsq
    // folds on the driver over the collected rows.
    def centOf(cell: Column): NearestCentroid.Centroids =
      NearestCentroid.collect(base
        .select(cell.as("cell"), posexplode(col("u")).as(Seq("dim", "u")))
        .groupBy(col("cell"), col("dim"))
        .agg(sum(col("u")).as("csum"), count(lit(1)).as("n"))
        .select(col("cell"), col("dim"), expr("csum div n").as("cbarq")))
    def nearest(c: NearestCentroid.Centroids): Column =
      NearestCentroid.assign(col("u"), c)

    val c0 = centOf(col("tcell")) // deployed quantizer: true cluster means
    val k = c0.cells.max + 1L
    val a0 = when(col("vec_id") % 2 === 0, (col("tcell") + 1L) % k)
      .otherwise(col("tcell")) // the drifted membership
    val a1 = nearest(c0) // Lloyd round 1
    val c1 = centOf(a1)
    val a2 = nearest(c1) // round 2 (expected: few moves)
    val c2 = centOf(a2)

    // Recall identity: with (cos_sim desc, c_id asc) a strict order, an
    // nprobe=1 IVF's top 3 ∩ the brute-force top 3 is EXACTLY the set of
    // brute-force top-3 neighbours whose cell under that state equals
    // the query's probe cell — a neighbour ranked ≤ 3 over all
    // candidates has at most 2 candidates ahead of it in any subset.
    // So all three states' hits are flag counts over the ground truth.
    val withNrm = base.withColumn("nrm", norm(col("embedding")))
    val queries = withNrm.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), a1.as("p_deployed"),
        nearest(c2).as("p_retrained"))
    val cands = withNrm.select(col("vec_id").as("c_id"),
      col("embedding").as("c_emb"), col("nrm").as("c_nrm"),
      col("tcell").as("m_undrifted"), a0.as("m_drifted"),
      a2.as("m_retrained"))
    val top3 = cands.crossJoin(broadcast(queries))
      .filter(col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        round(expr("float_vector_dot(q_emb, c_emb)") /
          (col("q_nrm") * col("c_nrm")), 6).as("cos_sim"),
        (col("m_undrifted") === col("p_deployed")).as("in_undrifted"),
        (col("m_drifted") === col("p_deployed")).as("in_drifted"),
        (col("m_retrained") === col("p_retrained")).as("in_retrained"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc, col("c_id").asc)))
      .filter(col("rk") <= 3)
    // ONE aggregate counts every figure: the ground-truth rows carry the
    // hit flags (rk = 1 once per query), the base rows the move flags
    val flags = top3
      .select((col("rk") === 1).as("is_query"), lit(true).as("is_gt"),
        col("in_undrifted"), col("in_drifted"), col("in_retrained"))
      .unionByName(base.select((a0 =!= col("tcell")).as("mv_drifted"),
        (a2 =!= a1).as("mv_retrained")), allowMissingColumns = true)
    def state(name: String, changed: Column): Column =
      struct(lit(name).as("state"), col(s"h_$name").as("n_hits"),
        changed.as("n_changed"))
    flags
      .agg(count_if(col("is_query")).as("n_queries"),
        count_if(col("is_gt")).as("n_gt"),
        count_if(col("in_undrifted")).as("h_undrifted"),
        count_if(col("in_drifted")).as("h_drifted"),
        count_if(col("in_retrained")).as("h_retrained"),
        count_if(col("mv_drifted")).as("chg_drifted"),
        count_if(col("mv_retrained")).as("chg_retrained"))
      .select(col("n_queries"), col("n_gt"), explode(array(
        state("undrifted", lit(0L)),
        state("drifted", col("chg_drifted")),
        state("retrained", col("chg_retrained")))).as("r"))
      .select(col("r.state").as("state"), col("n_queries"),
        col("r.n_hits").as("n_hits"),
        expr("(10000L * r.n_hits) div n_gt").as("recall_bp"),
        col("r.n_changed").as("n_changed"))
  }

  /** SQL twins of q197's centroid / assignment stages — generated from
    * one template each so the unrolled Lloyd rounds cannot drift from
    * each other (the bpeSqlChain discipline). */
  private def centSqlOf(name: String, assign: String): String =
    s"""${name}s AS (
       |  SELECT a.cell, d.dim, CAST(sum(d.u) AS BIGINT) AS csum
       |  FROM dims d JOIN $assign a USING (vec_id) GROUP BY 1, 2),
       |${name}n AS (
       |  SELECT cell, CAST(count(*) AS BIGINT) AS n FROM $assign
       |  GROUP BY 1),
       |${name}b AS (
       |  SELECT cell, dim, csum // n AS cbarq
       |  FROM ${name}s JOIN ${name}n USING (cell)),
       |$name AS (
       |  SELECT b.cell, b.dim, b.cbarq, m.cnormsq
       |  FROM ${name}b b JOIN (
       |    SELECT cell, CAST(sum(cbarq * cbarq) AS BIGINT) AS cnormsq
       |    FROM ${name}b GROUP BY 1) m USING (cell))"""

  private def assignSqlOf(name: String, src: String, cent: String): String =
    s"""${name}d AS (
       |  SELECT d.vec_id, c.cell, CAST(sum(d.u * c.cbarq) AS BIGINT)
       |    AS dotnum
       |  FROM $src d JOIN $cent c USING (dim) GROUP BY 1, 2),
       |$name AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT x.vec_id, x.cell, row_number() OVER (
       |      PARTITION BY x.vec_id ORDER BY
       |        CAST(x.dotnum AS DOUBLE)
       |          / sqrt(CAST(greatest(cn.cnormsq, 1) AS DOUBLE)) DESC,
       |        x.cell ASC) AS rn
       |    FROM ${name}d x
       |    JOIN (SELECT DISTINCT cell, cnormsq FROM $cent) cn
       |      USING (cell))
       |  WHERE rn = 1)"""

  private def recallSqlOf(state: String, cent: String,
      assign: String, changed: String): String =
    s"""SELECT '$state' AS state,
       |  (SELECT CAST(count(DISTINCT q_id) AS BIGINT) FROM gt)
       |    AS n_queries,
       |  (SELECT CAST(count(*) AS BIGINT)
       |   FROM ivf_$state i JOIN gt USING (q_id, c_id)) AS n_hits,
       |  (10000 * (SELECT CAST(count(*) AS BIGINT)
       |            FROM ivf_$state i JOIN gt USING (q_id, c_id)))
       |    // (SELECT CAST(count(*) AS BIGINT) FROM gt) AS recall_bp,
       |  ($changed) AS n_changed"""

  private def ivfSqlOf(state: String, probes: String,
      assign: String): String =
    s"""ivf_$state AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT p.vec_id AS q_id, m.vec_id AS c_id,
       |      round(${cosineSql("q.embedding", "c.embedding")}, 6)
       |        AS cos_sim,
       |      row_number() OVER (PARTITION BY p.vec_id ORDER BY
       |        round(${cosineSql("q.embedding", "c.embedding")}, 6) DESC,
       |        m.vec_id ASC) AS rk
       |    FROM $probes p
       |    JOIN $assign m ON m.cell = p.cell AND m.vec_id <> p.vec_id
       |    JOIN embeddings q ON q.vec_id = p.vec_id
       |    JOIN embeddings c ON c.vec_id = m.vec_id)
       |  WHERE rk <= 3)"""

  private val q197Sql =
    s"""WITH dims AS (
       |  SELECT vec_id, i - 1 AS dim,
       |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT)
       |      AS u
       |  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) ix),
       |nlab AS (
       |  SELECT CAST(max(label) + 1 AS BIGINT) AS k FROM embeddings),
       |atrue AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS cell FROM embeddings),
       |a0 AS (
       |  SELECT vec_id, CASE WHEN vec_id % 2 = 0
       |    THEN (CAST(label AS BIGINT) + 1) % k
       |    ELSE CAST(label AS BIGINT) END AS cell
       |  FROM embeddings, nlab),
       |${centSqlOf("c0", "atrue")},
       |${assignSqlOf("a1", "dims", "c0")},
       |${centSqlOf("c1", "a1")},
       |${assignSqlOf("a2", "dims", "c1")},
       |${centSqlOf("c2", "a2")},
       |qset AS (SELECT vec_id FROM embeddings WHERE vec_id < 50),
       |gt AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |      round(${cosineSql("q.embedding", "c.embedding")}, 6)
       |        AS cos_sim,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        round(${cosineSql("q.embedding", "c.embedding")}, 6) DESC,
       |        c.vec_id ASC) AS rk
       |    FROM embeddings q JOIN qset ON qset.vec_id = q.vec_id
       |    JOIN embeddings c ON c.vec_id <> q.vec_id)
       |  WHERE rk <= 3),
       |qdims AS (SELECT d.* FROM dims d JOIN qset USING (vec_id)),
       |${assignSqlOf("pd", "qdims", "c0")},
       |${assignSqlOf("pr", "qdims", "c2")},
       |${ivfSqlOf("undrifted", "pd", "atrue")},
       |${ivfSqlOf("drifted", "pd", "a0")},
       |${ivfSqlOf("retrained", "pr", "a2")}
       |${recallSqlOf("undrifted", "c0", "atrue", "SELECT CAST(0 AS BIGINT)")}
       |UNION ALL
       |${recallSqlOf("drifted", "c0", "a0",
        "SELECT CAST(count(*) AS BIGINT) FROM a0 JOIN atrue t " +
          "USING (vec_id) WHERE a0.cell <> t.cell")}
       |UNION ALL
       |${recallSqlOf("retrained", "c2", "a2",
        "SELECT CAST(count(*) AS BIGINT) FROM a2 JOIN a1 " +
          "USING (vec_id) WHERE a2.cell <> a1.cell")}""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q197_ann_retrain_recall", q197, Some(q197Sql)),
    QueryDef("q179_grid_staleness", q179, Some(q179Sql)),
    QueryDef("q178_pq_delta_semdedup", q178, Some(q178Sql)),
    QueryDef("q176_delta_semdedup", q176, Some(q176Sql)),
    QueryDef("q175_cellgrid_recall", q175, Some(q175Sql)),
    QueryDef("q172_cellscaled_semdedup", q172, Some(q172Sql)),
    QueryDef("q151_semantic_dedup", q151, Some(q151Sql)),
    QueryDef("q148_ivfpq_rerank", q148, Some(q148Sql)),
    QueryDef("q130_ivfpq_search", q130, Some(q130Sql)),
    QueryDef("q127_pq_adc_search", q127, Some(q127Sql)),
    QueryDef("q126_pq_encode", q126, Some(q126Sql)),
    QueryDef("q125_kmeans_lloyd_step", q125, Some(q125Sql)),
    QueryDef("q110_ivf_multiprobe", q110, Some(q110Sql)),
    QueryDef("q62_embedding_near_dup", q62, Some(q62Sql)),
    QueryDef("q80_ann_recall", q80, Some(q80Sql)),
    QueryDef("q32_knn_bruteforce", q32,
      Some(topKSql(scoredSql(sameLabel = false), 5))),
    QueryDef("q33_ann_ivf_label", q33,
      Some(topKSql(scoredSql(sameLabel = true), 3))),
    QueryDef("q34_embedding_stats", q34, Some(q34Sql)),
    QueryDef("q53_int8_quantization", q53, Some(q53Sql)))
}
