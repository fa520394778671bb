package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.VectorQueries
import graft.expressions.Registration

/** The COMPRESSED production shape of delta semantic dedup — q178's
  * two-stage admit as a materialized index. [[DeltaSemDedupIndex]]
  * stores the full embedding per snapshot row (~300 B); this index
  * stores only (`vec_id`, `cell`, `nrm`, 4 PQ codes, `nbits`) — ~40 B
  * a row, and the 4 codes are what the verify pass actually scans —
  * plus a ≤256·4-codeword codebook table (`<table>_cb`, exact-integer
  * per-dim sums, broadcastable at any corpus size). An incoming batch:
  *
  *   1. signatures + ≤2-bit multiprobe on ITS side under the deployed
  *      grid (read from the index, the [[DeltaSemDedupIndex]] rule);
  *   2. joins the bucketed index on cell — the snapshot side is a
  *      pre-bucketed scan of code rows, NO exchange, NO embeddings;
  *   3. scores every candidate with the ADC approximate cosine from
  *      exact integer numerators (q178's fixed-order part sums) and
  *      keeps pairs above `adcFloor` (0.05 = verify threshold 0.3
  *      minus the measured reconstruction margin — q178 pins ~36%
  *      keep at 97.6-100% true-pair recall, zero verdict flips);
  *   4. fetches full embeddings for SURVIVORS ONLY — the incoming
  *      side carries its own, the snapshot side joins `corpus` by id
  *      (in production an id-bucketed store; survivors ≪ candidates)
  *      — and confirms with the exact cosine at `cosThreshold`.
  *
  * At 100 TB the step-2/3 scan cost is proportional to PROBED BUCKET
  * BYTES, which the PQ layout cuts ~7× vs the full-precision index;
  * step 4 touches a per-batch-bounded survivor set. The price is the
  * missed-pair channel the ADC margin leaves open — measured and
  * pinned by q178 (`n_missed_pairs`, `n_verdict_flips` = 0 at all
  * tested scales); PqSemDedupIndexSpec additionally pins
  * admitted-verdict parity with the full-precision
  * [[DeltaSemDedupIndex.admit]] on the test corpus and the
  * exchange-free snapshot side of the cell join. */
object PqSemDedupIndex {

  /** PQ rows are ~40 B (vs ~300 B full-precision), so ~2²³ rows
    * (~320 MB) per bucket. */
  private[graft] def bucketsFor(snapshotVecs: Long): Int =
    BucketedSnapshot.bucketsFor(snapshotVecs, 1L << 23)

  private def cbTable(table: String): String = table + "_cb"

  /** The persisted codebook split back into its two join shapes: the
    * per-dim rows with the derived centroid micro-units, and the
    * per-codeword reconstruction-norm numerators. Only the exact
    * integers (csum, n) are persisted — cbar/rpart re-derive
    * deterministically. */
  private def codebookOf(s: SparkSession, table: String)
      : (DataFrame, DataFrame) = {
    val cw = s.table(cbTable(table))
      .select(col("seed"), col("subsp"), col("dim"), col("csum"), col("n"))
      .withColumn("cbar",
        col("csum").cast("double") / col("n").cast("double"))
    (cw, VectorQueries.pqRmeta(cw))
  }

  /** The 4-element code array per vector: argmin codeword per
    * subspace (q126's encode, struct-min — no per-vector sort). */
  private def encode(dims: DataFrame, cw: DataFrame, rmeta: DataFrame)
      : DataFrame =
    VectorQueries.pqCodeScores(dims, cw, rmeta)
      .groupBy(col("vec_id"), col("subsp"))
      .agg(min(struct(col("score"), col("seed"))).as("best"))
      .groupBy(col("vec_id"))
      .agg(array(
        min(when(col("subsp") === 0, col("best.seed"))),
        min(when(col("subsp") === 1, col("best.seed"))),
        min(when(col("subsp") === 2, col("best.seed"))),
        min(when(col("subsp") === 3, col("best.seed")))).as("codes"))

  /** Build the compressed snapshot index: trains the orthant codebook
    * on the snapshot, encodes every vector, and writes (`vec_id`,
    * `cell`, `nrm`, `codes`, `nbits`) bucketed by cell plus the
    * codebook table. `gridN` as in [[DeltaSemDedupIndex.build]]. */
  def build(vecs: DataFrame, table: String, gridN: Long = 0,
      buckets: Int = 0): Unit = {
    val s = vecs.sparkSession
    Registration.install(s)
    val n = if (gridN > 0) gridN else vecs.count()
    val nb = if (buckets > 0) buckets else bucketsFor(n)
    val dims = VectorQueries.pqDims(vecs)
    val (cw, rmeta) = VectorQueries.pqOrthantCodebook(dims)
    cw.select(col("seed"), col("subsp"), col("dim"), col("csum"), col("n"))
      .write.mode("overwrite").saveAsTable(cbTable(table))
    val cells = DeltaSemDedupIndex
      .cellRows(vecs, VectorQueries.gridCapRowFor(s, n))
      .select(col("vec_id"), col("nrm"), col("cell"), col("nbits"))
    BucketedSnapshot.write(cells.join(encode(dims, cw, rmeta), "vec_id"),
      table, nb, "cell")
  }

  /** Advance the snapshot without a rebuild: encode `admittedVecs`
    * under the DEPLOYED codebook (codebooks, like the grid, are part
    * of the snapshot's identity — retraining is the next [[build]])
    * and append their code rows into the bucket layout. */
  def append(admittedVecs: DataFrame, table: String): Unit = {
    val s = admittedVecs.sparkSession
    Registration.install(s)
    val (cw, rmeta) = codebookOf(s, table)
    val cells = DeltaSemDedupIndex
      .cellRows(admittedVecs, DeltaSemDedupIndex.deployedGrid(s, table))
      .select(col("vec_id"), col("nrm"), col("cell"), col("nbits"))
    BucketedSnapshot.append(
      cells.join(encode(VectorQueries.pqDims(admittedVecs), cw, rmeta),
        "vec_id"), table, "cell")
  }

  /** Admit an incoming batch (`vec_id`, `label`, `embedding`) against
    * the compressed index: ADC screen over the bucketed code rows,
    * exact confirm on survivors against `corpus` (`vec_id`,
    * `embedding` — the full-precision store). Returns the
    * [[DeltaSemDedupIndex.admit]] verdict frame; `n_matches`/`max_cos`
    * count ADC-CONFIRMED matches (the measured miss channel is
    * q178's `n_missed_pairs`). Batch-vs-snapshot-only, unique
    * `vec_id` — the [[DeltaDedupIndex.admit]] contract. */
  def admit(newVecs: DataFrame, table: String, corpus: DataFrame,
      cosThreshold: Double = 0.3, adcFloor: Double = 0.05): DataFrame = {
    val s = newVecs.sparkSession
    Registration.install(s)
    val inc = DeltaSemDedupIndex
      .cellRows(newVecs, DeltaSemDedupIndex.deployedGrid(s, table))
      .withColumn("pcell", explode(expr(VectorQueries.multiprobeExpr)))
      .select(col("vec_id").as("id_n"), col("nrm").as("nn"), col("pcell"))
    val (cw, rmeta) = codebookOf(s, table)
    val lut = VectorQueries
      .pqCodeScores(VectorQueries.pqDims(newVecs), cw, rmeta)
      .select(col("vec_id").as("id_n"), col("subsp"),
        col("seed").as("code"), col("dpart"), col("rpart"))
    // cell join against the bucketed CODE rows — no embeddings move
    val snap = s.table(table)
      .select(col("vec_id").as("id_s"), col("nrm").as("ns"),
        col("cell").as("cell_s"), posexplode(col("codes"))
          .as(Seq("subsp", "code")))
    val survivors = snap.join(inc, col("pcell") === col("cell_s"))
      .join(lut, Seq("id_n", "subsp", "code"))
      .groupBy(col("id_n"), col("id_s"))
      .agg(min(col("nn")).as("nn"), min(col("ns")).as("ns"),
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
      .filter(col("acos") >= adcFloor)
      .select(col("id_n"), col("id_s"), col("nn"), col("ns"))
    // exact confirm: full embeddings for survivors only
    val verdict = survivors
      .join(newVecs.select(col("vec_id").as("id_n"),
        col("embedding").as("e_n")), "id_n")
      .join(corpus.select(col("vec_id").as("id_s"),
        col("embedding").as("e_s")), "id_s")
      .withColumn("cs", round(
        expr("float_vector_dot(e_n, e_s)") / (col("nn") * col("ns")), 6))
      .filter(col("cs") >= cosThreshold)
      .groupBy(col("id_n"))
      .agg(count(lit(1)).as("n_matches"),
        min(col("id_s")).as("first_match"),
        max(col("cs")).as("max_cos"))
    newVecs.select(col("vec_id"), col("label"))
      .join(verdict.withColumnRenamed("id_n", "vec_id"),
        Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("first_match"), lit(-1L)).as("first_match"),
        coalesce(col("max_cos"), lit(0.0)).as("max_cos"),
        (coalesce(col("n_matches"), lit(0L)) === 0).as("admitted"))
  }
}
