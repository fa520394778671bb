package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.VectorQueries
import graft.expressions.Registration

/** The PRODUCTION shape of q176's delta SEMANTIC dedup — the embedding
  * analog of [[DeltaDedupIndex]]: the corpus snapshot's sign-LSH cell
  * assignment is a MATERIALIZED index, bucketed by `cell`, so a
  * refresh batch pays only its own signature pass plus a join in which
  * the snapshot side is a pre-bucketed scan with NO exchange. q176
  * derives the snapshot's cells per query (both sides from one scan);
  * this operator is what a real pipeline runs, and
  * DeltaSemDedupIndexSpec proves both halves: verdict-for-verdict
  * parity with q176 and the shuffle-free snapshot side in the physical
  * plan.
  *
  * The DEPLOYED GRID is fixed at build time: the cell depth (q172's
  * 64·2^b ≥ n occupancy rule) is computed once from the corpus size
  * and stored in every index row (`nbits` — one tiny column), so
  * `admit`/`append` recover the grid from the index itself with a
  * 1-row broadcast aggregate, never a corpus re-count. Incoming
  * vectors multiprobe (q172's ≤2-bit flip rings) on THEIR side only;
  * the snapshot stays single-cell, so it never pairs with itself and
  * never probe-expands.
  *
  * At 100 TB: the index is written once per snapshot (1 row/vector:
  * id, embedding, norm, cell), refresh batches are cycle-bounded, and
  * the only per-refresh snapshot cost is the bucket-pruned scan the
  * join performs — corpus embeddings are never re-signatured and
  * never shuffled at admit time. Between snapshot cuts [[append]]
  * advances the index without a rebuild, writing admitted vectors'
  * cell rows into the same bucket layout under the SAME deployed grid
  * (the grid is part of the snapshot's identity; it only changes at
  * the next build).
  */
object DeltaSemDedupIndex {

  /** Bucket sizing rule: one index row per vector (~300 B: 64-float
    * embedding + norm + cell), so target ≤ ~2²⁰ rows (≈ 300 MB) per
    * bucket, floor 8, rounded up to a power of two. */
  private[graft] def bucketsFor(snapshotVecs: Long): Int =
    BucketedSnapshot.bucketsFor(snapshotVecs, 1L << 20)

  /** The deployed grid, recovered from the index itself: a 1-row
    * (n_cells_cap, nbits) frame (broadcast at use sites). Stored
    * nbits is constant across rows by construction; max() is just the
    * aggregate that says so. */
  private[operators] def deployedGrid(s: SparkSession, table: String): DataFrame =
    s.table(table).agg(max(col("nbits")).as("nbits"))
      .select(expr("cast(shiftleft(cast(1 as bigint), nbits) as bigint)")
        .as("n_cells_cap"), col("nbits"))

  /** Cell rows of `vecs` (`vec_id`, `embedding`, + passthrough
    * `label` for the verdict frame) under the grid `capRow`. */
  private[operators] def cellRows(vecs: DataFrame, capRow: DataFrame): DataFrame = {
    val withLabel =
      if (vecs.columns.contains("label")) vecs
      else vecs.withColumn("label", lit(0))
    VectorQueries.withCells(withLabel, capRow)
  }

  /** Write the snapshot's cell index as a bucketed table. `vecs` must
    * have `vec_id` and `embedding` (`label` optional). `gridN` fixes
    * the deployed grid's corpus size — pass the corpus row count the
    * grid should be sized for; ≤ 0 (the default) sizes it from
    * `vecs.count()` (also the bucket-count input, so an explicit
    * `gridN` saves the sizing count job). */
  def build(vecs: DataFrame, table: String, gridN: Long = 0,
      buckets: Int = 0): Unit = {
    val s = vecs.sparkSession
    Registration.install(s)
    val n = if (gridN > 0) gridN else vecs.count()
    val nb = if (buckets > 0) buckets else bucketsFor(n)
    BucketedSnapshot.write(cellRows(vecs, VectorQueries.gridCapRowFor(s, n))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"),
        col("nbits")), table, nb, "cell")
  }

  /** Advance the snapshot WITHOUT a rebuild: append `admittedVecs`'
    * (`vec_id`, `embedding`) cell rows under the DEPLOYED grid (read
    * from the index — never re-derived from counts, or the cell
    * space would silently shift under the snapshot). Callers append
    * only vectors [[admit]] ADMITTED. */
  def append(admittedVecs: DataFrame, table: String): Unit = {
    val s = admittedVecs.sparkSession
    Registration.install(s)
    BucketedSnapshot.append(cellRows(admittedVecs, deployedGrid(s, table))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"),
        col("nbits")), table, "cell")
  }

  /** Occupancy audit under the DEPLOYED grid — the operator form of
    * q179's rebuild trigger, run against the live index instead of a
    * re-signatured corpus (one scan of the index's `cell` column; no
    * embeddings touched). Returns ONE row: vector/cell counts, max
    * and average occupancy, the per-vector candidate pair work
    * (Σ occ²/n — what admit actually pays per incoming probe), and
    * `rebuild_due`: true once the corpus has outgrown the deployed
    * grid by 2× the [[VectorQueries.SigOcc]] occupancy target (q179's
    * measured drift: each doubling past the rule doubles pair work
    * per vector — cut the next snapshot at 2×, before the 4× point
    * where blocking degrades toward the fixed-grid pathology). */
  def occupancy(s: SparkSession, table: String): DataFrame = {
    val occ = s.table(table).groupBy(col("cell"))
      .agg(count(lit(1)).as("occ"))
      .agg(sum(col("occ")).as("n_vecs"),
        count(lit(1)).as("n_occupied_cells"),
        max(col("occ")).as("max_cell_occ"),
        sum(col("occ") * col("occ")).as("sum_occ_sq"))
    occ.crossJoin(broadcast(deployedGrid(s, table)))
      .select(coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
        col("n_occupied_cells"),
        coalesce(col("max_cell_occ"), lit(0L)).as("max_cell_occ"),
        // empty index → explicit zeros, never NULL metrics a caller's
        // getAs silently unboxes to a healthy-looking 0/false
        expr("CASE WHEN n_occupied_cells = 0 THEN 0L " +
          "ELSE (100L * n_vecs) div n_occupied_cells END")
          .as("avg_occ_x100"),
        expr("CASE WHEN coalesce(n_vecs, 0L) = 0 THEN 0L " +
          "ELSE (100L * sum_occ_sq) div n_vecs END")
          .as("pairwork_per_vec_x100"),
        col("n_cells_cap"), col("nbits"),
        (coalesce(col("n_vecs"), lit(0L))
          > lit(2L * VectorQueries.SigOcc) * col("n_cells_cap"))
          .as("rebuild_due"))
  }

  /** Admit an incoming batch (`vec_id`, `label`, `embedding`) against
    * the prebuilt index: q176's per-vector verdict frame (match
    * count, first (min-id) snapshot match, best cosine, admitted).
    *
    * Contract (q176's semantics — the [[DeltaDedupIndex.admit]]
    * contract in embedding space): `vec_id` unique within the batch;
    * the batch is checked against the SNAPSHOT ONLY, never against
    * itself — batch-local near-dups are a separate pre-pass (q172's).
    * That asymmetry is what keeps per-refresh cost ∝ |batch|. */
  def admit(newVecs: DataFrame, table: String,
      cosThreshold: Double = 0.3): DataFrame = {
    val s = newVecs.sparkSession
    Registration.install(s)
    val inc = cellRows(newVecs, deployedGrid(s, table))
      .withColumn("pcell", explode(expr(VectorQueries.multiprobeExpr)))
      .select(col("vec_id").as("id_n"), col("embedding").as("e_n"),
        col("nrm").as("nn"), col("pcell"))
    val snap = s.table(table)
      .select(col("vec_id").as("id_s"), col("embedding").as("e_s"),
        col("nrm").as("ns"), col("cell"))
    val verdict = snap.join(inc, col("pcell") === col("cell"))
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
