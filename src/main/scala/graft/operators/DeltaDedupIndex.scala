package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.queries.TextQueries
import graft.expressions.Registration

/** The PRODUCTION shape of q173's delta dedup: the corpus snapshot's
  * LSH band table is a MATERIALIZED index — built once when the
  * snapshot is cut, bucketed (and sorted) by the band key — so each
  * refresh batch pays only its own signature pass plus a join in which
  * the snapshot side is a pre-bucketed scan with NO exchange. q173
  * itself derives both sides from one scan (no persisted state between
  * oracle queries); this operator is the contract a real pipeline
  * runs, and DeltaDedupIndexSpec proves both halves: verdict-for-
  * verdict parity with q173 and the shuffle-free snapshot side in the
  * physical plan.
  *
  * The single join column `bkey = bidx·P + band` folds the (band
  * index, band value) pair into one long — band < P makes it
  * collision-free, and one key column is what lets `bucketBy` line up
  * with the join exactly. bidx rides along for the first-matching-band
  * rule (each qualifying pair verified exactly once, q29's rule).
  *
  * At 100 TB: the index is written once per snapshot (its size is
  * 2 rows/doc plus the hashed word sets), incoming batches are
  * refresh-cycle-bounded, and the only per-refresh snapshot cost is
  * the bucket-pruned scan the join performs — the corpus is never
  * re-signatured and never shuffled. Between snapshot cuts the index
  * ADVANCES WITHOUT A REBUILD: [[append]] writes an admitted batch's
  * band rows as new files in the same bucket layout (the rolling
  * XADD-style retention the reference's queue uses for its stream,
  * src/queue/redis_queue.py:124-130, applied to an index), so
  * build(S) followed by append(Δ) answers exactly like build(S ∪ Δ)
  * — DeltaDedupIndexSpec proves that equivalence verdict-for-verdict.
  */
object DeltaDedupIndex {

  /** Band rows of `docs` (`doc_id`, `text`) keyed by the folded
    * single-column join/bucket key. */
  private def bandRows(docs: DataFrame): DataFrame =
    TextQueries.lshBandRows(docs.select(col("doc_id"), col("text")))
      .withColumn("bkey",
        col("bidx").cast("long") * TextQueries.P + col("band"))
      .select(col("bkey"), col("bidx"), col("doc_id"), col("band1"),
        col("wset"), col("nw"))

  /** Bucket count sizing rule: the index holds 2 band rows per doc
    * (each carrying the doc's hashed word set, ~1 KB at typical doc
    * lengths), and a bucket should stay a few hundred MB so the
    * bucket-pruned scan claim holds at snapshot scale — so target
    * ≤ ~2¹⁸ band rows (≈ 256 MB) per bucket, floor 8, rounded up to a
    * power of two (bucket joins only line up when counts divide). */
  private[graft] def bucketsFor(snapshotDocs: Long): Int =
    BucketedSnapshot.bucketsFor(2L * snapshotDocs, 1L << 18)

  /** Write the snapshot's band index as a bucketed+sorted table.
    * `docs` must have `doc_id` and `text`. `buckets` ≤ 0 (the default)
    * derives the count from the snapshot row count via [[bucketsFor]]
    * — pass it explicitly only when the caller already knows the
    * corpus size (saves the sizing count job). */
  def build(docs: DataFrame, table: String, buckets: Int = 0): Unit = {
    Registration.install(docs.sparkSession)
    val nb = if (buckets > 0) buckets else bucketsFor(docs.count())
    BucketedSnapshot.write(bandRows(docs), table, nb, "bkey")
  }

  /** Advance the snapshot WITHOUT a rebuild: append `admittedDocs`'
    * (`doc_id`, `text`) band rows to the existing bucket layout
    * ([[BucketedSnapshot.append]]). Callers append only docs that
    * [[admit]] ADMITTED — appending a rejected near-dup would make the
    * snapshot self-contradictory. */
  def append(admittedDocs: DataFrame, table: String): Unit = {
    Registration.install(admittedDocs.sparkSession)
    BucketedSnapshot.append(bandRows(admittedDocs), table, "bkey")
  }

  /** Layout audit — the lifecycle counterpart of
    * [[DeltaSemDedupIndex.occupancy]] for the band index. Band dedup
    * has no occupancy drift (band keys spread as the corpus grows),
    * so its one signal is [[BucketedSnapshot.layoutAudit]]'s
    * rows-per-bucket growth against the [[bucketsFor]] constant. */
  def layoutAudit(s: SparkSession, table: String,
      targetRowsPerBucket: Long = 1L << 18): DataFrame =
    BucketedSnapshot.layoutAudit(s, table, "n_band_rows",
      targetRowsPerBucket)

  /** Admit an incoming batch (`doc_id`, `source`, `text`) against the
    * prebuilt index: q173's per-doc verdict frame (match count, first
    * snapshot match, best Jaccard, admitted).
    *
    * Contract (q173's semantics, stated here because production
    * callers compose this differently than the oracle query):
    *   - `newDocs.doc_id` must be unique WITHIN the batch — each
    *     verdict row is one left-join hit per incoming doc, so a
    *     duplicated id yields duplicated verdict rows;
    *   - the batch is checked against the SNAPSHOT ONLY, never
    *     against itself — two near-identical docs arriving in the
    *     same batch are both admitted (dedup-within-batch is a
    *     separate, batch-local pass, e.g. q150's, run before this
    *     gate). This is deliberate: it keeps the delta path free of
    *     any batch×batch pairing, which is what makes per-refresh
    *     cost ∝ |batch|. */
  def admit(newDocs: DataFrame, table: String): DataFrame = {
    val s = newDocs.sparkSession
    Registration.install(s)
    val inc = TextQueries.lshBandRows(
        newDocs.select(col("doc_id"), col("text")))
      .withColumn("bkey",
        col("bidx").cast("long") * TextQueries.P + col("band"))
      .select(col("bkey"), col("doc_id").as("doc_n"),
        col("band1").as("b1n"), col("wset").as("wn"), col("nw").as("nn"))
    val snap = s.table(table)
      .select(col("bkey"), col("bidx"), col("doc_id").as("doc_s"),
        col("band1").as("b1s"), col("wset").as("ws"), col("nw").as("ns"))
    val verdict = snap.join(inc, "bkey")
      .filter((col("bidx") === 1 || col("b1n") =!= col("b1s")) &&
        least(col("nn"), col("ns")) * 10 >=
          greatest(col("nn"), col("ns")) * 7)
      .withColumn("inter",
        expr("opt_barrier(sorted_long_intersect_count(wn, ws))"))
      .withColumn("jaccard", round(
        col("inter").cast("double") / (col("nn") + col("ns") - col("inter")),
        6))
      .filter(col("jaccard") >= 0.7)
      .groupBy(col("doc_n"))
      .agg(count(lit(1)).as("n_matches"),
        min(col("doc_s")).as("first_match"),
        max(col("jaccard")).as("max_jaccard"))
    newDocs.select(col("doc_id"), col("source"))
      .join(verdict.withColumnRenamed("doc_n", "doc_id"),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("first_match"), lit(-1L)).as("first_match"),
        coalesce(col("max_jaccard"), lit(0.0)).as("max_jaccard"),
        (coalesce(col("n_matches"), lit(0L)) === 0).as("admitted"))
  }
}
