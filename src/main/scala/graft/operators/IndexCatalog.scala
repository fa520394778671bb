package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.streaming.StreamingIndexFreshness

/** UNIFIED index-catalog audit (VERDICT r14 #6): the seven
  * materialized-index families each expose their own lifecycle audit
  * (`layoutAudit` / `occupancy` / `balance` / `reconcile`), which
  * means the refresh runbook reads seven frames with seven schemas.
  * This operator emits ONE frame — a row per registered index —
  * normalized to what an operator actually scans for:
  *
  *   index, kind, n_rows, buckets, files, files_per_bucket_x100,
  *   signal (the kind's headline health metric, named),
  *   signal_value, action (what firing means), action_due
  *
  * `files_per_bucket_x100` is the RETENTION signal every bucketed
  * index shares: appends accumulate one file generation per batch, so
  * a growing files/bucket ratio is the "run
  * [[BucketedSnapshot.compact]]" trigger, read from the
  * table's file listing (driver-side metadata, not a scan).
  *
  * Kinds and their mapped audits:
  *   - `text`  → [[InvertedTextIndex.layoutAudit]] (hot_df_bp, rebucket)
  *   - `band`  → [[DeltaDedupIndex.layoutAudit]]   (rows/bucket, rebucket)
  *   - `cell`  → [[DeltaSemDedupIndex.occupancy]]  (avg occupancy, rebuild)
  *   - `pq`    → same occupancy over the code rows (shared grid layout)
  *   - `ann`   → [[AnnIvfIndex.balance]]           (imbalance, retrain)
  *   - `fuzzy` → [[FuzzyVocabIndex.layoutAudit]]   (keys/bucket, rebucket)
  *   - `phash` → [[PerceptualDedupIndex.layoutAudit]] (rows/bucket,
  *     rebucket — image/audio fingerprint block indexes)
  *   - `vclip` → [[VideoClipIndex.layoutAudit]]       (rows/bucket,
  *     rebucket — the inverted frame-hash clip-match index)
  *   - `selmodel` → [[SelectionModelIndex.layoutAudit]] (holdout-drift
  *     bp off the audit ledger, retrain)
  *   - `fresh` → [[StreamingIndexFreshness.reconcile]] (slice drift,
  *     repair — note repair() itself must run unconditionally in the
  *     cron audit; this row's flag locates WHICH window drifted)
  *
  * Scale shape: each row is the underlying audit's one aggregate over
  * its own index (never the corpus), unioned — the whole catalog is
  * |indexes| rows from |indexes| bounded subplans, plus one file
  * listing per table. RefreshMain and ServeMain emit it as their
  * `index_catalog` JSON field, so the runbook reads one table. */
object IndexCatalog {

  final case class Entry(table: String, kind: String)

  private def fileCount(s: SparkSession, table: String): Long =
    try s.table(table).inputFiles.length.toLong
    catch { case _: Throwable => -1L }

  /** One normalized audit row for `e` (see object doc). */
  private def rowFor(s: SparkSession, e: Entry): DataFrame = {
    // the physical table whose rows/files/buckets the row reports
    val physical = e.kind match {
      case "fuzzy" => e.table + "_keys"
      case "fresh" => StreamingIndexFreshness.ledgerTable(e.table)
      case _ => e.table
    }
    val (signal, action, audited) = e.kind match {
      case "text" =>
        ("hot_df_bp", "rebucket",
          InvertedTextIndex.layoutAudit(s, e.table)
            .select(col("n_postings").as("n_rows"),
              col("hot_df_bp").cast("long").as("signal_value"),
              col("rebucket_due").as("action_due")))
      case "band" =>
        ("rows_per_bucket", "rebucket",
          DeltaDedupIndex.layoutAudit(s, e.table)
            .select(col("n_band_rows").as("n_rows"),
              col("rows_per_bucket").cast("long").as("signal_value"),
              col("rebucket_due").as("action_due")))
      case "cell" | "pq" =>
        ("avg_occ_x100", "rebuild",
          DeltaSemDedupIndex.occupancy(s, e.table)
            .select(col("n_vecs").as("n_rows"),
              col("avg_occ_x100").cast("long").as("signal_value"),
              col("rebuild_due").as("action_due")))
      case "ann" =>
        ("imbalance_x100", "retrain",
          AnnIvfIndex.balance(s, e.table)
            .select(col("n_vecs").as("n_rows"),
              col("imbalance_x100").cast("long").as("signal_value"),
              col("retrain_due").as("action_due")))
      case "fuzzy" =>
        ("keys_per_bucket", "rebucket",
          FuzzyVocabIndex.layoutAudit(s, e.table)
            .select(col("n_keys").as("n_rows"),
              col("rows_per_bucket").cast("long").as("signal_value"),
              col("rebucket_due").as("action_due")))
      case "phash" =>
        ("rows_per_bucket", "rebucket",
          PerceptualDedupIndex.layoutAudit(s, e.table)
            .select(col("n_fp_rows").as("n_rows"),
              col("rows_per_bucket").cast("long").as("signal_value"),
              col("rebucket_due").as("action_due")))
      case "vclip" =>
        ("rows_per_bucket", "rebucket",
          VideoClipIndex.layoutAudit(s, e.table)
            .select(col("n_frame_rows").as("n_rows"),
              col("rows_per_bucket").cast("long").as("signal_value"),
              col("rebucket_due").as("action_due")))
      case "selmodel" =>
        ("drift_bp", "retrain",
          SelectionModelIndex.layoutAudit(s, e.table)
            .select(col("n_grams").as("n_rows"),
              col("drift_bp").cast("long").as("signal_value"),
              col("retrain_due").as("action_due")))
      case "fresh" =>
        ("slice_drift", "repair",
          StreamingIndexFreshness.reconcile(s, e.table)
            .select(col("n_applied").as("n_rows"),
              col("slice_drift").cast("long").as("signal_value"),
              col("repair_due").as("action_due")))
      case other =>
        throw new IllegalArgumentException(s"unknown index kind: $other")
    }
    val buckets =
      BucketedSnapshot.bucketCountOption(s, physical).getOrElse(0).toLong
    val files = fileCount(s, physical)
    audited.select(
      lit(e.table).as("index"), lit(e.kind).as("kind"),
      col("n_rows"), lit(buckets).as("buckets"), lit(files).as("files"),
      lit(if (buckets > 0 && files >= 0) 100L * files / buckets else -1L)
        .as("files_per_bucket_x100"),
      lit(signal).as("signal"), col("signal_value"),
      lit(action).as("action"), col("action_due"))
  }

  /** The catalog frame: one row per entry, normalized schema. */
  def audit(s: SparkSession, entries: Seq[Entry]): DataFrame =
    entries.map(rowFor(s, _)).reduce(_ unionAll _)

  /** JSON rendering for the mains' summary lines (one collected row
    * per entry). */
  def auditJson(s: SparkSession, entries: Seq[Entry]): String =
    Materialize.rows(audit(s, entries), "catalog.audit", entries.size).map { r =>
      s"""{"index":"${r.getAs[String]("index")}",""" +
        s""""kind":"${r.getAs[String]("kind")}",""" +
        s""""n_rows":${r.getAs[Long]("n_rows")},""" +
        s""""buckets":${r.getAs[Long]("buckets")},""" +
        s""""files":${r.getAs[Long]("files")},""" +
        s""""files_per_bucket_x100":${
          r.getAs[Long]("files_per_bucket_x100")},""" +
        s""""signal":"${r.getAs[String]("signal")}",""" +
        s""""signal_value":${r.getAs[Long]("signal_value")},""" +
        s""""action":"${r.getAs[String]("action")}",""" +
        s""""action_due":${r.getAs[Boolean]("action_due")}}"""
    }.mkString("[", ",", "]")
}
