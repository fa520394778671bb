package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.StreamingSelection
import graft.expressions.Registration

/** DEPLOYED-ARTIFACT lifecycle for the data-selection models (VERDICT
  * r15 #8): q200's quality classifier and q201's DSIR buckets were
  * trained per-query; this operator gives them the treatment the
  * ANN/PQ/grid families got — the trained model PERSISTS as tables,
  * scoring runs off the deployed artifact (never retraining), a
  * staleness audit measures holdout-agreement drift and flags the
  * retrain, and the whole lifecycle joins [[IndexCatalog]] as kind
  * `selmodel`.
  *
  * Tables:
  *   - `<t>`       — the NB model: (h, c_pos, c_neg) per training
  *     bigram hash, bucketed+sorted by h (bigram-vocabulary-sized,
  *     Heaps-bounded — the q161/q200 bounded-artifact argument);
  *   - `<t>_dsir`  — the DSIR model: (b, c_r, c_t) for EXACTLY 1024
  *     fixed buckets (the open-vocabulary-safe layout — broadcasts at
  *     any corpus scale);
  *   - `<t>_meta`  — an append-only ledger (the
  *     StreamingIndexFreshness precedent): one `train` row per
  *     [[build]] carrying the scoring scalars (class totals, vocab,
  *     DSIR totals) and the train-time HOLDOUT agreement baseline; one
  *     `audit` row per [[staleness]] call carrying the re-measured
  *     agreement — so the catalog's retrain signal reads off the
  *     ledger without touching any corpus.
  *
  * Scoring parity: [[score]] loads the deployed grams + scalars into
  * [[StreamingSelection.NbModel]] and runs the exact q200 kernel
  * (StreamingSelectionSpec proves that kernel bit-identical to q200;
  * SelectionModelIndexSpec proves the TABLE round trip verdict-for-
  * verdict). [[dsirScore]] replays q201's bucket-importance kernel
  * off `<t>_dsir`. Both are integer-exact — no drift channel between
  * the in-query and deployed paths.
  *
  * Staleness contract: quality classifiers rot as the corpus mix
  * shifts (new crawl slices change the bigram profile long before
  * they change rule verdicts). [[staleness]] scores a CURRENT labeled
  * slice under the deployed model and compares agreement against the
  * train-time baseline; `retrain_due` fires when the drop exceeds
  * `driftBp` (default 500 bp — half the measured headroom between the
  * sf0.01 holdout's 6800 bp and the ~5000 bp base rate). The audit
  * APPENDS its measurement to the ledger; retraining is [[build]]
  * over fresh labels (the AnnIvfIndex.retrain discipline).
  *
  * At 100 TB: the model tables are vocabulary-sized / fixed-1024;
  * scoring cost is the batch's bigram pass plus a broadcast join;
  * the audit is one labeled-slice scoring pass; nothing corpus-sized
  * persists or shuffles.
  */
object SelectionModelIndex {

  private def nextSeq(s: SparkSession, metaTable: String): Long =
    if (!s.catalog.tableExists(metaTable)) 1L
    else s.table(metaTable)
      .agg(coalesce(max(col("seq")), lit(0L))).head().getLong(0) + 1L

  /** Train BOTH selectors on a labeled corpus (`doc_id`, `source`,
    * `text`, `label`, `is_train` — the q200 weak-label convention:
    * rule verdicts as labels, md5 split) and persist them. The NB
    * model trains on the `is_train` slice; DSIR counts over ALL
    * labeled rows (q201's estimator semantics); the ledger's baseline
    * agreement is measured on the HOLDOUT slice through the DEPLOYED
    * tables — the number future audits drift against. */
  def build(labeled: DataFrame, table: String, buckets: Int = 8): Unit = {
    val s = labeled.sparkSession
    Registration.install(s)
    val m = StreamingSelection.trainModel(
      labeled.filter(col("is_train"))
        .select(col("doc_id"), col("text"), col("label")))
    BucketedSnapshot.write(m.grams, table, buckets, "h")
    val dsir = labeled
      .withColumn("w", expr("split(text, ' ')"))
      .filter(size(col("w")) >= 2)
      .select(col("label"),
        explode(expr("ngram_md5_longs(w, 2, 15)")).as("h"))
      .groupBy((col("h") % 1024L).as("b"))
      .agg(count(lit(1)).as("c_r"), sum(col("label").cast("long")).as("c_t"))
    BucketedSnapshot.write(dsir, table + "_dsir", 8, "b")
    val dtot = s.table(table + "_dsir")
      .agg(coalesce(sum(col("c_r")), lit(0L)),
        coalesce(sum(col("c_t")), lit(0L))).head()
    m.grams.unpersist()
    // baseline agreement: the HOLDOUT slice scored off the tables just
    // written — the deployed path, not the in-memory frames
    val holdout = labeled.filter(!col("is_train"))
      .select(col("doc_id"), col("source"), col("text"), col("label"))
    val baseline = agreementBp(s, holdout, table,
      totPos = m.totPos, totNeg = m.totNeg, vocab = m.vocab)
    // Append-only ledger (ADVICE r16 #1): a RETRAIN appends its train
    // row at seq = max+1 instead of wiping the table — the drift
    // history and prior baselines survive redeploys, which is what
    // model()/staleness()/layoutAudit()'s order-by-seq-desc reads
    // assume. Only the very first build creates the table.
    val meta = s.createDataFrame(Seq((nextSeq(s, table + "_meta"), "train",
      m.totPos, m.totNeg, m.vocab, dtot.getLong(0), dtot.getLong(1),
      baseline)))
      .toDF("seq", "kind", "tot_pos", "tot_neg", "vocab",
        "tot_r", "tot_t", "agree_bp")
    val mode = if (s.catalog.tableExists(table + "_meta")) "append"
      else "overwrite"
    meta.write.mode(mode).saveAsTable(table + "_meta")
  }

  /** The deployed NB model, reconstructed from the tables. */
  def model(s: SparkSession, table: String): StreamingSelection.NbModel = {
    val t = s.table(table + "_meta").filter(col("kind") === "train")
      .orderBy(col("seq").desc).select("tot_pos", "tot_neg", "vocab")
      .head()
    StreamingSelection.NbModel(s.table(table),
      t.getLong(0), t.getLong(1), t.getLong(2))
  }

  /** Score `docs` (`doc_id`, `source`, `text`) off the DEPLOYED model —
    * the exact q200 kernel ([[StreamingSelection.scoreBatch]]) with
    * the artifact read from tables instead of trained in-plan. */
  def score(s: SparkSession, docs: DataFrame, table: String): DataFrame =
    StreamingSelection.scoreBatch(docs, model(s, table))

  /** DSIR importance off the deployed bucket table — q201's kernel:
    * per doc, half-bit importance Σ [bits_raw − bits_target] over its
    * bigram buckets; `selected` = importance ≥ 0. */
  def dsirScore(s: SparkSession, docs: DataFrame, table: String): DataFrame = {
    Registration.install(s)
    val t = s.table(table + "_meta").filter(col("kind") === "train")
      .orderBy(col("seq").desc).select("tot_r", "tot_t").head()
    val (totR, totT) = (t.getLong(0), t.getLong(1))
    docs
      .withColumn("w", expr("split(text, ' ')"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("source"),
        explode(expr("ngram_md5_longs(w, 2, 15)")).as("h"))
      .withColumn("b", col("h") % 1024L)
      .join(broadcast(s.table(table + "_dsir")), Seq("b"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_feats"),
        sum(expr(s"length(bin((($totR + 1024) div (c_r + 1)) * " +
          s"(($totR + 1024) div (c_r + 1))))").cast("long") -
          expr(s"length(bin((($totT + 1024) div (c_t + 1)) * " +
            s"(($totT + 1024) div (c_t + 1))))").cast("long")).as("w_hbits"))
      .select(col("doc_id"), col("source"), col("n_feats"), col("w_hbits"),
        (col("w_hbits") >= 0L).as("selected"))
  }

  /** Agreement (bp) of the deployed model's predictions vs the labels
    * of a labeled slice (`doc_id`, `source`, `text`, `label`). Docs
    * the model cannot score (< 2 tokens) fail closed (pred = false),
    * matching the q203 funnel contract. */
  private def agreementBp(s: SparkSession, labeledSlice: DataFrame,
      table: String, totPos: Long, totNeg: Long, vocab: Long): Long = {
    val m = StreamingSelection.NbModel(s.table(table), totPos, totNeg, vocab)
    val scored = StreamingSelection.scoreBatch(
      labeledSlice.select(col("doc_id"), col("source"), col("text")), m)
    val r = labeledSlice.select(col("doc_id"), col("label"))
      .join(scored.select(col("doc_id"), col("pred")), "doc_id")
      .agg(coalesce(sum(when(col("pred") === col("label"), 1L)
        .otherwise(0L)), lit(0L)).as("n_agree"),
        count(lit(1)).as("n")).head()
    if (r.getLong(1) == 0L) 0L else 10000L * r.getLong(0) / r.getLong(1)
  }

  /** STALENESS audit: re-measure holdout agreement on a CURRENT
    * labeled slice, compare against the train-time baseline, flag the
    * retrain past `driftBp`, and append the measurement to the ledger
    * (so [[layoutAudit]] / the catalog read drift without data). One
    * row: baseline_agree_bp, current_agree_bp, drift_bp, retrain_due. */
  def staleness(s: SparkSession, labeledSlice: DataFrame, table: String,
      driftBp: Long = 500L): DataFrame = {
    val t = s.table(table + "_meta").filter(col("kind") === "train")
      .orderBy(col("seq").desc).head()
    val baseline = t.getAs[Long]("agree_bp")
    val current = agreementBp(s, labeledSlice, table,
      t.getAs[Long]("tot_pos"), t.getAs[Long]("tot_neg"),
      t.getAs[Long]("vocab"))
    val drift = baseline - current
    s.createDataFrame(Seq((nextSeq(s, table + "_meta"), "audit",
      t.getAs[Long]("tot_pos"), t.getAs[Long]("tot_neg"),
      t.getAs[Long]("vocab"), t.getAs[Long]("tot_r"),
      t.getAs[Long]("tot_t"), current)))
      .toDF("seq", "kind", "tot_pos", "tot_neg", "vocab",
        "tot_r", "tot_t", "agree_bp")
      .write.mode("append").saveAsTable(table + "_meta")
    s.createDataFrame(Seq((baseline, current, drift, drift > driftBp)))
      .toDF("baseline_agree_bp", "current_agree_bp", "drift_bp",
        "retrain_due")
  }

  /** Catalog row (kind `selmodel`): model size/layout plus the LAST
    * recorded drift off the ledger — `retrain_due` fires when the most
    * recent audit sits more than `driftBp` under the baseline (no
    * audit yet → drift 0, not due). */
  def layoutAudit(s: SparkSession, table: String,
      driftBp: Long = 500L): DataFrame = {
    val deployed = BucketedSnapshot.bucketCount(s, table)
    val meta = s.table(table + "_meta")
    val trainRow = meta.filter(col("kind") === "train")
      .orderBy(col("seq").desc).select(col("seq"), col("agree_bp")).head()
    val (trainSeq, baseline) = (trainRow.getLong(0), trainRow.getLong(1))
    // Only audits AFTER the deployed train row count (ADVICE r16 #1
    // follow-through): with the ledger append-only, an audit of the
    // PREVIOUS model generation must not read as drift against the
    // fresh baseline — a retrain resets drift to 0 until a new audit
    // of the new model lands.
    val lastAudit = meta
      .filter(col("kind") === "audit" && col("seq") > lit(trainSeq))
      .orderBy(col("seq").desc).select(col("agree_bp"))
      .head(1).headOption.map(_.getLong(0))
    val drift = lastAudit.map(baseline - _).getOrElse(0L)
    s.table(table).agg(count(lit(1)).as("n_grams"))
      .select(col("n_grams"), lit(deployed.toLong).as("buckets"),
        expr(s"n_grams div ${deployed.toLong}L").as("rows_per_bucket"),
        lit(baseline).as("baseline_agree_bp"),
        lit(drift).as("drift_bp"),
        lit(drift > driftBp).as("retrain_due"))
  }
}
