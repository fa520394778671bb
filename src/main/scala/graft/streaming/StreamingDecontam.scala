package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.expressions.Registration

/** Stream-static eval-set decontamination — q166's audit as a LIVE gate
  * on an ingest stream: every arriving document is checked against the
  * STATIC held-out eval-gram set and flagged before it can enter a
  * training corpus. The eval side is a batch artifact by nature (a
  * fixed benchmark suite), so the join is the stream-static broadcast
  * shape Structured Streaming handles natively.
  *
  * State discipline (the 100 TB-ingest contract): documents are assumed
  * to arrive WHOLE — one row per document, never chunked across
  * micro-batches (a chunked-upload front would pre-assemble,
  * reference-style, before this gate). That assumption makes the
  * per-doc gram aggregate BATCH-LOCAL: `start` runs it inside
  * `foreachBatch` on each micro-batch's static frame, so the streaming
  * query itself carries ZERO cross-batch state — no watermark, no
  * state store, no complete-mode re-emission. Each document's verdict
  * is emitted exactly once, in the batch it arrived in, and state-store
  * rows stay at zero no matter how long the stream runs. Per-batch
  * work is one pass over the batch's grams plus a partial-combined
  * doc-key aggregate; the eval-gram set is benchmark-sized
  * (broadcastable, persisted once) and the stream never shuffles
  * against it.
  */
object StreamingDecontam {

  /** Distinct rolling k-gram hashes of a static eval corpus
    * (`doc_id`, `text`); one column `h`. */
  def evalGramSet(evalDocs: DataFrame, k: Int = 13): DataFrame = {
    Registration.install(evalDocs.sparkSession)
    evalDocs
      .select(explode(expr(s"token_window_hashes(split(text, ' '), $k)"))
        .as("h"))
      .distinct()
  }

  /** Distinct EXACT k-token gram strings of the eval corpus — the
    * second broadcastable eval artifact, used by the confirm pass to
    * close the rolling-hash collision channel (batch q166's rule). */
  def evalStrSet(evalDocs: DataFrame, k: Int = 13): DataFrame =
    evalDocs
      .select(split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= k)
      .select(explode(expr(
        s"transform(sequence(0, size(w) - $k), " +
          s"i -> array_join(slice(w, i + 1, $k), ' '))")).as("gs"))
      .distinct()

  /** The q166 audit contract on a STATIC `docs` frame (`doc_id`,
    * `source`, `text`): per document, total gram count,
    * eval-overlapping gram count, and the contaminated flag. This is
    * the batch kernel `start` applies per micro-batch; it is also
    * directly usable on any batch corpus. */
  def auditBatch(docs: DataFrame, evalGrams: DataFrame,
      k: Int = 13): DataFrame = {
    Registration.install(docs.sparkSession)
    docs
      .select(col("doc_id"), col("source"),
        explode_outer(expr(s"token_window_hashes(split(text, ' '), $k)"))
          .as("h"))
      .join(broadcast(evalGrams.withColumn("hit", lit(true))),
        Seq("h"), "left")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(col("h")).as("n_grams"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_contaminated"))
      .withColumn("contaminated", col("n_contaminated") >= 1)
  }

  /** [[auditBatch]] plus the exact-string confirm pass — the full batch
    * q166 contract (`n_confirmed`/`confirmed` alongside the hash
    * verdict; contaminated=true, confirmed=false IS a collision).
    * Still batch-local: the flagged slice of THIS batch is rescanned on
    * raw gram strings against the broadcast eval string set, so the
    * streaming query carries no state for this either. */
  def auditBatchConfirmed(docs: DataFrame, evalGrams: DataFrame,
      evalStrs: DataFrame, k: Int = 13): DataFrame = {
    val verdict = auditBatch(docs, evalGrams, k)
    val gramStrExpr =
      s"transform(sequence(0, size(w) - $k), " +
        s"i -> array_join(slice(w, i + 1, $k), ' '))"
    val confirm = docs
      .join(broadcast(verdict.filter(col("contaminated"))
        .select(col("doc_id"))), "doc_id")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"), explode(expr(gramStrExpr)).as("gs"))
      .join(broadcast(evalStrs.withColumn("sconf", lit(true))),
        Seq("gs"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(when(col("sconf"), 1L).otherwise(0L)).as("n_confirmed"))
    verdict.join(broadcast(confirm), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_grams"),
        col("n_contaminated"), col("contaminated"),
        coalesce(col("n_confirmed"), lit(0L)).as("n_confirmed"),
        (coalesce(col("n_confirmed"), lit(0L)) >= 1).as("confirmed"))
  }

  /** Start the gate on a streaming `docs` frame (`doc_id`, `source`,
    * `text`): each micro-batch is audited batch-locally and the per-doc
    * verdict frame handed to `emit` with the batch id. No streaming
    * aggregation is registered, so the query holds no state-store rows
    * and every verdict is appended exactly once (docs arrive whole).
    * Pass `evalStrs` (from [[evalStrSet]]) to run the exact-string
    * confirm pass per batch too — the full q166 contract. The eval
    * artifacts are persisted once so repeated micro-batches don't
    * recompute them. */
  def start(docs: DataFrame, evalGrams: DataFrame, k: Int = 13,
      checkpointDir: Option[String] = None,
      queryName: String = "decontam-gate",
      evalStrs: Option[DataFrame] = None)(
      emit: (DataFrame, Long) => Unit): StreamingQuery = {
    LocalCheckpointFiles.install(docs.sparkSession)
    val grams = evalGrams.persist()
    grams.count() // materialize before the first batch needs it
    val strs = evalStrs.map { s => val p = s.persist(); p.count(); p }
    val writer = docs.writeStream
      .queryName(queryName)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        emit(strs match {
          case Some(ss) => auditBatchConfirmed(batch, grams, ss, k)
          case None => auditBatch(batch, grams, k)
        }, id)
      }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.start()
  }
}
