package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.expressions.Registration

/** Stream-side deployment of the q200 quality classifier — the trained
  * model as a SHIPPED ARTIFACT applied to an ingest stream, closing
  * train → deploy for data selection the way q191/q193 closed it for
  * reranking. Training happens batch-side ([[trainModel]], the exact
  * q200 aggregation); the gate scores every arriving document against
  * the broadcast model and emits the keep/drop verdict before the doc
  * can enter a training corpus — CCNet's classifier stage as a live
  * filter.
  *
  * State discipline (the StreamingDecontam contract): documents arrive
  * WHOLE, so scoring is BATCH-LOCAL — [[scoreBatch]] runs inside
  * `foreachBatch` on each micro-batch's static frame and the streaming
  * query registers no aggregation: zero state-store rows, no
  * watermark, each verdict emitted exactly once in the batch it
  * arrived in. Per-batch work is one explode + one broadcast join +
  * one partial-combined doc-key aggregate; the model is
  * bigram-vocabulary-sized (Heaps-law bounded — the q161/q200 "bounded
  * model artifact" argument) and the stream never shuffles against it.
  *
  * Scoring is bit-identical to q200: half-bit integer surprisal
  * `length(bin(x * x))`, x = (tot + V) div (c + 1), class totals and
  * vocabulary baked into the plan as literals (they are train-time
  * scalars of a bounded artifact — three longs, not a collect of
  * corpus data). Unscorable docs (< 2 tokens) fail CLOSED
  * (pred = false with n_bigrams = 0): a selector that cannot score a
  * document does not ship it — the q203 funnel contract.
  */
object StreamingSelection {

  /** The deployable artifact: per-bigram class counts plus the three
    * train-time scalars scoring needs. `grams` is bigram-vocab-sized
    * and broadcastable by the same argument as q161's LM table. */
  final case class NbModel(grams: DataFrame, totPos: Long, totNeg: Long,
      vocab: Long)

  /** Fused kernel ([[graft.expressions.NgramMd5Longs]]) — < 2 tokens
    * yields an empty array, which under the explode_outer below is the
    * same unscorable null-h row the old CASE/array() form produced. */
  private val bigramsExpr = "ngram_md5_longs(w, 2, 15)"

  /** Train on a LABELED batch corpus (`doc_id`, `text`, `label`) — the
    * caller supplies the weak labels (rule verdicts, the q200
    * convention) and the train slice. One vocab-sized aggregation; the
    * model frame is persisted so per-batch scoring doesn't retrain. */
  def trainModel(labeledDocs: DataFrame): NbModel = {
    Registration.install(labeledDocs.sparkSession)
    val grams = labeledDocs
      .withColumn("w", expr("split(text, ' ')"))
      .select(col("label"), explode(expr(bigramsExpr)).as("h"))
      .groupBy(col("h"))
      .agg(sum(col("label").cast("long")).as("c_pos"),
        sum(not(col("label")).cast("long")).as("c_neg"))
      .persist()
    val t: Row = grams.agg(
      coalesce(sum(col("c_pos")), lit(0L)),
      coalesce(sum(col("c_neg")), lit(0L)), count(lit(1))).head()
    NbModel(grams, t.getLong(0), t.getLong(1), t.getLong(2))
  }

  /** Score a STATIC `docs` frame (`doc_id`, `source`, `text`) under the
    * model: per doc, bigram count, both class surprisals, and the keep
    * verdict — q200's scoring kernel as a deployable function. This is
    * what `start` applies per micro-batch; it is also directly usable
    * on any batch corpus. */
  def scoreBatch(docs: DataFrame, m: NbModel): DataFrame = {
    Registration.install(docs.sparkSession)
    val xp = s"((${m.totPos} + ${m.vocab}) div (coalesce(c_pos, 0L) + 1))"
    val xn = s"((${m.totNeg} + ${m.vocab}) div (coalesce(c_neg, 0L) + 1))"
    docs
      .withColumn("w", expr("split(text, ' ')"))
      .select(col("doc_id"), col("source"),
        explode_outer(expr(bigramsExpr)).as("h"))
      .join(broadcast(m.grams), Seq("h"), "left")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(col("h")).as("n_bigrams"),
        sum(when(col("h").isNotNull,
          expr(s"length(bin($xp * $xp))").cast("long"))).as("bits_pos"),
        sum(when(col("h").isNotNull,
          expr(s"length(bin($xn * $xn))").cast("long"))).as("bits_neg"))
      .select(col("doc_id"), col("source"), col("n_bigrams"),
        coalesce(col("bits_pos"), lit(0L)).as("bits_pos"),
        coalesce(col("bits_neg"), lit(0L)).as("bits_neg"),
        (col("n_bigrams") > 0L &&
          coalesce(col("bits_pos") <= col("bits_neg"), lit(false)))
          .as("pred"))
  }

  /** Start the gate on a streaming `docs` frame (`doc_id`, `source`,
    * `text`): each micro-batch is scored batch-locally and the per-doc
    * verdict frame handed to `emit` with the batch id. No streaming
    * aggregation is registered — zero state-store rows. */
  def start(docs: DataFrame, m: NbModel,
      checkpointDir: Option[String] = None,
      queryName: String = "selection-gate")(
      emit: (DataFrame, Long) => Unit): StreamingQuery = {
    LocalCheckpointFiles.install(docs.sparkSession)
    m.grams.count() // materialize the artifact before the first batch
    val writer = docs.writeStream
      .queryName(queryName)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        emit(scoreBatch(batch, m), id)
      }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.start()
  }
}
