package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Ingest-time exact dedup for a document stream — the streaming form of
  * q27's batch exact dedup, and the first stage of a crawl ingest: a
  * document whose content fingerprint was already admitted within the
  * watermark horizon is dropped before it costs anything downstream.
  *
  * Spark-first shape: `dropDuplicatesWithinWatermark` keeps ONE state row
  * per fingerprint, partitioned by the dedup key with the shuffle (RocksDB
  * state store on a real cluster), and evicts each entry once the
  * watermark passes its admission time + horizon. State is therefore
  * bounded by horizon × ingest rate, not by corpus size — the documented
  * trade at 100 TB: exact within the horizon, best-effort beyond it (a
  * re-crawl after eviction re-admits; the batch LSH/exact passes
  * downstream catch those). Exactly ONE row per fingerprint is admitted
  * per horizon; among same-batch duplicates the survivor is
  * engine-chosen (no intra-batch order guarantee — callers needing a
  * specific canonical copy run q79's selection downstream). The
  * fingerprint is md5 of the raw text bytes,
  * computed BEFORE the shuffle so the 16-byte digest, never the document,
  * is the shuffle key (the q27/q75 rule).
  */
object StreamingDedup {

  /** One incoming document: event-time millis + raw text. */
  final case class Doc(docId: Long, tsMs: Long, text: String)

  /** Admitted documents with their fingerprint, within-horizon-unique. */
  def attach(docs: Dataset[Doc], horizon: String = "10 minutes"): DataFrame = {
    LocalCheckpointFiles.install(docs.sparkSession)
    docs
      .withColumn("event_time", timestamp_millis(col("tsMs")))
      .withColumn("fp", md5(col("text").cast("binary")))
      .withWatermark("event_time", horizon)
      .dropDuplicatesWithinWatermark("fp")
      .select(col("docId").as("doc_id"), col("event_time"), col("fp"))
  }
}
