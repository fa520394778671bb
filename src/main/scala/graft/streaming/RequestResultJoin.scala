package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** J1 as a streaming engine operator: request↔result correlation with
  * the reference's poll-timeout semantics (`redis_queue.py:329-344`:
  * enqueue, then poll the result key up to a timeout) re-expressed as a
  * watermarked stream-stream inner join with an event-time range bound.
  *
  * Semantics pinned by StreamJoinSpec:
  *  - a result matches only within `resultWindow` AFTER its request
  *    (the poll timeout) — later results are expired exactly like the
  *    reference's timed-out poll;
  *  - rows arriving more than `maxDelay` behind their stream's
  *    watermark are dropped (late-data rule);
  *  - the range condition bounds join-state retention on BOTH sides —
  *    state is watermark-evicted, so memory is delay×rate, not
  *    history-sized. That is what makes this shape safe at 100 TB/day:
  *    the join never holds more than the in-flight window.
  */
object RequestResultJoin {

  /** One pending request and one produced result. Timestamps are epoch
    * millis; payloads ride along untouched. */
  final case class Request(jobId: String, tsMs: Long)
  final case class Result(jobId: String, tsMs: Long, payload: String)

  /** Correlated (job_id, req_ms, res_ms, payload, latency_ms) rows. */
  def attach(requests: Dataset[Request], results: Dataset[Result],
      resultWindow: String = "30 seconds",
      maxDelay: String = "10 seconds"): DataFrame =
    join(requests, results, resultWindow, maxDelay, "inner")
      .select(col("job_id"), col("req_ms"), col("res_ms"), col("payload"),
        (col("res_ms") - col("req_ms")).as("latency_ms"))

  /** The reference's poll does not silently drop an unanswered request —
    * it returns an explicit TIMEOUT result (`grpc_server/server.py:
    * 253-271`: `wait_for_result(job_id, timeout=30)` → None →
    * `STATUS_FAILED` with code "TIMEOUT"; `redis_queue.py:329-344`).
    * This variant is the same watermarked range join but LEFT OUTER:
    * matched pairs emit status COMPLETED as they join; an unmatched
    * request emits exactly once with status TIMEOUT (null res_ms /
    * payload / latency_ms) after the watermark passes the end of its
    * poll window — the streaming analogue of the poll loop giving up.
    * State bounds are identical to [[attach]]: the range condition
    * watermark-evicts both sides, so the TIMEOUT scan never holds more
    * than the in-flight window. */
  def attachWithTimeouts(requests: Dataset[Request], results: Dataset[Result],
      resultWindow: String = "30 seconds",
      maxDelay: String = "10 seconds"): DataFrame =
    join(requests, results, resultWindow, maxDelay, "leftOuter")
      .select(col("job_id"), col("req_ms"), col("res_ms"), col("payload"),
        (col("res_ms") - col("req_ms")).as("latency_ms"),
        when(col("res_ms").isNull, lit("TIMEOUT"))
          .otherwise(lit("COMPLETED")).as("status"))

  /** Both sides watermarked by `maxDelay`, joined on job id with the
    * result inside `resultWindow` after its request. */
  private def join(requests: Dataset[Request], results: Dataset[Result],
      resultWindow: String, maxDelay: String, joinType: String): DataFrame = {
    LocalCheckpointFiles.install(requests.sparkSession)
    val req = requests.toDF()
      .select(col("jobId").as("job_id"), col("tsMs").as("req_ms"))
      .withColumn("req_time", timestamp_millis(col("req_ms")))
      .withWatermark("req_time", maxDelay)
    val res = results.toDF()
      .select(col("jobId").as("r_job_id"), col("tsMs").as("res_ms"),
        col("payload"))
      .withColumn("res_time", timestamp_millis(col("res_ms")))
      .withWatermark("res_time", maxDelay)
    req.join(res,
      col("job_id") === col("r_job_id") &&
        col("res_time") >= col("req_time") &&
        col("res_time") <= col("req_time") + expr(s"interval $resultWindow"),
      joinType)
  }
}
