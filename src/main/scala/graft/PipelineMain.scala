package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.observability.{Metrics, SparkMetricsBridge}
import graft.streaming.{EnvelopeValidation, QueueRouter, ResultStore, SessionProcessor}

/** The reference's flagship streaming path (SURVEY.md §3.1) assembled
  * end-to-end as ONE runnable job — what a user of the reference
  * actually operates, re-expressed Spark-first:
  *
  *   ingest (file stream = the upload/queue directory)
  *     ├─ queue path: envelope build → validation (P2) → routing
  *     │    (X3/X4): results → keyed result store (K1), retries
  *     │    demoted+backoff, exhausted → dead letters (K3), malformed
  *     │    → rejected (no-retry nack)
  *     ├─ session path: AudioChunk stream → flatMapGroupsWithState
  *     │    sessionizer (W1-W8) → transcript events (K4)
  *     └─ correlation path: request↔result watermarked range join
  *          (J1 streaming, RequestResultJoin) — results landing past
  *          the 30 s poll window never correlate (K2 timeout)
  *
  * Three streaming queries over the same source — the queue semantics
  * run in `foreachBatch` (sink fan-out), the stateful sessionizer and
  * the correlator as their own append-mode queries with checkpoints.
  * All use AvailableNow so the run is bounded and replayable; on a
  * cluster the same code runs unbounded with ProcessingTime triggers.
  *
  * Usage: runMain graft.PipelineMain [sfDir] [outDir]
  */
object PipelineMain {

  final case class Summary(events: Long, accepted: Long, rejected: Long,
      results: Long, retries: Long, deadLetters: Long, transcripts: Long,
      sessions: Long, correlated: Long, timedOut: Long)

  def run(spark: SparkSession, sfDir: String, outDir: String): Summary = {
    import spark.implicits._
    SparkMetricsBridge.install(spark)
    GraftSession.delete(spark, new Path(outDir))
    // stage the ingest directory (the reference's upload/queue inbox)
    Tables.events(spark, sfDir)
      .write.mode("overwrite").parquet(s"$outDir/ingest")
    val schema = spark.read.parquet(s"$outDir/ingest").schema
    val stream = spark.readStream.schema(schema).parquet(s"$outDir/ingest")

    // ---- queue path: envelope → validate → route → sinks ----
    val q1 = stream.writeStream
      .queryName("queue_router")
      .option("checkpointLocation", s"$outDir/ckpt_queue")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val envelopes = batch.select(
          concat(lit("job_"), expr("ts div 1000"), lit("_"), col("event_id"))
            .as("job_id"),
          // a slice of malformed envelopes exercises the no-retry nack
          when(col("event_id") % 97 === 0, "bogus_type")
            .otherwise("stt_chunk").as("job_type"),
          when(col("event_type") === "error", 7) // out-of-range: clamps
            .when(col("event_type") === "purchase", 2)
            .when(col("event_type") === "signup", 1)
            .otherwise(0).as("priority"),
          (col("event_id") % 5).cast("int").as("retry_count"),
          // 7 is coprime to the retry modulus so failures land on every
          // retry_count, exercising retry AND dead-letter routes
          (col("event_id") % 7 =!= 0).as("succeeded"),
          (expr("ts div 1000")).as("stored_at_us"))
        val v = EnvelopeValidation.validate(envelopes)
        // per-stage row counters ride the writes themselves (observe();
        // no extra jobs) — K6, the reference's queue_operations_total
        SparkMetricsBridge.observeStage(v.rejected, "queue_rejected")
          .write.mode("append").parquet(s"$outDir/rejected")
        val routed = QueueRouter.route(v.accepted)
        ResultStore.append(
          SparkMetricsBridge.observeStage(routed.results, "queue_results"),
          s"$outDir/results")
        SparkMetricsBridge.observeStage(routed.retries, "queue_retries")
          .write.mode("append").parquet(s"$outDir/retries")
        SparkMetricsBridge.observeStage(routed.deadLetters, "queue_dead_letters")
          .write.mode("append")
          .parquet(s"$outDir/dead_letters")
        ()
      }
      .start()

    // ---- session path: chunks → stateful sessionizer → transcripts ----
    // per-user offset base from the static ingest side
    val chunks = SessionProcessor.chunksOf(stream,
      spark.read.parquet(s"$outDir/ingest"))
    val q2 = SparkMetricsBridge.observeStage(
        SessionProcessor.attach(chunks, timeoutMs = 0L).toDF(),
        "transcripts")
      .writeStream
      .queryName("sessionizer")
      .option("checkpointLocation", s"$outDir/ckpt_sessions")
      .trigger(Trigger.AvailableNow())
      .outputMode("append")
      .format("parquet")
      .option("path", s"$outDir/transcripts")
      .start()

    // ---- correlation path: request↔result poll-timeout join (J1
    // streaming form, RequestResultJoin): every event doubles as a
    // request at ts and — for the succeeding slice — a result a few
    // seconds later; the watermarked LEFT OUTER range join emits pairs
    // whose result lands inside the 30 s poll window as COMPLETED and
    // — once the watermark closes a request's window — an explicit
    // TIMEOUT row for the never-answered slice (event_id % 7 == 0,
    // which produces no result) and the 3 % delayed past the window,
    // matching the reference's failed-poll response (server.py TIMEOUT
    // error detail). Requests whose window is still open when the
    // bounded run ends stay pending, exactly like an in-flight poll.
    import graft.streaming.RequestResultJoin
    val reqs = stream
      .select(concat(lit("job_"), col("event_id")).as("jobId"),
        expr("ts div 1000000").as("tsMs"))
      .as[RequestResultJoin.Request](
        org.apache.spark.sql.Encoders.product[RequestResultJoin.Request])
    val ress = stream
      .filter(col("event_id") % 7 =!= 0) // failures never produce results
      .select(concat(lit("job_"), col("event_id")).as("jobId"),
        (expr("ts div 1000000") +
          when(col("event_id") % 31 === 0, 45000L) // past the window
            .otherwise(lit(2000L) + col("event_id") % 5000)).as("tsMs"),
        coalesce(col("event_type"), lit("")).as("payload"))
      .as[RequestResultJoin.Result](
        org.apache.spark.sql.Encoders.product[RequestResultJoin.Result])
    val q3 = RequestResultJoin.attachWithTimeouts(reqs, ress)
      .writeStream
      .queryName("correlator")
      .option("checkpointLocation", s"$outDir/ckpt_corr")
      .trigger(Trigger.AvailableNow())
      .outputMode("append")
      .format("parquet")
      .option("path", s"$outDir/correlated")
      .start()

    q1.awaitTermination()
    q2.awaitTermination()
    q3.awaitTermination()
    // Prometheus-format metrics snapshot (K6/X7): per-stage row counters,
    // action latency histograms, streaming progress gauges
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/metrics.prom"),
      Metrics.registry.scrape())

    def cnt(p: String): Long =
      try spark.read.parquet(s"$outDir/$p").count()
      catch { case _: Throwable => 0L }
    val transcripts = spark.read.parquet(s"$outDir/transcripts")
    // One scan of the correlated sink for both status counts (count of a
    // CASE is 0 on an empty sink, so no null handling needed).
    val (nCompleted, nTimedOut) =
      try {
        val r = spark.read.parquet(s"$outDir/correlated")
          .agg(
            count(when(col("status") === "COMPLETED", 1)).as("c"),
            count(when(col("status") === "TIMEOUT", 1)).as("t"))
          .collect()(0)
        (r.getLong(0), r.getLong(1))
      } catch { case _: Throwable => (0L, 0L) }
    Summary(
      events = spark.read.parquet(s"$outDir/ingest").count(),
      accepted = cnt("results") + cnt("retries") + cnt("dead_letters"),
      rejected = cnt("rejected"),
      results = cnt("results"),
      retries = cnt("retries"),
      deadLetters = cnt("dead_letters"),
      transcripts = transcripts.count(),
      sessions = transcripts.select("sessionId").distinct().count(),
      correlated = nCompleted,
      timedOut = nTimedOut)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/tmp/graft_pipeline")
    val spark = GraftSession.local().getOrCreate()
    val s = run(spark, sfDir, outDir)
    println(s"""{"events":${s.events},"accepted":${s.accepted},""" +
      s""""rejected":${s.rejected},"results":${s.results},""" +
      s""""retries":${s.retries},"dead_letters":${s.deadLetters},""" +
      s""""transcripts":${s.transcripts},"sessions":${s.sessions},""" +
      s""""correlated":${s.correlated},"timed_out":${s.timedOut}}""")
    spark.stop()
  }
}
