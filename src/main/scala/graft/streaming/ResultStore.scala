package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize

/** Keyed result table with TTL — the engine analog of the reference's
  * `SETEX result:{job_id} 3600` store (K1 `redis_queue.py:305-314`,
  * retrieval K2 `:316-344`, retention K5 `:382-397`).
  *
  * Storage is append-only parquet (works on any object store at any
  * scale); "upsert" is resolved at READ time by last-write-wins over
  * the key — the standard log-structured pattern when the sink has no
  * native upsert. `ttlSweep` compacts: rewrites the table keeping only
  * live, latest rows (the reference's XTRIM/minid analog as a
  * maintenance job).
  *
  * At 100 TB: appends are partitioned writes (no read-modify-write),
  * `latest` is one window pass over the key partitioning, and the sweep
  * is an embarrassingly parallel rewrite driven by the same predicate.
  */
object ResultStore {

  /** Append a batch of results. `results` must carry `job_id` and
    * `stored_at_us`; other columns pass through. Usable directly inside
    * `writeStream.foreachBatch`. */
  def append(results: DataFrame, path: String): Unit =
    results.write.mode(SaveMode.Append).parquet(path)

  /** Latest result per job_id (last-write-wins upsert semantics). */
  def latest(spark: SparkSession, path: String): DataFrame = {
    val w = Window.partitionBy(col("job_id"))
      .orderBy(col("stored_at_us").desc)
    spark.read.parquet(path)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Retrieval with TTL semantics: a result older than `ttlUs` relative
    * to `nowUs` is expired (reference returns nothing after SETEX TTL). */
  def get(spark: SparkSession, path: String, jobId: String, nowUs: Long,
      ttlUs: Long = 3600L * 1000000L): Option[org.apache.spark.sql.Row] = {
    // `latest` keeps one row per job_id
    Materialize.rows(latest(spark, path)
      .filter(col("job_id") === jobId &&
        col("stored_at_us") > nowUs - ttlUs), "results.get", 1).headOption
  }

  /** K2 poll-wait: block until the result appears or the timeout lapses
    * (reference `wait_for_result`, 100 ms poll, `redis_queue.py:316-344`).
    * Driver-side convenience — a consumer would normally subscribe to
    * the result stream instead (J1 stream-stream join). */
  def waitFor(spark: SparkSession, path: String, jobId: String,
      timeoutMs: Long = 30000L, pollMs: Long = 100L,
      ttlUs: Long = 3600L * 1000000L)
      : Option[org.apache.spark.sql.Row] = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var result: Option[org.apache.spark.sql.Row] = None
    while (result.isEmpty && System.nanoTime() < deadline) {
      result =
        try get(spark, path, jobId, nowUs = System.currentTimeMillis() * 1000L,
          ttlUs = ttlUs)
        catch { case _: org.apache.spark.sql.AnalysisException => None }
      if (result.isEmpty) Thread.sleep(pollMs)
    }
    result
  }

  /** Maintenance sweep: rewrite keeping only latest + unexpired rows.
    *
    * Crash safety: the compacted table is staged to a side directory and
    * swapped in with two renames (old table parked, stage promoted), so
    * no moment exists where the live path holds a partially written
    * table; a crash between the renames loses only the sweep, not the
    * data (the parked copy remains). On entry the sweep first REPAIRS a
    * crashed swap — if the live path is missing but a parked (or, as a
    * last resort, staged) copy exists, that copy is renamed back to the
    * live path before any leftover deletion; leftovers are only deleted
    * once the live path exists. On object stores without atomic rename
    * the same sequence is still write-then-promote — never
    * overwrite-in-place. */
  def ttlSweep(spark: SparkSession, path: String, nowUs: Long,
      ttlUs: Long = 3600L * 1000000L): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(hconf)
    val stage = new org.apache.hadoop.fs.Path(path + "_compact_stage")
    val parked = new org.apache.hadoop.fs.Path(path + "_compact_old")
    if (!fs.exists(target)) {
      // A previous sweep crashed between park and promote: the only
      // copy lives in parked (pre-sweep data) or stage (compacted).
      // Restore it as the live table instead of deleting it.
      if (fs.exists(parked)) fs.rename(parked, target)
      else if (fs.exists(stage)) fs.rename(stage, target)
      else throw new java.io.IOException(
        s"ttlSweep: $target missing and no parked/staged copy to recover")
    }
    fs.delete(stage, true) // leftovers from a crashed sweep
    fs.delete(parked, true)
    latest(spark, path)
      .filter(col("stored_at_us") > nowUs - ttlUs)
      .write.mode(SaveMode.Overwrite).parquet(stage.toString)
    if (!fs.rename(target, parked))
      throw new java.io.IOException(s"ttlSweep: cannot park $target")
    if (!fs.rename(stage, target)) {
      fs.rename(parked, target) // roll back; table unchanged
      throw new java.io.IOException(s"ttlSweep: cannot promote $stage")
    }
    fs.delete(parked, true)
  }
}
