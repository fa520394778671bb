package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType,
  TimestampType}
import org.apache.hadoop.fs.Path

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * Every query in [[SparkEntry.queries]] receives `(spark, sfDir)` and reads
  * only through these helpers, so filters/projections push down to the
  * parquet scan (Catalyst handles pruning; nothing is cached globally —
  * at 100 TB each query wants its own pruned scan, not a shared cache).
  */
object Tables {
  /** A table's driver-side listing (file names, lengths, modification
    * times) plus the session's parquet settings: what its inferred
    * schema depends on. The settings can change within a session
    * ([[SparkEntry.entry]] sets `nanosAsLong` on the caller's). */
  private type Signature = (Seq[(String, Long, Long)], Map[String, String])

  /** Inferred schemas per session, per qualified path, each with the
    * signature it was inferred under. */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, (Signature, StructType)]]())

  /** Scan `name` with its schema passed in, inferred from the parquet
    * footers only when the path, its listing or the session's parquet
    * settings changed since the last read. Inference is a Spark job;
    * the listing is a driver-side file-system call. */
  def tbl(spark: SparkSession, dir: String, name: String): DataFrame = {
    val file = s"$dir/$name.parquet"
    val path = new Path(file)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(path)
    val files = fs.listFiles(qualified, true)
    val sig: Signature = (
      Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq
        .sortBy(_._1),
      spark.conf.getAll.filter(_._1.contains("parquet")))
    val cache = schemas.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap())
    val schema = Option(cache.get(qualified.toString)) match {
      case Some((`sig`, known)) => known
      case _ =>
        val inferred = spark.read.parquet(file).schema
        cache.put(qualified.toString, (sig, inferred))
        inferred
    }
    spark.read.schema(schema).parquet(file)
  }

  /** Normalize `events.ts` to the engine's internal convention — epoch
    * NANOS as LONG — regardless of how the parquet writer stored it.
    * Generations of the driver testdata have used parquet
    * TIMESTAMP(NANOS) (read as LONG under
    * spark.sql.legacy.parquet.nanosAsLong) and TIMESTAMP(MICROS)
    * isAdjustedToUTC=false (read as TIMESTAMP_NTZ); the engine must not
    * hardcode either. The DuckDB oracle side is unaffected: `epoch_us(ts)`
    * yields the same micros for both physical types.
    *
    * TIMESTAMP_NTZ carries no zone; all entry points pin
    * spark.sql.session.timeZone=UTC, so the NTZ→LTZ cast below is the
    * identity mapping the oracle uses. Pure codegen'd arithmetic on the
    * scan output — no UDF, stays inside WholeStageCodegen, and at 100 TB
    * min/max row-group stats on `ts` still prune because the multiply is
    * monotonic (Spark won't push the derived filter, but every downstream
    * query filters on derived session windows anyway).
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) | None => df
      case Some(TimestampNTZType) =>
        // NTZ→LTZ cast interprets the wall-clock in the SESSION zone; a
        // non-UTC session would silently shift every epoch-nano (and the
        // round-trip spec can't catch it — write and read under the same
        // zone cancel out), so assert rather than trust the caller.
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        if (tz != "UTC")
          throw new IllegalArgumentException(
            "Tables.normalizeEventTs requires spark.sql.session.timeZone" +
              s"=UTC to normalize TIMESTAMP_NTZ events.ts (session has $tz)")
        df.withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case Some(TimestampType) =>
        df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case Some(other) =>
        // A THIRD generation variant must fail with a named message at
        // load, not as an opaque analysis error 29 queries deep.
        throw new IllegalArgumentException(
          s"events.ts has unsupported physical type ${other.simpleString};" +
            " teach Tables.normalizeEventTs (and EventTsNormalizeSpec)" +
            " the new testdata generation")
    }

  def region(s: SparkSession, d: String): DataFrame    = tbl(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = tbl(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = tbl(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = tbl(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = tbl(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = tbl(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = tbl(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(tbl(s, d, "events"))

  /** Fail-fast visibility at Verify/Bench startup: one stderr line naming
    * the physical `ts` type the testdata ships and what it normalizes to,
    * so a future generation flip is legible in the round log instead of
    * surfacing as 29 opaque oracle absences (VERDICT r9 #2) — plus one
    * compact schema line per table, so ANY regenerated-testdata type
    * flip (the events.ts lesson applied forward: embeddings FLOAT[]→
    * DOUBLE[], doc_id widening, …) is diffable across round logs. */
  def logEventTsSchema(s: SparkSession, d: String, who: String): Unit = {
    try {
      val raw = tbl(s, d, "events").schema("ts").dataType.simpleString
      System.err.println(
        s"[$who] events.ts physical type at $d: $raw -> normalized long nanos")
    } catch {
      case e: Throwable =>
        System.err.println(s"[$who] events.ts schema probe failed: $e")
    }
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings"))
      try {
        val cols = tbl(s, d, t).schema.fields
          .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
        System.err.println(s"[$who] schema $t: $cols")
      } catch {
        case e: Throwable =>
          System.err.println(s"[$who] schema probe $t failed: $e")
      }
  }
  def documents(s: SparkSession, d: String): DataFrame = tbl(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = tbl(s, d, "embeddings")

  /** Spread an under-parallelized scan across the session's cores
    * before a CPU-heavy per-row kernel — guide §2.5's remedy for
    * unsplittable input ("otherwise repartition immediately after the
    * read"). The driver testdata ships each table as ONE single-
    * row-group parquet file, so a scan plans exactly one partition and
    * a media-codec or n-gram kernel pipelined into it runs on one core
    * of the machine. The repartition is CONDITIONAL on the planned
    * scan parallelism, not on a local-mode constant: whenever the
    * source already plans >= min(cores, 16) partitions — any
    * production multi-file table — this is the identity and no shuffle
    * is added at scale. Applied only at call sites whose per-row
    * kernel dominates the stage (GIF codec round-trips, frame-hash
    * synthesis, trigram MinHash); a blanket spread was measured and
    * REJECTED (OPTIMIZATION_r17.md): the 32-partition base ripples
    * into every downstream stage, whose per-task fixed cost (multi-MB
    * task-binary deserialization) outweighs cheap kernels — only
    * call sites whose serial kernel time exceeds the downstream
    * task-fan cost keep the spread. */
  def spreadKernel(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val floor = math.min(cores, 16)
    if (df.rdd.getNumPartitions < floor) df.repartition(cores) else df
  }
}
