package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import graft.streaming.LocalCheckpointFiles

/** The one session builder, table reset, directory delete and scoped
  * conf setting every main and spec starts from. */
object GraftSession {
  /** `local[cpus]` (`SPARK_GRAFT_CPUS` by default, 4 when unset) with one
    * shuffle partition per core, UTC, no UI and WARN logging.
    * `nanosAsLong` only matters for the TIMESTAMP(NANOS) generation of
    * `events.parquet`; `Tables.events` normalizes every variant to LONG
    * epoch-nanos (EventTsNormalizeSpec). Checkpoint files go through
    * [[LocalCheckpointFiles]], which starts no process per file. The
    * generated-class cache holds 4096 classes, not Spark's 100: one pass
    * of 130 queries at sf0.001 compiles ~2,500 distinct classes, so at
    * 100 (or 512) every later pass compiled them all again. */
  def local(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
      : SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")
      .config(LocalCheckpointFiles.ConfKey, classOf[LocalCheckpointFiles].getName)
      .config("spark.sql.codegen.cache.maxEntries", "4096")

  /** `DROP TABLE IF EXISTS` each name, then delete whatever is left at
    * its default location: an in-memory catalog forgets its tables
    * between JVMs but not their directories, and `saveAsTable` refuses
    * to write over one (LOCATION_ALREADY_EXISTS). */
  def dropTables(spark: SparkSession, names: String*): Unit =
    names.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val catalog = spark.sessionState.catalog
      delete(spark, new Path(catalog.defaultTablePath(
        spark.sessionState.sqlParser.parseTableIdentifier(t))))
    }

  /** Delete `dir` and everything under it, if it exists. */
  def delete(spark: SparkSession, dir: Path): Unit =
    dir.getFileSystem(spark.sessionState.newHadoopConf()).delete(dir, true)

  /** Runs `f` with `settings` on the session conf, then puts back what
    * was explicitly set before: a key that was unset is unset again
    * (`conf.getOption` reports Spark's default, and restoring that
    * would leave it set). */
  def withConf[T](spark: SparkSession, settings: (String, String)*)(f: => T): T = {
    val set = spark.conf.getAll
    val prev = settings.map { case (k, _) => k -> set.get(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
