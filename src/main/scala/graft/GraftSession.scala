package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The one session builder and the one table reset every main and spec
  * starts from. */
object GraftSession {
  /** `local[cpus]` (`SPARK_GRAFT_CPUS` by default, 4 when unset) with one
    * shuffle partition per core, UTC, no UI and WARN logging.
    * `nanosAsLong` only matters for the TIMESTAMP(NANOS) generation of
    * `events.parquet`; `Tables.events` normalizes every variant to LONG
    * epoch-nanos (EventTsNormalizeSpec). */
  def local(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
      : SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")

  /** `DROP TABLE IF EXISTS` each name, then delete whatever is left at
    * its default location: an in-memory catalog forgets its tables
    * between JVMs but not their directories, and `saveAsTable` refuses
    * to write over one (LOCATION_ALREADY_EXISTS). */
  def dropTables(spark: SparkSession, names: String*): Unit =
    names.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val catalog = spark.sessionState.catalog
      val dir = new Path(catalog.defaultTablePath(
        spark.sessionState.sqlParser.parseTableIdentifier(t)))
      dir.getFileSystem(spark.sessionState.newHadoopConf()).delete(dir, true)
    }
}
