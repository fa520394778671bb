package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the result file (numbers, strings, booleans,
  * nested maps and lists). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Progress marks on stderr (kept in the run's JVM log). */
object Log {
  private val t0 = System.nanoTime()
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - t0) / 1e9}%.2fs $what")
}

object Stats {
  /** Nearest-rank percentile, q in (0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def ms(ns: Long): Double = ns / 1e6

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }

  /** Cumulative driver-side Janino compile time, in ms (mean × count of
    * Spark's codegen histogram, which records milliseconds). */
  def codegenMs: Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    h.getSnapshot.getMean * h.getCount
  }
}

/** What a workload run hands back: contract metrics (by name, with
  * unit), the workload's own named figures, and its output checks. */
final class Result(val workload: String) {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** Extra fields for the result file. */
  val extra = mutable.LinkedHashMap.empty[String, Any]

  // traced runs only: the measured operations (triggers, requests or
  // members), each split into coordination, planning and execution ms,
  // and the state the workload keeps (rows, MB)
  var ops = 1
  var opSplit = Map.empty[String, Seq[Double]]
  var state = (0.0, 0.0)

  def metric(name: String, v: Double, unit: String): Unit =
    metrics(name) = (v, unit)
  def note(name: String, v: Double, unit: String): Unit =
    detail(name) = (v, unit)
  /** Record a check; a failing one fails the run. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) checks += what

  def toJson: String = {
    def m(x: mutable.LinkedHashMap[String, (Double, String)]) =
      x.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    Json.obj(Seq("workload" -> workload, "attempted" -> attempted,
      "failed" -> failed, "checks_failed" -> checks.toSeq,
      "metrics" -> m(metrics), "detail" -> m(detail)) ++ extra.toSeq)
  }
}

/** Settings every workload shares. */
final case class Opts(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: String, corpus: String, out: String)

object Session {
  val Cpus = 4

  def create(o: Opts, extra: Seq[(String, String)]): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.local.dir", s"${o.work}/local")
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def rmTree(p: java.io.File): Unit = {
    if (p.isDirectory) Option(p.listFiles()).foreach(_.foreach(rmTree))
    p.delete()
  }

  /** Drop catalog tables and their warehouse directories. */
  def dropTables(spark: SparkSession, work: String,
      names: Seq[String]): Unit = names.foreach { t =>
    spark.sql(s"DROP TABLE IF EXISTS $t")
    rmTree(new java.io.File(s"$work/warehouse/$t"))
  }
}
