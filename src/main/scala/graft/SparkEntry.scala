package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.expressions.Registration
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator declared in SURVEY.md §2 with a batch-SQL-expressible
  * form appears here as a named query plus its DuckDB oracle SQL; the
  * genuinely streaming operators (session state with overlap carryover,
  * partial emission) live in `graft.streaming` and are verified by
  * ScalaTest instead.
  */
object SparkEntry {

  private val all: Seq[QueryDef] =
    RelationalQueries.defs ++ QueueQueries.defs ++ SessionQueries.defs ++
      TextQueries.defs ++ VectorQueries.defs ++ MediaQueries.defs ++
      OcrTreeQueries.defs ++ SqlSurfaceQueries.defs ++
      TrainingQueries.defs ++ OpsQueries.defs ++ RetrievalQueries.defs ++
      UrlQueries.defs ++ SelectionQueries.defs ++ PerceptualQueries.defs

  /** Flagship: sessionized ordered transcript assembly (reference §3.1
    * streaming STT path, batch form) on sf0.001.
    *
    * The caller's session may not carry the nanos-timestamp reader
    * config that events.parquet needs (GraftSession.local sets it; a
    * session built elsewhere might not) — it's a runtime
    * SQLConf, so set it here defensively. */
  def entry(spark: SparkSession): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    queries("q15_transcript_assembly")(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. Each
    * installs the native functions in the caller's session first, so a
    * query plans on any session, extensions or not. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> { (s: SparkSession, d: String) =>
      Registration.install(s)
      q.fn(s, d)
    }).toMap

  /** The queries a main's comma-separated name filter picks, sorted by
    * name; no filter (or an empty one) picks them all. */
  def select(filter: Option[String])
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val qs = queries
    val names = filterNames(filter, qs.keySet)
    qs.toSeq.filter { case (n, _) => names.forall(_(n)) }.sortBy(_._1)
  }

  /** A comma-separated filter's names, `None` for none (or empty). A name
    * outside `valid` fails fast: a typo that silently matched nothing
    * would make a check look green having checked nothing. */
  def filterNames(filter: Option[String], valid: Set[String]): Option[Set[String]] = {
    val names = filter.filter(_.nonEmpty).map(_.split(",").toSet)
    names.foreach { ns =>
      val unknown = ns.diff(valid)
      require(unknown.isEmpty,
        s"unknown name(s) in filter: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    names
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.sql.map(sql => q.name -> sql)).toMap
}
