package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** The one place a frame is pinned or brought to the driver while a
  * query or an index request is being built. The reference's fixed
  * dataflows run here as Spark plans, and some of them must evaluate a
  * frame once (a subtree referenced several times), or pull a small
  * frame to the driver and re-enter it (an IN-list, a centroid matrix,
  * a union-find). Every such site names itself with a label and, for a
  * driver collect, declares its row bound:
  *
  *   - [[once]]: an eager, executor-local `localCheckpoint`;
  *   - [[upTo]]: the rows, or `None` when the frame has more than
  *     `maxRows` rows;
  *   - [[rows]] / [[local]]: the same collect, failing with
  *     [[BoundExceeded]] above the bound; `local` also re-enters the
  *     rows as a local relation with the frame's schema.
  *
  * Every job a call starts carries the local property [[Property]] =
  * the call's label, so a listener tells these declared, driver-
  * synchronized jobs from accidental actions (NoEagerActionSpec allows
  * only them during query construction). The previous value of the
  * property is restored afterwards, so calls nest in any other
  * local-property scope.
  *
  * A bounded collect is ONE result job, the same as `collect()`: each
  * partition sends at most `maxRows + 1` rows, as copied internal rows
  * that the driver decodes with the frame's encoder (the compact form
  * `collect()` ships). The driver stops keeping rows once the running
  * total passes the bound, but every partition's rows still arrive, so
  * one call can transfer up to partitions × (`maxRows` + 1) rows. A
  * site whose bound is large and whose frame may exceed it counts
  * first (ConnectedComponents). It is not `limit(n).collect()`, whose
  * incremental partition scan can start several jobs. */
object Materialize {

  /** The local property every materialization job carries. */
  val Property = "graft.materialize"

  /** A bounded frame held more rows than its declared bound. */
  final class BoundExceeded(val label: String, val maxRows: Int)
    extends IllegalStateException(
      s"materialization '$label' holds more than its bound of $maxRows rows")

  /** Collected rows together with the local relation re-entering them. */
  final case class Local(rows: Seq[Row], df: DataFrame)

  /** Evaluate `df` once and truncate its lineage (eager, executor-local
    * `localCheckpoint`). */
  def once(df: DataFrame, label: String): DataFrame =
    labelled(df, label)(df.localCheckpoint())

  /** The rows of `df` in partition order, or `None` when it holds more
    * than `maxRows` rows. */
  def upTo(df: DataFrame, label: String, maxRows: Int): Option[Seq[Row]] = {
    require(maxRows >= 0 && maxRows < Int.MaxValue, s"$label: bound $maxRows")
    labelled(df, label) {
      val rdd = df.queryExecution.toRdd
      val parts = new Array[Array[InternalRow]](rdd.getNumPartitions)
      var kept = 0L
      var over = false
      val cap = maxRows + 1
      df.sparkSession.sparkContext.runJob(rdd,
        (it: Iterator[InternalRow]) => it.take(cap).map(_.copy()).toArray,
        (i: Int, part: Array[InternalRow]) =>
          if (!over) {
            kept += part.length
            if (kept > maxRows) {
              over = true
              parts.indices.foreach(parts(_) = null)
            } else parts(i) = part
          })
      if (over) None
      else {
        val fromRow = ExpressionEncoder(df.schema).resolveAndBind().createDeserializer()
        Some(parts.toSeq.flatMap(_.map(fromRow)))
      }
    }
  }

  /** The rows of `df`; throws [[BoundExceeded]] above `maxRows`. */
  def rows(df: DataFrame, label: String, maxRows: Int): Seq[Row] =
    upTo(df, label, maxRows).getOrElse(throw new BoundExceeded(label, maxRows))

  /** [[rows]], plus the rows re-entered as a local relation with
    * `df.schema` — one collect serves both. */
  def local(df: DataFrame, label: String, maxRows: Int): Local = {
    val rs = rows(df, label, maxRows)
    Local(rs, df.sparkSession.createDataFrame(rs.asJava, df.schema))
  }

  private def labelled[T](df: DataFrame, label: String)(f: => T): T = {
    val sc = df.sparkSession.sparkContext
    val prev = sc.getLocalProperty(Property)
    sc.setLocalProperty(Property, label)
    try f finally sc.setLocalProperty(Property, prev)
  }
}
