package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import graft.operators.VideoClipIndex
import graft.queries.PerceptualQueries

/** The materialized clip-match index must be a pure layout change:
  * alignment-for-alignment identical to q214 (which inverts the whole
  * union corpus per run) on the cross-side pairs, while the physical
  * plan proves the production claim — the snapshot side of the
  * frame-hash join is a pre-bucketed scan with no shuffle exchange —
  * and append ≡ rebuild holds for both the frame rows and the
  * stop-hash sidecar. */
class VideoClipIndexSpec extends SparkSpec {

  private def cleanup(tables: String*): Unit =
    GraftSession.dropTables(spark, tables: _*)

  // the q214 dual-generator corpus: even vids = full videos (the
  // snapshot), odd vids = planted clips (the refresh batch)
  private def frames = PerceptualQueries.videoFrameRows(spark, sf0001)

  test("index reproduces q214's cross-side alignments; snapshot side never shuffles") {
    cleanup("vclip_idx_t", "vclip_idx_t_df")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      VideoClipIndex.build(frames.filter(col("vid") % 2 === 0),
        "vclip_idx_t")
      val m = VideoClipIndex.matches(frames.filter(col("vid") % 2 === 1),
        "vclip_idx_t")
      val got = m.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet

      // expected: the one-shot q214 relation (union corpus, union df)
      // restricted to (full, clip) pairs. q214 emits vid_a < vid_b with
      // offset = pos_a − pos_b; matches() emits (batch vid, snapshot
      // vid) with offset = match_pos − pos, so when q214's LEFT side is
      // the batch the offset negates. n_matched agrees on either
      // orientation: at one fixed offset, matched positions on the two
      // sides are in bijection.
      val expected = SparkEntry
        .queries("q214_video_clip_match")(spark, sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .flatMap { case (a, b, off, n) =>
          if (a % 2 == 0 && b % 2 == 1) Some((b, a, off, n))
          else if (a % 2 == 1 && b % 2 == 0) Some((a, b, -off, n))
          else None // snapshot-internal / batch-internal pair
        }.toSet
      assert(got == expected,
        s"index path diverged from q214: ${got.size} vs ${expected.size}; " +
          s"missing ${expected -- got}; extra ${got -- expected}")
      assert(got.nonEmpty, "fixture degenerate: no cross-side alignments")
      // every planted clip recovered by q214 reads offset +2 here: "the
      // clip starts at snapshot frame 2" (the ClipOff ground truth)
      val planted = got.filter { case (v, mv, _, _) => v == mv + 1 }
      assert(planted.nonEmpty && planted.forall(_._3 == 2L),
        s"planted clips must align at +2: $planted")

      // plan proof: NO shuffle under any snapshot-table scan feeding a
      // non-broadcast join (both the frame join and the sidecar probe
      // are bucket-aligned on fhash)
      def flatten(p: SparkPlan): Seq[SparkPlan] = PlanGuards.flatten(p)
      val plan = m.queryExecution.executedPlan
      val joins = flatten(plan).collect {
        case j: SortMergeJoinExec => j: SparkPlan
        case j: ShuffledHashJoinExec => j: SparkPlan
      }.filter(_.toString.contains("vclip_idx_t"))
      assert(joins.nonEmpty,
        s"no non-broadcast join over the index table in:\n$plan")
      joins.foreach { j =>
        j.children.filter(_.toString.contains("vclip_idx_t")).foreach {
          side =>
            val shuffles = flatten(side).collect {
              case e: ShuffleExchangeExec => e
            }
            assert(shuffles.isEmpty,
              s"snapshot side of the frame-hash join shuffles:\n$side")
        }
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      cleanup("vclip_idx_t", "vclip_idx_t_df")
    }
  }

  test("admit rolls matches up per vid; append ≡ rebuild for rows and sidecar") {
    cleanup("vclip_app_t", "vclip_app_t_df", "vclip_reb_t", "vclip_reb_t_df")
    try {
      val snap = frames.filter(col("vid") % 2 === 0)
      val batch = frames.filter(col("vid") % 2 === 1)
      VideoClipIndex.build(snap, "vclip_app_t")

      // verdict consistency with the alignment relation
      val m = VideoClipIndex.matches(batch, "vclip_app_t").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      val byVid = m.groupBy(_._1)
      val verdicts = VideoClipIndex.admit(batch, "vclip_app_t").collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
        .toMap
      assert(verdicts.keySet ==
        batch.select("vid").distinct().collect().map(_.getLong(0)).toSet)
      verdicts.foreach { case (vid, (nm, fm, span, adm)) =>
        byVid.get(vid) match {
          case Some(ms) =>
            assert(nm == ms.map(_._2).distinct.size && !adm)
            assert(fm == ms.map(_._2).min)
            assert(span == ms.map(_._3).max)
          case None =>
            assert(nm == 0L && fm == -1L && span == 0L && adm)
        }
      }

      // advance WITHOUT a rebuild, then prove the landed state equals
      // a from-scratch build over snapshot ∪ admitted
      val admitted = verdicts.filter(_._2._4).keySet
      VideoClipIndex.append(
        batch.filter(col("vid").isInCollection(admitted)), "vclip_app_t")
      VideoClipIndex.build(
        snap.union(batch.filter(col("vid").isInCollection(admitted))),
        "vclip_reb_t")
      def rows(t: String) = spark.table(t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows("vclip_app_t") == rows("vclip_reb_t"),
        "appended index diverged from a rebuild")
      // sidecar: generation-summed df equals the rebuild's df per hash
      def df(t: String) = spark.table(t + "_df")
        .groupBy(col("fhash")).agg(sum(col("df")).as("df")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(df("vclip_app_t") == df("vclip_reb_t"),
        "sidecar generations diverged from a rebuild's distinct-vid counts")

      // lifecycle: audit row + catalog kind
      val audit = VideoClipIndex.layoutAudit(spark, "vclip_app_t")
        .collect().head
      assert(audit.getAs[Long]("n_frame_rows") ==
        rows("vclip_app_t").size.toLong)
      assert(!audit.getAs[Boolean]("rebucket_due"))
      val cat = graft.operators.IndexCatalog.auditJson(spark,
        Seq(graft.operators.IndexCatalog.Entry("vclip_app_t", "vclip")))
      assert(cat.contains("\"kind\":\"vclip\"") &&
        cat.contains("\"action\":\"rebucket\""), cat)
    } finally
      cleanup("vclip_app_t", "vclip_app_t_df", "vclip_reb_t", "vclip_reb_t_df")
  }
}
