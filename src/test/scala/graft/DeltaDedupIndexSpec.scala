package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import graft.operators.DeltaDedupIndex

/** The materialized snapshot index must be a pure layout change:
  * verdict-for-verdict identical to q173 (which derives both sides
  * from one scan), while the physical plan proves the production
  * claim — the snapshot side of the band join is a pre-bucketed scan
  * with no shuffle exchange. */
class DeltaDedupIndexSpec extends SparkSpec {

  private def cleanup(tables: String*): Unit =
    GraftSession.dropTables(spark,
      (if (tables.isEmpty) Seq("dedup_idx_t") else tables): _*)

  test("bucketed snapshot index reproduces q173 verdicts with no snapshot-side shuffle") {
    cleanup()
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // at sf0.001 the incoming side fits under the broadcast threshold,
    // which would hide the bucketed-join path this test proves
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = Tables.documents(spark, sf0001)
      DeltaDedupIndex.build(docs.filter(col("doc_id") % 10 =!= 0),
        "dedup_idx_t")
      val out = DeltaDedupIndex.admit(
        docs.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), col("source"), col("text")),
        "dedup_idx_t")

      // 1. verdict parity with the one-shot oracle query
      val viaIndex = out.collect().toSet
      val oneShot = SparkEntry.queries("q173_delta_dedup")(spark, sf0001)
        .collect().toSet
      assert(viaIndex == oneShot,
        s"index path diverged from q173: ${viaIndex.size} vs ${oneShot.size} rows")

      // 2. the band join's snapshot side is the bucketed scan, unshuffled
      // (PlanGuards.flatten descends through the AQE wrapper)
      def flatten(p: SparkPlan): Seq[SparkPlan] = PlanGuards.flatten(p)
      val plan = out.queryExecution.executedPlan
      val joins = flatten(plan).collect {
        case j: SortMergeJoinExec => j: SparkPlan
        case j: ShuffledHashJoinExec => j: SparkPlan
      }
      val bandJoin = joins.filter(_.toString.contains("dedup_idx_t"))
      assert(bandJoin.nonEmpty,
        s"no non-broadcast join over the index table in:\n$plan")
      val snapSides = bandJoin.head.children
        .filter(_.toString.contains("dedup_idx_t"))
      assert(snapSides.nonEmpty)
      snapSides.foreach { side =>
        val shuffles = flatten(side).collect {
          case e: ShuffleExchangeExec => e
        }
        assert(shuffles.isEmpty,
          s"snapshot side of the band join shuffles:\n$side")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      cleanup()
    }
  }

  test("append(Δ) advances the snapshot exactly like a rebuild over S ∪ Δ") {
    cleanup("dedup_idx_inc", "dedup_idx_full")
    try {
      val docs = Tables.documents(spark, sf0001)
      val snap0 = docs.filter(col("doc_id") % 10 > 1)   // initial snapshot S
      val delta = docs.filter(col("doc_id") % 10 === 1) // admitted refresh Δ
      val batch = docs.filter(col("doc_id") % 10 === 0) // the NEXT batch
        .select(col("doc_id"), col("source"), col("text"))

      DeltaDedupIndex.build(snap0, "dedup_idx_inc")
      DeltaDedupIndex.append(delta, "dedup_idx_inc")
      DeltaDedupIndex.build(snap0.unionByName(delta), "dedup_idx_full")

      val viaAppend = DeltaDedupIndex.admit(batch, "dedup_idx_inc")
        .collect().toSet
      val viaRebuild = DeltaDedupIndex.admit(batch, "dedup_idx_full")
        .collect().toSet
      assert(viaAppend == viaRebuild,
        s"appended index diverged from rebuild: " +
          s"${viaAppend.size} vs ${viaRebuild.size} rows")
      // Δ's band rows are actually live in the appended index (a batch
      // doc near-identical to a Δ doc would be caught), not just absent
      // from a broken scan: the appended table must contain Δ's ids.
      val idxDocs = spark.table("dedup_idx_inc")
        .select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSet
      val deltaIds = delta.select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet
      assert(deltaIds.subsetOf(idxDocs),
        "append did not land Δ's band rows in the index")
    } finally cleanup("dedup_idx_inc", "dedup_idx_full")
  }

  test("layout audit flags buckets grown past 2x the sizing target") {
    cleanup("dedup_idx_aud")
    try {
      val docs = Tables.documents(spark, sf0001)
      DeltaDedupIndex.build(docs, "dedup_idx_aud")
      // against the production target the test index is tiny → not due
      val ok = DeltaDedupIndex.layoutAudit(spark, "dedup_idx_aud")
        .collect().head
      assert(ok.getAs[Long]("n_band_rows") == 2 * docs.count(),
        s"band index should hold 2 rows/doc: $ok")
      assert(!ok.getAs[Boolean]("rebucket_due"), s"tiny index due: $ok")
      // with the target scaled to the test corpus, appends past 2x
      // trip the trigger: 8 buckets × target 10 → due above 160 rows
      val due = DeltaDedupIndex.layoutAudit(spark, "dedup_idx_aud",
        targetRowsPerBucket = 10L).collect().head
      assert(due.getAs[Long]("n_band_rows")
        > 2L * 10L * due.getAs[Long]("buckets"))
      assert(due.getAs[Boolean]("rebucket_due"),
        s"overgrown layout not flagged: $due")
    } finally cleanup("dedup_idx_aud")
  }

  test("bucket sizing rule scales with the snapshot and stays a power of two") {
    import graft.operators.DeltaDedupIndex.bucketsFor
    assert(bucketsFor(600L) == 8)                 // sf0.001: floor
    assert(bucketsFor(1L << 20) == 8)             // 2·2^20/2^18 = 8
    assert(bucketsFor((1L << 20) + 1) == 16)      // just past → next pow2
    assert(bucketsFor(100L * 1000 * 1000) == 1024)
    val b = bucketsFor(100L * 1000 * 1000 * 1000) // 100B-doc corpus
    assert(b == (1 << 20) && Integer.bitCount(b) == 1)
  }
}
