package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import graft.operators.DeltaSemDedupIndex

/** The embedding-side snapshot index must be a pure layout change:
  * verdict-for-verdict identical to q176 (which derives the snapshot's
  * cells per query), while the physical plan proves the production
  * claim — the cell join's snapshot side is a pre-bucketed scan with
  * no shuffle exchange, and append(Δ) under the deployed grid answers
  * exactly like a rebuild. */
class DeltaSemDedupIndexSpec extends SparkSpec {

  private def cleanup(tables: String*): Unit =
    GraftSession.dropTables(spark, tables: _*)

  test("bucketed cell index reproduces q176 verdicts with no snapshot-side shuffle") {
    cleanup("sem_idx_t")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val emb = Tables.embeddings(spark, sf0001)
      // q176's grid is sized from the FULL corpus count; fix the
      // deployed grid to the same size so verdicts are comparable
      val n = emb.count()
      DeltaSemDedupIndex.build(emb.filter(col("vec_id") % 4 =!= 0),
        "sem_idx_t", gridN = n)
      val out = DeltaSemDedupIndex.admit(
        emb.filter(col("vec_id") % 4 === 0)
          .select(col("vec_id"), col("label"), col("embedding")),
        "sem_idx_t")

      // 1. verdict parity with the one-shot oracle query
      val viaIndex = out.collect().toSet
      val oneShot = SparkEntry.queries("q176_delta_semdedup")(spark, sf0001)
        .collect().toSet
      assert(viaIndex == oneShot,
        s"index path diverged from q176: ${viaIndex.size} vs ${oneShot.size} rows")

      // 2. the cell join's snapshot side is the bucketed scan, unshuffled
      def flatten(p: SparkPlan): Seq[SparkPlan] = PlanGuards.flatten(p)
      val plan = out.queryExecution.executedPlan
      val joins = flatten(plan).collect {
        case j: SortMergeJoinExec => j: SparkPlan
        case j: ShuffledHashJoinExec => j: SparkPlan
      }
      val cellJoin = joins.filter(_.toString.contains("sem_idx_t"))
      assert(cellJoin.nonEmpty,
        s"no non-broadcast join over the index table in:\n$plan")
      val snapSides = cellJoin.head.children
        .filter(_.toString.contains("sem_idx_t"))
      assert(snapSides.nonEmpty)
      snapSides.foreach { side =>
        val shuffles = flatten(side).collect {
          case e: ShuffleExchangeExec => e
        }
        assert(shuffles.isEmpty,
          s"snapshot side of the cell join shuffles:\n$side")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      cleanup("sem_idx_t")
    }
  }

  test("append(Δ) under the deployed grid matches a rebuild over S ∪ Δ") {
    cleanup("sem_idx_inc", "sem_idx_full")
    try {
      val emb = Tables.embeddings(spark, sf0001)
      val n = emb.count()
      val snap0 = emb.filter(col("vec_id") % 4 > 1)   // initial snapshot S
      val delta = emb.filter(col("vec_id") % 4 === 1) // admitted refresh Δ
      val batch = emb.filter(col("vec_id") % 4 === 0) // the NEXT batch
        .select(col("vec_id"), col("label"), col("embedding"))

      DeltaSemDedupIndex.build(snap0, "sem_idx_inc", gridN = n)
      DeltaSemDedupIndex.append(
        delta.select(col("vec_id"), col("embedding")), "sem_idx_inc")
      DeltaSemDedupIndex.build(snap0.unionByName(delta), "sem_idx_full",
        gridN = n)

      val viaAppend = DeltaSemDedupIndex.admit(batch, "sem_idx_inc")
        .collect().toSet
      val viaRebuild = DeltaSemDedupIndex.admit(batch, "sem_idx_full")
        .collect().toSet
      assert(viaAppend == viaRebuild,
        s"appended index diverged from rebuild: " +
          s"${viaAppend.size} vs ${viaRebuild.size} rows")
      // Δ's cell rows are live in the appended index
      val idxVecs = spark.table("sem_idx_inc")
        .select(col("vec_id")).distinct().collect().map(_.getLong(0)).toSet
      val deltaIds = delta.select(col("vec_id"))
        .collect().map(_.getLong(0)).toSet
      assert(deltaIds.subsetOf(idxVecs),
        "append did not land Δ's cell rows in the index")
    } finally cleanup("sem_idx_inc", "sem_idx_full")
  }

  test("occupancy audit flags a grid the corpus has outgrown 2x") {
    cleanup("sem_idx_occ_ok", "sem_idx_occ_stale")
    try {
      val emb = Tables.embeddings(spark, sf0001)
      val n = emb.count()
      // grid sized by the rule → within budget
      DeltaSemDedupIndex.build(emb, "sem_idx_occ_ok", gridN = n)
      val ok = DeltaSemDedupIndex.occupancy(spark, "sem_idx_occ_ok")
        .collect().head
      assert(ok.getAs[Long]("n_vecs") == n)
      assert(!ok.getAs[Boolean]("rebuild_due"),
        s"fresh grid flagged stale: $ok")
      // grid deployed when the corpus was 1/4 the size (two doublings
      // of appends ago) → past the 2x trigger
      DeltaSemDedupIndex.build(emb, "sem_idx_occ_stale", gridN = (n + 3) / 4)
      val stale = DeltaSemDedupIndex.occupancy(spark, "sem_idx_occ_stale")
        .collect().head
      assert(stale.getAs[Boolean]("rebuild_due"),
        s"outgrown grid not flagged: $stale")
      // the audit's pair-work metric grows when the grid is stale —
      // the q179 drift, observed on the live index
      assert(stale.getAs[Long]("pairwork_per_vec_x100")
        > ok.getAs[Long]("pairwork_per_vec_x100"))
      assert(stale.getAs[Long]("n_cells_cap")
        < ok.getAs[Long]("n_cells_cap"))
    } finally cleanup("sem_idx_occ_ok", "sem_idx_occ_stale")
  }

  test("bucket sizing rule scales with the snapshot and stays a power of two") {
    import graft.operators.DeltaSemDedupIndex.bucketsFor
    assert(bucketsFor(500L) == 8)
    assert(bucketsFor(8L << 20) == 8)              // 8·2^20 rows → floor
    assert(bucketsFor((8L << 20) + 1) == 16)
    val b = bucketsFor(100L * 1000 * 1000 * 1000)  // 100B-vector corpus
    assert(b == (1 << 17) && Integer.bitCount(b) == 1)
  }
}
