package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import graft.operators.PqSemDedupIndex

/** The compressed snapshot index must earn its ~7× byte cut without
  * changing admit verdicts on the test corpus (q178 measured zero
  * ADC verdict flips at every scale — this spec pins it end-to-end
  * through the operator), while the physical plan proves the scan
  * claims: the cell join's snapshot side is the pre-bucketed CODE
  * table with no shuffle exchange and no embedding column. */
class PqSemDedupIndexSpec extends SparkSpec {

  private def cleanup(tables: String*): Unit =
    GraftSession.dropTables(spark, tables: _*)

  test("compressed index matches q176 admit verdicts; snapshot side is unshuffled code rows") {
    cleanup("pq_idx_t", "pq_idx_t_cb")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val emb = Tables.embeddings(spark, sf0001)
      val n = emb.count()
      val snapshot = emb.filter(col("vec_id") % 4 =!= 0)
      PqSemDedupIndex.build(snapshot, "pq_idx_t", gridN = n)

      // the compression claim is structural: no embeddings in the
      // index, 4 one-byte-range codes per row
      val idxSchema = spark.table("pq_idx_t").schema.fieldNames.toSet
      assert(!idxSchema.contains("embedding"),
        s"compressed index stores embeddings: $idxSchema")
      val codeStats = spark.table("pq_idx_t")
        .select(size(col("codes")).as("len"),
          expr("array_max(codes)").as("mx"),
          expr("array_min(codes)").as("mn"))
        .agg(min(col("len")), max(col("len")), max(col("mx")),
          min(col("mn"))).collect().head
      assert(codeStats.getInt(0) == 4 && codeStats.getInt(1) == 4,
        s"codes not 4 per vector: $codeStats")
      assert(codeStats.getLong(2) <= 255L && codeStats.getLong(3) >= 0L,
        s"codes outside 1-byte range: $codeStats")

      val out = PqSemDedupIndex.admit(
        emb.filter(col("vec_id") % 4 === 0)
          .select(col("vec_id"), col("label"), col("embedding")),
        "pq_idx_t", corpus = snapshot)

      // admitted-verdict parity with the one-shot full-precision query
      val viaPq = out.select(col("vec_id"), col("admitted"))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val oneShot = SparkEntry.queries("q176_delta_semdedup")(spark, sf0001)
        .select(col("vec_id"), col("admitted"))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(viaPq == oneShot,
        s"PQ admit verdicts diverged from q176: " +
          s"${viaPq.count(kv => oneShot.get(kv._1) != Some(kv._2))} flips")

      // the cell join's snapshot side: bucketed scan, no exchange
      def flatten(p: SparkPlan): Seq[SparkPlan] = PlanGuards.flatten(p)
      val plan = out.queryExecution.executedPlan
      // match the CELL join by its join keys (admit also plans an
      // id_s-keyed confirm join whose subtree contains the index scan)
      val cellJoin = flatten(plan).collect {
        case j: SortMergeJoinExec
            if (j.leftKeys ++ j.rightKeys).mkString.contains("cell") =>
          j: SparkPlan
        case j: ShuffledHashJoinExec
            if (j.leftKeys ++ j.rightKeys).mkString.contains("cell") =>
          j: SparkPlan
      }.filter(_.toString.contains("pq_idx_t"))
      assert(cellJoin.nonEmpty,
        s"no non-broadcast cell join over the index table in:\n$plan")
      val snapSides = cellJoin.head.children
        .filter(_.toString.contains("pq_idx_t"))
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
      cleanup("pq_idx_t", "pq_idx_t_cb")
    }
  }

  test("append(Δ) under the deployed grid + codebook matches a rebuild-shaped admit") {
    cleanup("pq_idx_inc", "pq_idx_inc_cb")
    try {
      val emb = Tables.embeddings(spark, sf0001)
      val n = emb.count()
      val snap0 = emb.filter(col("vec_id") % 4 > 1)
      val delta = emb.filter(col("vec_id") % 4 === 1)
      val batch = emb.filter(col("vec_id") % 4 === 0)
        .select(col("vec_id"), col("label"), col("embedding"))
      val corpus = snap0.unionByName(delta)

      PqSemDedupIndex.build(snap0, "pq_idx_inc", gridN = n)
      PqSemDedupIndex.append(
        delta.select(col("vec_id"), col("embedding")), "pq_idx_inc")

      // Δ's code rows are live and the admit screen sees them: every
      // batch vector whose ONLY near-dup lives in Δ must be rejected
      val viaAppend = PqSemDedupIndex.admit(batch, "pq_idx_inc", corpus)
      val idxVecs = spark.table("pq_idx_inc")
        .select(col("vec_id")).distinct().collect().map(_.getLong(0)).toSet
      val deltaIds = delta.select(col("vec_id"))
        .collect().map(_.getLong(0)).toSet
      assert(deltaIds.subsetOf(idxVecs),
        "append did not land Δ's code rows in the index")
      // verdict parity with the FULL-precision index over S ∪ Δ —
      // append must not reopen the flip channel
      cleanup("pq_full_ref")
      graft.operators.DeltaSemDedupIndex.build(corpus, "pq_full_ref",
        gridN = n)
      val ref = graft.operators.DeltaSemDedupIndex.admit(batch,
        "pq_full_ref")
      val a = viaAppend.select(col("vec_id"), col("admitted"))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val b = ref.select(col("vec_id"), col("admitted"))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(a == b, s"appended PQ index verdicts diverged: " +
        s"${a.count(kv => b.get(kv._1) != Some(kv._2))} flips")
      cleanup("pq_full_ref")
    } finally cleanup("pq_idx_inc", "pq_idx_inc_cb", "pq_full_ref")
  }
}
