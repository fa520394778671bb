package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.operators.AnnIvfIndex

/** The materialized IVF index must be a pure layout change: search
  * results identical to q110 (which derives centroids and candidates
  * per query), while the physical plan proves the production claims —
  * the corpus side of the candidate join never shuffles and the scan
  * is bucket-pruned to the probed cells. append() admits vectors
  * under the DEPLOYED centroids without touching the quantizer. */
class AnnIvfIndexSpec extends SparkSpec {

  private def cleanup(tables: String*): Unit =
    GraftSession.dropTables(spark, tables.flatMap(t => Seq(t, t + "_cent")): _*)

  test("bucketed index search reproduces q110 with a pruned, unshuffled corpus scan") {
    cleanup("ann_idx_t")
    try {
      val emb = Tables.embeddings(spark, sf0001)
      AnnIvfIndex.build(
        emb.select(col("vec_id"), col("label").cast("long").as("cell"),
          col("embedding")),
        "ann_idx_t")
      val out = AnnIvfIndex.search(
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("q_id"), col("embedding")),
        "ann_idx_t", nprobe = 2, k = 3)

      // 1. result parity with the one-shot oracle query
      val viaIndex = out
        .select(col("q_id"), col("c_id"), col("cos_sim"), col("rk"))
        .collect().toSet
      val oneShot = SparkEntry.queries("q110_ivf_multiprobe")(spark, sf0001)
        .select(col("q_id"), col("c_id"), col("cos_sim"),
          col("rk").cast("int"))
        .collect().toSet
      assert(viaIndex == oneShot,
        s"index path diverged from q110: ${viaIndex.size} vs ${oneShot.size}")

      // 2. corpus side never shuffles and the scan is bucket-pruned
      def flatten(p: SparkPlan): Seq[SparkPlan] = PlanGuards.flatten(p)
      val plan = out.queryExecution.executedPlan
      val corpusShuffles = flatten(plan).collect {
        case e: ShuffleExchangeExec
          if e.toString.contains("ann_idx_t") => e
      }
      assert(corpusShuffles.isEmpty,
        s"corpus scan feeds a shuffle:\n$plan")
      val scanStr = flatten(plan)
        .find(p => p.nodeName.contains("Scan") &&
          p.toString.contains("ann_idx_t") &&
          !p.toString.contains("_cent"))
        .map(_.toString).getOrElse("")
      assert(scanStr.contains("SelectedBucketsCount"),
        s"corpus scan is not bucket-pruned:\n$scanStr")
    } finally cleanup("ann_idx_t")
  }

  test("append assigns to the nearest deployed centroid and leaves the quantizer fixed") {
    cleanup("ann_idx_inc")
    try {
      val emb = Tables.embeddings(spark, sf0001)
      val snap = emb.filter(col("vec_id") % 4 =!= 0)
      val delta = emb.filter(col("vec_id") % 4 === 0)
      AnnIvfIndex.build(
        snap.select(col("vec_id"), col("label").cast("long").as("cell"),
          col("embedding")),
        "ann_idx_inc")
      val centBefore = spark.table("ann_idx_inc_cent").collect().toSet

      AnnIvfIndex.append(
        delta.select(col("vec_id"), col("embedding")), "ann_idx_inc")

      // quantizer untouched
      val centAfter = spark.table("ann_idx_inc_cent").collect().toSet
      assert(centBefore == centAfter, "append moved the deployed centroids")
      // Δ rows are live and searchable: querying WITH a Δ vector's own
      // embedding must return that vector as the top hit (cos = 1)
      val probe = delta.limit(1)
        .select(lit(-1L).as("q_id"), col("embedding"))
      val dId = delta.limit(1).select(col("vec_id")).collect().head.getLong(0)
      val top = AnnIvfIndex.search(probe, "ann_idx_inc", nprobe = 2, k = 3)
        .collect()
      assert(top.exists(r => r.getAs[Long]("c_id") == dId &&
          r.getAs[Double]("cos_sim") >= 0.999999),
        s"appended vector not found among top hits: ${top.toList} " +
          s"(expected $dId)")
    } finally cleanup("ann_idx_inc")
  }

  test("balance audit flags a hot cell at the 4x skew point") {
    cleanup("ann_idx_bal", "ann_idx_skew")
    try {
      val emb = Tables.embeddings(spark, sf0001)
      // the label partition is roughly balanced → no retrain due
      AnnIvfIndex.build(
        emb.select(col("vec_id"), col("label").cast("long").as("cell"),
          col("embedding")),
        "ann_idx_bal")
      val ok = AnnIvfIndex.balance(spark, "ann_idx_bal").collect().head
      assert(ok.getAs[Long]("imbalance_x100") < 400L,
        s"label partition unexpectedly skewed: $ok")
      assert(!ok.getAs[Boolean]("retrain_due"))
      // a degenerate assignment (90%+ of vectors in cell 0) — the
      // post-append drift balance() exists to catch
      AnnIvfIndex.build(
        emb.select(col("vec_id"),
          when(col("vec_id") < 50, col("vec_id") % 10).otherwise(lit(0))
            .cast("long").as("cell"),
          col("embedding")),
        "ann_idx_skew")
      val skew = AnnIvfIndex.balance(spark, "ann_idx_skew").collect().head
      assert(skew.getAs[Boolean]("retrain_due"),
        s"hot cell not flagged: $skew")
      assert(skew.getAs[Long]("imbalance_x100")
        > ok.getAs[Long]("imbalance_x100"))
    } finally cleanup("ann_idx_bal", "ann_idx_skew")
  }

  test("retrain_due -> retrain() clears the flag, converges, and search matches a fresh build") {
    cleanup("ann_idx_rt", "ann_idx_rt_fresh")
    try {
      val emb = Tables.embeddings(spark, sf0001)
      val snap = emb.filter(col("vec_id") % 2 =!= 0)
      val delta = emb.filter(col("vec_id") % 2 === 0)
      AnnIvfIndex.build(
        snap.select(col("vec_id"), col("label").cast("long").as("cell"),
          col("embedding")),
        "ann_idx_rt")
      // inject the drift balance() exists to catch: half the corpus
      // appended into ONE hot cell (a broken upstream assigner — the
      // appended rows bypass nearestCell by building the frame the
      // append writer would have produced). Emulated via direct build
      // of the union so the test controls the assignment exactly.
      val drifted = snap
        .select(col("vec_id"), col("label").cast("long").as("cell"),
          col("embedding"))
        .unionAll(delta.select(col("vec_id"), lit(0L).as("cell"),
          col("embedding")))
      AnnIvfIndex.build(drifted, "ann_idx_rt")
      val before = AnnIvfIndex.balance(spark, "ann_idx_rt").collect().head
      assert(before.getAs[Boolean]("retrain_due"),
        s"injected hot cell not flagged: $before")

      // quantized Lloyd limit-cycles at a small residual on this
      // unstructured corpus (it never hits an exact fixed point), so
      // the budget knobs ARE the contract: stop once moves fall under
      // 1% of the corpus, and require a 10x decay from round 1
      val n = spark.table("ann_idx_rt").count()
      val moved = AnnIvfIndex.retrain(spark, "ann_idx_rt",
        maxRounds = 12, tolMoves = n / 100)
      assert(moved.head > 0L,
        s"retrain round 1 moved nothing — drift was not real: $moved")
      assert(moved.last <= math.max(n / 100, moved.head / 10),
        s"retrain movement did not decay within the budget: $moved")
      val after = AnnIvfIndex.balance(spark, "ann_idx_rt").collect().head
      assert(!after.getAs[Boolean]("retrain_due"),
        s"flag still set after retrain: $after")
      assert(after.getAs[Long]("n_vecs") == before.getAs[Long]("n_vecs"),
        "retrain lost or duplicated vectors")

      // search parity: the retrained table must answer exactly like a
      // FRESH build over the same (converged) assignment — retrain is
      // a rebuild, not a new code path
      AnnIvfIndex.build(
        spark.table("ann_idx_rt")
          .select(col("vec_id"), col("cell"), col("embedding")),
        "ann_idx_rt_fresh")
      val probes = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding"))
      val viaRetrained =
        AnnIvfIndex.search(probes, "ann_idx_rt", nprobe = 2, k = 3)
          .collect().toSet
      val viaFresh =
        AnnIvfIndex.search(probes, "ann_idx_rt_fresh", nprobe = 2, k = 3)
          .collect().toSet
      assert(viaRetrained == viaFresh,
        s"retrained search diverged from fresh build: " +
          s"${viaRetrained.size} vs ${viaFresh.size}")
    } finally cleanup("ann_idx_rt", "ann_idx_rt_fresh")
  }
}
