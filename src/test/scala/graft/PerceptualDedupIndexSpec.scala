package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import graft.operators.{IndexCatalog, PerceptualDedupIndex, WidePhash}
import graft.operators.PerceptualDedupIndex.{AudioLayout, ImageLayout}

/** The materialized perceptual-fingerprint index must be a pure layout
  * change: admit verdicts identical to an independent replay of the
  * q207 matching semantics (identity matches cap-exempt, banded
  * matches gated on snapshot bucket df ≤ cap), append ≡ rebuild, and
  * the physical plan must prove the production claim — the snapshot
  * side of the block join is a pre-bucketed scan with no exchange. */
class PerceptualDedupIndexSpec extends SparkSpec {

  private def cleanup(tables: String*): Unit =
    GraftSession.dropTables(spark, tables.flatMap(t => Seq(t, t + "_df")): _*)

  /** Image signature frame from the oracle-checked q206 fingerprints. */
  private def imageSig: DataFrame =
    SparkEntry.queries("q206_image_phash")(spark, sf0001)
      .select(col("doc_id").as("id"), col("w0").as("l0"),
        col("w1").as("l1"), col("w2").as("l2"), col("w3").as("l3"))

  private def collectSig(df: DataFrame): Map[Long, Array[Long]] =
    df.collect().map(r => r.getAs[Long]("id") ->
      Array(r.getAs[Long]("l0"), r.getAs[Long]("l1"),
        r.getAs[Long]("l2"), r.getAs[Long]("l3"))).toMap

  /** Independent replay of the admit semantics against a snapshot:
    * distinct snapshot fingerprints (min-id reps), block dfs over
    * them, identity cap-exempt, banded matches need a non-hot shared
    * block. Returns (n_matches, first_match, min_hd) per probe id. */
  private def replay(snap: Map[Long, Array[Long]],
      probes: Map[Long, Array[Long]]): Map[Long, (Long, Long, Int)] = {
    val reps = snap.groupBy(_._2.toSeq).map { case (h, m) =>
      (h.toArray, m.keys.min)
    }.toSeq
    val bdf = scala.collection.mutable.Map.empty[(Int, Long), Long]
    for ((h, _) <- reps; k <- 0 until WidePhash.Blocks)
      bdf.updateWith((k, WidePhash.block(h, k)))(c => Some(c.getOrElse(0L) + 1))
    probes.map { case (pid, ph) =>
      val hits = reps.filter { case (h, _) =>
        val d = WidePhash.hd(ph, h)
        d == 0 || (d <= WidePhash.HdMax &&
          (0 until WidePhash.Blocks).exists(k =>
            WidePhash.block(ph, k) == WidePhash.block(h, k) &&
              bdf((k, WidePhash.block(h, k))) <= WidePhash.DfCap))
      }
      if (hits.isEmpty) pid -> (0L, -1L, -1)
      else pid -> (hits.size.toLong, hits.map(_._2).min,
        hits.map(h => WidePhash.hd(ph, h._1)).min)
    }
  }

  test("image admit == q207-semantics replay; snapshot side never shuffles") {
    cleanup("phash_idx_t")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val sig = imageSig
      val snapDf = sig.filter(col("id") % 2 === 0)
      val batchDf = sig.filter(col("id") % 2 === 1)
      PerceptualDedupIndex.build(ImageLayout, snapDf, "phash_idx_t")
      val out = PerceptualDedupIndex.admit(ImageLayout, batchDf, "phash_idx_t")

      val got = out.collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_matches"), r.getAs[Long]("first_match"),
          r.getAs[Int]("min_hd"), r.getAs[Boolean]("admitted"))).toMap
      val expect = replay(collectSig(snapDf), collectSig(batchDf))
      assert(got.keySet == expect.keySet)
      for ((id, (n, f, h)) <- expect) {
        assert(got(id) == ((n, f, h, n == 0L)),
          s"verdict mismatch for $id: got ${got(id)}, expect ($n, $f, $h)")
      }
      // the corpus actually exercises both outcomes
      assert(got.values.exists(_._4) && got.values.exists(!_._4),
        "fixture too weak: need both admitted and matched probes")
      // matched probes include a banded (hd ≥ 1) match, not just
      // identity hits — the block join is live
      assert(expect.values.exists(v => v._1 > 0 && v._3 >= 1),
        "fixture too weak: no cross-fingerprint match")

      // physical plan: the block join's snapshot side is the bucketed
      // scan, with no shuffle exchange under it
      def flatten(p: SparkPlan): Seq[SparkPlan] = PlanGuards.flatten(p)
      val plan = out.queryExecution.executedPlan
      val joins = flatten(plan).collect {
        case j: SortMergeJoinExec => j: SparkPlan
        case j: ShuffledHashJoinExec => j: SparkPlan
      }
      val snapJoins = joins.filter(_.toString.contains("phash_idx_t"))
      assert(snapJoins.nonEmpty,
        s"no non-broadcast join over the index table in:\n$plan")
      for (j <- snapJoins; side <- j.children
          if side.toString.contains("phash_idx_t")) {
        val shuffles = flatten(side).collect {
          case e: ShuffleExchangeExec => e
        }
        assert(shuffles.isEmpty,
          s"snapshot side of the block join shuffles:\n$side")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      cleanup("phash_idx_t")
    }
  }

  test("append(Δ) advances the snapshot exactly like a rebuild over S ∪ Δ") {
    cleanup("phash_idx_inc", "phash_idx_full")
    try {
      val sig = imageSig
      val snap0 = sig.filter(col("id") % 4 > 1)   // initial snapshot S
      val b1 = sig.filter(col("id") % 4 === 1)    // first refresh batch
      val b2 = sig.filter(col("id") % 4 === 0)    // the NEXT batch

      PerceptualDedupIndex.build(ImageLayout, snap0, "phash_idx_inc")
      // append only what admit ADMITTED (the documented contract) —
      // MATERIALIZED: a lazy admit frame would re-evaluate against the
      // index after its own append (every Δ doc then matches itself)
      val admittedIds = PerceptualDedupIndex
        .admit(ImageLayout, b1, "phash_idx_inc")
        .filter(col("admitted")).select(col("id"))
        .collect().map(_.getLong(0)).toSeq
      val delta = b1.filter(col("id").isInCollection(admittedIds))
      PerceptualDedupIndex.append(ImageLayout, delta, "phash_idx_inc")
      PerceptualDedupIndex.build(ImageLayout, snap0.unionByName(delta),
        "phash_idx_full")

      val viaAppend = PerceptualDedupIndex
        .admit(ImageLayout, b2, "phash_idx_inc").collect().toSet
      val viaRebuild = PerceptualDedupIndex
        .admit(ImageLayout, b2, "phash_idx_full").collect().toSet
      assert(viaAppend == viaRebuild,
        s"appended index diverged from rebuild: " +
          s"${viaAppend.size} vs ${viaRebuild.size} rows")
      // Δ's rows are live in the appended index — and so is its df
      // generation (sum over the sidecar equals the rebuilt sidecar's)
      val incDf = spark.table("phash_idx_inc_df")
        .groupBy(col("bkey")).agg(sum(col("df")).as("df"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val fullDf = spark.table("phash_idx_full_df")
        .collect().map(r => r.getAs[Long]("bkey") -> r.getAs[Long]("df")).toMap
      assert(incDf == fullDf, "sidecar df generations diverged from rebuild")
    } finally cleanup("phash_idx_inc", "phash_idx_full")
  }

  test("audio layout: identity and hd≤3 matches, far fingerprints admitted") {
    cleanup("phash_idx_a")
    try {
      import spark.implicits._
      // crafted 63-bit fingerprints: base, a 1-bit neighbor, a far one
      val base = 0x123456789abcdefL
      val snap = Seq((10L, base), (11L, base ^ (1L << 40)),
        (12L, 0x7ea5a5a5a5a5a5aL))
        .toDF("id", "l0")
        .select(col("id"), col("l0"), lit(0L).as("l1"),
          lit(0L).as("l2"), lit(0L).as("l3"))
      PerceptualDedupIndex.build(AudioLayout, snap, "phash_idx_a")
      val probes = Seq(
        (20L, base),              // identity → matches 10 (hd 0), 11 (hd 1)
        (21L, base ^ 7L),         // hd 3 of base → matches 10; hd 4 of 11
        (22L, 0x355555555555555L) // far from everything
      ).toDF("id", "l0")
        .select(col("id"), col("l0"), lit(0L).as("l1"),
          lit(0L).as("l2"), lit(0L).as("l3"))
      val got = PerceptualDedupIndex
        .admit(AudioLayout, probes, "phash_idx_a")
        .collect().map(r => r.getAs[Long]("id") ->
          (r.getAs[Long]("n_matches"), r.getAs[Long]("first_match"),
            r.getAs[Int]("min_hd"), r.getAs[Boolean]("admitted"))).toMap
      assert(got(20L) == ((2L, 10L, 0, false)), s"${got(20L)}")
      assert(got(21L) == ((1L, 10L, 3, false)), s"${got(21L)}")
      assert(got(22L) == ((0L, -1L, -1, true)), s"${got(22L)}")
    } finally cleanup("phash_idx_a")
  }

  test("layout audit + IndexCatalog row (kind phash)") {
    cleanup("phash_idx_cat")
    try {
      val sig = imageSig
      PerceptualDedupIndex.build(ImageLayout, sig, "phash_idx_cat")
      val nFp = sig.select(col("l0"), col("l1"), col("l2"), col("l3"))
        .distinct().count()
      val audit = PerceptualDedupIndex.layoutAudit(spark, "phash_idx_cat")
        .collect().head
      // blocks + 1 identity row per distinct fingerprint
      assert(audit.getAs[Long]("n_fp_rows") ==
        (WidePhash.Blocks + 1) * nFp, s"$audit")
      assert(!audit.getAs[Boolean]("rebucket_due"), s"tiny index due: $audit")
      // scaled-down target: overgrowth trips the trigger
      val due = PerceptualDedupIndex.layoutAudit(spark, "phash_idx_cat",
        targetRowsPerBucket = 10L).collect().head
      assert(due.getAs[Boolean]("rebucket_due"), s"$due")

      val cat = IndexCatalog.audit(spark,
        Seq(IndexCatalog.Entry("phash_idx_cat", "phash")))
        .collect().head
      assert(cat.getAs[String]("kind") == "phash" &&
        cat.getAs[String]("action") == "rebucket" &&
        cat.getAs[Long]("n_rows") == (WidePhash.Blocks + 1) * nFp &&
        cat.getAs[Long]("buckets") == 8L, s"$cat")
    } finally cleanup("phash_idx_cat")
  }

  test("bucket sizing rule scales with fingerprints, stays a power of two") {
    import PerceptualDedupIndex.bucketsFor
    assert(bucketsFor(ImageLayout, 500L) == 8)
    // 13 rows/fingerprint: 2^18-rows-per-bucket target
    assert(bucketsFor(ImageLayout, (1L << 18) * 8 / 13) == 8)
    val b = bucketsFor(ImageLayout, 1000L * 1000 * 1000)
    assert(Integer.bitCount(b) == 1 && b >= 32768, s"$b")
    assert(bucketsFor(AudioLayout, 500L) == 8)
  }
}
