package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.operators.{AnnIvfIndex, HybridRetrieval, InvertedTextIndex}
import graft.queries.RetrievalQueries

/** Hybrid serving = RRF over the two index legs, exactly — and both
  * legs keep their pruned, unshuffled plans inside the composed job.
  * (Oracle-identity with q181 is impossible by design: q181's semantic
  * side is exact brute force including the self-hit, the serving side
  * is IVF-probed excluding self — the spec pins the fusion arithmetic
  * instead.) */
class HybridRetrievalSpec extends SparkSpec {

  private def cleanup(): Unit =
    GraftSession.dropTables(spark, "hyb_text_idx", "hyb_text_idx_meta",
      "hyb_text_idx_pos", "hyb_ann_idx", "hyb_ann_idx_cent")

  test("hybrid fusion is exactly RRF over the two index outputs, with both scans pruned") {
    cleanup()
    try {
      val docs = Tables.documents(spark, sf0001)
      val emb = Tables.embeddings(spark, sf0001)
      InvertedTextIndex.build(docs, "hyb_text_idx")
      AnnIvfIndex.build(
        emb.select(col("vec_id"), col("label").cast("long").as("cell"),
          col("embedding")),
        "hyb_ann_idx")

      val queries = RetrievalQueries.queryDocs(spark, sf0001)
        .join(docs, col("q_doc") === col("doc_id"))
        .select(col("q_doc"), col("text"))
      val qVecs = RetrievalQueries.queryDocs(spark, sf0001)
        .join(emb, col("q_doc") === col("vec_id"))
        .select(col("q_doc"), col("embedding"))

      val out = HybridRetrieval.search(queries, qVecs,
        "hyb_text_idx", "hyb_ann_idx")
      val rows = out.collect()
      assert(rows.nonEmpty)

      // recompute RRF from the two legs independently
      val kw = InvertedTextIndex.search(queries, "hyb_text_idx", k = 20)
        .collect()
        .map(r => (r.getAs[Long]("q_doc"), r.getAs[Long]("doc_id")) ->
          r.getAs[Int]("rk")).toMap
      val sem = AnnIvfIndex.search(
          qVecs.select(col("q_doc").as("q_id"), col("embedding")),
          "hyb_ann_idx", k = 20)
        .collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id")) ->
          r.getAs[Int]("rk")).toMap
      def ppm(rk: Option[Int]): Long =
        rk.map(r => 1000000L / (60L + r)).getOrElse(0L)
      val expected = (kw.keySet ++ sem.keySet).groupBy(_._1).flatMap {
        case (q, keys) =>
          keys.toSeq
            .map { key =>
              val f = ppm(kw.get(key)) + ppm(sem.get(key))
              (key._2, f)
            }
            .sortBy { case (doc, f) => (-f, doc) }
            .take(5).zipWithIndex
            .map { case ((doc, f), i) => (q, i + 1, doc, f) }
      }.toSet
      val got = rows.map(r => (r.getAs[Long]("q_doc"), r.getAs[Int]("rk"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("rrf_ppm"))).toSet
      assert(got == expected,
        s"fusion diverged: ${got.size} vs ${expected.size} rows")

      // both index scans stay pruned and unshuffled inside ONE plan
      def flatten(p: SparkPlan): Seq[SparkPlan] = PlanGuards.flatten(p)
      val plan = out.queryExecution.executedPlan
      Seq("hyb_text_idx", "hyb_ann_idx").foreach { t =>
        val shuffles = flatten(plan).collect {
          case e: ShuffleExchangeExec if e.toString.contains(t) => e
        }
        assert(shuffles.isEmpty, s"$t feeds a shuffle:\n$plan")
      }
      assert("SelectedBucketsCount".r.findAllIn(plan.toString).length >= 2,
        s"expected both index scans bucket-pruned:\n$plan")
    } finally cleanup()
  }
}
