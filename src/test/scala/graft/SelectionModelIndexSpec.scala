package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{IndexCatalog, SelectionModelIndex}

/** The deployed selection-model lifecycle must be a pure layout change:
  * scoring off the persisted tables reproduces q200's verdicts and
  * q201's importances bit-for-bit, the staleness audit reads zero
  * drift on the training corpus and flags a genuinely shifted slice,
  * and the catalog row carries the ledger's drift. */
class SelectionModelIndexSpec extends SparkSpec {

  private def cleanup(tables: String*): Unit =
    GraftSession.dropTables(spark,
      tables.flatMap(t => Seq(t, t + "_dsir", t + "_meta")): _*)

  /** The q200 labeling convention, re-derived through the public q149
    * query: rule verdict as weak label, md5 doc_id split. */
  private def labeledCorpus: DataFrame = {
    val rules = SparkEntry.queries("q149_quality_rules")(spark, sf0001)
      .select(col("doc_id"), col("keep").as("label"))
    Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("source"), col("text"))
      .join(rules, "doc_id")
      .withColumn("is_train",
        substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
          <= "7f")
  }

  test("deployed scoring == q200 / q201 verdict-for-verdict") {
    cleanup("selmodel_t")
    try {
      val labeled = labeledCorpus
      SelectionModelIndex.build(labeled, "selmodel_t")

      // NB classifier: every doc's (bits, pred) off the TABLES equals
      // the in-query q200 (which trains in-plan)
      val deployed = SelectionModelIndex.score(spark,
        Tables.documents(spark, sf0001)
          .select(col("doc_id"), col("source"), col("text")), "selmodel_t")
        .collect()
        .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("n_bigrams"),
          r.getAs[Long]("bits_pos"), r.getAs[Long]("bits_neg"),
          r.getAs[Boolean]("pred"))).toMap
      val inQuery = SparkEntry
        .queries("q200_nb_quality_classifier")(spark, sf0001)
        .collect()
        .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("n_bigrams"),
          r.getAs[Long]("bits_pos"), r.getAs[Long]("bits_neg"),
          r.getAs[Boolean]("pred"))).toMap
      // q200 emits only docs with ≥ 2 tokens; the deployed scorer
      // emits every doc (unscorable ones fail closed) — compare on
      // q200's domain and pin the fail-closed rows separately
      assert(inQuery.nonEmpty)
      for ((id, v) <- inQuery)
        assert(deployed(id) == v, s"clf verdict diverged for doc $id: " +
          s"deployed ${deployed(id)} vs q200 $v")
      for ((id, v) <- deployed if !inQuery.contains(id))
        assert(v._1 == 0L && !v._4, s"unscorable doc $id must fail closed")

      // DSIR: per-doc importance off the deployed bucket table equals
      // the in-query q201
      val dsirDeployed = SelectionModelIndex.dsirScore(spark,
        Tables.documents(spark, sf0001)
          .select(col("doc_id"), col("source"), col("text")), "selmodel_t")
        .collect()
        .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("n_feats"),
          r.getAs[Long]("w_hbits"), r.getAs[Boolean]("selected"))).toMap
      val dsirInQuery = SparkEntry
        .queries("q201_dsir_importance")(spark, sf0001)
        .collect()
        .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("n_feats"),
          r.getAs[Long]("w_hbits"), r.getAs[Boolean]("selected"))).toMap
      assert(dsirDeployed == dsirInQuery,
        s"DSIR diverged: ${dsirDeployed.size} vs ${dsirInQuery.size} docs")
    } finally cleanup("selmodel_t")
  }

  test("staleness: zero drift on the training slice; a shifted slice flags retrain") {
    cleanup("selmodel_s")
    try {
      val labeled = labeledCorpus
      SelectionModelIndex.build(labeled, "selmodel_s")

      // auditing the SAME holdout the baseline was measured on reads
      // drift 0 — not due
      val same = SelectionModelIndex.staleness(spark,
        labeled.filter(!col("is_train"))
          .select(col("doc_id"), col("source"), col("text"), col("label")),
        "selmodel_s").collect().head
      assert(same.getAs[Long]("drift_bp") == 0L &&
        !same.getAs[Boolean]("retrain_due"), s"$same")
      assert(same.getAs[Long]("baseline_agree_bp") ==
        same.getAs[Long]("current_agree_bp"))
      // the baseline is a real holdout measurement: above the ~50%
      // base rate (the q200 generalization claim, measured 55-68%)
      assert(same.getAs[Long]("baseline_agree_bp") > 5000L, s"$same")

      // an adversarially shifted slice — the labels INVERTED — is the
      // limiting case of corpus drift: agreement collapses to
      // 10000 − baseline and the retrain flag must fire
      val shifted = labeled.filter(!col("is_train"))
        .select(col("doc_id"), col("source"), col("text"),
          (!col("label")).as("label"))
      val drifted = SelectionModelIndex.staleness(spark, shifted,
        "selmodel_s").collect().head
      assert(drifted.getAs[Long]("current_agree_bp") ==
        10000L - drifted.getAs[Long]("baseline_agree_bp"), s"$drifted")
      assert(drifted.getAs[Boolean]("retrain_due"), s"$drifted")

      // the ledger recorded both audits; the catalog reads the LAST
      // one's drift and the retrain action
      val meta = spark.table("selmodel_s_meta").collect()
      assert(meta.count(_.getAs[String]("kind") == "train") == 1)
      assert(meta.count(_.getAs[String]("kind") == "audit") == 2)
      val cat = IndexCatalog.audit(spark,
        Seq(IndexCatalog.Entry("selmodel_s", "selmodel"))).collect().head
      assert(cat.getAs[String]("kind") == "selmodel" &&
        cat.getAs[String]("action") == "retrain" &&
        cat.getAs[String]("signal") == "drift_bp" &&
        cat.getAs[Boolean]("action_due") &&
        cat.getAs[Long]("signal_value") ==
          drifted.getAs[Long]("drift_bp"), s"$cat")
    } finally cleanup("selmodel_s")
  }
}
