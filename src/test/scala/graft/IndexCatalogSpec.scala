package graft

import org.apache.spark.sql.functions._

import graft.operators.{AnnIvfIndex, DeltaDedupIndex, DeltaSemDedupIndex,
  FuzzyVocabIndex, IndexCatalog, InvertedTextIndex}

/** The unified catalog must agree row-for-row with the per-index
  * audits it normalizes (same trigger verdicts, same row counts) and
  * carry the shared retention signal (files/bucket) for every
  * bucketed family — one frame the refresh runbook can act on. */
class IndexCatalogSpec extends SparkSpec {

  private val tables = Seq("cat_text_idx", "cat_text_idx_meta",
    "cat_text_idx_pos", "cat_text_idx_fwd", "cat_band_idx",
    "cat_cell_idx", "cat_ann_idx", "cat_ann_idx_cent",
    "cat_fuzzy_vocab", "cat_fuzzy_keys", "cat_skew_idx",
    "cat_skew_idx_cent")

  private def cleanup(): Unit = GraftSession.dropTables(spark, tables: _*)

  test("catalog normalizes every index family's audit into one frame") {
    cleanup()
    try {
      val docs = Tables.documents(spark, sf0001)
      val emb = Tables.embeddings(spark, sf0001)
      InvertedTextIndex.build(docs, "cat_text_idx", positional = true,
        forward = true)
      DeltaDedupIndex.build(docs, "cat_band_idx")
      DeltaSemDedupIndex.build(emb, "cat_cell_idx", gridN = emb.count())
      AnnIvfIndex.build(
        emb.select(col("vec_id"), col("label").cast("long").as("cell"),
          col("embedding")),
        "cat_ann_idx")
      FuzzyVocabIndex.build(docs, "cat_fuzzy")
      // an index whose trigger IS due: everything in one hot cell
      AnnIvfIndex.build(
        emb.select(col("vec_id"),
          when(col("vec_id") < 20, col("vec_id") % 10).otherwise(lit(0))
            .cast("long").as("cell"),
          col("embedding")),
        "cat_skew_idx")

      val entries = Seq(
        IndexCatalog.Entry("cat_text_idx", "text"),
        IndexCatalog.Entry("cat_band_idx", "band"),
        IndexCatalog.Entry("cat_cell_idx", "cell"),
        IndexCatalog.Entry("cat_ann_idx", "ann"),
        IndexCatalog.Entry("cat_fuzzy", "fuzzy"),
        IndexCatalog.Entry("cat_skew_idx", "ann"))
      val rows = IndexCatalog.audit(spark, entries).collect()
        .map(r => r.getAs[String]("index") -> r).toMap
      assert(rows.size == entries.size, s"rows: ${rows.keySet}")

      // every row: physical layout read, signal named, action named
      for ((_, r) <- rows) {
        assert(r.getAs[Long]("n_rows") > 0, s"empty index row: $r")
        assert(r.getAs[Long]("buckets") > 0, s"no bucket spec: $r")
        assert(r.getAs[Long]("files") > 0, s"no files listed: $r")
        assert(r.getAs[Long]("files_per_bucket_x100") >= 0, s"$r")
        assert(r.getAs[String]("signal").nonEmpty &&
          r.getAs[String]("action").nonEmpty, s"$r")
      }
      // verdicts agree with the per-index audits they normalize
      assert(!rows("cat_ann_idx").getAs[Boolean]("action_due"))
      assert(rows("cat_skew_idx").getAs[Boolean]("action_due"),
        "hot-cell ANN index not flagged in the catalog")
      assert(rows("cat_skew_idx").getAs[String]("action") == "retrain")
      val annBal = AnnIvfIndex.balance(spark, "cat_ann_idx").collect().head
      assert(rows("cat_ann_idx").getAs[Long]("signal_value") ==
        annBal.getAs[Long]("imbalance_x100"))
      assert(rows("cat_ann_idx").getAs[Long]("n_rows") ==
        annBal.getAs[Long]("n_vecs"))
      assert(rows("cat_text_idx").getAs[Long]("n_rows") ==
        spark.table("cat_text_idx").count())
      assert(rows("cat_fuzzy").getAs[Long]("n_rows") ==
        spark.table("cat_fuzzy_keys").count())

      // the JSON the mains emit parses the same verdicts
      val js = IndexCatalog.auditJson(spark, entries)
      assert(js.contains("\"index\":\"cat_skew_idx\"") &&
        js.contains("\"action\":\"retrain\",\"action_due\":true"), js)
    } finally cleanup()
  }
}
