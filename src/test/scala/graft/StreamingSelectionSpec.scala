package graft

import scala.collection.mutable
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamingSelection

/** The deployed classifier gate must agree with batch q200 on the same
  * corpus AND hold zero streaming state: the model trains batch-side on
  * the q149-labeled md5-train half (exactly q200's supervision), the
  * REAL sf0.001 documents stream in across two micro-batches, and the
  * union of per-batch verdicts must reproduce q200's per-doc scores
  * bit-for-bit — the train → deploy closure for data selection. Also
  * pins the fail-closed contract for unscorable docs. */
class StreamingSelectionSpec extends SparkSpec {

  test("deployed gate reproduces batch q200 scores bit-for-bit with zero stream state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val labels = SparkEntry.queries("q149_quality_rules")(spark, sf0001)
      .select(col("doc_id"), col("keep").as("label"))
    val trainDocs = Tables.documents(spark, sf0001)
      .join(labels, "doc_id")
      .filter(substring(
        md5(col("doc_id").cast("string").cast("binary")), 1, 2) <= "7f")
      .select(col("doc_id"), col("text"), col("label"))
    val model = StreamingSelection.trainModel(trainDocs)
    assert(model.totPos > 0 && model.totNeg > 0 && model.vocab > 0,
      s"degenerate model: $model")

    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)].collect()

    val verdicts = mutable.Map.empty[Long, (Long, Long, Long, Boolean)]
    val input = MemoryStream[(Long, String, String)]
    val query = StreamingSelection.start(
      input.toDF().toDF("doc_id", "source", "text"), model) {
      (verdictDf, _) =>
        verdicts.synchronized {
          verdictDf.select("doc_id", "n_bigrams", "bits_pos", "bits_neg",
              "pred").collect()
            .foreach { r =>
              val docId = r.getLong(0)
              assert(!verdicts.contains(docId), s"doc $docId emitted twice")
              verdicts(docId) =
                (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))
            }
        }
    }
    try {
      val (b1, b2) = docs.splitAt(docs.length / 2)
      input.addData(b1.toIndexedSeq)
      query.processAllAvailable()
      input.addData(b2.toIndexedSeq)
      query.processAllAvailable()

      // zero state: foreachBatch with batch-local scoring registers no
      // stateful streaming operator
      val progresses = query.recentProgress
      assert(progresses.nonEmpty)
      progresses.foreach { p =>
        assert(p.stateOperators.isEmpty ||
          p.stateOperators.forall(_.numRowsTotal == 0),
          s"unexpected stream state: ${p.stateOperators.toSeq}")
      }

      val batch = SparkEntry.queries("q200_nb_quality_classifier")(
          spark, sf0001)
        .select("doc_id", "n_bigrams", "bits_pos", "bits_neg", "pred")
        .collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
        .toMap
      // q200 drops <2-token docs; the gate scores every arrival — the
      // streamed verdict set must cover the batch set exactly on this
      // corpus (no short docs) and agree on every number
      assert(verdicts.size == batch.size,
        s"row counts differ: ${verdicts.size} vs ${batch.size}")
      assert(verdicts.toMap == batch)
      // the gate does real selection on this corpus: both verdicts occur
      assert(verdicts.values.exists(_._4) && verdicts.values.exists(!_._4),
        "gate verdicts degenerate")
    } finally {
      query.stop()
      model.grams.unpersist()
    }
  }

  test("curated ingest composes: stream → selection gate → index append → only keepers indexed") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    def cleanup(): Unit =
      GraftSession.dropTables(spark, "sel_ingest_idx", "sel_ingest_idx_meta")
    cleanup()
    val labels = SparkEntry.queries("q149_quality_rules")(spark, sf0001)
      .select(col("doc_id"), col("keep").as("label"))
    val model = StreamingSelection.trainModel(
      Tables.documents(spark, sf0001).join(labels, "doc_id")
        .filter(substring(
          md5(col("doc_id").cast("string").cast("binary")), 1, 2) <= "7f")
        .select(col("doc_id"), col("text"), col("label")))

    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)].collect()
    val input = MemoryStream[(Long, String, String)]
    // the composed gate a real ingest runs: score the batch, index
    // ONLY the keepers — selection → serving through the existing
    // public APIs, no new surface
    val query = input.toDF().toDF("doc_id", "source", "text").writeStream
      .queryName("curated-ingest")
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val kept = batch.join(
          StreamingSelection.scoreBatch(batch, model)
            .filter(col("pred")).select(col("doc_id")), "doc_id")
          .select(col("doc_id"), col("text"))
        if (!spark.catalog.tableExists("sel_ingest_idx"))
          graft.operators.InvertedTextIndex.build(kept, "sel_ingest_idx")
        else
          graft.operators.InvertedTextIndex.append(kept, "sel_ingest_idx",
            batchId = id)
      }
      .start()
    try {
      val (b1, b2) = docs.splitAt(docs.length / 2)
      input.addData(b1.toIndexedSeq)
      query.processAllAvailable()
      input.addData(b2.toIndexedSeq)
      query.processAllAvailable()

      val indexed = spark.table("sel_ingest_idx")
        .select(col("doc_id")).distinct()
        .collect().map(_.getLong(0)).toSet
      val expected = SparkEntry.queries("q200_nb_quality_classifier")(
          spark, sf0001)
        .filter(col("pred")).select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet
      assert(indexed == expected,
        s"indexed set != classifier keepers: ${indexed.size} vs ${expected.size}")
      assert(indexed.nonEmpty && indexed.size < docs.length,
        "gate degenerate: indexed everything or nothing")
    } finally {
      query.stop()
      model.grams.unpersist()
      cleanup()
    }
  }

  test("unscorable docs fail closed: no bigrams → pred=false, never a crash") {
    val onerow = spark.createDataFrame(Seq(
      (1L, "srcx", "word"), (2L, "srcx", ""),
      (3L, "srcx", "two words"))).toDF("doc_id", "source", "text")
    val labels = SparkEntry.queries("q149_quality_rules")(spark, sf0001)
      .select(col("doc_id"), col("keep").as("label"))
    val trainDocs = Tables.documents(spark, sf0001)
      .join(labels, "doc_id")
      .select(col("doc_id"), col("text"), col("label"))
    val model = StreamingSelection.trainModel(trainDocs)
    try {
      val out = StreamingSelection.scoreBatch(onerow, model)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_bigrams"), r.getAs[Boolean]("pred"))).toMap
      assert(out.size == 3, s"a doc was dropped: $out")
      assert(out(1L) == ((0L, false)), s"1-token doc not failed closed: $out")
      assert(out(2L) == ((0L, false)), s"empty doc not failed closed: $out")
      assert(out(3L)._1 == 1L, s"2-token doc not scored: $out")
    } finally model.grams.unpersist()
  }
}
