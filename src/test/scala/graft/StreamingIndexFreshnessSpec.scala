package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{AnnIvfIndex, InvertedTextIndex}
import graft.streaming.StreamingIndexFreshness

/** Ingest → serve closed end-to-end: docs streamed through the
  * freshness gate must be searchable after their batch commits, the
  * advanced indexes must equal a one-shot rebuild, re-delivered
  * batches must be skipped, and a killed query must resume from its
  * checkpoint without double-indexing. */
class StreamingIndexFreshnessSpec extends SparkSpec {

  private def cleanup(): Unit = {
    GraftSession.dropTables(spark, "fresh_idx", "fresh_idx_meta",
      "fresh_idx_pos", "fresh_idx_fwd", "fresh_idx_applied",
      "fresh_idx_staged", "fresh_ann", "fresh_ann_cent",
      "fresh_full", "fresh_full_meta", "fresh_full_pos", "fresh_full_fwd",
      "crash_idx", "crash_idx_meta", "crash_idx_pos", "crash_idx_fwd",
      "crash_idx_applied", "crash_idx_staged", "crash_ann",
      "crash_ann_cent", "crash_fuzzy_vocab", "crash_fuzzy_keys",
      "crash_fuzzy_full_vocab", "crash_fuzzy_full_keys")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File("/tmp/graft_fresh_spec"))
  }

  test("streamed docs become searchable, append == rebuild, resume never double-indexes") {
    cleanup()
    try {
      val wd = "/tmp/graft_fresh_spec"
      val docs = Tables.documents(spark, sf0001)
      val emb = Tables.embeddings(spark, sf0001)
      val snap = docs.filter(col("doc_id") % 3 =!= 0)
      val withEmb = docs
        .join(emb.select(col("vec_id"), col("embedding")),
          col("doc_id") === col("vec_id"), "left")
        .select(col("doc_id"), col("text"), col("embedding"))

      // snapshot cut: both indexes over the snap slice
      InvertedTextIndex.build(snap, "fresh_idx", positional = true,
        forward = true)
      AnnIvfIndex.build(
        emb.filter(col("vec_id") % 3 =!= 0)
          .select(col("vec_id"), col("label").cast("long").as("cell"),
            col("embedding")),
        "fresh_ann")

      // the delta arrives as flat files in one watched dir: two now,
      // one later (the resume leg)
      def stage(mod: Int, name: String): Unit = {
        val tmp = s"$wd/tmp_$name"
        withEmb.filter(col("doc_id") % 9 === mod)
          .coalesce(1).write.parquet(tmp)
        val src = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = java.nio.file.Paths.get(s"$wd/in")
        java.nio.file.Files.createDirectories(dst)
        java.nio.file.Files.move(src.toPath, dst.resolve(s"$name.parquet"))
      }
      stage(0, "f0")
      stage(3, "f1")

      val schema = spark.read.parquet(s"$wd/in").schema
      def startGate() = StreamingIndexFreshness.start(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$wd/in"),
        "fresh_idx", annTable = Some("fresh_ann"),
        checkpointDir = Some(s"$wd/ckpt"))

      val q1 = startGate()
      q1.processAllAvailable()
      q1.stop()

      // 1. searchable the moment the batch commits: a streamed doc's
      // own text retrieves it (rank 1 is NOT guaranteed — BM25's
      // length normalization can prefer shorter docs on the same rare
      // terms — but absence would mean its postings never landed)
      val probe = withEmb.filter(col("doc_id") % 9 === 0).limit(1)
        .select(col("doc_id").as("q_doc"), col("text")).cache()
      val pid = probe.collect().head.getLong(0)
      val hits = InvertedTextIndex.search(probe, "fresh_idx").collect()
      assert(hits.exists(r => r.getAs[Long]("doc_id") == pid),
        s"streamed doc $pid not served: ${hits.toList}")
      // and its embedding answers from the ANN index (cos(self) = 1)
      val pv = emb.filter(col("vec_id") === pid)
        .select(lit(-1L).as("q_id"), col("embedding"))
      val annHits = AnnIvfIndex.search(pv, "fresh_ann", nprobe = 2, k = 3)
        .collect()
      assert(annHits.exists(r => r.getAs[Long]("c_id") == pid &&
          r.getAs[Double]("cos_sim") >= 0.999999),
        s"streamed embedding $pid not served: ${annHits.toList}")

      // 2. kill-and-resume: a later file, a fresh query, SAME checkpoint
      stage(6, "f2")
      val q2 = startGate()
      q2.processAllAvailable()
      q2.stop()

      // 3. re-delivery skip: replaying an applied batch is a no-op
      val before = spark.table("fresh_idx").count()
      val appliedIds = spark.table("fresh_idx_applied")
        .collect().map(_.getLong(0)).sorted
      assert(appliedIds.length == 3, s"expected 3 batches: ${appliedIds.toList}")
      val replay = StreamingIndexFreshness.applyBatch(
        withEmb.filter(col("doc_id") % 9 === 0), appliedIds.head,
        "fresh_idx", Some("fresh_ann"))
      assert(!replay, "re-delivered batch was not skipped")
      assert(spark.table("fresh_idx").count() == before,
        "re-delivered batch mutated the index")

      // 4. append == rebuild: the gated index equals a one-shot build
      InvertedTextIndex.build(docs, "fresh_full", positional = true,
        forward = true)
      val inc = spark.table("fresh_idx").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val full = spark.table("fresh_full").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(inc == full,
        s"gate-advanced postings != rebuild: inc-only=${(inc -- full).take(5)} " +
          s"full-only=${(full -- inc).take(5)} sizes=${inc.size}/${full.size}")
      val sInc = InvertedTextIndex.stats(spark, "fresh_idx").collect().head
      val sFull = InvertedTextIndex.stats(spark, "fresh_full").collect().head
      assert(sInc == sFull, s"meta totals diverged: $sInc vs $sFull")

      // 5. the reconcile audit reads clean
      val rec = StreamingIndexFreshness.reconcile(spark, "fresh_idx")
        .collect().head
      assert(rec.getAs[Long]("slice_drift") == 0L &&
        !rec.getAs[Boolean]("repair_due"), s"audit flagged drift: $rec")
    } finally cleanup()
  }

  test("crash between append and ledger: replay completes, never doubles") {
    cleanup()
    try {
      val docs = Tables.documents(spark, sf0001)
      val emb = Tables.embeddings(spark, sf0001)
      val withEmb = docs
        .join(emb.select(col("vec_id"), col("embedding")),
          col("doc_id") === col("vec_id"), "left")
        .select(col("doc_id"), col("text"), col("embedding"))
      val snap = withEmb.filter(col("doc_id") % 3 =!= 0)
      InvertedTextIndex.build(snap.select(col("doc_id"), col("text")),
        "crash_idx", positional = true, forward = true)
      AnnIvfIndex.build(
        emb.filter(col("vec_id") % 3 =!= 0)
          .select(col("vec_id"), col("label").cast("long").as("cell"),
            col("embedding")),
        "crash_ann")
      graft.operators.FuzzyVocabIndex.build(
        snap.select(col("doc_id"), col("text")), "crash_fuzzy")
      StreamingIndexFreshness.init(spark, "crash_idx")

      val batch = withEmb.filter(col("doc_id") % 9 === 0)

      // INJECTED CRASH #1 — after ALL appends, before the ledger row:
      // run exactly applyBatch's internals minus writeLedger
      StreamingIndexFreshness.stage(batch, 0L, "crash_idx")
      StreamingIndexFreshness.appendIndexes(batch, 0L, "crash_idx",
        Some("crash_ann"), Some("crash_fuzzy"), skipExisting = false)
      val rec0 = StreamingIndexFreshness.reconcile(spark, "crash_idx")
        .collect().head
      assert(rec0.getAs[Boolean]("repair_due"),
        s"crash window not detected: $rec0")
      val counts0 = Seq("crash_idx", "crash_idx_pos", "crash_idx_fwd",
        "crash_idx_meta", "crash_ann", "crash_fuzzy_vocab",
        "crash_fuzzy_keys").map(t => t -> spark.table(t).count())

      // replay the SAME batch through applyBatch — served counts must
      // end exactly where the crash-free run put them (no doubling)
      assert(StreamingIndexFreshness.applyBatch(batch, 0L, "crash_idx",
        Some("crash_ann"), Some("crash_fuzzy")),
        "crash-replay was skipped outright")
      counts0.foreach { case (t, n) =>
        assert(spark.table(t).count() == n,
          s"replay changed $t: ${spark.table(t).count()} != $n")
      }
      val rec1 = StreamingIndexFreshness.reconcile(spark, "crash_idx")
        .collect().head
      assert(rec1.getAs[Long]("slice_drift") == 0L &&
        !rec1.getAs[Boolean]("repair_due"), s"replay left drift: $rec1")
      // and a ledgered re-delivery is still a no-op
      assert(!StreamingIndexFreshness.applyBatch(batch, 0L, "crash_idx",
        Some("crash_ann"), Some("crash_fuzzy")))

      // INJECTED CRASH #2 — MID-appendIndexes (the text family landed,
      // the ANN append and the ledger row did not): repair() completes
      // from the STAGED copy, no stream restart involved
      val batch2 = withEmb.filter(col("doc_id") % 9 === 3)
      StreamingIndexFreshness.stage(batch2, 1L, "crash_idx")
      InvertedTextIndex.append(batch2.select(col("doc_id"), col("text")),
        "crash_idx", 1L)
      val postAfterCrash = spark.table("crash_idx").count()
      val annBeforeRepair = spark.table("crash_ann").count()
      assert(StreamingIndexFreshness.repair(spark, "crash_idx",
        Some("crash_ann"), Some("crash_fuzzy")), "repair did not run")
      // text family untouched (footer probe skipped it), ANN completed,
      // ledger advanced, audit clean
      assert(spark.table("crash_idx").count() == postAfterCrash,
        "repair re-appended the postings that already landed")
      assert(spark.table("crash_ann").count() > annBeforeRepair,
        "repair did not complete the missing ANN append")
      val rec2 = StreamingIndexFreshness.reconcile(spark, "crash_idx")
        .collect().head
      assert(rec2.getAs[Long]("slice_drift") == 0L &&
        !rec2.getAs[Boolean]("repair_due"), s"repair left drift: $rec2")
      // a doc of batch2 is now searchable (deep k: presence is the
      // claim — its postings landed — not a top-5 rank, which BM25's
      // length normalization does not guarantee)
      val probe = batch2.limit(1)
        .select(col("doc_id").as("q_doc"), col("text"))
      val pid = probe.collect().head.getLong(0)
      val hits = InvertedTextIndex.search(probe, "crash_idx", k = 10000)
        .collect()
      assert(hits.exists(_.getAs[Long]("doc_id") == pid),
        s"repaired batch not served: ${hits.toList}")
      // idempotent: a second repair is a no-op
      assert(!StreamingIndexFreshness.repair(spark, "crash_idx",
        Some("crash_ann"), Some("crash_fuzzy")))
      // the fuzzy dictionary advanced through the same cuts, exactly
      // once: per-word df sums equal a one-shot rebuild over the same
      // final corpus (snapshot + both batches)
      graft.operators.FuzzyVocabIndex.build(
        snap.unionByName(batch).unionByName(batch2)
          .select(col("doc_id"), col("text")), "crash_fuzzy_full")
      val incV = spark.table("crash_fuzzy_vocab").groupBy("w")
        .agg(org.apache.spark.sql.functions.sum("df").as("df")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val fullV = spark.table("crash_fuzzy_full_vocab")
        .select(col("w"), col("df")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(incV == fullV,
        "gate-advanced fuzzy dictionary != one-shot rebuild")
      // the appended rows carry their provenance stamps
      val stamped = spark.table("crash_idx")
        .groupBy(col("batch_id")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(stamped.keySet == Set(-1L, 0L, 1L),
        s"unexpected batch stamps: $stamped")
    } finally cleanup()
  }
}
