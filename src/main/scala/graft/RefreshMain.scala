package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{BucketedSnapshot, DeltaDedupIndex,
  DeltaSemDedupIndex, FuzzyVocabIndex, IndexCatalog, InvertedTextIndex,
  PerceptualDedupIndex, SelectionModelIndex, VideoClipIndex}

/** The DELTA story assembled end-to-end as ONE runnable job — the
  * refresh cycle a continuously-updated training corpus actually
  * operates, composed from the production pieces the oracle queries
  * pin individually:
  *
  *   snapshot cut
  *     ├─ text:      DeltaDedupIndex.build    (band table, bucketed)
  *     ├─ embedding: DeltaSemDedupIndex.build (cell table, bucketed)
  *     ├─ serving:   InvertedTextIndex.build  (postings, bucketed)
  *     └─ fuzzy:     FuzzyVocabIndex.build    (SymSpell dictionary)
  *   per refresh batch (here: the q173/q176 deterministic slices)
  *     ├─ admit batch vs snapshot (no snapshot shuffle, no rebuild)
  *     ├─ append ADMITTED rows → snapshot advances in place
  *     │  (the SEARCH index — postings AND positional companion —
  *     │  and the FUZZY dictionary advance with the same admitted
  *     │  docs, so keyword, quoted, and did-you-mean retrieval all
  *     │  serve the refreshed corpus without a rebuild)
  *     └─ manifest delta: q177's gate funnel over the same batch
  *        (quality ∧ delta-dedup ∧ decontam → split/shard loads)
  *
  * Prints one JSON summary line (the PipelineMain contract): batch
  * sizes, admitted counts on both sides, post-append index row
  * counts, and the shipped doc/token totals from the manifest.
  *
  * Usage: runMain graft.RefreshMain [sfDir]
  */
object RefreshMain {

  final case class Summary(textBatch: Long, textAdmitted: Long,
      semBatch: Long, semAdmitted: Long, textIndexRows: Long,
      semIndexRows: Long, manifestCells: Long, shippedDocs: Long,
      shippedTokens: Long, semAvgOccX100: Long, semRebuildDue: Boolean,
      searchDocs: Long, searchHits: Long, searchPhraseHits: Long,
      searchHotDfBp: Long, searchRebucketDue: Boolean,
      fuzzyVocabWords: Long, fuzzySuggestHits: Long,
      imgBatch: Long, imgAdmitted: Long, imgIndexRows: Long,
      vclipBatch: Long, vclipAdmitted: Long, vclipIndexRows: Long,
      mmCells: Long, mmRaw: Long, mmAfterText: Long, mmAfterImage: Long,
      mmShipped: Long, selBaselineBp: Long, selDriftBp: Long,
      selRetrainDue: Boolean, indexCatalogJson: String)

  def run(spark: SparkSession, sfDir: String): Summary = {
    val tables = Seq("refresh_text_idx", "refresh_sem_idx",
      "refresh_search_idx", "refresh_search_idx_meta",
      "refresh_search_idx_pos", "refresh_fuzzy_vocab", "refresh_fuzzy_keys",
      "refresh_phash_idx", "refresh_phash_idx_df", "refresh_selmodel",
      "refresh_selmodel_dsir", "refresh_selmodel_meta",
      "refresh_vclip_idx", "refresh_vclip_idx_df")
    GraftSession.dropTables(spark, tables: _*)

    // snapshot cut: everything NOT in the deterministic refresh slices
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    DeltaDedupIndex.build(docs.filter(col("doc_id") % 10 =!= 0),
      "refresh_text_idx")
    InvertedTextIndex.build(docs.filter(col("doc_id") % 10 =!= 0),
      "refresh_search_idx", positional = true)
    FuzzyVocabIndex.build(docs.filter(col("doc_id") % 10 =!= 0),
      "refresh_fuzzy")
    DeltaSemDedupIndex.build(emb.filter(col("vec_id") % 4 =!= 0),
      "refresh_sem_idx", gridN = emb.count())
    // multimodal leg: the corpus's image fingerprints (real codec
    // path) as a block index — a refresh batch's image dedup then
    // never re-fingerprints or re-bands the snapshot (VERDICT r15 #2)
    val imgSig = graft.queries.PerceptualQueries
      .imageSignatures(spark, sfDir)
    PerceptualDedupIndex.build(PerceptualDedupIndex.ImageLayout,
      imgSig.filter(col("id") % 10 =!= 0), "refresh_phash_idx")
    // video leg (VERDICT r16 #5): the corpus's full videos (even vids
    // of the q214 dual-generator band) as a frame-hash clip-match
    // index — a refresh batch's clip dedup then never re-hashes or
    // re-inverts the snapshot (previously q214 rebuilt it per run)
    val vframes = graft.queries.PerceptualQueries
      .videoFrameRows(spark, sfDir)
    VideoClipIndex.build(vframes.filter(col("vid") % 2 === 0),
      "refresh_vclip_idx")
    // selection-model leg: the quality classifier + DSIR buckets as
    // deployed artifacts (VERDICT r15 #8) — trained once per snapshot
    // cut from the rule verdicts, audited for holdout drift per cycle
    val labeled = docs.select(col("doc_id"), col("source"), col("text"))
      .join(SparkEntry.queries("q149_quality_rules")(spark, sfDir)
        .select(col("doc_id"), col("keep").as("label")), "doc_id")
      .withColumn("is_train",
        substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
          <= "7f")
    SelectionModelIndex.build(labeled, "refresh_selmodel")
    val selAudit = SelectionModelIndex.staleness(spark,
      labeled.filter(!col("is_train"))
        .select(col("doc_id"), col("source"), col("text"), col("label")),
      "refresh_selmodel").collect().head

    // the refresh batch admits against the snapshot only
    val textBatch = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("source"), col("text"))
    val textVerdict = DeltaDedupIndex.admit(textBatch, "refresh_text_idx")
    val semBatch = emb.filter(col("vec_id") % 4 === 0)
      .select(col("vec_id"), col("label"), col("embedding"))
    val semVerdict = DeltaSemDedupIndex.admit(semBatch, "refresh_sem_idx")
    val imgBatch = imgSig.filter(col("id") % 10 === 0)
    val imgVerdict = PerceptualDedupIndex.admit(
      PerceptualDedupIndex.ImageLayout, imgBatch, "refresh_phash_idx")
    // the clip batch = the odd vids (the planted excerpts): most are
    // REJECTED — each matches its own source at offset +2, exactly the
    // re-posted-excerpt case the index exists to catch
    val clipBatch = vframes.filter(col("vid") % 2 === 1)
    val clipVerdict = VideoClipIndex.admit(clipBatch, "refresh_vclip_idx")

    // MATERIALIZE the verdicts before appending — the verdict frames
    // are lazy plans over the index tables, and append() changes those
    // tables: evaluated afterwards, every admitted row would match its
    // own appended copy and read as rejected
    val textAdmittedIds = textVerdict.filter(col("admitted"))
      .select(col("doc_id")).cache()
    val semAdmittedIds = semVerdict.filter(col("admitted"))
      .select(col("vec_id")).cache()
    val imgAdmittedIds = imgVerdict.filter(col("admitted"))
      .select(col("id")).cache()
    val clipAdmittedIds = clipVerdict.filter(col("admitted"))
      .select(col("vid")).cache()
    val nTextAdmitted = textAdmittedIds.count()
    val nSemAdmitted = semAdmittedIds.count()
    val nImgAdmitted = imgAdmittedIds.count()
    val nClipAdmitted = clipAdmittedIds.count()

    // the snapshot ADVANCES without a rebuild: only admitted rows
    // append. The SERVING index appends FIRST — writing the band table
    // invalidates any cached plan that reads it (Spark uncaches on
    // table write), so every consumer of the verdict must run before
    // the verdict's own input table advances; the search table is not
    // an input to the verdict, so its append is safe at any point.
    InvertedTextIndex.append(
      textBatch.join(textAdmittedIds, "doc_id")
        .select(col("doc_id"), col("text")),
      "refresh_search_idx")
    FuzzyVocabIndex.append(
      textBatch.join(textAdmittedIds, "doc_id")
        .select(col("doc_id"), col("text")),
      "refresh_fuzzy")
    DeltaDedupIndex.append(
      textBatch.join(textAdmittedIds, "doc_id")
        .select(col("doc_id"), col("text")),
      "refresh_text_idx")
    DeltaSemDedupIndex.append(
      semBatch.join(semAdmittedIds, "vec_id")
        .select(col("vec_id"), col("embedding")),
      "refresh_sem_idx")
    PerceptualDedupIndex.append(PerceptualDedupIndex.ImageLayout,
      imgBatch.join(imgAdmittedIds, "id"), "refresh_phash_idx")
    VideoClipIndex.append(clipBatch.join(clipAdmittedIds, "vid"),
      "refresh_vclip_idx")

    // the writer's incremental work order over the same batch
    val manifest = SparkEntry.queries("q177_refresh_manifest")(spark, sfDir)
      .cache()
    val shipped = manifest
      .agg(coalesce(sum(col("n_shipped")), lit(0L)).as("d"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("t"))
      .collect().head

    // the MULTIMODAL release work order (q217): every gate family —
    // quality, near-dup, decontam, image clusters, audio fingerprints —
    // composed into one per-(split, shard, source) funnel
    val mm = SparkEntry.queries("q217_multimodal_manifest")(spark, sfDir)
      .agg(count(lit(1)).as("cells"),
        coalesce(sum(col("n_raw")), lit(0L)).as("raw"),
        coalesce(sum(col("n_after_text")), lit(0L)).as("t"),
        coalesce(sum(col("n_after_image")), lit(0L)).as("i"),
        coalesce(sum(col("n_shipped")), lit(0L)).as("s"))
      .collect().head

    // post-append lifecycle audit: has the advanced snapshot outgrown
    // its deployed grid? (q179's 2× trigger — when true, the next cycle
    // starts with a build() instead of another append)
    val occ = DeltaSemDedupIndex.occupancy(spark, "refresh_sem_idx")
      .collect().head

    // serve a probe off the refreshed search index: the q180 query
    // workload against the advanced snapshot (post-append — admitted
    // docs are retrievable), plus the layout/hot-token audit
    val probeQueries = graft.queries.RetrievalQueries
      .queryDocs(spark, sfDir)
      .join(docs, col("q_doc") === col("doc_id"))
      .select(col("q_doc"), col("text"))
    val searchHits =
      InvertedTextIndex.search(probeQueries, "refresh_search_idx").count()
    // quoted-query serving off the same refreshed index: the q183
    // phrase workload against the positional companion (which advanced
    // through the same append)
    val phraseHits = InvertedTextIndex.phraseSearch(
      probeQueries.select(col("q_doc"), expr(
        "array_join(slice(split(text, ' '), 3, 3), ' ')").as("phrase")),
      "refresh_search_idx").count()
    val searchAudit =
      InvertedTextIndex.layoutAudit(spark, "refresh_search_idx")
        .collect().head
    // did-you-mean serving off the refreshed dictionary (advanced by
    // the same admitted docs): q188's probe workload
    val fuzzyHits = FuzzyVocabIndex.search(
      graft.queries.RetrievalQueries.fuzzyProbes(spark, sfDir),
      "refresh_fuzzy").count()

    // the unified lifecycle audit BEFORE compaction: the catalog's
    // files/bucket column is precisely the retention signal the
    // compact pass below acts on, so this is the reading an operator
    // would have triggered from (one frame for all four indexes —
    // VERDICT r14 #6)
    val catalogJson = IndexCatalog.auditJson(spark, Seq(
      IndexCatalog.Entry("refresh_text_idx", "band"),
      IndexCatalog.Entry("refresh_sem_idx", "cell"),
      IndexCatalog.Entry("refresh_search_idx", "text"),
      IndexCatalog.Entry("refresh_fuzzy", "fuzzy"),
      IndexCatalog.Entry("refresh_phash_idx", "phash"),
      IndexCatalog.Entry("refresh_vclip_idx", "vclip"),
      IndexCatalog.Entry("refresh_selmodel", "selmodel")))

    // retention pass: collapse the appended file generation back to
    // one file per bucket (the summary counts below read the
    // compacted tables — the swap must not change a row)
    BucketedSnapshot.compact(spark, "refresh_text_idx")
    BucketedSnapshot.compact(spark, "refresh_sem_idx")
    BucketedSnapshot.compact(spark, "refresh_search_idx")
    BucketedSnapshot.compact(spark, "refresh_search_idx_pos")
    BucketedSnapshot.compact(spark, "refresh_fuzzy_vocab")
    BucketedSnapshot.compact(spark, "refresh_fuzzy_keys")
    BucketedSnapshot.compact(spark, "refresh_phash_idx")
    BucketedSnapshot.compact(spark, "refresh_phash_idx_df")
    BucketedSnapshot.compact(spark, "refresh_vclip_idx")
    BucketedSnapshot.compact(spark, "refresh_vclip_idx_df")

    val summary = Summary(
      textBatch = textBatch.count(),
      textAdmitted = nTextAdmitted,
      semBatch = semBatch.count(),
      semAdmitted = nSemAdmitted,
      textIndexRows = spark.table("refresh_text_idx").count(),
      semIndexRows = spark.table("refresh_sem_idx").count(),
      manifestCells = manifest.count(),
      shippedDocs = shipped.getLong(0),
      shippedTokens = shipped.getLong(1),
      semAvgOccX100 = occ.getAs[Long]("avg_occ_x100"),
      semRebuildDue = occ.getAs[Boolean]("rebuild_due"),
      searchDocs = spark.table("refresh_search_idx")
        .select(col("doc_id")).distinct().count(),
      searchHits = searchHits,
      searchPhraseHits = phraseHits,
      searchHotDfBp = searchAudit.getAs[Long]("hot_df_bp"),
      searchRebucketDue = searchAudit.getAs[Boolean]("rebucket_due"),
      fuzzyVocabWords = spark.table("refresh_fuzzy_vocab")
        .select(col("w")).distinct().count(),
      fuzzySuggestHits = fuzzyHits,
      imgBatch = imgBatch.count(),
      imgAdmitted = nImgAdmitted,
      imgIndexRows = spark.table("refresh_phash_idx").count(),
      vclipBatch = clipBatch.select(col("vid")).distinct().count(),
      vclipAdmitted = nClipAdmitted,
      vclipIndexRows = spark.table("refresh_vclip_idx").count(),
      mmCells = mm.getAs[Long]("cells"),
      mmRaw = mm.getAs[Long]("raw"),
      mmAfterText = mm.getAs[Long]("t"),
      mmAfterImage = mm.getAs[Long]("i"),
      mmShipped = mm.getAs[Long]("s"),
      selBaselineBp = selAudit.getAs[Long]("baseline_agree_bp"),
      selDriftBp = selAudit.getAs[Long]("drift_bp"),
      selRetrainDue = selAudit.getAs[Boolean]("retrain_due"),
      indexCatalogJson = catalogJson)
    manifest.unpersist()
    textAdmittedIds.unpersist()
    semAdmittedIds.unpersist()
    imgAdmittedIds.unpersist()
    clipAdmittedIds.unpersist()
    GraftSession.dropTables(spark, tables: _*)
    summary
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession.local().getOrCreate()
    val s = run(spark, sfDir)
    println(s"""{"text_batch":${s.textBatch},"text_admitted":${s.textAdmitted},""" +
      s""""sem_batch":${s.semBatch},"sem_admitted":${s.semAdmitted},""" +
      s""""text_index_rows":${s.textIndexRows},"sem_index_rows":${s.semIndexRows},""" +
      s""""manifest_cells":${s.manifestCells},"shipped_docs":${s.shippedDocs},""" +
      s""""shipped_tokens":${s.shippedTokens},""" +
      s""""sem_avg_occ_x100":${s.semAvgOccX100},""" +
      s""""sem_rebuild_due":${s.semRebuildDue},""" +
      s""""search_docs":${s.searchDocs},"search_hits":${s.searchHits},""" +
      s""""search_phrase_hits":${s.searchPhraseHits},""" +
      s""""search_hot_df_bp":${s.searchHotDfBp},""" +
      s""""search_rebucket_due":${s.searchRebucketDue},""" +
      s""""fuzzy_vocab_words":${s.fuzzyVocabWords},""" +
      s""""fuzzy_suggest_hits":${s.fuzzySuggestHits},""" +
      s""""img_batch":${s.imgBatch},"img_admitted":${s.imgAdmitted},""" +
      s""""img_index_rows":${s.imgIndexRows},""" +
      s""""vclip_batch":${s.vclipBatch},""" +
      s""""vclip_admitted":${s.vclipAdmitted},""" +
      s""""vclip_index_rows":${s.vclipIndexRows},""" +
      s""""mm_manifest_cells":${s.mmCells},"mm_raw":${s.mmRaw},""" +
      s""""mm_after_text":${s.mmAfterText},""" +
      s""""mm_after_image":${s.mmAfterImage},""" +
      s""""mm_shipped":${s.mmShipped},""" +
      s""""sel_baseline_bp":${s.selBaselineBp},""" +
      s""""sel_drift_bp":${s.selDriftBp},""" +
      s""""sel_retrain_due":${s.selRetrainDue},""" +
      s""""index_catalog":${s.indexCatalogJson}}""")
    spark.stop()
  }
}
