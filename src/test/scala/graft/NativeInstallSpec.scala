package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._

import graft.expressions.Registration
import graft.operators.{AnnIvfIndex, DeltaDedupIndex, DeltaSemDedupIndex,
  FuzzyVocabIndex, HybridRetrieval, InvertedTextIndex, PqSemDedupIndex,
  SelectionModelIndex}
import graft.queries.RetrievalQueries
import graft.streaming.{StreamingDecontam, StreamingSelection}

/** Every way into the engine installs the native functions it plans by
  * name. Each check runs on its own `newSession()` sibling of TestSpark,
  * which inherits none of them, so no earlier spec or earlier step can
  * have registered a native the entry under test forgot. Index tables
  * live in the shared catalog, so an index one session builds another
  * can read. */
class NativeInstallSpec extends SparkSpec {

  private def missing(s: SparkSession): Seq[String] =
    Registration.natives.map(_.name).filterNot(n =>
      s.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))

  /** A sibling session with none of the natives. */
  private def fresh(): SparkSession = {
    val s = spark.newSession()
    assert(missing(s).size == Registration.natives.size,
      s"a new session already resolves ${Registration.natives.map(_.name).diff(missing(s))}")
    s
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def docs(s: SparkSession): DataFrame =
    Tables.documents(s, sf0001).select(col("doc_id"), col("source"), col("text"))

  private def vecs(s: SparkSession): DataFrame =
    Tables.embeddings(s, sf0001).select(col("vec_id"), col("label"), col("embedding"))

  test("a new session resolves none of the natives") {
    assert(missing(spark.newSession()) == Registration.natives.map(_.name))
  }

  test("every query constructs on a session of its own") {
    val failed = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      try { q(fresh(), sf0001); None }
      catch { case e: Exception => Some(s"$name: ${e.getMessage.take(160)}") }
    }
    assert(failed.isEmpty, s"${failed.size} queries failed on a new session:\n" +
      failed.mkString("\n"))
  }

  test("the serve sequence answers on new sessions as on TestSpark") {
    val text = "nis_text_idx"
    val ann = "nis_ann_idx"
    val fuzzy = "nis_fuzzy"
    val tables = Seq(text, s"${text}_meta", s"${text}_pos", s"${text}_fwd",
      ann, s"${ann}_cent", s"${fuzzy}_vocab", s"${fuzzy}_keys")
    GraftSession.dropTables(spark, tables: _*)
    try {
      val b = fresh()
      InvertedTextIndex.build(docs(b), text, positional = true, forward = true)
      AnnIvfIndex.build(vecs(b).select(col("vec_id"),
        col("label").cast("long").as("cell"), col("embedding")), ann)
      FuzzyVocabIndex.build(docs(b), fuzzy)

      def queries(s: SparkSession): DataFrame =
        RetrievalQueries.queryDocs(s, sf0001)
          .join(docs(s), col("q_doc") === col("doc_id"))
          .select(col("q_doc"), col("text"))
      val legs: Seq[(String, SparkSession => DataFrame)] = Seq(
        "search" -> (s => InvertedTextIndex.search(queries(s), text)),
        "phrase" -> (s => InvertedTextIndex.phraseSearch(queries(s)
          .select(col("q_doc"), concat_ws(" ",
            slice(split(col("text"), " "), 3, 3)).as("phrase")), text)),
        "snippets" -> (s => InvertedTextIndex.snippets(queries(s), docs(s), text)),
        "prf" -> (s => InvertedTextIndex.prfSearch(queries(s), text)),
        "mmr" -> (s => InvertedTextIndex.mmrSearch(queries(s), text)),
        "hybrid" -> (s => HybridRetrieval.search(queries(s),
          RetrievalQueries.queryDocs(s, sf0001)
            .join(vecs(s), col("q_doc") === col("vec_id"))
            .select(col("q_doc"), col("embedding")), text, ann)),
        "fuzzy" -> (s => FuzzyVocabIndex.search(
          RetrievalQueries.fuzzyProbes(s, sf0001), fuzzy)))
      for ((leg, run) <- legs) {
        val got = rows(run(fresh()))
        assert(got.nonEmpty, s"$leg answered nothing")
        assert(got == rows(run(spark)), s"$leg differs from TestSpark's answer")
      }
    } finally GraftSession.dropTables(spark, tables: _*)
  }

  test("admit, selection and decontamination entries install what they plan") {
    val tables = Seq("nis_band_idx", "nis_sem_idx", "nis_pq_idx", "nis_pq_idx_cb",
      "nis_sel", "nis_sel_dsir", "nis_sel_meta")
    GraftSession.dropTables(spark, tables: _*)
    try {
      def snapDocs(s: SparkSession) = docs(s).filter(col("doc_id") % 10 =!= 0)
      def newDocs(s: SparkSession) = docs(s).filter(col("doc_id") % 10 === 0)
      def snapVecs(s: SparkSession) = vecs(s).filter(col("vec_id") % 4 =!= 0)
      def newVecs(s: SparkSession) = vecs(s).filter(col("vec_id") % 4 === 0)

      DeltaDedupIndex.build(snapDocs(fresh()), "nis_band_idx")
      assert(DeltaDedupIndex.admit(newDocs(fresh()), "nis_band_idx").count() ==
        newDocs(spark).count())
      DeltaSemDedupIndex.build(snapVecs(fresh()), "nis_sem_idx")
      assert(DeltaSemDedupIndex.admit(newVecs(fresh()), "nis_sem_idx").count() ==
        newVecs(spark).count())
      PqSemDedupIndex.build(snapVecs(fresh()), "nis_pq_idx")
      val pq = fresh()
      assert(PqSemDedupIndex.admit(newVecs(pq), "nis_pq_idx", vecs(pq)).count() ==
        newVecs(spark).count())

      def labeled(s: SparkSession): DataFrame = docs(s)
        .withColumn("label", col("doc_id") % 3 === 0)
        .withColumn("is_train", col("doc_id") % 2 === 0)
      SelectionModelIndex.build(labeled(fresh()), "nis_sel")
      val sc = fresh()
      assert(SelectionModelIndex.score(sc, docs(sc), "nis_sel").count() > 0)
      val ds = fresh()
      assert(SelectionModelIndex.dsirScore(ds, docs(ds), "nis_sel").count() > 0)

      val model = StreamingSelection.trainModel(
        labeled(fresh()).select(col("doc_id"), col("text"), col("label")))
      assert(model.vocab > 0)
      assert(StreamingSelection.scoreBatch(docs(fresh()), model).count() > 0)

      val evalGrams = StreamingDecontam.evalGramSet(
        docs(fresh()).filter(col("source") === "src0"))
      assert(evalGrams.count() > 0)
      assert(StreamingDecontam.auditBatch(docs(fresh()), evalGrams)
        .filter(col("contaminated")).count() > 0)
    } finally GraftSession.dropTables(spark, tables: _*)
  }

  test("no source in src/main registers a single native") {
    val classes = Registration.natives.map(_.cls.getSimpleName).mkString("|")
    val banned = (s"""\\b(?:$classes)\\.register\\(|Registration\\.once|""" +
      "registerKernels").r
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"sources not found at $root")
    val hits = Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        new String(Files.readAllBytes(f), "UTF-8").split("\n").toSeq.zipWithIndex
          .collect { case (l, i) if banned.findFirstIn(l).isDefined =>
            s"${root.relativize(f)}:${i + 1}: ${l.trim}" }
      }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
