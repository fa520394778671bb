package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

import graft.operators.InvertedTextIndex
import graft.queries.RetrievalQueries

/** The materialized inverted index must be a pure layout change:
  * rank-for-rank identical to q180 (which derives the postings from one
  * scan), while the physical plan proves the production claims — the
  * index side of the term join is a bucket-PRUNED scan (the IN-list
  * path) with no shuffle exchange below the join. */
class InvertedTextIndexSpec extends SparkSpec {

  private def cleanup(tables: String*): Unit =
    GraftSession.dropTables(spark, (if (tables.isEmpty) Seq("inv_idx_t") else tables)
      .flatMap(t => Seq(t, t + "_meta", t + "_pos", t + "_fwd")): _*)

  /** q180's query workload with its text — what a caller hands to
    * search(): (q_doc, text). */
  private def q180Queries = {
    val docs = Tables.documents(spark, sf0001)
    RetrievalQueries.queryDocs(spark, sf0001)
      .join(docs, col("q_doc") === col("doc_id"))
      .select(col("q_doc"), col("text"))
  }

  test("bucketed inverted index reproduces q180 ranks with a pruned, shuffle-free index side") {
    cleanup()
    try {
      InvertedTextIndex.build(Tables.documents(spark, sf0001), "inv_idx_t")
      val out = InvertedTextIndex.search(q180Queries, "inv_idx_t")

      // 1. rank-for-rank parity with the one-shot oracle query
      val viaIndex = out.collect().toSet
      val oneShot = SparkEntry.queries("q180_keyword_search")(spark, sf0001)
        .collect().toSet
      assert(viaIndex == oneShot,
        s"index path diverged from q180: ${viaIndex.size} vs ${oneShot.size} rows")

      // 2. the term joins stream the index scan broadcast-side-free of
      // shuffles: every join touching the index table must be a
      // broadcast join whose streamed side has no exchange below it
      def flatten(p: SparkPlan): Seq[SparkPlan] = PlanGuards.flatten(p)
      val plan = out.queryExecution.executedPlan
      val joins = flatten(plan).collect {
        case j: BroadcastHashJoinExec if j.toString.contains("inv_idx_t") => j
      }
      assert(joins.nonEmpty, s"no broadcast join over the index in:\n$plan")
      joins.foreach { j =>
        val streamed = j.children.filter(_.toString.contains("inv_idx_t"))
        streamed.foreach { side =>
          val shuffles = flatten(side).collect { case e: ShuffleExchangeExec => e }
          assert(shuffles.isEmpty, s"index side of a term join shuffles:\n$side")
        }
      }

      // 3. the IN-list actually prunes: the index scan advertises
      // bucket selection (the thing the driver-side term collect buys)
      assert(plan.toString.contains("SelectedBucketsCount"),
        s"index scan is not bucket-pruned:\n$plan")
    } finally cleanup()
  }

  test("append(Δ) advances postings and meta exactly like a rebuild over S ∪ Δ") {
    cleanup("inv_idx_inc", "inv_idx_full")
    try {
      val docs = Tables.documents(spark, sf0001)
      val snap0 = docs.filter(col("doc_id") % 10 =!= 0)
      val delta = docs.filter(col("doc_id") % 10 === 0)

      InvertedTextIndex.build(snap0, "inv_idx_inc")
      InvertedTextIndex.append(delta, "inv_idx_inc")
      InvertedTextIndex.build(snap0.unionByName(delta), "inv_idx_full")

      val viaAppend = InvertedTextIndex.search(q180Queries, "inv_idx_inc")
        .collect().toSet
      val viaRebuild = InvertedTextIndex.search(q180Queries, "inv_idx_full")
        .collect().toSet
      assert(viaAppend == viaRebuild,
        s"appended index diverged from rebuild: " +
          s"${viaAppend.size} vs ${viaRebuild.size} rows")
      // the meta SUM must see Δ's contribution (df/avgdl would silently
      // skew otherwise): stats equal between the two layouts
      val a = InvertedTextIndex.stats(spark, "inv_idx_inc").collect().head
      val b = InvertedTextIndex.stats(spark, "inv_idx_full").collect().head
      assert(a == b, s"meta stats diverged: $a vs $b")
      assert(a.getAs[Long]("n_docs") == docs.count())
    } finally cleanup("inv_idx_inc", "inv_idx_full")
  }

  test("layout audit reports the sizing trigger and the hot-token share") {
    cleanup("inv_idx_aud")
    try {
      val docs = Tables.documents(spark, sf0001)
      InvertedTextIndex.build(docs, "inv_idx_aud")
      val ok = InvertedTextIndex.layoutAudit(spark, "inv_idx_aud")
        .collect().head
      assert(ok.getAs[Long]("n_postings") > 0)
      assert(!ok.getAs[Boolean]("rebucket_due"), s"tiny index due: $ok")
      // the 31-word synthetic vocab makes every token near-stopword df:
      // the hot-token share must be high and bounded by 10000 bp
      val hot = ok.getAs[Long]("hot_df_bp")
      assert(hot > 0 && hot <= 10000, s"hot_df_bp out of range: $ok")
      // scaled to the test corpus, the 2x rule trips
      val due = InvertedTextIndex.layoutAudit(spark, "inv_idx_aud",
        targetRowsPerBucket = 10L).collect().head
      assert(due.getAs[Boolean]("rebucket_due"),
        s"overgrown layout not flagged: $due")
    } finally cleanup("inv_idx_aud")
  }

  /** q183's phrase workload with its text — what a caller hands to
    * phraseSearch(): (q_doc, phrase) where phrase = 1-based tokens 3-5
    * of the query doc. */
  private def q183Phrases = {
    val docs = Tables.documents(spark, sf0001)
    RetrievalQueries.queryDocs(spark, sf0001)
      .join(docs, col("q_doc") === col("doc_id"))
      .select(col("q_doc"),
        expr("array_join(slice(split(text, ' '), 3, 3), ' ')").as("phrase"))
  }

  test("positional index reproduces q183 phrase hits with a pruned, shuffle-free index side") {
    cleanup("inv_idx_ph")
    try {
      InvertedTextIndex.build(Tables.documents(spark, sf0001), "inv_idx_ph",
        positional = true)
      val out = InvertedTextIndex.phraseSearch(q183Phrases, "inv_idx_ph")

      // 1. row-for-row parity with the one-shot oracle query
      val viaIndex = out.collect().toSet
      val oneShot = SparkEntry.queries("q183_phrase_search")(spark, sf0001)
        .collect().toSet
      assert(viaIndex == oneShot,
        s"index path diverged from q183: ${viaIndex.size} vs ${oneShot.size} rows")

      // 2. the positional join streams the pruned index scan with no
      // shuffle below it, and the IN-list actually prunes buckets
      def flatten(p: SparkPlan): Seq[SparkPlan] = PlanGuards.flatten(p)
      val plan = out.queryExecution.executedPlan
      val joins = flatten(plan).collect {
        case j: BroadcastHashJoinExec if j.toString.contains("inv_idx_ph_pos") => j
      }
      assert(joins.nonEmpty, s"no broadcast join over the pos index in:\n$plan")
      joins.foreach { j =>
        j.children.filter(_.toString.contains("inv_idx_ph_pos")).foreach { side =>
          val shuffles = flatten(side).collect { case e: ShuffleExchangeExec => e }
          assert(shuffles.isEmpty, s"index side of the phrase join shuffles:\n$side")
        }
      }
      assert(plan.toString.contains("SelectedBucketsCount"),
        s"pos index scan is not bucket-pruned:\n$plan")
    } finally cleanup("inv_idx_ph")
  }

  test("index-served snippets reproduce q184 with a pruned positional scan") {
    cleanup("inv_idx_sn")
    try {
      val docs = Tables.documents(spark, sf0001)
      InvertedTextIndex.build(docs, "inv_idx_sn", positional = true)
      val out = InvertedTextIndex.snippets(q180Queries, docs, "inv_idx_sn")

      val viaIndex = out.collect().toSet
      val oneShot = SparkEntry.queries("q184_snippets")(spark, sf0001)
        .collect().toSet
      assert(viaIndex == oneShot,
        s"index path diverged from q184: ${viaIndex.size} vs ${oneShot.size} rows")

      def flatten(p: SparkPlan): Seq[SparkPlan] = PlanGuards.flatten(p)
      val plan = out.queryExecution.executedPlan
      val joins = flatten(plan).collect {
        case j: BroadcastHashJoinExec if j.toString.contains("inv_idx_sn_pos") => j
      }
      assert(joins.nonEmpty, s"no broadcast join over the pos index in:\n$plan")
      joins.foreach { j =>
        j.children.filter(_.toString.contains("inv_idx_sn_pos")).foreach { side =>
          val shuffles = flatten(side).collect { case e: ShuffleExchangeExec => e }
          assert(shuffles.isEmpty, s"pos side of the snippet join shuffles:\n$side")
        }
      }
      assert(plan.toString.contains("SelectedBucketsCount"),
        s"index scans are not bucket-pruned:\n$plan")
    } finally cleanup("inv_idx_sn")
  }

  test("phrase search honors repeated-word offsets and advances through append") {
    cleanup("inv_idx_rw")
    try {
      import spark.implicits._
      // doc 1 contains "a b a" at base 1; doc 2 has both words but never
      // the aligned offsets (the repeated-word false-positive shape); doc
      // 3 matches at base 2
      val docs = Seq(
        (1L, "x a b a y"), (2L, "a b c a b"), (3L, "b a a b a"))
        .toDF("doc_id", "text")
      InvertedTextIndex.build(docs, "inv_idx_rw", buckets = 8,
        positional = true)
      val phrases = Seq((100L, "a b a")).toDF("q_doc", "phrase")
      val r0 = InvertedTextIndex.phraseSearch(phrases, "inv_idx_rw")
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(r0 == Seq((100L, 2L, 2L, 1L)), s"got $r0")

      // append Δ: the positional companion advances in the same cut
      InvertedTextIndex.append(
        Seq((9L, "z a b a")).toDF("doc_id", "text"), "inv_idx_rw")
      val r1 = InvertedTextIndex.phraseSearch(phrases, "inv_idx_rw")
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(r1 == Seq((100L, 3L, 3L, 1L)), s"got $r1")
    } finally cleanup("inv_idx_rw")
  }

  test("index-served PRF expansion reproduces q185 off pruned postings + forward rows") {
    cleanup("inv_idx_prf")
    try {
      InvertedTextIndex.build(Tables.documents(spark, sf0001), "inv_idx_prf",
        forward = true)
      val out = InvertedTextIndex.prfSearch(q180Queries, "inv_idx_prf")
      val viaIndex = out.collect().toSet
      val oneShot = SparkEntry.queries("q185_prf_expansion")(spark, sf0001)
        .collect().toSet
      assert(viaIndex == oneShot,
        s"PRF index path diverged from q185: ${viaIndex.size} vs ${oneShot.size}")
      assert(viaIndex.nonEmpty)
      // the final plan's index side stays shuffle-free and pruned
      def flatten(p: SparkPlan): Seq[SparkPlan] = PlanGuards.flatten(p)
      val plan = out.queryExecution.executedPlan
      val idxShuffles = flatten(plan).collect {
        case e: ShuffleExchangeExec if e.toString.contains("inv_idx_prf") => e
      }
      assert(idxShuffles.isEmpty, s"PRF re-score shuffles the index:\n$plan")
      assert(plan.toString.contains("SelectedBucketsCount"),
        s"PRF re-score scan is not bucket-pruned:\n$plan")
    } finally cleanup("inv_idx_prf")
  }

  test("index-served MMR reproduces q186 off pruned postings + forward rows") {
    cleanup("inv_idx_mmr")
    try {
      InvertedTextIndex.build(Tables.documents(spark, sf0001), "inv_idx_mmr",
        forward = true)
      val out = InvertedTextIndex.mmrSearch(q180Queries, "inv_idx_mmr")
      val viaIndex = out.collect().toSet
      val oneShot = SparkEntry.queries("q186_mmr_diversify")(spark, sf0001)
        .collect().toSet
      assert(viaIndex == oneShot,
        s"MMR index path diverged from q186: ${viaIndex.size} vs ${oneShot.size}")
      assert(viaIndex.nonEmpty)
      // the forward-index fetch is bucket-pruned to the candidates
      def flatten(p: SparkPlan): Seq[SparkPlan] = PlanGuards.flatten(p)
      val plan = out.queryExecution.executedPlan
      val fwdScan = flatten(plan)
        .find(p => p.nodeName.contains("Scan") &&
          p.toString.contains("inv_idx_mmr_fwd"))
        .map(_.toString).getOrElse("")
      assert(fwdScan.contains("SelectedBucketsCount"),
        s"forward-index scan is not bucket-pruned:\n$fwdScan")
    } finally cleanup("inv_idx_mmr")
  }

  test("forward companion advances through append exactly like a rebuild") {
    cleanup("inv_idx_fwd_inc", "inv_idx_fwd_full")
    try {
      val docs = Tables.documents(spark, sf0001)
      val snap = docs.filter(col("doc_id") % 3 =!= 0)
      val delta = docs.filter(col("doc_id") % 3 === 0)
      InvertedTextIndex.build(snap, "inv_idx_fwd_inc", forward = true)
      InvertedTextIndex.append(delta, "inv_idx_fwd_inc")
      InvertedTextIndex.build(docs, "inv_idx_fwd_full", forward = true)
      val inc = spark.table("inv_idx_fwd_inc_fwd").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toList, r.getLong(2)))
        .toSet
      val full = spark.table("inv_idx_fwd_full_fwd").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toList, r.getLong(2)))
        .toSet
      assert(inc == full, "append-advanced forward index != rebuild")
      // served results identical over the appended index
      val viaInc = InvertedTextIndex.mmrSearch(q180Queries, "inv_idx_fwd_inc")
        .collect().toSet
      val viaFull = InvertedTextIndex.mmrSearch(q180Queries, "inv_idx_fwd_full")
        .collect().toSet
      assert(viaInc == viaFull)
    } finally cleanup("inv_idx_fwd_inc", "inv_idx_fwd_full")
  }

  test("IN-list guard: the semi-join fallback is result-identical to the literal filter") {
    cleanup("inv_idx_guard")
    try {
      InvertedTextIndex.build(Tables.documents(spark, sf0001),
        "inv_idx_guard", positional = true)
      // maxInList = 0 forces every scan onto the broadcast-semi-join
      // side of the cutover; results must match the pruned default
      // for search, snippets, and phrase search alike
      val viaIn = InvertedTextIndex.search(q180Queries, "inv_idx_guard")
        .collect().toSet
      val viaSemi = InvertedTextIndex.search(q180Queries, "inv_idx_guard",
        maxInList = 0).collect().toSet
      assert(viaIn == viaSemi,
        s"IN-list cutover changed search results: ${viaIn.size} vs ${viaSemi.size}")
      assert(viaIn.nonEmpty)

      val phrases = q180Queries.select(col("q_doc"), expr(
        "array_join(slice(split(text, ' '), 3, 3), ' ')").as("phrase"))
      val phIn = InvertedTextIndex.phraseSearch(phrases, "inv_idx_guard")
        .collect().toSet
      val phSemi = InvertedTextIndex.phraseSearch(phrases, "inv_idx_guard",
        maxInList = 0).collect().toSet
      assert(phIn == phSemi, "IN-list cutover changed phrase results")

      // the semi-join side must still broadcast (never shuffle the index)
      val semiPlan = InvertedTextIndex.search(q180Queries, "inv_idx_guard",
        maxInList = 0).queryExecution.executedPlan
      val idxShuffles = PlanGuards.flatten(semiPlan).collect {
        case e: ShuffleExchangeExec if e.toString.contains("inv_idx_guard") => e
      }
      assert(idxShuffles.isEmpty,
        s"semi-join fallback shuffles the index:\n$semiPlan")
    } finally cleanup("inv_idx_guard")
  }

  test("empty query batches serve empty frames on every leg (the idle poll tick)") {
    cleanup("inv_idx_empty")
    try {
      val docs = Tables.documents(spark, sf0001)
      InvertedTextIndex.build(docs, "inv_idx_empty", positional = true,
        forward = true)
      val noQueries = q180Queries.filter(col("q_doc") < 0)
      assert(InvertedTextIndex.search(noQueries, "inv_idx_empty")
        .collect().isEmpty)
      assert(InvertedTextIndex.snippets(noQueries, docs, "inv_idx_empty")
        .collect().isEmpty)
      assert(InvertedTextIndex.prfSearch(noQueries, "inv_idx_empty")
        .collect().isEmpty)
      assert(InvertedTextIndex.mmrSearch(noQueries, "inv_idx_empty")
        .collect().isEmpty)
      val noPhrases = noQueries.select(col("q_doc"),
        col("text").as("phrase"))
      assert(InvertedTextIndex.phraseSearch(noPhrases, "inv_idx_empty")
        .collect().isEmpty)
    } finally cleanup("inv_idx_empty")
  }

  test("bucket sizing rule scales with token volume and stays a power of two") {
    import graft.operators.InvertedTextIndex.bucketsFor
    assert(bucketsFor(60000L) == 8)                  // sf0.001: floor
    assert(bucketsFor(1L << 23) == 8)                // 2^23/2^20 = 8
    assert(bucketsFor((1L << 23) + 1) == 16)         // just past → next pow2
    val b = bucketsFor(100L * 1000 * 1000 * 1000)    // 100B-token corpus
    assert(Integer.bitCount(b) == 1 && b >= 8)
  }
}
