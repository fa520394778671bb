package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.queries.RetrievalQueries
import graft.expressions.Registration

/** The PRODUCTION shape of q180's keyword search: the corpus postings
  * list is a MATERIALIZED inverted index — (wh, doc_id, tf, dl) rows
  * bucketed AND sorted by the 60-bit token hash — so a query pays only
  * its own tokenization plus a BUCKET- AND ROWGROUP-PRUNED scan of the
  * few posting lists it touches. q180 itself derives the postings from
  * one scan (no persisted state between oracle queries); this operator
  * is the contract a real pipeline runs, and InvertedTextIndexSpec
  * proves both halves: result-for-result parity with q180's ranking and
  * the pruned, shuffle-free index side in the physical plan.
  *
  * Companion table `<table>_meta` holds the corpus stats the scorer
  * needs (doc count, summed doc length) as APPEND-ONLY per-build/append
  * rows — readers SUM over them, so [[append]] never read-modifies
  * state (the same reason the PQ index appends under a deployed
  * codebook instead of re-deriving one).
  *
  * At 100 TB: the index is written once per snapshot cut (its size is
  * the corpus' distinct (doc, token) pairs at ~32 B/row), df for the
  * queried terms is counted over the pruned scan only — bucketing by wh
  * makes that groupBy exchange-free — and the driver-side term-hash
  * collection is bounded by the QUERY workload, never the corpus (the
  * IN-list is what turns the bucketed layout into actual file pruning:
  * the scan opens only the selected buckets' files, whether Spark plans
  * it bucketed or not). Between snapshot cuts the index
  * advances WITHOUT a rebuild: [[append]] writes new posting rows into
  * the same bucket layout, and [[layoutAudit]] trips the rebucket
  * trigger once rows-per-bucket exceed 2× the sizing target —
  * the lifecycle contract every graft index carries
  * ([[DeltaDedupIndex.layoutAudit]], [[DeltaSemDedupIndex.occupancy]],
  * [[AnnIvfIndex.balance]]).
  */
object InvertedTextIndex {

  import BucketedSnapshot.{MaxInList, prune}

  private def metaTable(table: String): String = table + "_meta"

  private def posTable(table: String): String = table + "_pos"

  private def fwdTable(table: String): String = table + "_fwd"

  /** Posting rows stay small (~32 B: four longs), so target ≤ ~2²⁰
    * rows (≈ 32 MB heap, a few MB parquet) per bucket file at snapshot
    * scale; floor 8, rounded up to a power of two (bucket joins only
    * line up when counts divide). Sized from the corpus' summed doc
    * length — an upper bound on distinct (doc, token) pairs that the
    * caller's meta aggregate already computed. */
  private[graft] def bucketsFor(sumTokens: Long): Int =
    BucketedSnapshot.bucketsFor(sumTokens, 1L << 20)

  /** One meta row for a corpus slice: (n_docs, sum_dl). */
  private def metaRow(docs: DataFrame): DataFrame =
    docs.select(size(expr(
        s"split(text, ' ')")).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))

  /** 1-row corpus stats from the meta table: (n_docs, avgdl_milli) —
    * the same integers q180's inline `stats` derives from the corpus
    * scan, because SUM over the per-append meta rows is the corpus
    * total. */
  def stats(s: SparkSession, table: String): DataFrame =
    s.table(metaTable(table))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
      .select(col("n_docs"),
        expr("(1000L * sum_dl) div n_docs").as("avgdl_milli"))

  /** (doc_id, tset, dl): the FORWARD index row — each doc's distinct
    * token-hash set (q186's `tset` kernel) and its length. The `_fwd`
    * companion materializes this bucketed by doc_id so doc-keyed
    * serving lookups (PRF term harvesting, MMR similarity sets) prune
    * to the touched documents instead of rescanning the corpus. */
  private def forwardRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      expr(s"array_distinct(${RetrievalQueries.whArrayExpr})").as("tset"),
      size(expr("split(text, ' ')")).cast("long").as("dl"))

  /** Write the corpus' inverted index. `docs` must have `doc_id` and
    * `text`. `buckets` ≤ 0 (the default) derives the count from the
    * corpus token volume via [[bucketsFor]] — the sizing aggregate is
    * the same job that produces the meta row. `positional = true` also
    * writes the `<table>_pos` companion — (doc_id, pos, wh) for EVERY
    * token occurrence, same bucket layout — enabling [[phraseSearch]];
    * it is opt-in because positional rows are the corpus' full token
    * volume (sum_dl rows vs the main table's distinct pairs).
    * `forward = true` also writes the `<table>_fwd` companion — one
    * (doc_id, tset, dl) row per doc, bucketed by doc_id — enabling
    * [[prfSearch]] and [[mmrSearch]] (the docvalues/forward-index half
    * every production search stack keeps beside its postings). */
  /** Every index-family row carries a `batch_id` provenance column
    * (LAST, so positional readers of the data columns are unchanged):
    * -1 for the base [[build]], the caller's id for an [[append]].
    * Each append's files then hold one constant batch_id, so parquet
    * footer stats answer "did batch N's rows land in this table?"
    * without touching data pages — the probe [[hasBatch]] runs and the
    * foundation of [[graft.streaming.StreamingIndexFreshness]]'s
    * idempotent replay (a crash between an append and its ledger row
    * is repaired by re-running the append with `skipExisting = true`,
    * which re-appends ONLY into the tables the crash left behind). */
  private[graft] val BaseBatchId = -1L

  /** Footer-bounded presence probe: does `table` already hold rows of
    * `batchId`? Each append job writes files whose batch_id column is
    * a single constant, so min/max stats prune every file but the
    * probed batch's own. */
  private[graft] def hasBatch(s: SparkSession, table: String,
      batchId: Long): Boolean =
    !s.table(table).filter(col("batch_id") === batchId).isEmpty

  def build(docs: DataFrame, table: String, buckets: Int = 0,
      positional: Boolean = false, forward: Boolean = false): Unit = {
    Registration.install(docs.sparkSession)
    val metaPlan = metaRow(docs)
      .withColumn("batch_id", lit(BaseBatchId))
    // ONE corpus tokenization pass serves both bucket sizing and the
    // meta write: the collected row is re-injected as a local relation
    // (re-evaluating metaRow would cost a second full scan — and two
    // independent evaluations of a possibly nondeterministic input)
    val meta = Materialize.local(metaPlan, "inverted.meta", 1)
    val metaVal = meta.rows.head
    val nb =
      if (buckets > 0) buckets
      else bucketsFor(metaVal.getAs[Long]("sum_dl"))
    BucketedSnapshot.write(RetrievalQueries.postingRows(docs)
      .withColumn("batch_id", lit(BaseBatchId)), table, nb, "wh")
    meta.df.write.mode("overwrite").saveAsTable(metaTable(table))
    if (positional)
      BucketedSnapshot.write(RetrievalQueries.positionRows(docs)
        .withColumn("batch_id", lit(BaseBatchId)), posTable(table), nb, "wh")
    if (forward)
      BucketedSnapshot.write(forwardRows(docs)
        .withColumn("batch_id", lit(BaseBatchId)), fwdTable(table), nb,
        "doc_id")
  }

  /** Advance the snapshot WITHOUT a rebuild: append `admittedDocs`'
    * posting rows into the existing bucket layout and add their meta
    * row. Same contract as [[DeltaDedupIndex.append]]: callers append
    * only docs the pipeline's dedup gates ADMITTED, with batch-unique
    * doc_ids that are new to the index (re-appending an indexed doc
    * would double its postings and its meta contribution).
    *
    * `batchId` stamps the appended rows' provenance column;
    * `skipExisting = true` makes the append IDEMPOTENT PER TABLE: each
    * of the (up to four) family tables is probed via [[hasBatch]] and
    * only the ones the batch has not yet reached are written — the
    * replay semantics a crash between two table appends needs. The
    * probe costs footer reads only, and the gate pays it exclusively
    * on crash-replay, never on the first delivery. */
  def append(admittedDocs: DataFrame, table: String,
      batchId: Long = BaseBatchId, skipExisting: Boolean = false): Unit = {
    val s = admittedDocs.sparkSession
    Registration.install(s)
    def need(t: String): Boolean =
      !skipExisting || !hasBatch(s, t, batchId)
    if (need(table))
      BucketedSnapshot.append(RetrievalQueries.postingRows(admittedDocs)
        .withColumn("batch_id", lit(batchId)), table, "wh")
    // positional/forward companions, when deployed, advance in the
    // same cut; the meta row goes LAST so a crash mid-family always
    // leaves meta ≤ data (reconcile()'s drift signal stays one-sided)
    if (s.catalog.tableExists(posTable(table)) && need(posTable(table)))
      BucketedSnapshot.append(RetrievalQueries.positionRows(admittedDocs)
        .withColumn("batch_id", lit(batchId)), posTable(table), "wh")
    if (s.catalog.tableExists(fwdTable(table)) && need(fwdTable(table)))
      BucketedSnapshot.append(forwardRows(admittedDocs)
        .withColumn("batch_id", lit(batchId)), fwdTable(table), "doc_id")
    if (need(metaTable(table)))
      metaRow(admittedDocs).withColumn("batch_id", lit(batchId))
        .write.mode("append").saveAsTable(metaTable(table))
  }

  /** Layout audit — [[BucketedSnapshot.layoutAudit]]'s rows-per-bucket
    * vs the [[bucketsFor]] sizing target, plus the retrieval-specific
    * drift signal: `hot_df_bp`, the hottest posting list's document
    * share in basis points. A token drifting toward stopword df makes
    * its bucket's pruned-scan claim erode first — the next snapshot
    * cut then rebuilds (and the caller's stop-token list grows). */
  def layoutAudit(s: SparkSession, table: String,
      targetRowsPerBucket: Long = 1L << 20): DataFrame = {
    val hot = s.table(table).groupBy(col("wh"))
      .agg(count(lit(1)).as("df"))
      .agg(max(col("df")).as("max_df"))
    BucketedSnapshot.layoutAudit(s, table, "n_postings", targetRowsPerBucket)
      .crossJoin(broadcast(hot))
      .crossJoin(broadcast(
        s.table(metaTable(table)).agg(sum(col("n_docs")).as("n_docs"))))
      .withColumn("hot_df_bp", expr("(10000L * max_df) div n_docs"))
      .drop("max_df", "n_docs")
  }

  /** Bounds of the query-side frames a serving call brings to the
    * driver (the serving indexes' requests are batches of query docs,
    * 16 in the serve benchmark and ≤ one per source in the retrieval
    * queries): at most [[MaxQueries]] query docs per call, each
    * contributing at most [[MaxDocTokens]] distinct token hashes (the
    * testdata's documents have ≤ 100 tokens). A larger batch fails
    * with a named [[Materialize.BoundExceeded]] instead of filling the
    * driver; split it. */
  private[graft] val MaxQueries = 1024
  private[graft] val MaxDocTokens = 256

  /** Top-k keyword search against the prebuilt index. `queries` must
    * have `q_doc` and `text`; output is q180's frame (q_doc, rk,
    * doc_id, n_hit, score) — rank-for-rank identical when `queries`
    * are q180's query docs, proven by InvertedTextIndexSpec.
    *
    * The ONE driver-side step is collecting the query docs' distinct
    * (q_doc, token-hash) rows — at most [[MaxQueries]]·[[MaxDocTokens]],
    * never the corpus. The collected rows serve three masters at
    * once: the scan's IN-list through [[BucketedSnapshot.prune]] (what
    * lets the bucketed+sorted layout prune buckets and row groups
    * instead of streaming every posting — the ResultStore precedent: a
    * bounded, documented collect at the serving seam), the same call's
    * [[BucketedSnapshot.MaxInList]] guard that swaps the literal filter
    * for a broadcast semi-join when the workload outgrows a sane
    * predicate, and the term frame itself as a LOCAL relation — so the
    * query-side tokenization plan executes exactly once, never
    * re-derived inside the candidate join.
    * df for each queried term is counted over the pruned scan — all
    * of a term's postings survive the wh filter, so the count is the
    * term's TRUE corpus df, append-stable by construction. */
  def search(queries: DataFrame, table: String,
      termsPerQuery: Int = RetrievalQueries.TermsPerQuery,
      k: Int = 5, maxInList: Int = MaxInList): DataFrame = {
    Registration.install(queries.sparkSession)
    searchPlan(queries, table, termsPerQuery, k, maxInList)._1
  }

  /** The shared serving plan: (ranked top-k, selected terms, the
    * workload-pruned scan of any companion index table). */
  private def searchPlan(queries: DataFrame, table: String,
      termsPerQuery: Int, k: Int, maxInList: Int)
      : (DataFrame, DataFrame, DataFrame => DataFrame) = {
    val s = queries.sparkSession
    val Materialize.Local(qtokRows, qtok) = Materialize.local(queries
      .select(col("q_doc"),
        explode(expr(RetrievalQueries.whArrayExpr)).as("wh"))
      .distinct(), "inverted.query_terms", MaxQueries * MaxDocTokens)
    val whList = qtokRows.map(_.getAs[Long]("wh")).distinct
    def pruned(idx: DataFrame): DataFrame =
      prune(idx, "wh", whList, qtok, maxInList)
    val matched = pruned(s.table(table))
    val dfreq = matched.groupBy(col("wh")).agg(count(lit(1)).as("df"))
    val tw = Window.partitionBy(col("q_doc"))
      .orderBy(col("df").asc, col("wh").asc)
    val terms = qtok.join(dfreq, "wh")
      .withColumn("trn", row_number().over(tw))
      .filter(col("trn") <= termsPerQuery)
      .select(col("q_doc"), col("wh"), col("df"))
    val cands = matched.join(broadcast(terms), "wh")
      .crossJoin(broadcast(stats(s, table)))
    val ranked = RetrievalQueries.rankTop(
        RetrievalQueries.scoreCandidates(cands), "rk", k)
      .select(col("q_doc"), col("rk"), col("doc_id"), col("n_hit"),
        col("score"))
    (ranked, terms, pruned)
  }

  /** q184's production form: top-k search plus first-hit snippets read
    * from the positional companion (built with `positional = true`)
    * instead of re-deriving positions from a corpus scan. `docs` is the
    * corpus (doc_id, text) — the index stores postings, not text, so
    * the snippet fetch joins the ≤|queries|·k hit rows back onto the
    * caller's documents source by BROADCAST (the corpus never
    * shuffles). Output is q184's frame (q_doc, rk, doc_id, first_pos,
    * snip_start, snippet), row-for-row identical on q184's workload
    * (InvertedTextIndexSpec). The `_pos` scan reuses the search's
    * IN-list, so it is bucket- and rowgroup-pruned the same way —
    * serving cost stays the touched posting lists. */
  def snippets(queries: DataFrame, docs: DataFrame, table: String,
      termsPerQuery: Int = RetrievalQueries.TermsPerQuery,
      k: Int = 5, maxInList: Int = MaxInList): DataFrame = {
    val s = queries.sparkSession
    Registration.install(s)
    val (ranked, terms, pruned) =
      searchPlan(queries, table, termsPerQuery, k, maxInList)
    val firstHit = pruned(s.table(posTable(table)))
      .join(broadcast(terms.select(col("q_doc"), col("wh"))), "wh")
      .join(broadcast(ranked.select(col("q_doc"), col("doc_id"))),
        Seq("q_doc", "doc_id"))
      .groupBy(col("q_doc"), col("doc_id"))
      .agg(min(col("pos") + 1L).as("first_pos"))
    val hits = ranked.select(col("q_doc"), col("rk"), col("doc_id"))
      .join(firstHit, Seq("q_doc", "doc_id"))
      .withColumn("snip_start", greatest(lit(1L), col("first_pos") - 2L))
    docs.select(col("doc_id"), col("text"))
      .join(broadcast(hits), "doc_id")
      .select(col("q_doc"), col("rk"), col("doc_id"), col("first_pos"),
        col("snip_start"),
        expr("array_join(slice(split(text, ' '), cast(snip_start as int), 5), ' ')")
          .as("snippet"))
  }

  /** Exact-phrase search against the positional companion (built with
    * `positional = true`) — q183's positional-intersection algorithm on
    * the PRUNED index scan. `phrases` must have `q_doc` and `phrase`
    * (the quoted text, ≥1 token); output is q183's frame (q_doc,
    * n_docs_hit, n_occurrences, first_doc), row-for-row identical when
    * the phrases are q183's workload (InvertedTextIndexSpec).
    *
    * Tokenization, alignment on `base = pos − off`, and the
    * distinct-offset count (the repeated-word subtlety) are shared with
    * q183 by construction; what the index buys is the same thing
    * [[search]] buys — the driver-side IN-list over the PHRASES' term
    * hashes (bounded by the query workload) turns the bucketed+sorted
    * layout into bucket- and rowgroup-pruned posting reads, so a
    * phrase pays its own terms' occurrence lists, never a corpus
    * scan. Candidate volume is the phrase terms' positional lists; the
    * one combine shuffles on (q_doc, doc_id, base). */
  def phraseSearch(phrases: DataFrame, table: String,
      maxInList: Int = MaxInList): DataFrame = {
    val s = phrases.sparkSession
    Registration.install(s)
    // the phrase tokenization collects once (≤ MaxQueries·MaxDocTokens
    // rows, like searchPlan) and feeds the IN-list/semi-join guard, the
    // broadcast candidate side, and the per-phrase length — never
    // re-executed
    val Materialize.Local(ptermRows, pterms) = Materialize.local(
      phrases.select(col("q_doc"),
        posexplode(expr(RetrievalQueries.whArrayExprFor("phrase")))
          .as(Seq("off", "wh"))),
      "inverted.phrase_terms", MaxQueries * MaxDocTokens)
    val whList = ptermRows.map(_.getAs[Long]("wh")).distinct
    val plen = pterms.groupBy(col("q_doc"))
      .agg(countDistinct(col("off")).as("plen"))
    val matched = prune(s.table(posTable(table)), "wh", whList, pterms,
      maxInList)
    matched.join(broadcast(pterms), "wh")
      .select(col("q_doc"), col("doc_id"),
        (col("pos") - col("off")).as("base"), col("off"))
      .groupBy(col("q_doc"), col("doc_id"), col("base"))
      .agg(countDistinct(col("off")).as("k"))
      .join(broadcast(plen), "q_doc")
      .filter(col("k") === col("plen"))
      .groupBy(col("q_doc"))
      .agg(countDistinct(col("doc_id")).as("n_docs_hit"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"))
  }

  /** q185's production form: pseudo-relevance-feedback expansion served
    * from the index — initial top-`prfDocs` retrieval off the pruned
    * postings scan, term harvesting off the doc_id-PRUNED `_fwd`
    * forward companion (built with `forward = true`; the harvest leg is
    * exactly why the forward index exists — harvesting from postings
    * would need an un-prunable corpus scan), candidate-df counting and
    * the re-score off pruned postings scans again. Row-for-row q185's
    * output on q185's workload (InvertedTextIndexSpec).
    *
    * Driver-side steps, each bounded over [[MaxQueries]] and each
    * feeding [[BucketedSnapshot.prune]]: the initial
    * terms (·termsPerQuery), the pseudo-relevant hits (·prfDocs), the
    * harvested expansion candidates (·prfDocs·[[MaxDocTokens]]), and
    * the adopted expansions (·expTerms). Serving cost = the touched
    * posting lists + the prfDocs forward rows per query; the corpus
    * never shuffles. */
  def prfSearch(queries: DataFrame, table: String,
      prfDocs: Int = RetrievalQueries.PrfDocs,
      expTerms: Int = RetrievalQueries.ExpTermsPerQuery,
      termsPerQuery: Int = RetrievalQueries.TermsPerQuery,
      k: Int = 5, maxInList: Int = MaxInList): DataFrame = {
    val s = queries.sparkSession
    Registration.install(s)
    // collect the selected terms FIRST and build the first-stage
    // ranking from the LOCAL rows — using searchPlan's own ranked
    // frame would embed (and re-execute) the term-selection subtree a
    // second time when the pseudo-relevant hits are collected below
    val (_, terms, pruned) =
      searchPlan(queries, table, termsPerQuery, prfDocs, maxInList)
    val Materialize.Local(termRows, termsLocal) =
      Materialize.local(terms, "prf.terms", MaxQueries * termsPerQuery)
    val prRanked = RetrievalQueries.rankTop(
      RetrievalQueries.scoreCandidates(
        pruned(s.table(table)).join(broadcast(termsLocal), "wh")
          .crossJoin(broadcast(stats(s, table)))),
      "rk", prfDocs)
    val Materialize.Local(prRows, prLocal) =
      Materialize.local(prRanked.select(col("q_doc"), col("doc_id")),
        "prf.hits", MaxQueries * prfDocs)
    val prIds = prRows.map(_.getAs[Long]("doc_id")).distinct
    // harvest: expansion candidates with their pseudo-relevant support
    val fwdPruned = prune(s.table(fwdTable(table)), "doc_id", prIds,
      prLocal, maxInList)
    val expCand = fwdPruned
      .select(col("doc_id"), explode(col("tset")).as("wh"))
      .join(broadcast(prLocal), "doc_id")
      .groupBy(col("q_doc"), col("wh"))
      .agg(count(lit(1)).as("nd"))
      .join(termsLocal.select(col("q_doc"), col("wh")), Seq("q_doc", "wh"),
        "left_anti")
    val Materialize.Local(candRows, candLocal) =
      Materialize.local(expCand, "prf.candidates",
        MaxQueries * prfDocs * MaxDocTokens)
    val candWhs = candRows.map(_.getAs[Long]("wh")).distinct
    // candidate df over the pruned postings scan = the TRUE corpus df
    // (all of a term's postings survive the wh filter)
    val dfreq2 = prune(s.table(table), "wh", candWhs, candLocal, maxInList)
      .groupBy(col("wh")).agg(count(lit(1)).as("df"))
    val ew = Window.partitionBy(col("q_doc"))
      .orderBy(col("nd").desc, col("df").asc, col("wh").asc)
    val exps = candLocal.join(dfreq2, "wh")
      .withColumn("ern", row_number().over(ew))
      .filter(col("ern") <= expTerms)
      .select(col("q_doc"), col("wh"), col("df"))
    val Materialize.Local(expRows, expsLocal) =
      Materialize.local(exps, "prf.expansions", MaxQueries * expTerms)
    // re-score with the widened term set — q185's second round
    val allTerms = termsLocal.unionByName(expsLocal)
    val allWhs =
      (termRows.map(_.getAs[Long]("wh")) ++
        expRows.map(_.getAs[Long]("wh"))).distinct
    val cands = prune(s.table(table), "wh", allWhs, allTerms, maxInList)
      .join(broadcast(allTerms), "wh")
      .crossJoin(broadcast(stats(s, table)))
    RetrievalQueries.rankTop(RetrievalQueries.scoreCandidates(cands), "rk", k)
      .select(col("q_doc"), col("rk"), col("doc_id"), col("n_hit"),
        col("score"))
  }

  /** q186's production form: MMR diversification served from the index
    * — the depth-`fuseDepth` candidates come off the pruned postings
    * scan, their token sets off the doc_id-PRUNED `_fwd` forward
    * companion (q186 re-derives them from a corpus scan; the index
    * reads exactly the ≤|queries|·fuseDepth touched rows), and the
    * greedy rounds are the SAME `mmr_select` kernel
    * ([[RetrievalQueries.mmrFold]] — pick-for-pick the oracle's).
    * Row-for-row q186's output on q186's workload
    * (InvertedTextIndexSpec).
    *
    * The candidate frame is collected once (≤ [[MaxQueries]]·fuseDepth rows —
    * the MMR fold collapses per-query state to single rows anyway) and
    * re-injected: it prunes the `_fwd` scan and feeds the fold without
    * re-executing the retrieval subtree. */
  def mmrSearch(queries: DataFrame, table: String,
      fuseDepth: Int = RetrievalQueries.FuseDepth,
      k: Int = RetrievalQueries.TopK,
      termsPerQuery: Int = RetrievalQueries.TermsPerQuery,
      maxInList: Int = MaxInList): DataFrame = {
    val s = queries.sparkSession
    Registration.install(s)
    val (ranked, _, _) =
      searchPlan(queries, table, termsPerQuery, fuseDepth, maxInList)
    val mw = Window.partitionBy(col("q_doc"))
    val Materialize.Local(candRows, candsLocal) =
      Materialize.local(ranked
        .withColumn("maxs", max(col("score")).over(mw))
        .withColumn("rel_bp",
          expr("score div greatest(1L, maxs div 10000L)"))
        .select(col("q_doc"), col("rk"), col("doc_id"), col("rel_bp")),
        "mmr.candidates", MaxQueries * fuseDepth)
    val candIds = candRows.map(_.getAs[Long]("doc_id")).distinct
    val tsets = prune(s.table(fwdTable(table)), "doc_id", candIds,
        candsLocal, maxInList)
      .select(col("doc_id"), col("tset"))
    RetrievalQueries.mmrFold(candsLocal.join(broadcast(tsets), "doc_id"), k)
  }
}
