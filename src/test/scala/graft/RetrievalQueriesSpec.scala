package graft

import org.apache.spark.sql.functions._

/** Semantic pins for the retrieval presentation/feedback queries —
  * properties the oracle hash can't express as invariants: snippets
  * really are windows of their documents anchored on the first term
  * hit, and PRF expansion really widens the term set (bounded) and
  * really moves rankings on this corpus. */
class RetrievalQueriesSpec extends SparkSpec {

  test("q184 snippets are ≤5-token document windows anchored ≤2 tokens before the first hit") {
    val rows = SparkEntry.queries("q184_snippets")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val texts = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val (doc, fp, ss) = (r.getAs[Long]("doc_id"),
        r.getAs[Long]("first_pos"), r.getAs[Long]("snip_start"))
      val snip = r.getAs[String]("snippet")
      assert(ss >= 1 && ss <= fp && fp - ss <= 2, s"window misanchored: $r")
      val words = texts(doc).split(" ")
      assert(fp >= 1 && fp <= words.length, s"first_pos out of doc: $r")
      val expected = words.slice(ss.toInt - 1,
        math.min(words.length, ss.toInt - 1 + 5)).mkString(" ")
      assert(snip == expected, s"snippet is not the doc window: $r")
    }
  }

  test("q186 MMR seeds with the relevance winner and actually diversifies") {
    val base = SparkEntry.queries("q180_keyword_search")(spark, sf0001)
      .collect().map(r => ((r.getAs[Long]("q_doc"), r.getAs[Int]("rk")),
        r.getAs[Long]("doc_id"))).toMap
    val rows = SparkEntry.queries("q186_mmr_diversify")(spark, sf0001)
      .collect()
      .map(r => (r.getAs[Long]("q_doc"), r.getAs[Long]("pick"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("div_bp")))
    val byQuery = rows.groupBy(_._1)
    assert(byQuery.nonEmpty)
    byQuery.foreach { case (q, picks) =>
      // full diversified top-5, distinct docs, ordered picks 1..5
      assert(picks.map(_._2).sorted.sameElements(1L to 5L), s"picks of $q")
      assert(picks.map(_._3).distinct.length == 5, s"dup doc in $q")
      // the seed is pure relevance: q180's rank-1 doc with zero penalty
      val seed = picks.find(_._2 == 1L).get
      assert(seed._3 == base((q, 1)), s"seed of $q is not q180's top hit")
      assert(seed._4 == 0L, s"seed of $q carries a diversity penalty")
    }
    // and the penalty does real work on this corpus: some later pick
    // deviates from q180's relevance-ordered top-5
    val moved = rows.count { case (q, p, doc, _) =>
      base.get((q, p.toInt)).forall(_ != doc) }
    assert(moved > 0, "MMR never deviated from the relevance ranking")
  }

  test("q188 suggestions are genuine distance-≤1 vocabulary words") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val vocab = Tables.documents(spark, sf0001)
      .select(explode(split(col("text"), " ")).as("w"))
      .distinct().collect().map(_.getString(0)).toSet
    val rows = SparkEntry.queries("q188_fuzzy_term_match")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (probe, best, dist) = (r.getAs[String]("probe"),
        r.getAs[String]("best_word"), r.getAs[Long]("best_dist"))
      assert(r.getAs[Long]("n_matches") >= 1, s"no match: $r")
      assert(vocab.contains(best), s"suggestion not in vocabulary: $r")
      assert(lev(probe, best) == dist && dist <= 1,
        s"claimed distance wrong: $r (lev=${lev(probe, best)})")
      // the deterministic misspelling (2nd char deleted) is NOT a
      // vocabulary word here — the fuzzy path did real work
      assert(!vocab.contains(probe) || dist == 0, s"trivial probe: $r")
    }
  }

  test("q189 training set has one positive and bounded hard negatives per query") {
    val rows = SparkEntry.queries("q189_ltr_features")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getAs[Long]("q_doc"))
    byQ.foreach { case (q, rs) =>
      val pos = rs.filter(_.getAs[Boolean]("label"))
      assert(pos.length == 1, s"query $q has ${pos.length} positives")
      assert(pos.head.getAs[Long]("doc_id") == q, s"wrong positive for $q")
      // the positive always carries full-overlap features even when the
      // first stage missed it (rk_kw = 0 marks that honestly)
      assert(pos.head.getAs[Long]("jac_bp") == 10000L,
        s"self Jaccard must be exact: ${pos.head}")
      assert(rs.length <= 21, s"pool overflow for $q: ${rs.length}")
      val retrieved = rs.filter(_.getAs[Int]("rk_kw") > 0)
      assert(retrieved.map(_.getAs[Int]("rk_kw")).distinct.length ==
        retrieved.length, s"duplicate ranks for $q")
    }
  }

  test("q187 repetition plan conserves the budget under the epoch cap") {
    val rows = SparkEntry.queries("q187_repetition_plan")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    val budget = 3L * rows.map(_.getAs[Long]("n_tokens")).sum
    val alloc = rows.map(_.getAs[Long]("alloc_tokens")).sum
    val residual = rows.map(_.getAs[Long]("residual_tokens")).distinct
    // one global residual, and allocation + residual is exactly the budget
    assert(residual.length == 1 && residual.head >= 0, s"residual: $residual")
    assert(alloc + residual.head == budget,
      s"leaky plan: $alloc + ${residual.head} != $budget")
    rows.foreach { r =>
      assert(r.getAs[Long]("alloc_tokens") <= r.getAs[Long]("cap_tokens"),
        s"cap exceeded: $r")
      assert(r.getAs[Long]("epochs_milli") <= 3000L, s"epoch cap: $r")
    }
    // the temperature mixture makes the cap BIND for the upweighted
    // sources while others stay under it — both sides must exist for
    // the water-filling to be doing real work
    val capped = rows.count(_.getAs[Boolean]("capped"))
    assert(capped > 0 && capped < rows.length,
      s"cap never/always binds ($capped of ${rows.length})")
  }

  test("q185 expansion keeps the per-query term budget and changes q180's ranking") {
    val base = SparkEntry.queries("q180_keyword_search")(spark, sf0001)
      .select(col("q_doc"), col("rk"), col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val exp = SparkEntry.queries("q185_prf_expansion")(spark, sf0001)
    val rows = exp.collect()
    // n_hit is bounded by the widened budget: 4 original + 2 expansion
    assert(rows.forall(_.getAs[Long]("n_hit") <= 6L),
      "a doc matched more terms than the widened budget")
    // same frame shape as q180: every query keeps a full top-5
    assert(rows.length == base.size,
      s"row count diverged: ${rows.length} vs ${base.size}")
    // and the feedback round actually moves the ranking on this corpus
    val moved = rows.map(r =>
      (r.getAs[Long]("q_doc"), r.getAs[Int]("rk"), r.getAs[Long]("doc_id")))
      .count(t => !base.contains(t))
    assert(moved > 0, "PRF expansion left every ranked row unchanged")
  }

  test("q191 reranker apply: pool-complete by construction, and it genuinely lifts") {
    val rows = SparkEntry.queries("q191_reranker_lift")(spark, sf0001)
      .collect().map(r => r.getAs[String]("system") -> (
        r.getAs[Long]("n_queries"), r.getAs[Long]("n_found"),
        r.getAs[Long]("n_top1"), r.getAs[Long]("n_top5"),
        r.getAs[Long]("mrr_ppm_sum"))).toMap
    val first = rows("first_stage")
    val rr = rows("reranked")
    assert(rr._1 == first._1)
    // the pool includes the known positive (q189's construction), so
    // reranked recall@pool is total BY DESIGN — the lift numbers are
    // rank quality
    assert(rr._2 == rr._1, s"reranked pool lost the positive: $rows")
    assert(rr._3 >= first._3 && rr._4 >= first._4 && rr._5 >= first._5,
      s"reranker did not dominate the first stage: $rows")
    assert(rr._3 > first._3,
      s"reranker produced no top-1 lift on this corpus: $rows")
  }

  test("q190 oracle math IS the deployed operators' output (measure what you ship)") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    import graft.operators.{AnnIvfIndex, HybridRetrieval, InvertedTextIndex}
    def cleanup(): Unit =
      GraftSession.dropTables(spark, "q190_text_idx", "q190_text_idx_meta",
        "q190_text_idx_pos", "q190_ann_idx", "q190_ann_idx_cent")
    cleanup()
    try {
      val docs = Tables.documents(spark, sf0001)
      val emb = Tables.embeddings(spark, sf0001)
      InvertedTextIndex.build(docs, "q190_text_idx")
      AnnIvfIndex.build(
        emb.select(col("vec_id"), col("label").cast("long").as("cell"),
          col("embedding")),
        "q190_ann_idx")
      val qd = graft.queries.RetrievalQueries.queryDocs(spark, sf0001)
      // the known-item workload: the 8-token quote (positions 3-10) is
      // the TEXT handed to the keyword index — its rarest-4 term pick
      // then matches q190's quote-term selection
      val quoteQueries = qd.join(docs, col("q_doc") === col("doc_id"))
        .select(col("q_doc"), expr(
          "array_join(slice(split(text, ' '), 3, 8), ' ')").as("text"))
      val qVecs = qd.join(emb, col("q_doc") === col("vec_id"))
        .select(col("q_doc"), col("embedding"))

      val kw = InvertedTextIndex.search(quoteQueries, "q190_text_idx", k = 20)
        .select(col("q_doc"), col("doc_id"), col("rk").as("r"))
      def semAt(np: Int): DataFrame = AnnIvfIndex.search(
          qVecs.select(col("q_doc").as("q_id"), col("embedding")),
          "q190_ann_idx", nprobe = np, k = 20, excludeSelf = false)
        .select(col("q_id").as("q_doc"), col("c_id").as("doc_id"),
          col("rk").as("r"))
      // k = 40 keeps the FULL fused list (2 × depth-20 legs), matching
      // q190's uncapped hybrid self-rank
      val hyb = HybridRetrieval.search(quoteQueries, qVecs, "q190_text_idx",
          "q190_ann_idx", fuseDepth = 20, k = 40, excludeSelf = false)
        .select(col("q_doc"), col("doc_id"), col("rk").as("r"))

      def agg(list: DataFrame, base: DataFrame, sys: String,
          np: Long): (String, Seq[Long]) = {
        val self = base.join(
            list.filter(col("doc_id") === col("q_doc"))
              .select(col("q_doc"), col("r").cast("long").as("self_rk")),
            Seq("q_doc"), "left")
        val r = self.agg(count(lit(1)), count(col("self_rk")),
            count(when(col("self_rk") === 1, 1)),
            count(when(col("self_rk") <= 5, 1)),
            coalesce(sum(expr("1000000L div self_rk")), lit(0L)))
          .collect().head
        sys -> (Seq(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)) :+ np)
      }
      val semBase = qVecs.select(col("q_doc"))
      val viaOps = Seq(
        agg(kw, qd, "kw_idx", 0L),
        agg(semAt(2), semBase, "sem_ivf", 2L),
        agg(semAt(4), semBase, "sem_ivf4", 4L),
        agg(hyb, qd, "hyb_ivf", 2L)).toMap

      val viaQuery = SparkEntry.queries("q190_deployed_recall")(spark, sf0001)
        .collect().map(r => r.getAs[String]("system") -> Seq(
          r.getAs[Long]("n_queries"), r.getAs[Long]("n_found"),
          r.getAs[Long]("n_top1"), r.getAs[Long]("n_top5"),
          r.getAs[Long]("mrr_ppm_sum"), r.getAs[Long]("nprobe"))).toMap
      assert(viaQuery == viaOps,
        s"q190's oracle math diverged from the deployed stack:\n" +
          s"  query: $viaQuery\n  ops:   $viaOps")
      // and the measurement is non-degenerate: fusion recovers recall
      // the probed semantic leg alone gives up
      assert(viaQuery("hyb_ivf")(1) >= viaQuery("sem_ivf")(1))
    } finally cleanup()
  }
}
