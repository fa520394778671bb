package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.operators.FuzzyVocabIndex
import graft.queries.RetrievalQueries

/** The materialized SymSpell dictionary must be a pure layout change:
  * suggestion-for-suggestion identical to q188 (which derives the
  * deletion neighborhood from one corpus scan), with the key scan
  * bucket-pruned to the probes' neighborhoods, advancing through
  * append exactly like a rebuild. */
class FuzzyVocabIndexSpec extends SparkSpec {

  private def cleanup(tables: String*): Unit =
    GraftSession.dropTables(spark,
      tables.flatMap(t => Seq(t + "_vocab", t + "_keys")): _*)

  test("dictionary search reproduces q188 with a pruned key scan") {
    cleanup("fuzzy_idx")
    try {
      FuzzyVocabIndex.build(Tables.documents(spark, sf0001), "fuzzy_idx")
      val probes = RetrievalQueries.fuzzyProbes(spark, sf0001)
      val out = FuzzyVocabIndex.search(probes, "fuzzy_idx")
      val viaIndex = out.collect().toSet
      val oneShot = SparkEntry.queries("q188_fuzzy_term_match")(spark, sf0001)
        .collect().toSet
      assert(viaIndex == oneShot,
        s"index path diverged from q188: ${viaIndex.size} vs ${oneShot.size}")
      assert(viaIndex.nonEmpty)
      // the returned plan reads the vocab table PRUNED and shuffle-free
      // (the key scan ran inside search()'s candidate collect — its
      // pruning is proven below on the same filter shape)
      val plan = out.queryExecution.executedPlan
      val vocabScan = PlanGuards.flatten(plan)
        .find(p => p.nodeName.contains("Scan") &&
          p.toString.contains("fuzzy_idx_vocab"))
        .map(_.toString).getOrElse("")
      assert(vocabScan.contains("SelectedBucketsCount"),
        s"vocab scan is not bucket-pruned:\n$vocabScan")
      val idxShuffles = PlanGuards.flatten(plan).collect {
        case e: ShuffleExchangeExec
          if e.toString.contains("fuzzy_idx") => e
      }
      assert(idxShuffles.isEmpty, s"dictionary scan shuffles:\n$plan")
      // the candidate stage's key-table read (an IN-filter over the
      // probes' deletion keys, exactly search()'s shape, under the same
      // pinned-bucketed-scan conf) bucket-prunes
      val someKeys = probes.select(expr(
          "explode(array_distinct(concat(array(probe), " +
            "transform(sequence(1, length(probe)), " +
            "i -> concat(substring(probe, 1, i - 1), substring(probe, i + 1))))))"))
        .collect().map(_.getString(0)).distinct.toSeq
      val confKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
      val prev = spark.conf.getOption(confKey)
      spark.conf.set(confKey, "false")
      val keyScan =
        try spark.table("fuzzy_idx_keys")
          .filter(col("k").isin(someKeys: _*))
          .queryExecution.executedPlan.toString
        finally prev match {
          case Some(v) => spark.conf.set(confKey, v)
          case None => spark.conf.unset(confKey)
        }
      assert(keyScan.contains("SelectedBucketsCount"),
        s"key scan is not bucket-pruned:\n$keyScan")

      // the IN-list guard's semi-join side is result-identical
      val viaSemi = FuzzyVocabIndex.search(probes, "fuzzy_idx",
        maxInList = 0).collect().toSet
      assert(viaSemi == viaIndex, "IN-list cutover changed fuzzy results")

      // an empty probe batch (idle poll tick) serves an empty frame
      assert(FuzzyVocabIndex.search(probes.filter(col("q_doc") < 0),
        "fuzzy_idx").collect().isEmpty)
    } finally cleanup("fuzzy_idx")
  }

  test("d=2 search matches the inline guarded neighborhood; guards enforced") {
    cleanup("fuzzy_d2")
    try {
      val docs = Tables.documents(spark, sf0001)
      FuzzyVocabIndex.build(docs, "fuzzy_d2")

      // q192's probe classes, regenerated here: one d2 deletion and one
      // double substitution per >=5-char vocab word
      val vocab = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("w")).agg(countDistinct(col("doc_id")).as("df"))
      val srcs = vocab.filter(length(col("w")) >= 5)
      val probes = srcs.select(col("w").as("q_doc"),
          expr("concat(substring(w, 1, 1), substring(w, 4))").as("probe"))
        .unionByName(srcs.select(col("w").as("q_doc"),
          expr("concat(substring(w, 1, 1), " +
            "CASE WHEN substring(w, 2, 1) = 'q' THEN 'z' ELSE 'q' END, " +
            "substring(w, 3))").as("probe")))
        .select(col("q_doc"), col("probe")).distinct()

      val viaIndex = FuzzyVocabIndex.search(probes, "fuzzy_d2", maxDist = 2)
        .collect().toSet

      // inline reference: the SAME guarded d<=2 neighborhood from one
      // corpus scan (q192's candidate math, q188's output frame)
      val pk = probes.select(col("q_doc"), col("probe"),
        explode(expr(RetrievalQueries.delKeys2Expr("probe"))).as("k"))
      val vk = vocab.select(col("w"), col("df"),
        explode(expr(RetrievalQueries.delKeys2Expr("w"))).as("k"))
      val cand = vk.join(pk, "k")
        .select(col("q_doc"), col("probe"), col("w"), col("df")).distinct()
        .withColumn("dist", levenshtein(col("probe"), col("w")).cast("long"))
        .filter(col("dist") <= when(
          length(col("probe")) < RetrievalQueries.MinProbeLen, 0L)
          .otherwise(2L))
      val bw = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_doc"), col("probe"))
        .orderBy(col("df").desc, col("w").asc)
      val oneShot = cand.withColumn("brn",
          org.apache.spark.sql.functions.row_number().over(bw))
        .groupBy(col("q_doc"), col("probe"))
        .agg(count(lit(1)).as("n_matches"),
          max(when(col("brn") === 1, col("w"))).as("best_word"),
          max(when(col("brn") === 1, col("df"))).as("best_df"),
          max(when(col("brn") === 1, col("dist"))).as("best_dist"))
        .collect().toSet
      assert(viaIndex == oneShot,
        s"d=2 index path diverged: ${viaIndex.size} vs ${oneShot.size}")
      assert(viaIndex.exists(_.getAs[Long]("best_dist") == 2L),
        "no distance-2 suggestion served — d2 keys missing")

      // guard 1: a 1-char probe is served EXACT-ONLY ('a' is in the
      // vocabulary; 'z' is not and must yield no candidates at all)
      import spark.implicits._
      val short = Seq((1L, "a"), (2L, "z")).toDF("q_doc", "probe")
      val shortOut = FuzzyVocabIndex.search(short, "fuzzy_d2", maxDist = 2)
        .collect()
      val aRow = shortOut.find(_.getAs[String]("probe") == "a")
      assert(aRow.isDefined && aRow.get.getAs[String]("best_word") == "a" &&
        aRow.get.getAs[Long]("best_dist") == 0L &&
        aRow.get.getAs[Long]("n_matches") == 1L,
        s"1-char probe not exact-only: ${shortOut.toList}")
      assert(!shortOut.exists(_.getAs[String]("probe") == "z"),
        "unmatched 1-char probe produced candidates")

      // guard 2: a 3-char word's keys stop at d1 (no key below 2 chars)
      val bigKeys = spark.table("fuzzy_d2_keys")
        .filter(col("w") === "big").collect()
        .map(_.getAs[String]("k")).toSet
      assert(bigKeys == Set("big", "ig", "bg", "bi"),
        s"len-3 word generated d2 keys: $bigKeys")

      // ADVICE r13: multiple probes for ONE q_doc each get their own
      // best suggestion (the best-pick window keys on (q_doc, probe))
      val multi = Seq((7L, "btch"), (7L, "stram")).toDF("q_doc", "probe")
      val multiOut = FuzzyVocabIndex.search(multi, "fuzzy_d2").collect()
      assert(multiOut.length == 2 &&
        multiOut.forall(_.getAs[String]("best_word") != null),
        s"multi-probe batch lost a best pick: ${multiOut.toList}")
    } finally cleanup("fuzzy_d2")
  }

  test("append advances the dictionary exactly like a rebuild") {
    cleanup("fuzzy_inc", "fuzzy_full")
    try {
      val docs = Tables.documents(spark, sf0001)
      val snap = docs.filter(col("doc_id") % 3 =!= 0)
      val delta = docs.filter(col("doc_id") % 3 === 0)
      FuzzyVocabIndex.build(snap, "fuzzy_inc")
      FuzzyVocabIndex.append(delta, "fuzzy_inc")
      FuzzyVocabIndex.build(docs, "fuzzy_full")
      // summed per-word dfs equal the rebuild's exactly
      val inc = spark.table("fuzzy_inc_vocab").groupBy("w")
        .agg(sum("df").as("df")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val full = spark.table("fuzzy_full_vocab").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(inc == full, "append-advanced vocab dfs != rebuild")
      // served suggestions identical over the appended dictionary —
      // at d=1 AND at d=2 (the appended slice's d2 deletion keys must
      // land exactly like a rebuild's)
      val probes = RetrievalQueries.fuzzyProbes(spark, sf0001)
      val viaInc = FuzzyVocabIndex.search(probes, "fuzzy_inc")
        .collect().toSet
      val viaFull = FuzzyVocabIndex.search(probes, "fuzzy_full")
        .collect().toSet
      assert(viaInc == viaFull, "appended dictionary serves different matches")
      val viaInc2 = FuzzyVocabIndex.search(probes, "fuzzy_inc", maxDist = 2)
        .collect().toSet
      val viaFull2 = FuzzyVocabIndex.search(probes, "fuzzy_full", maxDist = 2)
        .collect().toSet
      assert(viaInc2 == viaFull2,
        "appended dictionary serves different d=2 matches")
      assert(viaInc2 != viaInc, "d=2 added nothing over d=1 — workload " +
        "too easy to distinguish the neighborhoods (pick better probes)")
      // and the lifecycle audit reads the deployed layout
      val audit = FuzzyVocabIndex.layoutAudit(spark, "fuzzy_inc")
        .collect().head
      assert(audit.getAs[Long]("n_keys") > 0)
      assert(!audit.getAs[Boolean]("rebucket_due"))
      // ADVICE r13: the appended key table carries NO duplicate (k, w)
      // pairs — the refresh slice's already-indexed words were
      // anti-joined out, so key growth tracks vocabulary growth
      val keys = spark.table("fuzzy_inc_keys")
      assert(keys.count() == keys.distinct().count(),
        "append re-emitted deletion keys for already-indexed words")
    } finally cleanup("fuzzy_inc", "fuzzy_full")
  }
}
