package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.CoreFunctions._

/** Text-analysis and deduplication operators for large-scale training-data
  * pipelines (driver north star; beyond the reference's own surface):
  * token counting, quality scoring, language-ID heuristics, content
  * fingerprinting, exact dedup, MinHash + LSH banding, SimHash, and
  * n-gram Jaccard — all as pure column expressions (whole-stage codegen,
  * no UDFs) with DuckDB-parity SQL.
  *
  * Scale: each operator is per-row math or a single hash-keyed
  * shuffle (groupBy doc_id after an explode, or an LSH-bucket
  * equi-join). Nothing is quadratic in corpus size: the only pairwise
  * work (q29/q31) happens inside LSH/band buckets.
  */
object TextQueries {

  /** words = whitespace-split tokens (the corpus is single-spaced). */
  private[queries] val wordsExpr = "split(text, ' ')"
  private[queries] val wordsSqlExpr = "str_split(text, ' ')"

  /** The shared token front of q124/q132/q138: one (doc_id, 60-bit md5
    * token hash) row per token — hashing happens BEFORE any shuffle
    * (the q113 rule: the shuffle key is never the string). The matching
    * oracle fragment is [[tokenHashesSql]]; change the hash in BOTH or
    * parity breaks for all three queries at once (which is the point —
    * one place per engine, not three). */
  private def tokenHashes(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(expr(s"md5_prefix_longs($wordsExpr, 15)")).as("wh"))
  }

  private val tokenHashesSql =
    s"""SELECT doc_id,
       |    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS wh
       |  FROM (SELECT doc_id, unnest($wordsSqlExpr) AS t FROM documents)""".stripMargin

  /** q23: token counting — whitespace tokens, BPE-ish regex tokens
    * (letter runs / digit runs / single other), chars. */
  private def q23(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      length(col("text")).as("n_chars_calc"),
      size(expr(wordsExpr)).as("ws_tokens"),
      regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
        .as("bpe_ish_tokens"))

  private val q23Sql =
    s"""SELECT doc_id, length(text) AS n_chars_calc,
       |  len($wordsSqlExpr) AS ws_tokens,
       |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_ish_tokens
       |FROM documents""".stripMargin

  /** q24: document quality scoring — length, mean word length, stopword
    * ratio, blended score (heuics from C4/Gopher-style filters). */
  private def q24(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("words", expr(wordsExpr))
      .withColumn("n_words", size(col("words")).cast("long"))
      .withColumn("n_stop", expr(
        "size(filter(words, x -> x IN ('the','a','and','of','to')))")
        .cast("long"))
      .withColumn("nosp",
        length(regexp_replace(col("text"), lit(" "), lit(""))).cast("long"))
      .select(
        col("doc_id"), col("n_words"), col("n_stop"),
        expr("(1000L * nosp) div n_words").as("mean_word_len_x1000"),
        expr("(10000L * n_stop) div n_words").as("stop_bp"),
        // the blended C4/Gopher-style score in exact ppm integer
        // arithmetic: 0.5·min(1, n_words/100) + 0.3·stop_ratio
        // + 0.2·min(1, mean_word_len/8) — each term scaled ×10⁶
        // before the division, so no double rounding anywhere
        (expr("least(1000000L, n_words * 10000L) div 2") +
          expr("(300000L * n_stop) div n_words") +
          expr("least(200000L, (25000L * nosp) div n_words)"))
          .as("quality_score_ppm"))

  private val q24Sql =
    s"""SELECT doc_id, n_words, n_stop,
       |  (1000 * nosp) // n_words AS mean_word_len_x1000,
       |  (10000 * n_stop) // n_words AS stop_bp,
       |  (least(1000000, n_words * 10000) // 2
       |    + (300000 * n_stop) // n_words
       |    + least(200000, (25000 * nosp) // n_words)) AS quality_score_ppm
       |FROM (
       |  SELECT doc_id,
       |    CAST(len($wordsSqlExpr) AS BIGINT) AS n_words,
       |    CAST(len(list_filter($wordsSqlExpr,
       |      x -> x IN ('the','a','and','of','to'))) AS BIGINT) AS n_stop,
       |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS nosp
       |  FROM documents)""".stripMargin

  /** q25: language-ID heuristic — marker-token votes per language with a
    * fixed priority tie-break (en > es > de > fr > zh). The heuristic is
    * the declared operator; the `lang` column is NOT consulted. */
  private def q25(s: SparkSession, d: String): DataFrame = {
    def cnt(ws: Column, markers: Seq[String]): Column =
      expr(s"size(filter(words, x -> x IN (${markers.map("'" + _ + "'").mkString(",")})))")
    val markers = Seq(
      "en" -> Seq("the", "and", "of"),
      "es" -> Seq("el", "la", "de"),
      "de" -> Seq("der", "und", "das"),
      "fr" -> Seq("le", "et", "les"),
      "zh" -> Seq("shi", "bu", "wo"))
    var df = Tables.documents(s, d).withColumn("words", expr(wordsExpr))
    for ((l, ms) <- markers) df = df.withColumn(s"c_$l", cnt(col("words"), ms))
    val best = markers.map { case (l, _) => col(s"c_$l") }
    df.select(col("doc_id"), col("c_en"), col("c_es"), col("c_de"),
        col("c_fr"), col("c_zh"),
        when(col("c_en") === greatest(best: _*), "en")
          .when(col("c_es") === greatest(best: _*), "es")
          .when(col("c_de") === greatest(best: _*), "de")
          .when(col("c_fr") === greatest(best: _*), "fr")
          .otherwise("zh").as("predicted_lang"))
  }

  private val q25Sql = {
    def cnt(markers: Seq[String]): String =
      s"len(list_filter($wordsSqlExpr, x -> x IN (${markers.map("'" + _ + "'").mkString(",")})))"
    s"""SELECT doc_id, c_en, c_es, c_de, c_fr, c_zh,
       |  CASE WHEN c_en = greatest(c_en, c_es, c_de, c_fr, c_zh) THEN 'en'
       |       WHEN c_es = greatest(c_en, c_es, c_de, c_fr, c_zh) THEN 'es'
       |       WHEN c_de = greatest(c_en, c_es, c_de, c_fr, c_zh) THEN 'de'
       |       WHEN c_fr = greatest(c_en, c_es, c_de, c_fr, c_zh) THEN 'fr'
       |       ELSE 'zh' END AS predicted_lang
       |FROM (
       |  SELECT doc_id,
       |    ${cnt(Seq("the", "and", "of"))} AS c_en,
       |    ${cnt(Seq("el", "la", "de"))} AS c_es,
       |    ${cnt(Seq("der", "und", "das"))} AS c_de,
       |    ${cnt(Seq("le", "et", "les"))} AS c_fr,
       |    ${cnt(Seq("shi", "bu", "wo"))} AS c_zh
       |  FROM documents)""".stripMargin
  }

  /** q26: content fingerprinting — md5 of the normalized text plus the
    * 32-bit engine hash (both engines compute identical md5). */
  private def q26(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      md5(lower(trim(col("text")))).as("fingerprint"),
      hash32(lower(trim(col("text")))).as("fp32"))

  private val q26Sql =
    s"""SELECT doc_id, md5(lower(trim(text))) AS fingerprint,
       |  ${hash32Sql("lower(trim(text))")} AS fp32
       |FROM documents""".stripMargin

  /** q27: exact-dedup statistics per source — full-text and 40-char-prefix
    * duplicate ratios (hash-groupBy dedup; the 100 TB path is groupBy on
    * the md5, which shuffles only 16-byte keys). */
  private def q27(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"),
        countDistinct(md5(substring(col("text"), 1, 40)))
          .as("n_distinct_prefix40"))
      .withColumn("dup_bp",
        expr("(10000L * (n_docs - n_distinct)) div n_docs"))

  private val q27Sql =
    """SELECT source, n_docs, n_distinct, n_distinct_prefix40,
      |  (10000 * (n_docs - n_distinct)) // n_docs AS dup_bp
      |FROM (
      |  SELECT source, count(*) AS n_docs,
      |    count(DISTINCT md5(text)) AS n_distinct,
      |    count(DISTINCT md5(substr(text, 1, 40))) AS n_distinct_prefix40
      |  FROM documents GROUP BY source)""".stripMargin

  /** MinHash permutation constants: h_i(x) = (a_i·h + b_i) mod p over the
    * 32-bit token hash (`hash32`, md5-derived so both engines agree).
    * a_i·h < 1e9 · 2^32 < 2^63 — no overflow. Canonical definition
    * lives with the fused kernel ([[graft.expressions.Md5Hashes]]);
    * these aliases keep the oracle SQL generators reading the same
    * constants. */
  private[graft] val P = graft.expressions.Md5Hashes.MinHashP
  private[graft] val perms = graft.expressions.Md5Hashes.MinHashPerms

  /** (doc_id, m0..m7) MinHash signatures straight from the word array
    * — the fused form of explode + hash32 + 8×min groupBy (identical
    * values: [[graft.expressions.MinHashSig]] runs the same per-word
    * hash and modular mins in one pass), minus the explode fanout and
    * the aggregation exchange. The sig-null filter mirrors the old
    * explode's drop of docs whose word array is null. */
  private def minhashAgg(s: SparkSession, docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"), expr(s"minhash_sig($wordsExpr)").as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id") +:
        (0 until 8).map(i => col("sig").getItem(i).as(s"m$i")): _*)
  }

  private def minhashSqlCols: String =
    perms.zipWithIndex.map { case ((a, b), i) =>
      s"min((${hash32Sql("w")} * $a + $b) % $P) AS m$i"
    }.mkString(",\n    ")

  /** q28: MinHash signatures (k=8) over the token sets — the shingle →
    * minhash step of MinHash-LSH dedup. explode + hash-keyed groupBy;
    * partial (map-side) min aggregation makes the shuffle tiny. */
  private def q28(s: SparkSession, d: String): DataFrame =
    minhashAgg(s, Tables.documents(s, d))

  private[queries] val q28Sql =
    s"""SELECT doc_id,
       |    $minhashSqlCols
       |FROM (SELECT doc_id, unnest($wordsSqlExpr) AS w FROM documents)
       |GROUP BY doc_id""".stripMargin

  /** q29: LSH candidate pairs + Jaccard verification — band the 8-hash
    * signature into 2 bands of 4 (collision prob ≈ s⁴ per band, tuned
    * for the ~0.84 near-dup threshold), equi-join on the band key, then
    * verify with exact token-set Jaccard ≥ 0.7. At 100 TB the band join
    * is the only pairwise step and it shuffles on band-key buckets.
    *
    * Perf: the verification intersects 32-bit token-HASH sets, not
    * string sets (identical hashes on both engines → identical counts;
    * ~8× lighter shuffle rows), and prunes pairs with the exact integer
    * bound 10·min(|A|,|B|) ≥ 7·max(|A|,|B|), which J ≥ 0.7 implies.
    *
    * Shape: each band is its own hash table (join key = band INDEX +
    * band value, standard LSH), word-sets attach to the (doc, band)
    * rows BEFORE the self-join so the only shuffles are band-key-sized
    * (2 rows/doc), and duplicate candidates are eliminated WITHOUT any
    * distinct by the first-matching-band rule: a band-2 match is kept
    * only when the docs' band-1 keys differ (each qualifying pair is
    * emitted exactly once, by its first matching band). Candidate rows
    * flow from the join straight into prune + intersect without ever
    * being shuffled. Alternatives measured on the pathological corpus:
    * distinct-pairs-then-rejoin-wordsets shuffles millions of pair rows
    * twice; verify-all-then-distinct intersects 1.4× more candidates —
    * both slower. */
  private def q29(s: SparkSession, d: String): DataFrame = {
    val sig = q28(s, d)
    // opt_barrier pins the hashed word set in this projection — without
    // it CollapseProject/pushdown inline the md5 token hashing into
    // every consumer (size(), join-side null filters), recomputing it
    // per reference (same pathology measured 30× on q31).
    val words = Tables.documents(s, d)
      .select(col("doc_id"),
        expr("opt_barrier(array_sort(array_distinct(" +
          s"md5_prefix_longs($wordsExpr, 8))))")
          .as("wset"))
      .withColumn("nw", size(col("wset")).cast("long"))
    // Band keys as exact modular folds (LONG join keys beat 32-char md5
    // strings for the self-join; both engines compute the identical
    // value — operands stay < 2^39, no overflow anywhere).
    def fold(seed: Long, ms: Seq[String]): Column =
      ms.foldLeft(lit(seed))((acc, m) => (acc * 127 + col(m)) % P)
    val bandRows = sig
      .select(col("doc_id"),
        fold(1L, Seq("m0", "m1", "m2", "m3")).as("band1"),
        fold(2L, Seq("m4", "m5", "m6", "m7")).as("band2"))
      .select(col("doc_id"), col("band1"),
        explode(array(
          struct(lit(1).as("bidx"), col("band1").as("band")),
          struct(lit(2).as("bidx"), col("band2").as("band")))).as("e"))
      .select(col("doc_id"), col("band1"),
        col("e.bidx").as("bidx"), col("e.band").as("band"))
      .join(words, "doc_id")
    val x = bandRows.select(col("bidx"), col("band"),
      col("doc_id").as("doc_a"), col("band1").as("b1a"),
      col("wset").as("wa"), col("nw").as("na"))
    val y = bandRows.select(col("bidx"), col("band"),
      col("doc_id").as("doc_b"), col("band1").as("b1b"),
      col("wset").as("wb"), col("nw").as("nb"))
    x.join(y, Seq("bidx", "band"))
      .filter(col("doc_a") < col("doc_b") &&
        (col("bidx") === 1 || col("b1a") =!= col("b1b")) &&
        least(col("na"), col("nb")) * 10 >= greatest(col("na"), col("nb")) * 7)
      // opt_barrier: keeps the jaccard filter ABOVE the join (pushed into
      // the join condition it would evaluate the intersect 3x per pair)
      .withColumn("inter", expr("opt_barrier(sorted_long_intersect_count(wa, wb))"))
      .withColumn("jaccard", round(
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")),
        6))
      .filter(col("jaccard") >= 0.7)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  private val q29Sql =
    s"""WITH sig AS ($q28Sql),
       |bands AS (
       |  SELECT doc_id, 1 AS bidx,
       |    (((((1 * 127 + m0) % $P) * 127 + m1) % $P * 127 + m2) % $P * 127 + m3) % $P AS band
       |  FROM sig
       |  UNION ALL
       |  SELECT doc_id, 2 AS bidx,
       |    (((((2 * 127 + m4) % $P) * 127 + m5) % $P * 127 + m6) % $P * 127 + m7) % $P AS band
       |  FROM sig),
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |  ON x.bidx = y.bidx AND x.band = y.band AND x.doc_id < y.doc_id),
       |wsets AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform($wordsSqlExpr,
       |      w -> CAST(('0x' || substr(md5(w),1,8)) AS BIGINT))) AS wset,
       |    CAST(len(list_distinct(list_transform($wordsSqlExpr,
       |      w -> CAST(('0x' || substr(md5(w),1,8)) AS BIGINT)))) AS BIGINT) AS nw
       |  FROM documents)
       |SELECT doc_a, doc_b,
       |  round(CAST(len(list_intersect(wa.wset, wb.wset)) AS DOUBLE)
       |    / (wa.nw + wb.nw - len(list_intersect(wa.wset, wb.wset))), 6) AS jaccard
       |FROM pairs
       |JOIN wsets wa ON wa.doc_id = doc_a
       |JOIN wsets wb ON wb.doc_id = doc_b
       |WHERE least(wa.nw, wb.nw) * 10 >= greatest(wa.nw, wb.nw) * 7
       |  AND round(CAST(len(list_intersect(wa.wset, wb.wset)) AS DOUBLE)
       |    / (wa.nw + wb.nw - len(list_intersect(wa.wset, wb.wset))), 6) >= 0.7""".stripMargin

  /** q78: duplicate-CLUSTER connected components — the step after LSH
    * in a real dedup pipeline: group transitively-linked docs and pick
    * a canonical representative (min doc_id). Scalable construction:
    * never materialize band cliques — each band group contributes STAR
    * edges to its min doc (2 edges/doc total), and components emerge
    * via [[graft.operators.ConnectedComponents.minLabel]]: accelerated
    * min-label propagation (edge hop + pointer jump per round) seeded
    * from the dup subgraph only, converging in O(log diameter)
    * driver-synchronized rounds. The oracle computes the same fixpoint
    * with a recursive CTE (reachability labels → min per node). */
  /** Shared by q78/q150: symmetric star edges of the LSH candidate
    * graph (2 edges/doc per band group, never the clique). */
  private[queries] def lshStarEdges(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sig = q28(s, d)
    def fold(seed: Long, ms: Seq[String]): Column =
      ms.foldLeft(lit(seed))((acc, m) => (acc * 127 + col(m)) % P)
    val bands = sig.select(col("doc_id"),
        explode(array(
          struct(lit(1).as("bidx"), fold(1L, Seq("m0", "m1", "m2", "m3")).as("band")),
          struct(lit(2).as("bidx"), fold(2L, Seq("m4", "m5", "m6", "m7")).as("band")))).as("e"))
      .select(col("doc_id"), col("e.bidx").as("bidx"), col("e.band").as("band"))
    val stars = bands
      .withColumn("root",
        min(col("doc_id")).over(Window.partitionBy(col("bidx"), col("band"))))
      .filter(col("doc_id") =!= col("root"))
      .select(col("doc_id"), col("root"))
      .distinct()
    stars.select(col("doc_id").as("src"), col("root").as("dst"))
      .union(stars.select(col("root").as("src"), col("doc_id").as("dst")))
  }

  private def q78(s: SparkSession, d: String): DataFrame = {
    val (labels, _) =
      graft.operators.ConnectedComponents.minLabel(lshStarEdges(s, d))
    labels.groupBy(col("label").as("canonical_doc"))
      .agg(count(lit(1)).as("n_docs"), max(col("node")).as("max_doc"))
      .filter(col("n_docs") > 1)
  }

  private val q78Sql =
    s"""WITH RECURSIVE sig AS ($q28Sql),
       |bandt AS (
       |  SELECT doc_id, 1 AS bidx,
       |    (((((1 * 127 + m0) % $P) * 127 + m1) % $P * 127 + m2) % $P * 127 + m3) % $P AS band
       |  FROM sig
       |  UNION ALL
       |  SELECT doc_id, 2 AS bidx,
       |    (((((2 * 127 + m4) % $P) * 127 + m5) % $P * 127 + m6) % $P * 127 + m7) % $P AS band
       |  FROM sig),
       |stars AS (
       |  SELECT DISTINCT doc_id,
       |    min(doc_id) OVER (PARTITION BY bidx, band) AS root
       |  FROM bandt),
       |edges AS (
       |  SELECT doc_id AS src, root AS dst FROM stars WHERE doc_id <> root
       |  UNION ALL
       |  SELECT root AS src, doc_id AS dst FROM stars WHERE doc_id <> root),
       |lab AS (
       |  SELECT doc_id AS node, doc_id AS label FROM documents
       |  UNION
       |  SELECT e.dst AS node, lab.label AS label
       |  FROM lab JOIN edges e ON lab.node = e.src),
       |final AS (SELECT node, min(label) AS label FROM lab GROUP BY node)
       |SELECT label AS canonical_doc, count(*) AS n_docs, max(node) AS max_doc
       |FROM final GROUP BY 1 HAVING count(*) > 1""".stripMargin

  /** q79: canonical selection within exact-dup groups — after grouping
    * docs by a 40-char-prefix fingerprint, KEEP the longest doc
    * (doc_id tiebreak): the standard "pick the best copy" rule a dedup
    * pipeline applies before dropping the rest. One shuffle on the
    * 16-byte fingerprint, then per-group window work. */
  private def q79(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byFp = Window.partitionBy(col("fp"))
    val best = Window.partitionBy(col("fp"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    Tables.documents(s, d)
      .select(md5(substring(col("text"), 1, 40).cast("binary")).as("fp"),
        col("doc_id"), col("n_chars"))
      .withColumn("n_dups", count(lit(1)).over(byFp))
      .withColumn("rn", row_number().over(best))
      .filter(col("n_dups") > 1 && col("rn") === 1)
      .select(col("fp"), col("n_dups"), col("doc_id").as("keep_doc"),
        col("n_chars").as("keep_chars"))
  }

  private val q79Sql =
    """SELECT fp, n_dups, doc_id AS keep_doc, n_chars AS keep_chars
      |FROM (
      |  SELECT md5(substr(text, 1, 40)) AS fp, doc_id, n_chars,
      |    count(*) OVER (PARTITION BY md5(substr(text, 1, 40))) AS n_dups,
      |    row_number() OVER (PARTITION BY md5(substr(text, 1, 40))
      |      ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM documents)
      |WHERE n_dups > 1 AND rn = 1""".stripMargin

  /** q82: repetition detection (Gopher/C4-style quality filter) —
    * duplicate-bigram ratio and most-frequent-bigram share per doc.
    * explode + two-level groupBy: the shuffle carries (doc, gram)
    * counts, partial-combined map-side; no per-doc state bigger than
    * its distinct grams. */
  private def q82(s: SparkSession, d: String): DataFrame = {
    val grams = Tables.documents(s, d)
      .withColumn("w", expr(wordsExpr))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i+1]))"))
        .as("gram"))
    grams.groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bi"), count(lit(1)).as("n_dist"),
        max(col("cnt")).as("top_n"))
      .select(col("doc_id"), col("n_bi"), col("n_dist"),
        expr("(10000L * (n_bi - n_dist)) div n_bi").as("dup_bp"),
        expr("(10000L * top_n) div n_bi").as("top_bp"))
  }

  private val q82Sql =
    s"""WITH bi AS (
       |  SELECT doc_id,
       |    unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS gram
       |  FROM (SELECT doc_id, $wordsSqlExpr AS w FROM documents)
       |  WHERE len(w) >= 2),
       |counts AS (SELECT doc_id, gram, count(*) AS cnt FROM bi GROUP BY 1, 2)
       |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bi, count(*) AS n_dist,
       |  (10000 * (CAST(sum(cnt) AS BIGINT) - count(*)))
       |    // CAST(sum(cnt) AS BIGINT) AS dup_bp,
       |  (10000 * CAST(max(cnt) AS BIGINT))
       |    // CAST(sum(cnt) AS BIGINT) AS top_bp
       |FROM counts GROUP BY 1""".stripMargin

  /** q30: SimHash (16-bit) over token hashes — per-bit signed votes, bit
    * set when the vote is positive. Single explode + groupBy; the
    * signature packs back into one BIGINT. */
  private def q30(s: SparkSession, d: String): DataFrame = {
    val bits = 0 until 16
    val df = Tables.documents(s, d)
      .select(col("doc_id"), explode(expr(wordsExpr)).as("w"))
      .withColumn("h", hash32(col("w")))
    val votes = bits.map(b =>
      sum(when(expr(s"(h div ${1L << b}) % 2") === 1, 1).otherwise(-1))
        .as(s"v$b"))
    df.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        bits.map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  private val q30Sql = {
    val votes = (0 until 16).map(b =>
      s"sum(CASE WHEN (h // ${1L << b}) % 2 = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(",\n    ")
    val pack = (0 until 16)
      .map(b => s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    s"""SELECT doc_id, CAST($pack AS BIGINT) AS simhash
       |FROM (
       |  SELECT doc_id,
       |    $votes
       |  FROM (SELECT doc_id, ${hash32Sql("w")} AS h
       |        FROM (SELECT doc_id, unnest($wordsSqlExpr) AS w FROM documents))
       |  GROUP BY doc_id)""".stripMargin
  }

  /** q31: word-trigram Jaccard near-dup via LSH banding WITHIN source —
    * the n-gram variant of q29, with the band layout TUNED TO THE
    * DECLARED THRESHOLD. For a candidate threshold of J ≥ 0.2, q29's
    * 2-bands-of-4 layout has collision probability 1-(1-s⁴)² ≈ 0.3% at
    * s = 0.2 — near-zero recall at the boundary. Here each of the 8
    * MinHash permutations is its own 1-row band, so a pair collides in
    * ≥1 band with probability 1-(1-s)⁸:
    *   s=0.2 → 0.83,  s=0.3 → 0.94,  s=0.5 → 0.996,  s≥0.7 → ~1.
    * (q29 keeps 2×4 because its working threshold is ~0.84.) Expected
    * recall at the J=0.2 boundary is therefore ~83%, rising steeply.
    *
    * Scale shape: candidates come from a banded equi-join on (source,
    * band-index, minhash) — never a per-source blocking self-join — so
    * pairwise work is bounded by band-bucket size. 1-row bands bucket
    * by a single minhash value, whose bucket population is bounded by
    * the document frequency of the winning trigram; the integer
    * size-ratio prune and the codegen'd intersect keep per-pair cost
    * flat. Pair dedup is first-matching-band (keep the pair only at the
    * smallest band index where the minhashes agree — an O(1) array
    * probe, no `distinct` shuffle). */
  private def q31(s: SparkSession, d: String): DataFrame = {
    // opt_barrier pins the trigram set and the signature array in THIS
    // projection: without it, the Generate's pushed-down null/size checks
    // and the join's null filters alias-substitute the whole
    // trigram+minhash pipeline into filters below (recomputing the md5
    // trigram hashing several times per row — measured 30× slower).
    val tri = Tables.spreadKernel(Tables.documents(s, d))
      .withColumn("w", expr(wordsExpr))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), col("source"),
        expr("opt_barrier(" +
          "array_sort(array_distinct(ngram_md5_longs(w, 3, 8))))")
          .as("tri"))
      .withColumn("nt", size(col("tri")).cast("long"))
    val sig = tri.select(col("doc_id"), col("source"), col("tri"), col("nt"),
      expr(s"opt_barrier(${perms.map { case (a, b) =>
        s"array_min(transform(tri, h -> (h * ${a}L + ${b}L) % $P))"
      }.mkString("array(", ", ", ")")})").as("ms"))
    val bandRows = sig
      .select(col("doc_id"), col("source"), col("tri"), col("nt"), col("ms"),
        posexplode(col("ms")).as(Seq("bidx", "band")))
    val x = bandRows.select(col("source"), col("bidx"), col("band"),
      col("doc_id").as("doc_a"), col("ms").as("msa"),
      col("tri").as("ta"), col("nt").as("na"))
    val y = bandRows.select(col("source"), col("bidx"), col("band"),
      col("doc_id").as("doc_b"), col("ms").as("msb"),
      col("tri").as("tb"), col("nt").as("nb"))
    x.join(y, Seq("source", "bidx", "band"))
      .filter(col("doc_a") < col("doc_b") &&
        // first-matching-band: no earlier permutation already collided
        !expr("exists(slice(zip_with(msa, msb, (x, y) -> x = y), 1, bidx), v -> v)") &&
        least(col("na"), col("nb")) * 10 >= greatest(col("na"), col("nb")) * 2)
      // opt_barrier: keeps the jaccard filter ABOVE the join (pushed into
      // the join condition it would evaluate the intersect 3x per pair)
      .withColumn("inter", expr("opt_barrier(sorted_long_intersect_count(ta, tb))"))
      .withColumn("jaccard", round(
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")),
        6))
      .filter(col("jaccard") >= 0.2)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  private val q31Sql = {
    val mins = perms.map { case (a, b) =>
      s"list_min(list_transform(tri, h -> (h * $a + $b) % $P))"
    }.mkString("[", ",\n      ", "]")
    s"""WITH tri0 AS (
       |  SELECT doc_id, source,
       |    list_distinct(list_transform(
       |      [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)],
       |      t -> CAST(('0x' || substr(md5(t),1,8)) AS BIGINT))) AS tri
       |  FROM (SELECT doc_id, source, $wordsSqlExpr AS w FROM documents)
       |  WHERE len(w) >= 3),
       |tri AS (SELECT doc_id, source, tri, CAST(len(tri) AS BIGINT) AS nt FROM tri0),
       |sig AS (
       |  SELECT doc_id, source, tri, nt,
       |    $mins AS ms
       |  FROM tri),
       |br AS (
       |  SELECT doc_id, source, tri, nt, ms,
       |    g.i - 1 AS bidx, ms[g.i] AS band
       |  FROM sig CROSS JOIN generate_series(1, ${perms.size}) AS g(i))
       |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |  round(CAST(len(list_intersect(x.tri, y.tri)) AS DOUBLE)
       |    / (x.nt + y.nt - len(list_intersect(x.tri, y.tri))), 6) AS jaccard
       |FROM br x JOIN br y
       |  ON x.source = y.source AND x.bidx = y.bidx AND x.band = y.band
       |  AND x.doc_id < y.doc_id
       |  AND len(list_filter(range(1, x.bidx + 1), j -> x.ms[j] = y.ms[j])) = 0
       |  AND least(x.nt, y.nt) * 10 >= greatest(x.nt, y.nt) * 2
       |WHERE round(CAST(len(list_intersect(x.tri, y.tri)) AS DOUBLE)
       |    / (x.nt + y.nt - len(list_intersect(x.tri, y.tri))), 6) >= 0.2""".stripMargin
  }

  /** q35: multimodal binary-column plumbing — payload treated as opaque
    * bytes with typed metadata (size, magic, content hash). The decode /
    * feature-extract stage is the `graft.multimodal` stub operator
    * (mapPartitions seam); this declares the metadata surface. */
  private def q35(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      octet_length(col("text")).cast("long").as("payload_bytes"),
      substring(col("text"), 1, 4).as("magic"),
      hash32(col("text")).as("content_hash"))

  private val q35Sql =
    s"""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
       |  substr(text, 1, 4) AS magic, ${hash32Sql("text")} AS content_hash
       |FROM documents""".stripMargin

  /** q71: language-ID agreement — the q25 heuristic scored against the
    * corpus's lang labels, per source (the eval loop a real langid
    * pipeline runs before trusting the classifier). */
  private def q71(s: SparkSession, d: String): DataFrame =
    q25(s, d).select(col("doc_id"), col("predicted_lang"))
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang"),
        col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum((col("predicted_lang") === col("lang")).cast("long"))
          .as("n_agree"),
        round(sum((col("predicted_lang") === col("lang")).cast("long"))
          .cast("double") / count(lit(1)), 6).as("agreement"))

  private val q71Sql =
    s"""SELECT source, count(*) AS n,
       |  CAST(sum(CAST(predicted_lang = lang AS BIGINT)) AS BIGINT) AS n_agree,
       |  round(CAST(sum(CAST(predicted_lang = lang AS BIGINT)) AS DOUBLE)
       |    / count(*), 6) AS agreement
       |FROM ($q25Sql) p
       |JOIN documents USING (doc_id)
       |GROUP BY source""".stripMargin

  /** q72: rolling-hash document fingerprinting — (a) full-text
    * polynomial hash h = fold(acc·131 + code(c)) mod (2³¹−1), the
    * Rabin-Karp accumulator; (b) winnowing-lite: min/max over the
    * 8-gram window hashes (same fold per window) plus their distinct
    * count — the k-gram sketch used for containment detection.
    * Spark side is the native codegen'd [[graft.expressions.RollingFingerprint]]
    * (one linear scan per doc, O(1) rolling update per gram); the
    * oracle recomputes every gram hash by direct folding. */
  private def q72(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      // exclude sub-8-char docs identically on both sides
      .filter(length(col("text")) >= 8)
      .withColumn("fp", expr("rolling_fingerprint(text, 8)"))
      .select(col("doc_id"),
        col("fp.poly_hash").as("poly_hash"),
        col("fp.min_gram_hash").as("min_gram_hash"),
        col("fp.max_gram_hash").as("max_gram_hash"),
        col("fp.n_distinct_grams").as("n_distinct_grams"))
  }

  private val q72Sql =
    s"""SELECT doc_id,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
       |    (acc, c) -> (acc * 131 + c) % 2147483647) AS poly_hash,
       |  list_min(gh) AS min_gram_hash,
       |  list_max(gh) AS max_gram_hash,
       |  CAST(len(list_distinct(gh)) AS BIGINT) AS n_distinct_grams
       |FROM (
       |  SELECT doc_id, codes,
       |    [list_reduce(list_prepend(CAST(0 AS BIGINT), codes[i:i+7]),
       |       (acc, c) -> (acc * 131 + c) % 2147483647)
       |     for i in range(1, len(codes) - 6)] AS gh
       |  FROM (
       |    SELECT doc_id,
       |      list_transform(str_split(text, ''), c -> CAST(ascii(c) AS BIGINT)) AS codes
       |    FROM documents WHERE length(text) >= 8))""".stripMargin

  /** q104: SimHash NEAR-DUP pairs — the Hamming-ball join that turns
    * q30's signatures into a dedup operator (the missing half of the
    * SimHash story; q30 only emits signatures). Pairs whose 60-bit
    * simhashes differ in ≤ 3 bits are near-duplicates.
    *
    * Scale shape (Manku, Jain & Sarma, "Detecting Near-Duplicates for
    * Web Crawling", WWW'07): the fingerprint is split into 4 blocks of
    * 15 bits; by pigeonhole, Hamming distance ≤ 3 forces at least one
    * block to match exactly, so candidates come from an EQUI-JOIN on
    * (block-index, block-value) — never an all-pairs scan. Per-pair
    * verification is one XOR + popcount. Duplicate candidates are
    * eliminated without a `distinct` shuffle by the first-matching-block
    * rule (q29's pattern): a pair found at block k is kept only when
    * blocks 0..k−1 all differ.
    *
    * At N docs a 15-bit block key has ~N/2¹⁵ docs per bucket; at 100 TB
    * widen the fingerprint and the blocks (Manku's production layout is
    * 64-bit prints × 20+-bit permuted prefixes) so bucket population
    * stays bounded — the knob is block width, the plan shape is fixed.
    * AQE skew-join handles residual hot buckets.
    *
    * The 60-bit width is the largest md5-hex prefix (15 chars) both
    * engines can cast to a signed BIGINT without overflow. Votes ride
    * one explode + groupBy(doc_id) with map-side partial aggregation:
    * each doc's words sit in one input row, so the shuffle carries one
    * 60-column partial row per doc. */
  private def q104(s: SparkSession, d: String): DataFrame = {
    val bits = 0 until 60
    val hw = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(expr(s"md5_prefix_longs($wordsExpr, 15)")).as("h"))
    val votes = bits.map(b =>
      sum(when(expr(s"(h div ${1L << b}) % 2") === 1, 1).otherwise(-1))
        .as(s"v$b"))
    val sig = hw.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        bits.map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("sh"))
    val withBlocks = sig.select(col("doc_id") +: col("sh") +:
      (0 until 4).map(i =>
        expr(s"(sh div ${1L << (15 * i)}) % 32768").as(s"b$i")): _*)
    val bandRows = withBlocks.select(
      col("doc_id"), col("sh"), col("b0"), col("b1"), col("b2"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
        .as(Seq("bidx", "bval")))
    val x = bandRows.select(col("bidx"), col("bval"),
      col("doc_id").as("doc_a"), col("sh").as("sha"),
      col("b0").as("b0a"), col("b1").as("b1a"), col("b2").as("b2a"))
    val y = bandRows.select(col("bidx"), col("bval"),
      col("doc_id").as("doc_b"), col("sh").as("shb"),
      col("b0").as("b0b"), col("b1").as("b1b"), col("b2").as("b2b"))
    x.join(y, Seq("bidx", "bval"))
      .filter(col("doc_a") < col("doc_b") &&
        (col("bidx") === 0 || col("b0a") =!= col("b0b")) &&
        (col("bidx") <= 1 || col("b1a") =!= col("b1b")) &&
        (col("bidx") <= 2 || col("b2a") =!= col("b2b")))
      .withColumn("hd", bit_count(col("sha").bitwiseXOR(col("shb"))))
      .filter(col("hd") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hd"))
  }

  /** Oracle: all-pairs over the identical 60-bit signatures (correctness
    * form only — the banding is a Spark-side performance shape and
    * changes no results). */
  private val q104Sql =
    """WITH hw AS (
      |  SELECT doc_id, CAST(('0x' || substr(md5(w),1,15)) AS BIGINT) AS h
      |  FROM (SELECT doc_id, unnest(str_split(text,' ')) AS w FROM documents)),
      |votes AS (
      |  SELECT doc_id, i,
      |    sum(CASE WHEN (h // (2**i)::BIGINT) % 2 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM hw, (SELECT unnest(range(60)) AS i) bits
      |  GROUP BY doc_id, i),
      |sig AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN v > 0 THEN (2**i)::BIGINT ELSE 0 END) AS BIGINT) AS sh
      |  FROM votes GROUP BY doc_id)
      |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
      |  CAST(bit_count(xor(x.sh, y.sh)) AS INT) AS hd
      |FROM sig x JOIN sig y ON x.doc_id < y.doc_id
      |WHERE bit_count(xor(x.sh, y.sh)) <= 3""".stripMargin

  /** q109: passage-level exact dedup — the sub-document dedup step of a
    * C4/RefinedWeb-style pipeline (q27 dedups whole documents; real
    * corpora duplicate PASSAGES across documents). Non-overlapping
    * 10-word chunks; the globally-first occurrence (lowest (doc_id,
    * chunk_idx)) survives; each document is reassembled from its
    * surviving chunks in order.
    *
    * Scale shape: explode to ~n_words/10 chunk rows, ONE shuffle on the
    * chunk hash (row_number picks the canonical copy — no self-join, no
    * distinct), one shuffle back on doc_id for ordered reassembly
    * (native listagg WITHIN GROUP). Chunk rows carry only (hash,
    * doc_id, idx, text) — at 100 TB the shuffle payload is the corpus
    * itself once, which is the floor for any rewrite-the-text operator. */
  private def q109(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunks = Tables.documents(s, d)
      .withColumn("w", expr(wordsExpr))
      .select(col("doc_id"), col("w"),
        explode(expr("sequence(0, cast(ceil(size(w) / 10.0) as int) - 1)"))
          .as("cidx"))
      .select(col("doc_id"), col("cidx"),
        expr("array_join(slice(w, cidx * 10 + 1, 10), ' ')").as("chunk"))
      .withColumn("h", md5(col("chunk")))
    chunks
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("h"))
          .orderBy(col("doc_id").asc, col("cidx").asc)))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum((col("rk") === 1).cast("long")).as("n_kept"),
        expr("listagg(CASE WHEN rk = 1 THEN chunk END, ' ') " +
          "WITHIN GROUP (ORDER BY cidx)").as("clean_text"))
  }

  private val q109Sql =
    s"""WITH chunks AS (
       |  SELECT doc_id, cidx,
       |    array_to_string(w[cidx * 10 + 1 : cidx * 10 + 10], ' ') AS chunk
       |  FROM (
       |    SELECT doc_id, w, unnest(range(CAST(ceil(len(w) / 10.0) AS INT))) AS cidx
       |    FROM (SELECT doc_id, $wordsSqlExpr AS w FROM documents))),
       |ranked AS (
       |  SELECT doc_id, cidx, chunk,
       |    row_number() OVER (PARTITION BY md5(chunk)
       |      ORDER BY doc_id, cidx) AS rk
       |  FROM chunks)
       |SELECT doc_id, count(*) AS n_chunks,
       |  CAST(sum(CAST(rk = 1 AS BIGINT)) AS BIGINT) AS n_kept,
       |  string_agg(CASE WHEN rk = 1 THEN chunk END, ' ' ORDER BY cidx)
       |    AS clean_text
       |FROM ranked
       |GROUP BY doc_id""".stripMargin

  /** q113: bigram novelty — per document, the share of its DISTINCT
    * bigrams that appear in no other document: the corpus-uniqueness
    * signal a quality/contamination filter scores before keeping a
    * crawl shard (high novelty = fresh content; near-zero = boilerplate
    * or a near-dup of something already held). Deliberately integer-
    * exact (document frequencies and counts, ratio rounded at the end)
    * — no log/perplexity float-parity traps.
    *
    * Scale shape: distinct (doc, bigram-hash) pairs → ONE shuffle on
    * the bigram hash computes document frequency with map-side
    * partials → group back by doc. The shuffle key is the 60-bit hash,
    * never the bigram string. */
  private def q113(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.documents(s, d)
      .withColumn("w", expr(wordsExpr))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "array_distinct(ngram_md5_longs(w, 2, 15))"))
        .as("bh"))
    val df = pairs.groupBy(col("bh"))
      .agg(count(lit(1)).as("doc_freq"))
    pairs.join(df, "bh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum((col("doc_freq") === 1).cast("long")).as("n_unique"))
      .select(col("doc_id"), col("n_bigrams"), col("n_unique"),
        expr("(10000L * n_unique) div n_bigrams").as("novelty_bp"))
  }

  private val q113Sql =
    s"""WITH pairs AS (
       |  SELECT DISTINCT doc_id,
       |    CAST(('0x' || substr(md5(bg), 1, 15)) AS BIGINT) AS bh
       |  FROM (
       |    SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
       |      for i in range(1, len(w))]) AS bg
       |    FROM (SELECT doc_id, $wordsSqlExpr AS w FROM documents
       |          WHERE len($wordsSqlExpr) >= 2))),
       |df AS (SELECT bh, count(*) AS doc_freq FROM pairs GROUP BY 1)
       |SELECT doc_id, count(*) AS n_bigrams,
       |  CAST(sum(CAST(doc_freq = 1 AS BIGINT)) AS BIGINT) AS n_unique,
       |  (10000 * CAST(sum(CAST(doc_freq = 1 AS BIGINT)) AS BIGINT))
       |    // count(*) AS novelty_bp
       |FROM pairs JOIN df USING (bh)
       |GROUP BY 1""".stripMargin

  /** q115: exact-substring cross-document dedup — the RefinedWeb/
    * Gopher `ExactSubstr` step, the real C4 rewrite beyond q109's fixed
    * chunks: any 50-token span that already occurred anywhere in the
    * corpus (first occurrence by (doc_id, position)) is CUT from every
    * later document; documents are rewritten from their surviving
    * tokens.
    *
    * Scale shape: the candidate generator is the native codegen'd
    * [[graft.expressions.TokenWindowHashes]] — every sliding 50-token
    * window hashed in ONE O(n) rolling scan per document (token hashes
    * computed once, subtract-shift-add update per window; never the
    * O(n·k) explode-and-md5). The global first-occurrence rank is ONE
    * shuffle of (doc_id, widx, h) triples — 20 bytes per token, NOT the
    * text (q109 ships the corpus text through its hash shuffle; here
    * the text never leaves its original row). Duplicate windows (dup
    * mass only) merge into disjoint covered intervals per document via
    * the equal-length islands rule (new island iff widx − prev > k−1),
    * collapse to one tiny interval array per affected document, and
    * join back to the corpus on doc_id (broadcast-able whenever the
    * duplicated-document set is small; AQE decides). The rewrite is
    * per-row higher-order functions over the words array — no token
    * explode, no reassembly shuffle. The only corpus-scale costs are
    * the long-triple shuffle and (absent broadcast) one doc_id
    * partitioning of the text: the floor for a global rewrite.
    *
    * The oracle replays window hashes by direct folding (q72 pattern:
    * codepoint fold base 131, token fold base 1000003, both mod 2³¹−1 —
    * pure integer math, hash-exact) and rewrites via a token-level
    * anti-join against the exploded disjoint intervals. */
  private def q115(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), expr(wordsExpr).as("w"))
      .withColumn("n", size(col("w")))
    val wins = docs
      .select(col("doc_id"), expr("token_window_hashes(w, 50)").as("wh"))
      .select(col("doc_id"), posexplode(col("wh")).as(Seq("widx", "h")))
    val dup = wins
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("h"))
          .orderBy(col("doc_id").asc, col("widx").asc)))
      .filter(col("rk") > 1)
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("widx").asc)
    val islands = dup
      .withColumn("prev", lag(col("widx"), 1).over(byDoc))
      .withColumn("brk",
        (col("prev").isNull || col("widx") - col("prev") > 49).cast("int"))
      .withColumn("isl", sum(col("brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("widx")).as("s"), (max(col("widx")) + lit(49)).as("e"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("s"), col("e"))).as("ivs"))
    docs.join(islands, Seq("doc_id"), "left")
      .withColumn("kept", expr(
        """CASE WHEN ivs IS NULL THEN w
          |ELSE transform(filter(sequence(0, n - 1),
          |  i -> NOT exists(ivs, v -> i >= v.s AND i <= v.e)),
          |  i -> element_at(w, i + 1)) END""".stripMargin))
      .select(col("doc_id"),
        col("n").as("n_tokens"),
        (col("n") - size(col("kept"))).as("n_removed"),
        array_join(col("kept"), " ").as("clean_text"))
  }

  private val q115Sql =
    s"""WITH docs AS (
       |  SELECT doc_id, $wordsSqlExpr AS w,
       |    CAST(len($wordsSqlExpr) AS INT) AS n
       |  FROM documents),
       |th AS (
       |  SELECT doc_id, n, w,
       |    list_transform(w, t -> list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(str_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
       |      (a, c) -> (a * 131 + c) % 2147483647)) AS th
       |  FROM docs),
       |wins AS (
       |  SELECT doc_id, i - 1 AS widx,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), th[i : i + 49]),
       |      (a, t) -> (a * 1000003 + t) % 2147483647) AS h
       |  FROM (SELECT doc_id, th, unnest(range(1, n - 50 + 2)) AS i
       |        FROM th WHERE n >= 50)),
       |dup AS (
       |  SELECT doc_id, widx FROM (
       |    SELECT doc_id, widx,
       |      row_number() OVER (PARTITION BY h ORDER BY doc_id, widx) AS rk
       |    FROM wins)
       |  WHERE rk > 1),
       |isl AS (
       |  SELECT doc_id, widx,
       |    sum(CASE WHEN prev IS NULL OR widx - prev > 49
       |             THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY widx
       |            ROWS UNBOUNDED PRECEDING) AS g
       |  FROM (SELECT doc_id, widx,
       |          lag(widx) OVER (PARTITION BY doc_id ORDER BY widx) AS prev
       |        FROM dup)),
       |iv AS (
       |  SELECT doc_id, min(widx) AS s, max(widx) + 49 AS e
       |  FROM isl GROUP BY doc_id, g),
       |cov AS (
       |  SELECT doc_id, unnest(range(s, e + 1)) AS tidx FROM iv),
       |tok AS (
       |  SELECT doc_id, tidx, w[CAST(tidx AS INT) + 1] AS tk
       |  FROM (SELECT doc_id, w,
       |          CAST(unnest(range(0, n)) AS BIGINT) AS tidx
       |        FROM docs)),
       |kept AS (
       |  SELECT t.doc_id, t.tidx, t.tk
       |  FROM tok t LEFT JOIN cov c
       |    ON c.doc_id = t.doc_id AND c.tidx = t.tidx
       |  WHERE c.tidx IS NULL)
       |SELECT d.doc_id,
       |  d.n AS n_tokens,
       |  CAST(d.n - count(k.tidx) AS INT) AS n_removed,
       |  coalesce(string_agg(k.tk, ' ' ORDER BY k.tidx), '') AS clean_text
       |FROM docs d LEFT JOIN kept k ON k.doc_id = d.doc_id
       |GROUP BY d.doc_id, d.n""".stripMargin

  /** q124: corpus-frequency quality score — the unigram-LM proxy a
    * training pipeline runs before a real perplexity model exists: each
    * document scored by how rare its tokens are ACROSS THE CORPUS
    * (mean inverse corpus frequency) plus its hapax and rare-token
    * ratios. Low mean-rarity + low hapax ≈ boilerplate; extreme rarity
    * ≈ garbage/noise — both ends get filtered. Deliberately integer-
    * exact (floored inverse frequencies, integer mean; no log — the
    * usual mean-log-prob form trades engine-identical math for a libm
    * parity trap).
    *
    * Scale shape: tokens hash to 60 bits BEFORE shuffling (the q113
    * rule: the shuffle key is never the string); corpus term frequency
    * is ONE hash-keyed shuffle with map-side partials; the frequency
    * table joins back on the same hash and the per-doc score is one
    * group back to doc_id. Vocabulary follows Heaps' law, so the tf
    * table is tiny relative to the corpus at any scale; AQE broadcasts
    * the join-back when it fits. */
  private def q124(s: SparkSession, d: String): DataFrame = {
    val tok = tokenHashes(s, d)
    val tf = tok.groupBy(col("wh")).agg(count(lit(1)).as("tf"))
    tok.join(tf, "wh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(expr("1000000000000 div tf")).as("inv_sum"),
        sum((col("tf") === 1).cast("long")).as("n_hapax"),
        sum((col("tf") <= 5).cast("long")).as("n_rare"))
      .select(col("doc_id"), col("n_tokens"),
        expr("inv_sum div n_tokens").as("mean_inv_tf"),
        expr("(10000L * n_hapax) div n_tokens").as("hapax_bp"),
        expr("(10000L * n_rare) div n_tokens").as("rare_bp"))
  }

  private val q124Sql =
    s"""WITH tok AS (
       |  $tokenHashesSql),
       |tf AS (SELECT wh, count(*) AS tf FROM tok GROUP BY 1)
       |SELECT doc_id, count(*) AS n_tokens,
       |  CAST(sum(1000000000000 // tf) AS BIGINT) // count(*) AS mean_inv_tf,
       |  (10000 * CAST(sum(CAST(tf = 1 AS BIGINT)) AS BIGINT)) // count(*)
       |    AS hapax_bp,
       |  (10000 * CAST(sum(CAST(tf <= 5 AS BIGINT)) AS BIGINT)) // count(*)
       |    AS rare_bp
       |FROM tok JOIN tf USING (wh)
       |GROUP BY 1""".stripMargin

  /** q132: count-min-sketch heavy hitters — the fixed-size frequency
    * sketch (Cormode–Muthukrishnan) that replaces an unbounded token
    * frequency table when the vocabulary won't fit: 4 rows × 1024
    * buckets of pure counters, point queries answered by the min over
    * the 4 rows, always ≥ the true count. Here the sketch AND the exact
    * top-20 are both computed and compared (est_n − true_n is the
    * collision overestimate a deployment monitors to size the sketch).
    * Deliberately deterministic: the 4 row-hashes are disjoint 10-bit
    * slices of the 60-bit md5 token hash — integer shifts/masks, no
    * seeded RNG — so the oracle rebuilds the identical sketch.
    *
    * Scale shape: the sketch build is a (row, bucket)-keyed aggregate
    * — map-side combine collapses every partition to ≤ 4×1024 partial
    * counters regardless of corpus size, the whole shuffle is ≤ 4096
    * rows per partition, and the final sketch is 16 KB of longs. The
    * exact side (for the comparison) is the usual hash-keyed tf
    * aggregate; a production pipeline at 100 TB keeps ONLY the sketch
    * side. */
  private def q132(s: SparkSession, d: String): DataFrame = {
    val tok = tokenHashes(s, d).select(col("wh").as("h"))
    def bucket(r: Int): Column =
      shiftright(col("h"), 10 * r).bitwiseAND(lit(1023L))
    val cms = tok
      .select(col("h"), explode(array((0 to 3).map(r =>
        struct(lit(r).as("r"), bucket(r).as("bucket"))): _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("c"))
    val top = tok.groupBy(col("h")).agg(count(lit(1)).as("true_n"))
      .orderBy(col("true_n").desc, col("h").asc)
      .limit(20)
    top
      .select(col("h"), col("true_n"), explode(array((0 to 3).map(r =>
        struct(lit(r).as("r"), bucket(r).as("bucket"))): _*)).as("rb"))
      .select(col("h"), col("true_n"), col("rb.r").as("r"),
        col("rb.bucket").as("bucket"))
      .join(broadcast(cms), Seq("r", "bucket"))
      .groupBy(col("h").as("token_hash"), col("true_n"))
      .agg(min(col("c")).as("est_n"))
      .select(col("token_hash"), col("true_n"), col("est_n"),
        (col("est_n") - col("true_n")).as("overestimate"))
  }

  private val q132Sql =
    s"""WITH tok AS (
       |  SELECT wh AS h FROM ($tokenHashesSql)),
       |cms AS (
       |  SELECT r, (h >> (10 * r)) & 1023 AS bucket, count(*) AS c
       |  FROM tok, (SELECT unnest([0, 1, 2, 3]) AS r) rr
       |  GROUP BY 1, 2),
       |top AS (
       |  SELECT h, count(*) AS true_n FROM tok GROUP BY 1
       |  ORDER BY true_n DESC, h LIMIT 20)
       |SELECT t.h AS token_hash, t.true_n,
       |  CAST(min(cm.c) AS BIGINT) AS est_n,
       |  CAST(min(cm.c) AS BIGINT) - t.true_n AS overestimate
       |FROM top t, (SELECT unnest([0, 1, 2, 3]) AS r) rr
       |JOIN cms cm ON cm.r = rr.r
       |  AND cm.bucket = (t.h >> (10 * rr.r)) & 1023
       |GROUP BY 1, 2""".stripMargin

  /** q134: source-level boilerplate strip — the site-chrome removal a
    * crawl pipeline runs per domain (C4 drops repeated lines; here the
    * repeated unit is the leading token): each source's single most
    * common opening token is its boilerplate candidate, documents that
    * open with it are rewritten without it, and the candidate's exact
    * share rides along so a downstream threshold can gate the rewrite
    * (on this synthetic corpus opening tokens are near-uniform, so a
    * hard ≥20% gate would never fire — the share column is the honest
    * form). Detection is one (source, token) aggregate + a per-source
    * argmax; the verdict table is sources × 1 — broadcast back onto the
    * corpus, so the rewrite pass never shuffles a document. */
  private def q134(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"),
        expr(s"$wordsExpr[0]").as("w0"))
    val dom = docs.groupBy(col("source"), col("w0"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_src",
        sum(col("n")).over(Window.partitionBy(col("source"))))
      .withColumn("rn", row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("n").desc, col("w0").asc)))
      .filter(col("rn") === 1)
      .select(col("source"), col("w0").as("boiler"),
        expr("(10000L * n) div n_src").as("boiler_share_bp"))
    docs.join(broadcast(dom), Seq("source"))
      .withColumn("stripped", col("w0") === col("boiler"))
      .select(col("doc_id"), col("source"), col("boiler_share_bp"),
        col("stripped"),
        when(col("stripped"),
          length(expr("substring(text, length(w0) + 2)")))
          .otherwise(length(col("text"))).as("new_n_chars"))
  }

  private val q134Sql =
    s"""WITH docs AS (
       |  SELECT doc_id, source, text, $wordsSqlExpr[1] AS w0
       |  FROM documents),
       |dom AS (
       |  SELECT source, w0 AS boiler,
       |    (10000 * n) // n_src AS boiler_share_bp
       |  FROM (
       |    SELECT source, w0, n,
       |      CAST(sum(n) OVER (PARTITION BY source) AS BIGINT) AS n_src,
       |      row_number() OVER (PARTITION BY source
       |        ORDER BY n DESC, w0 ASC) AS rn
       |    FROM (SELECT source, w0, count(*) AS n
       |          FROM docs GROUP BY 1, 2))
       |  WHERE rn = 1)
       |SELECT d.doc_id, d.source, dom.boiler_share_bp,
       |  d.w0 = dom.boiler AS stripped,
       |  CASE WHEN d.w0 = dom.boiler
       |    THEN length(substr(d.text, length(d.w0) + 2))
       |    ELSE length(d.text) END AS new_n_chars
       |FROM docs d JOIN dom ON d.source = dom.source""".stripMargin

  /** q138: out-of-vocabulary rate — each document scored against the
    * corpus top-k token vocabulary (the tokenizer-coverage check run
    * before committing to a vocab size: high OOV → the tokenizer will
    * fragment this slice). The vocab is a deterministic top-k
    * (frequency desc, hash asc) of the same one-shuffle term-frequency
    * table q124 builds; it broadcasts onto the token stream (k longs —
    * always broadcastable) and a left anti-ish flag + doc group
    * finishes. Integer-exact counts, ratio rounded at the end. k is the
    * production knob (32k-256k for a BPE budget); 20 here so the OOV
    * branch is actually exercised on the 31-token synthetic corpus. */
  private def q138(s: SparkSession, d: String): DataFrame = {
    val tok = tokenHashes(s, d)
    val vocab = tok.groupBy(col("wh")).agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("wh").asc)
      .limit(20)
      .select(col("wh"), lit(1).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("wh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        expr("(10000L * n_oov) div n_tokens").as("oov_bp"))
  }

  private val q138Sql =
    s"""WITH tok AS (
       |  $tokenHashesSql),
       |vocab AS (
       |  SELECT wh FROM (
       |    SELECT wh, count(*) AS tf FROM tok GROUP BY 1)
       |  ORDER BY tf DESC, wh LIMIT 20)
       |SELECT doc_id, count(*) AS n_tokens,
       |  CAST(sum(CAST(v.wh IS NULL AS BIGINT)) AS BIGINT) AS n_oov,
       |  (10000 * CAST(sum(CAST(v.wh IS NULL AS BIGINT)) AS BIGINT))
       |    // count(*) AS oov_bp
       |FROM tok LEFT JOIN vocab v USING (wh)
       |GROUP BY 1""".stripMargin

  /** q139: per-source log₂ length histogram — the length-distribution
    * view that sizes a context-window / length-filter policy per crawl
    * source. The log₂ bucket is `length(bin(n))` — the BIT LENGTH of
    * the integer, identical in both engines — so the binning is
    * integer-exact with no libm call; shares are integer basis points.
    * One (source, bucket) aggregate with map-side combine. */
  private def q139(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, d)
      .select(col("source"), length(bin(col("n_chars"))).as("len_bucket"))
      .groupBy(col("source"), col("len_bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("share_bp",
        expr("(10000L * n_docs) div sum(n_docs) over (partition by source)"))
  }

  private val q139Sql =
    """SELECT source, len_bucket, n_docs,
      |  CAST((10000 * n_docs) // sum(n_docs) OVER (PARTITION BY source)
      |    AS BIGINT) AS share_bp
      |FROM (
      |  SELECT source, length(bin(n_chars)) AS len_bucket,
      |    count(*) AS n_docs
      |  FROM documents GROUP BY 1, 2)""".stripMargin

  /** q144: near-dup similarity histogram — the threshold-calibration
    * view over q29's verified pairs: pair counts per 0.05-wide Jaccard
    * band above the 0.7 floor, with each band's exact similarity range.
    * This is the table an operator reads before moving the dedup
    * threshold (how much dup mass sits between 0.7 and 0.8?). Banding
    * is integer-exact: the 6dp-rounded similarity converts back to
    * exact micro-units and buckets by integer division — no
    * float-boundary flips between engines. Costs one extra tiny
    * aggregate over q29's output; the candidate generation is q29's
    * banded plan unchanged. */
  private def q144(s: SparkSession, d: String): DataFrame =
    q29(s, d)
      .withColumn("sim_bucket",
        expr("cast(round(jaccard * 1000000) as bigint) div 50000"))
      .groupBy(col("sim_bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        round(min(col("jaccard")), 6).as("min_sim"),
        round(max(col("jaccard")), 6).as("max_sim"))

  private val q144Sql =
    s"""WITH pairs AS ($q29Sql)
       |SELECT CAST(round(jaccard * 1000000) AS BIGINT) // 50000
       |    AS sim_bucket,
       |  count(*) AS n_pairs,
       |  round(min(jaccard), 6) AS min_sim,
       |  round(max(jaccard), 6) AS max_sim
       |FROM pairs
       |GROUP BY 1""".stripMargin

  /** q149: Gopher/C4-style quality-RULE bundle — the keep/drop decision
    * a filtering pipeline actually materializes, with per-rule flags
    * and a reason bitmask so drops are auditable. Every threshold
    * compares INTEGER cross-products (100·n_stop ≥ 6·n_words, not
    * stop_ratio ≥ 0.06 in floating point) so rule outcomes can never
    * flip on a float rounding boundary between engines. The word-stat
    * shuffle carries (doc, word) counts partial-combined map-side (the
    * q82 shape); everything else is per-row. Rules (adapted to this
    * corpus's signal set, thresholds cited Gopher §A1/C4): word count
    * in [20, 1000]; mean word length in [3, 10]; stopword ratio
    * ≥ 0.06; top-word share ≤ 0.20; distinct-word ratio ≥ 0.20. */
  private[queries] def q149(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("words", expr(wordsExpr))
      .select(col("doc_id"),
        size(col("words")).cast("long").as("n_words"),
        length(regexp_replace(col("text"), lit(" "), lit("")))
          .cast("long").as("nosp"),
        expr("size(filter(words, x -> x IN ('the','a','and','of','to')))")
          .cast("long").as("n_stop"))
    val wordStats = Tables.documents(s, d)
      .select(col("doc_id"), explode(expr(wordsExpr)).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(max(col("cnt")).as("maxc"), count(lit(1)).as("n_distinct"))
    docs.join(wordStats, "doc_id")
      .select(col("doc_id"), col("n_words"),
        expr("(10000L * n_stop) div n_words").as("stop_bp"),
        expr("(10000L * maxc) div n_words").as("top_bp"),
        (col("n_words") >= 20 && col("n_words") <= 1000).as("r_len"),
        (col("nosp") >= lit(3) * col("n_words") &&
          col("nosp") <= lit(10) * col("n_words")).as("r_wordlen"),
        (lit(100) * col("n_stop") >= lit(6) * col("n_words")).as("r_stop"),
        (lit(5) * col("maxc") <= col("n_words")).as("r_rep"),
        (lit(5) * col("n_distinct") >= col("n_words")).as("r_div"))
      .withColumn("keep",
        col("r_len") && col("r_wordlen") && col("r_stop") &&
          col("r_rep") && col("r_div"))
      .withColumn("fail_mask",
        when(col("r_len"), 0L).otherwise(1L) +
          when(col("r_wordlen"), 0L).otherwise(2L) +
          when(col("r_stop"), 0L).otherwise(4L) +
          when(col("r_rep"), 0L).otherwise(8L) +
          when(col("r_div"), 0L).otherwise(16L))
  }

  private[queries] val q149Sql =
    s"""WITH base AS (
       |  SELECT doc_id,
       |    CAST(len($wordsSqlExpr) AS BIGINT) AS n_words,
       |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS nosp,
       |    CAST(len(list_filter($wordsSqlExpr,
       |      x -> x IN ('the','a','and','of','to'))) AS BIGINT) AS n_stop
       |  FROM documents),
       |ws AS (
       |  SELECT doc_id, CAST(max(cnt) AS BIGINT) AS maxc,
       |    CAST(count(*) AS BIGINT) AS n_distinct
       |  FROM (
       |    SELECT doc_id, w, count(*) AS cnt
       |    FROM (SELECT doc_id, unnest($wordsSqlExpr) AS w FROM documents)
       |    GROUP BY 1, 2)
       |  GROUP BY 1)
       |SELECT doc_id, n_words,
       |  (10000 * n_stop) // n_words AS stop_bp,
       |  (10000 * maxc) // n_words AS top_bp,
       |  (n_words >= 20 AND n_words <= 1000) AS r_len,
       |  (nosp >= 3 * n_words AND nosp <= 10 * n_words) AS r_wordlen,
       |  (100 * n_stop >= 6 * n_words) AS r_stop,
       |  (5 * maxc <= n_words) AS r_rep,
       |  (5 * n_distinct >= n_words) AS r_div,
       |  ((n_words >= 20 AND n_words <= 1000)
       |    AND (nosp >= 3 * n_words AND nosp <= 10 * n_words)
       |    AND (100 * n_stop >= 6 * n_words)
       |    AND (5 * maxc <= n_words)
       |    AND (5 * n_distinct >= n_words)) AS keep,
       |  (CASE WHEN n_words >= 20 AND n_words <= 1000 THEN 0 ELSE 1 END
       |   + CASE WHEN nosp >= 3 * n_words AND nosp <= 10 * n_words
       |       THEN 0 ELSE 2 END
       |   + CASE WHEN 100 * n_stop >= 6 * n_words THEN 0 ELSE 4 END
       |   + CASE WHEN 5 * maxc <= n_words THEN 0 ELSE 8 END
       |   + CASE WHEN 5 * n_distinct >= n_words THEN 0 ELSE 16 END)
       |    AS fail_mask
       |FROM base JOIN ws USING (doc_id)""".stripMargin

  /** q150: deduped-corpus MATERIALIZATION summary — the artifact a
    * dedup pipeline actually ships: every non-canonical member of an
    * LSH duplicate cluster (q78's components) is dropped, the cluster
    * minimum survives, and the write is summarized per source. The
    * drop set is exactly "nodes whose component label ≠ themselves" —
    * no second clustering pass, no clique materialization; the
    * join keys on doc_id with NO forced broadcast: the drop set is a
    * corpus-fraction-sized artifact, so the hint is left to AQE —
    * broadcast at typical dup rates, shuffled join when dup density
    * makes the drop list too large to ship to every executor. */
  private def q150(s: SparkSession, d: String): DataFrame = {
    val (labels, _) =
      graft.operators.ConnectedComponents.minLabel(lshStarEdges(s, d))
    val dropped = labels.filter(col("node") =!= col("label"))
      .select(col("node").as("doc_id"))
    Tables.documents(s, d)
      .join(dropped.withColumn("is_dup", lit(true)),
        Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("is_dup"), 0L).otherwise(1L)).as("n_kept"),
        sum(when(col("is_dup"), 0L).otherwise(col("n_chars")))
          .as("kept_chars"))
  }

  private val q150Sql =
    s"""WITH RECURSIVE sig AS ($q28Sql),
       |bandt AS (
       |  SELECT doc_id, 1 AS bidx,
       |    (((((1 * 127 + m0) % $P) * 127 + m1) % $P * 127 + m2) % $P * 127 + m3) % $P AS band
       |  FROM sig
       |  UNION ALL
       |  SELECT doc_id, 2 AS bidx,
       |    (((((2 * 127 + m4) % $P) * 127 + m5) % $P * 127 + m6) % $P * 127 + m7) % $P AS band
       |  FROM sig),
       |stars AS (
       |  SELECT DISTINCT doc_id,
       |    min(doc_id) OVER (PARTITION BY bidx, band) AS root
       |  FROM bandt),
       |edges AS (
       |  SELECT doc_id AS src, root AS dst FROM stars WHERE doc_id <> root
       |  UNION ALL
       |  SELECT root AS src, doc_id AS dst FROM stars WHERE doc_id <> root),
       |lab AS (
       |  SELECT doc_id AS node, doc_id AS label FROM documents
       |  UNION
       |  SELECT e.dst AS node, lab.label AS label
       |  FROM lab JOIN edges e ON lab.node = e.src),
       |final AS (SELECT node, min(label) AS label FROM lab GROUP BY node),
       |dropped AS (SELECT node AS doc_id FROM final WHERE label <> node)
       |SELECT d.source,
       |  count(*) AS n_docs,
       |  CAST(sum(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_dropped,
       |  CAST(sum(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_kept,
       |  CAST(sum(CASE WHEN dr.doc_id IS NULL THEN d.n_chars ELSE 0 END)
       |    AS BIGINT) AS kept_chars
       |FROM documents d LEFT JOIN dropped dr ON d.doc_id = dr.doc_id
       |GROUP BY 1""".stripMargin

  /** q152: BPE-trainer MERGE STEP — the inner loop of byte-pair-
    * encoding tokenizer training (Sennrich et al. 2016) as one
    * relational pass: word frequencies once (the corpus shuffle),
    * then adjacent-symbol-pair counts weighted by word frequency from
    * the DISTINCT-word table only — pair work scales with vocabulary
    * (Heaps' law), not corpus size, which is why real BPE trainers
    * precompute word counts exactly like this. Top-10 merge candidates
    * by (count, pair) total order via TakeOrderedAndProject — never a
    * global-sort window. Repeated pairs inside a word ("aaa" → "aa"
    * twice) count per occurrence, matching the reference algorithm. */
  private def q152(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(expr(wordsExpr)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .filter(length(col("w")) >= 2)
      .select(col("f"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pr"))
      .groupBy(col("pr"))
      .agg(sum(col("f")).as("cnt"), count(lit(1)).as("n_ctx"))
      .orderBy(col("cnt").desc, col("pr").asc)
      .limit(10)

  private val q152Sql =
    s"""WITH wf AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS f
       |  FROM (SELECT unnest($wordsSqlExpr) AS w FROM documents)
       |  GROUP BY 1),
       |pairs AS (
       |  SELECT f, unnest(list_transform(range(1, length(w)),
       |    i -> substr(w, CAST(i AS INT), 2))) AS pr
       |  FROM wf WHERE length(w) >= 2)
       |SELECT pr, CAST(sum(f) AS BIGINT) AS cnt,
       |  CAST(count(*) AS BIGINT) AS n_ctx
       |FROM pairs GROUP BY 1
       |ORDER BY cnt DESC, pr LIMIT 10""".stripMargin

  /** q154: overlapping token-window CHUNKING — the doc→chunk explode a
    * RAG index or a pretraining pipeline runs before embedding/packing:
    * 32-token windows on a 24-token stride (8-token overlap), every
    * start position < n emitted, chunk ids stable (doc_id, k). Pure
    * per-row explode — no shuffle at all; chunk volume is the only
    * cost and it is exactly (Σ ⌈n/stride⌉) rows at any corpus size.
    * Distinct from q76 (bin packing) and q109 (passage dedup): this is
    * the boundary-DEFINING step those consume. */
  private def q154(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("toks", expr(wordsExpr))
      .withColumn("n", size(col("toks")))
      .filter(col("n") >= 1)
      .select(col("doc_id"), col("n"),
        explode(expr(
          """transform(sequence(0, (n + 23) div 24 - 1),
            |  k -> struct(k AS idx, slice(toks, k * 24 + 1, 32) AS ch))"""
            .stripMargin)).as("c"))
      .select(col("doc_id"),
        col("c.idx").cast("long").as("chunk_idx"),
        (col("c.idx") * 24).cast("long").as("start_tok"),
        size(col("c.ch")).cast("long").as("n_toks"),
        array_join(col("c.ch"), " ").as("chunk_text"))

  private val q154Sql =
    s"""SELECT doc_id,
       |  CAST(k AS BIGINT) AS chunk_idx,
       |  CAST(k * 24 AS BIGINT) AS start_tok,
       |  CAST(len(list_slice(toks, k * 24 + 1, k * 24 + 32)) AS BIGINT)
       |    AS n_toks,
       |  array_to_string(list_slice(toks, k * 24 + 1, k * 24 + 32), ' ')
       |    AS chunk_text
       |FROM (
       |  SELECT doc_id, toks,
       |    unnest(range(0, (len(toks) + 23) // 24)) AS k
       |  FROM (SELECT doc_id, $wordsSqlExpr AS toks FROM documents)
       |  WHERE len(toks) >= 1)""".stripMargin

  /** q155: MEASURED banding recall vs exact ground truth — the answer
    * to q31's structural watch item (its 8×1 banding misses ~17% of
    * pairs at J=0.2 on BOTH engines, so its own oracle can never catch
    * a recall regression). This query builds a banding-INDEPENDENT
    * truth: exact pairwise trigram Jaccard over a BOUNDED,
    * deterministic per-source sample — the scale contract lives in the
    * query itself, not in prose. Each source contributes its first
    * [[Q155SamplePerSource]] trigram-eligible docs in (md5(text),
    * doc_id) order (q77's content-addressed sampler: stable across
    * runs, replication, and corpus growth), so the pair count per
    * source is ≤ n·(n−1)/2 = 19,900 REGARDLESS of corpus size — the
    * evaluator stays a fixed-cost probe at 100 TB while the banding
    * under test still runs over real signatures. Per-PERCENT-band the
    * query reports how many true pairs the 8-permutation min-hash
    * banding actually detects; the measured recall curve is a PINNED
    * oracle output — if the banding's detection predicate ever
    * regresses, these counts change and parity fails. On this corpus
    * the curve shows the structural story directly: ~100% at the
    * J≈0.97 true duplicate, 1−(1−J)⁸ ≈ 8-27% on the 1-4% noise floor
    * — the blind spot, measured. */
  private val Q155SamplePerSource = 200

  private def q155(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sw = Window.partitionBy(col("source"))
      .orderBy(md5(col("text").cast("binary")).asc, col("doc_id").asc)
    val tri = Tables.documents(s, d)
      .withColumn("w", expr(wordsExpr))
      .filter(size(col("w")) >= 3)
      .withColumn("rn", row_number().over(sw))
      .filter(col("rn") <= Q155SamplePerSource)
      .select(col("doc_id"), col("source"),
        expr("opt_barrier(" +
          "array_sort(array_distinct(ngram_md5_longs(w, 3, 8))))")
          .as("tri"))
      .withColumn("nt", size(col("tri")).cast("long"))
      .withColumn("ms",
        expr(s"opt_barrier(${perms.map { case (a, b) =>
          s"array_min(transform(tri, h -> (h * ${a}L + ${b}L) % $P))"
        }.mkString("array(", ", ", ")")})"))
    val a = tri.select(col("source"), col("doc_id").as("doc_a"),
      col("tri").as("ta"), col("nt").as("na"), col("ms").as("msa"))
    val b = tri.select(col("source"), col("doc_id").as("doc_b"),
      col("tri").as("tb"), col("nt").as("nb"), col("ms").as("msb"))
    a.join(b, Seq("source"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("inter", expr("opt_barrier(sorted_long_intersect_count(ta, tb))"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("inter") >= 1)
      .withColumn("found",
        expr("exists(zip_with(msa, msb, (x, y) -> x = y), v -> v)"))
      // percent band floor(100*J) from one double division of the same
      // integers on both engines — bit-identical, no boundary flips
      .withColumn("pct_band",
        floor(lit(100) * col("inter") /
          (col("na") + col("nb") - col("inter"))).cast("long"))
      .filter(col("pct_band") >= 1)
      .groupBy(col("pct_band"))
      .agg(count(lit(1)).as("n_true"),
        sum(when(col("found"), 1L).otherwise(0L)).as("n_found"))
      .withColumn("recall_bp", expr("(10000L * n_found) div n_true"))
  }

  private val q155Sql = {
    val mins = perms.map { case (a, b) =>
      s"list_min(list_transform(tri, h -> (h * $a + $b) % $P))"
    }.mkString("[", ",\n      ", "]")
    s"""WITH tri0 AS (
       |  SELECT doc_id, source,
       |    list_distinct(list_transform(
       |      [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)],
       |      t -> CAST(('0x' || substr(md5(t),1,8)) AS BIGINT))) AS tri
       |  FROM (
       |    SELECT doc_id, source, w,
       |      row_number() OVER (PARTITION BY source
       |        ORDER BY md5(text), doc_id) AS rn
       |    FROM (SELECT doc_id, source, text, $wordsSqlExpr AS w FROM documents)
       |    WHERE len(w) >= 3)
       |  WHERE rn <= $Q155SamplePerSource),
       |sig AS (
       |  SELECT doc_id, source, tri,
       |    CAST(len(tri) AS BIGINT) AS nt,
       |    $mins AS ms
       |  FROM tri0),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(len(list_intersect(a.tri, b.tri)) AS BIGINT) AS inter,
       |    a.nt AS na, b.nt AS nb,
       |    len(list_filter(range(1, 9),
       |      i -> a.ms[i] = b.ms[i])) > 0 AS found
       |  FROM sig a JOIN sig b
       |    ON a.source = b.source AND a.doc_id < b.doc_id)
       |SELECT pct_band,
       |  count(*) AS n_true,
       |  CAST(sum(CASE WHEN found THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
       |  (10000 * CAST(sum(CASE WHEN found THEN 1 ELSE 0 END) AS BIGINT))
       |    // count(*) AS recall_bp
       |FROM (
       |  SELECT *,
       |    CAST(floor(100.0 * inter / (na + nb - inter)) AS BIGINT) AS pct_band
       |  FROM pairs WHERE inter >= 1)
       |WHERE pct_band >= 1
       |GROUP BY 1""".stripMargin
  }

  /** q156: PII REDACTION — the scrub pass a training-data pipeline
    * runs before anything ships: emails and phone numbers replaced
    * with typed mask tokens, per-doc hit counts for audit. The q116
    * synthesis-oracle pattern: deterministic PII spans are planted
    * into each doc (built from doc_id, so the oracle knows them
    * exactly), the REAL Spark regexes redact, and the oracle
    * constructs the expected redacted string directly — an over- or
    * under-match of even one character changes the md5 and fails
    * parity. PRECONDITION (corpus-coupled, and detected loudly if it
    * breaks): the oracle's constructed string assumes the base `text`
    * itself matches neither regex (no '@tld' emails, no +N-555-NNNN
    * phones in the synthetic corpus) — if a corpus ever violates that,
    * Spark redacts the extra span and the hash comparison FAILS rather
    * than silently passing. Pure per-row projection: zero shuffle,
    * scales as a scan. */
  private def q156(s: SparkSession, d: String): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phoneRe = "\\+\\d{1,2}-555-\\d{4}"
    Tables.documents(s, d)
      .withColumn("planted",
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@mail.example.com or +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .select(col("doc_id"),
        regexp_count(col("planted"), lit(emailRe)).cast("long")
          .as("n_emails"),
        regexp_count(col("planted"), lit(phoneRe)).cast("long")
          .as("n_phones"),
        md5(regexp_replace(regexp_replace(col("planted"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>").cast("binary")).as("redacted_fp"),
        length(regexp_replace(regexp_replace(col("planted"), emailRe,
          "<EMAIL>"), phoneRe, "<PHONE>")).cast("long").as("n_chars_red"))
  }

  private val q156Sql =
    """SELECT doc_id,
      |  CAST(1 AS BIGINT) AS n_emails,
      |  CAST(1 AS BIGINT) AS n_phones,
      |  md5(text || ' contact <EMAIL> or <PHONE>') AS redacted_fp,
      |  CAST(length(text || ' contact <EMAIL> or <PHONE>') AS BIGINT)
      |    AS n_chars_red
      |FROM documents""".stripMargin

  /** q157: the CAPSTONE corpus-build composition — what actually ships
    * after the whole pipeline runs: the q149 quality gate, then the
    * q150 global near-dup drop (non-canonical LSH cluster members),
    * summarized per source as raw → quality-passing → final doc and
    * char counts. One corpus scan feeds the quality flags (word-stat
    * shuffle partial-combined), the dup labels come from the
    * pointer-jump CC over star edges, and both verdict sets join back
    * by broadcast — the documents table itself is never reshuffled.
    * The oracle composes the q149 and q150 CTE chains verbatim. */
  private def q157(s: SparkSession, d: String): DataFrame = {
    val keepFlags = q149(s, d).select(col("doc_id"), col("keep"))
    val (labels, _) =
      graft.operators.ConnectedComponents.minLabel(lshStarEdges(s, d))
    val dropped = labels.filter(col("node") =!= col("label"))
      .select(col("node").as("doc_id"), lit(true).as("is_dup"))
    // no broadcast hint on the drop set: non-root cluster members are a
    // corpus-growing fraction of docs, so force-broadcasting them would
    // OOM at real scale — the doc_id-keyed shuffle join is the 100 TB
    // shape (AQE may still broadcast when the set happens to be small)
    Tables.documents(s, d)
      .join(keepFlags, "doc_id")
      .join(dropped, Seq("doc_id"), "left")
      .withColumn("ships",
        col("keep") && !coalesce(col("is_dup"), lit(false)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("ships"), 1L).otherwise(0L)).as("n_final"),
        sum(when(col("ships"), col("n_chars")).otherwise(0L))
          .as("chars_final"))
  }

  private val q157Sql =
    s"""WITH RECURSIVE sig AS ($q28Sql),
       |bandt AS (
       |  SELECT doc_id, 1 AS bidx,
       |    (((((1 * 127 + m0) % $P) * 127 + m1) % $P * 127 + m2) % $P * 127 + m3) % $P AS band
       |  FROM sig
       |  UNION ALL
       |  SELECT doc_id, 2 AS bidx,
       |    (((((2 * 127 + m4) % $P) * 127 + m5) % $P * 127 + m6) % $P * 127 + m7) % $P AS band
       |  FROM sig),
       |stars AS (
       |  SELECT DISTINCT doc_id,
       |    min(doc_id) OVER (PARTITION BY bidx, band) AS root
       |  FROM bandt),
       |edges AS (
       |  SELECT doc_id AS src, root AS dst FROM stars WHERE doc_id <> root
       |  UNION ALL
       |  SELECT root AS src, doc_id AS dst FROM stars WHERE doc_id <> root),
       |lab AS (
       |  SELECT doc_id AS node, doc_id AS label FROM documents
       |  UNION
       |  SELECT e.dst AS node, lab.label AS label
       |  FROM lab JOIN edges e ON lab.node = e.src),
       |cc AS (SELECT node, min(label) AS label FROM lab GROUP BY node),
       |dropped AS (SELECT node AS doc_id FROM cc WHERE label <> node),
       |qual AS ($q149Sql)
       |SELECT d.source,
       |  count(*) AS n_raw,
       |  CAST(sum(CASE WHEN q.keep THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_quality,
       |  CAST(sum(CASE WHEN q.keep AND dr.doc_id IS NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_final,
       |  CAST(sum(CASE WHEN q.keep AND dr.doc_id IS NULL THEN d.n_chars
       |    ELSE 0 END) AS BIGINT) AS chars_final
       |FROM documents d
       |JOIN qual q ON q.doc_id = d.doc_id
       |LEFT JOIN dropped dr ON dr.doc_id = d.doc_id
       |GROUP BY 1""".stripMargin

  /** q161: trained-LM quality filter (CCNet-style) — the perplexity
    * bucketing step a crawl pipeline runs AFTER a trusted reference
    * corpus exists: an add-one-smoothed bigram LM is trained on the
    * trusted slice (`source = 'src0'`, standing in for CCNet's
    * Wikipedia), every document is scored by its mean per-bigram
    * surprisal against that model, and the corpus splits into
    * head/middle/tail quality buckets (CCNet keeps head+middle for
    * pretraining). Differs from q124 (self-trained unigram rarity —
    * no reference corpus) and q113 (corpus-uniqueness — no LM at
    * all): here the model is an EXTERNAL artifact and out-of-domain
    * text scores high no matter how common its tokens are corpus-wide.
    *
    * Integer-exact surprisal (the q113/q124 rule — no log/exp libm
    * parity traps): per bigram, bits = bit_length((c1 + V) div
    * (c12 + 1)) via `length(bin(...))` — the integer ⌈log2⌉ of the
    * inverse smoothed conditional probability (c12+1)/(c1+V). OOV
    * bigrams (c12 = 0) land at bit_length(c1 + V) — the LM's maximum
    * surprisal for that context — exactly the open-vocabulary penalty
    * a real CCNet run assigns unseen continuations. Bucket thresholds
    * (mean bits ≤ 5.60 head, ≤ 5.70 middle, else tail — corpus
    * tertiles, fixed calibration constants like q149's rule bounds)
    * compare as integer cross-products: sum_bits·100 vs T·n_bigrams.
    *
    * Scale shape: the LM tables (c1, c12, V) are TRUSTED-SLICE-vocab-
    * sized — a bounded model artifact (CCNet ships a fixed KenLM
    * file), so both join BROADCAST onto the corpus gram stream; the
    * corpus itself never shuffles until the final groupBy doc_id,
    * whose map-side partials collapse each document to one row before
    * the exchange. Gram hashing happens before any join (the q113
    * rule: the key is never the string). V rides along as a 1-row
    * broadcast scalar (plan-guard-proved pattern). */
  private def q161(s: SparkSession, d: String): DataFrame = {
    val gramsOf = (df: DataFrame) => df
      .withColumn("w", expr(wordsExpr))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 2), i -> struct(" +
          "md5_prefix_long(w[i], 15) as h1, " +
          "md5_prefix_long(concat(w[i], ' ', w[i+1]), 15) as h12))"))
        .as("g"))
      .select(col("doc_id"), col("g.h1"), col("g.h12"))
    val docs = Tables.documents(s, d)
    val trusted = docs.filter(col("source") === "src0")
    val train = gramsOf(trusted)
    val c1 = train.groupBy(col("h1")).agg(count(lit(1)).as("c1"))
    val c12 = train.groupBy(col("h12")).agg(count(lit(1)).as("c12"))
    val vdf = trusted
      .select(explode(expr(
        s"md5_prefix_longs($wordsExpr, 15)")).as("th"))
      .agg(countDistinct(col("th")).as("v"))
    gramsOf(docs)
      .join(broadcast(c1), Seq("h1"), "left")
      .join(broadcast(c12), Seq("h12"), "left")
      .crossJoin(broadcast(vdf))
      .withColumn("c1f", coalesce(col("c1"), lit(0L)))
      .withColumn("c12f", coalesce(col("c12"), lit(0L)))
      .withColumn("bits",
        length(bin(expr("(c1f + v) div (c12f + 1)"))).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum((col("c12f") === 0L).cast("long")).as("n_oov"),
        sum(col("bits")).as("sum_bits"))
      .select(col("doc_id"), col("n_bigrams"), col("n_oov"),
        col("sum_bits"),
        round(col("sum_bits").cast("double") / col("n_bigrams"), 6)
          .as("mean_bits"),
        when(col("sum_bits") * 100 <= col("n_bigrams") * 560, "head")
          .when(col("sum_bits") * 100 <= col("n_bigrams") * 570, "middle")
          .otherwise("tail").as("ppl_bucket"))
  }

  private val q161Sql =
    s"""WITH docs AS (
       |  SELECT doc_id, source, $wordsSqlExpr AS w FROM documents
       |  WHERE len($wordsSqlExpr) >= 2),
       |grams AS (
       |  SELECT doc_id, source,
       |    CAST(('0x' || substr(md5(w[i]), 1, 15)) AS BIGINT) AS h1,
       |    CAST(('0x' || substr(md5(w[i] || ' ' || w[i + 1]), 1, 15))
       |      AS BIGINT) AS h12
       |  FROM (SELECT doc_id, source, w, unnest(range(1, len(w))) AS i
       |        FROM docs)),
       |c1 AS (SELECT h1, count(*) AS c1 FROM grams
       |       WHERE source = 'src0' GROUP BY 1),
       |c12 AS (SELECT h12, count(*) AS c12 FROM grams
       |        WHERE source = 'src0' GROUP BY 1),
       |v AS (
       |  SELECT count(DISTINCT CAST(('0x' || substr(md5(t), 1, 15))
       |    AS BIGINT)) AS v
       |  FROM (SELECT unnest($wordsSqlExpr) AS t FROM documents
       |        WHERE source = 'src0')),
       |sc AS (
       |  SELECT g.doc_id, coalesce(c1.c1, 0) AS c1f,
       |    coalesce(c12.c12, 0) AS c12f, v.v
       |  FROM grams g
       |  LEFT JOIN c1 ON g.h1 = c1.h1
       |  LEFT JOIN c12 ON g.h12 = c12.h12, v),
       |per AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    CAST(sum(CAST(c12f = 0 AS BIGINT)) AS BIGINT) AS n_oov,
       |    CAST(sum(length(bin((c1f + v) // (c12f + 1)))) AS BIGINT)
       |      AS sum_bits
       |  FROM sc GROUP BY 1)
       |SELECT doc_id, n_bigrams, n_oov, sum_bits,
       |  round(CAST(sum_bits AS DOUBLE) / n_bigrams, 6) AS mean_bits,
       |  CASE WHEN sum_bits * 100 <= n_bigrams * 560 THEN 'head'
       |       WHEN sum_bits * 100 <= n_bigrams * 570 THEN 'middle'
       |       ELSE 'tail' END AS ppl_bucket
       |FROM per""".stripMargin

  /** q162: BPE TRAINER, three merge rounds end-to-end — the outer loop
    * q152 is the inner step of, fully declarative: each round counts
    * adjacent-symbol pairs over the distinct-word table, picks the
    * best merge by (count desc, pair asc), APPLIES it to every word's
    * symbol sequence, and the next round trains on the merged state.
    * Unlike the q78/q150 fixpoints there is ZERO driver coordination:
    * each round's argmax is a global `min_by` aggregate — a 1-row
    * broadcast scalar (plan-guard-proved) — so all three rounds live
    * in ONE Spark job graph.
    *
    * Merge application is the subtle part: BPE replaces adjacent
    * symbol pairs left-to-right, non-overlapping ("aaaa" + merge
    * (a,a) → [aa, aa]; "aaa" → [aa, a]). Both engines get this from
    * `replace()` over a wrapped-symbol string encoding — every symbol
    * carries its own chr(1) fences (`·a··a··a·`), so the pattern
    * `·p1··p2·` consumes whole symbols only and the engines' shared
    * left-to-right non-overlap replace semantics IS the BPE rule
    * (verified identical on aaaa/aaa/abab probes). chr(1) never
    * occurs in corpus text.
    *
    * Scale shape: the corpus is touched ONCE — the word-frequency
    * shuffle; its exchange is REUSED by every downstream branch
    * (ReuseExchange). Everything after is vocab-sized (Heaps' law):
    * pair counts, argmax scalars, merge applications. Emits one row
    * per round: the chosen pair, its weighted count, and the corpus
    * symbol total after the merge (which must fall by exactly cnt —
    * an internal conservation the oracle re-derives independently). */
  /** The shared BPE machinery of q162 (trainer) and q163 (encoder):
    * word-frequency table with wrapped-symbol state, per-round argmax
    * merge as a 1-row broadcast scalar, and the left-to-right
    * non-overlapping merge application via `replace` over the chr(1)
    * fences. The SQL twin is [[bpeSqlChain]] — change either side in
    * lockstep or q162 AND q163 break together (the tokenHashes
    * discipline: one place per engine). */
  private val bpeSymsOf =
    "split(substring(s, 2, length(s) - 2), chr(1)||chr(1))"

  private def bpeWordFreq(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(expr(wordsExpr)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .withColumn("s", expr(
        "concat_ws('', transform(sequence(1, length(w)), " +
          "i -> concat(chr(1), substring(w, i, 1), chr(1))))"))

  private def bpeBest(df: DataFrame): DataFrame = df
    .withColumn("syms", expr(bpeSymsOf))
    .filter(size(col("syms")) >= 2)
    .select(col("f"), explode(expr(
      "transform(sequence(1, size(syms) - 1), " +
        "i -> struct(syms[i-1] AS a, syms[i] AS b))")).as("pr"))
    .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
    .agg(sum(col("f")).as("cnt"))
    .agg(min_by(struct(col("a"), col("b"), col("cnt")),
      struct((-col("cnt")).as("nc"), col("a"), col("b"))).as("bst"))
    .select(col("bst.a").as("bp1"), col("bst.b").as("bp2"),
      col("bst.cnt").as("bcnt"))

  private def bpeApply(df: DataFrame, b: DataFrame): DataFrame = df
    .crossJoin(broadcast(b))
    .withColumn("s", expr(
      "replace(s, chr(1)||bp1||chr(1)||chr(1)||bp2||chr(1), " +
        "chr(1)||bp1||bp2||chr(1))"))
    .select(col("w"), col("f"), col("s"))

  /** (per-round argmax, state-after-merge) for three trained rounds. */
  private def bpeRounds3(s: SparkSession, d: String)
      : Seq[(DataFrame, DataFrame)] = {
    val wf = bpeWordFreq(s, d)
    val b1 = bpeBest(wf); val s1 = bpeApply(wf, b1)
    val b2 = bpeBest(s1); val s2 = bpeApply(s1, b2)
    val b3 = bpeBest(s2); val s3 = bpeApply(s2, b3)
    Seq((b1, s1), (b2, s2), (b3, s3))
  }

  /** SQL twin of the trainer chain: CTEs wf, s0, p1/b1/s1 … p3/b3/s3
    * (callers append t-totals or downstream CTEs as needed). */
  private val bpeSqlSyms =
    "str_split(substr(s, 2, length(s) - 2), chr(1)||chr(1))"

  private val bpeSqlChain: String = {
    def round(r: Int, prev: String) =
      s"""p$r AS (
         |  SELECT syms[i] AS a, syms[i + 1] AS b,
         |    CAST(sum(f) AS BIGINT) AS cnt
         |  FROM (SELECT f, syms, unnest(range(1, len(syms))) AS i
         |        FROM (SELECT f, $bpeSqlSyms AS syms FROM $prev)
         |        WHERE len(syms) >= 2)
         |  GROUP BY 1, 2),
         |b$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
         |s$r AS (
         |  SELECT w, f, replace(s,
         |    chr(1) || x.a || chr(1) || chr(1) || x.b || chr(1),
         |    chr(1) || x.a || x.b || chr(1)) AS s
         |  FROM $prev, b$r x)"""
    s"""wf AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS f
       |  FROM (SELECT unnest($wordsSqlExpr) AS w FROM documents)
       |  GROUP BY 1),
       |s0 AS (
       |  SELECT w, f, chr(1) || array_to_string(str_split(w, ''),
       |    chr(1) || chr(1)) || chr(1) AS s
       |  FROM wf),
       |${round(1, "s0")},
       |${round(2, "s1")},
       |${round(3, "s2")}"""
  }

  private def q162(s: SparkSession, d: String): DataFrame = {
    def totalSyms(df: DataFrame): DataFrame = df
      .agg(sum(col("f") * expr(s"size($bpeSymsOf)")).as("total_syms"))
    def row(r: Int, b: DataFrame, merged: DataFrame): DataFrame = b
      .crossJoin(broadcast(totalSyms(merged)))
      .select(lit(r.toLong).as("round"),
        col("bp1").as("p1"), col("bp2").as("p2"),
        concat(col("bp1"), col("bp2")).as("merged"),
        col("bcnt").as("cnt"), col("total_syms"))
    val rounds = bpeRounds3(s, d)
    rounds.zipWithIndex.map { case ((b, st), i) => row(i + 1, b, st) }
      .reduce(_ unionAll _)
  }

  private val q162Sql = {
    def out(r: Int) =
      s"""SELECT CAST($r AS BIGINT) AS round, x.a AS p1, x.b AS p2,
         |  x.a || x.b AS merged, x.cnt, t.total_syms
         |FROM b$r x, t$r t"""
    def tot(r: Int) =
      s"""t$r AS (
         |  SELECT CAST(sum(f * len($bpeSqlSyms)) AS BIGINT) AS total_syms
         |  FROM s$r)"""
    s"""WITH $bpeSqlChain,
       |${tot(1)},
       |${tot(2)},
       |${tot(3)}
       |${out(1)}
       |UNION ALL
       |${out(2)}
       |UNION ALL
       |${out(3)}""".stripMargin
  }

  /** q163: BPE ENCODER — the deploy half of the q162 trainer: the
    * three trained merges are applied to EVERY document and each doc
    * reports its word, char-token, and BPE-token counts plus the
    * compression ratio — the tokens-per-doc accounting a pretraining
    * pipeline runs to budget sequence packing (q76) and per-source
    * quotas (q94) under the real tokenizer rather than the whitespace
    * proxy.
    *
    * Scale shape: encoding is PER-WORD, so the corpus never carries
    * merge state — the trained vocabulary (word → symbol count after
    * merge 3, Heaps-bounded) BROADCASTS onto the corpus token stream
    * and the only corpus-scale shuffles are the word-frequency
    * aggregate the trainer already owns and the final groupBy doc_id
    * (map-side partials, one row per doc). Every corpus word is in
    * the vocabulary by construction, so the join is inner and
    * lossless. */
  private def q163(s: SparkSession, d: String): DataFrame = {
    val vocab = bpeRounds3(s, d).last._2
      .select(col("w"), expr(s"size($bpeSymsOf)").cast("long").as("n_syms"))
    Tables.documents(s, d)
      .select(col("doc_id"), explode(expr(wordsExpr)).as("w"))
      .join(broadcast(vocab), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w")).cast("long")).as("n_char_tokens"),
        sum(col("n_syms")).as("n_bpe_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_char_tokens"),
        col("n_bpe_tokens"),
        round(col("n_char_tokens").cast("double") / col("n_bpe_tokens"), 6)
          .as("compression"))
  }

  private val q163Sql =
    s"""WITH $bpeSqlChain,
       |vocab AS (
       |  SELECT w, CAST(len($bpeSqlSyms) AS BIGINT) AS n_syms FROM s3),
       |tok AS (
       |  SELECT doc_id, unnest($wordsSqlExpr) AS w FROM documents)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(length(t.w)) AS BIGINT) AS n_char_tokens,
       |  CAST(sum(v.n_syms) AS BIGINT) AS n_bpe_tokens,
       |  round(CAST(sum(length(t.w)) AS DOUBLE) / sum(v.n_syms), 6)
       |    AS compression
       |FROM tok t JOIN vocab v ON t.w = v.w
       |GROUP BY 1""".stripMargin

  /** q164: temperature-based domain MIXTURE WEIGHTS — the sampling
    * schedule a multi-domain pretraining run computes before the first
    * batch (the α-temperature rule from multilingual/multi-corpus
    * training: sample domain i ∝ n_i^α with α = 0.5, which upsamples
    * small domains and damps head domains relative to their natural
    * token share). Emits per source: doc/token counts, natural share,
    * the α=0.5 mixture weight, and the resulting upsample factor a
    * quota enforcer (q94) or packer (q76) consumes.
    *
    * Exactness: n^0.5 is the ONE libm-adjacent op — `sqrt` is IEEE-754
    * correctly-rounded in both engines (unlike ln/pow), and it is
    * immediately quantized to integer micro-units (floor(√n·10⁶+0.5)),
    * so every downstream share is a ratio of order-independent INTEGER
    * sums, rounded once at 6 — the q149 integer-cross-product
    * discipline applied to a necessarily-irrational weight.
    *
    * Scale shape: one corpus scan → per-source partial aggregates
    * (20-ish rows at any corpus size), totals as a 1-row broadcast
    * scalar (plan-guard pattern); nothing downstream of the first
    * aggregate is corpus-sized. */
  private def q164(s: SparkSession, d: String): DataFrame = {
    val per = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(expr(wordsExpr)).cast("long")).as("n_tokens"))
      .withColumn("m",
        expr("cast(floor(sqrt(cast(n_tokens as double)) * 1000000 + 0.5) as bigint)"))
    val tot = per.agg(sum(col("n_tokens")).as("tot_tokens"),
      sum(col("m")).as("tot_m"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("tot_tokens"), 6)
          .as("natural_share"),
        round(col("m").cast("double") / col("tot_m"), 6)
          .as("mixture_weight"),
        round((col("m").cast("double") / col("tot_m")) /
          (col("n_tokens").cast("double") / col("tot_tokens")), 6)
          .as("upsample"))
  }

  private val q164Sql =
    s"""WITH per AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len($wordsSqlExpr)) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY 1),
       |m AS (
       |  SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000
       |    + 0.5) AS BIGINT) AS m
       |  FROM per),
       |tot AS (
       |  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
       |    CAST(sum(m) AS BIGINT) AS tot_m
       |  FROM m)
       |SELECT source, n_docs, n_tokens,
       |  round(CAST(n_tokens AS DOUBLE) / tot_tokens, 6) AS natural_share,
       |  round(CAST(m AS DOUBLE) / tot_m, 6) AS mixture_weight,
       |  round((CAST(m AS DOUBLE) / tot_m)
       |    / (CAST(n_tokens AS DOUBLE) / tot_tokens), 6) AS upsample
       |FROM m, tot""".stripMargin

  /** q165: TRAINING-MIX PLAN capstone — the last composition a
    * pretraining-data pipeline runs before sampling begins: take the
    * corpus that actually ships (q157's quality gate ∧ not a dropped
    * LSH-cluster member), recompute the α=0.5 temperature mixture
    * weights OVER THE SURVIVORS (q164's formula — post-dedup token
    * masses differ from raw ones, so weights must be re-derived), and
    * emit the per-source token quotas that realize the largest
    * mixture-faithful dataset (q94's binding-source rule): the source
    * with the smallest tokens/weight ratio binds, quota_s =
    * floor(min_r(tokens_r/m_r) · m_s) — tot_m cancels out of the
    * quota algebra, so the scalar that broadcasts is just the min
    * ratio plus tot_m for the reported weight.
    *
    * Scale shape: one corpus scan feeds quality flags and token
    * counts (map-side partials collapse each doc before the per-source
    * exchange), dup labels come from the pointer-jump CC over star
    * edges, the corpus-growing drop set is removed by a doc_id-keyed
    * left-anti shuffle join (never force-broadcast — it's a large
    * fraction of docs at scale), and the two cross-source scalars ride
    * back as a 1-row broadcast. */
  private def q165(s: SparkSession, d: String): DataFrame = {
    val keepFlags = q149(s, d).select(col("doc_id"), col("keep"))
    val (labels, _) =
      graft.operators.ConnectedComponents.minLabel(lshStarEdges(s, d))
    val dropped = labels.filter(col("node") =!= col("label"))
      .select(col("node").as("doc_id"))
    // the drop set grows with the corpus (it's the non-root cluster
    // members), so it must NOT be force-broadcast: the left-anti join
    // shuffles both sides on doc_id — the shape that survives 100 TB
    val per = Tables.documents(s, d)
      .join(keepFlags, "doc_id")
      .join(dropped, Seq("doc_id"), "left_anti")
      .filter(col("keep"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_final"),
        sum(size(expr(wordsExpr)).cast("long")).as("tokens_final"))
      .withColumn("m",
        expr("cast(floor(sqrt(cast(tokens_final as double)) * 1000000" +
          " + 0.5) as bigint)"))
    val tot = per.agg(sum(col("m")).as("tot_m"),
      min(col("tokens_final").cast("double") / col("m")).as("minratio"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_final"), col("tokens_final"),
        round(col("m").cast("double") / col("tot_m"), 6)
          .as("mixture_weight"),
        floor(col("minratio") * col("m")).cast("long").as("token_quota"),
        round(floor(col("minratio") * col("m")) /
          col("tokens_final").cast("double"), 6).as("utilization"))
  }

  private val q165Sql =
    s"""WITH RECURSIVE sig AS ($q28Sql),
       |bandt AS (
       |  SELECT doc_id, 1 AS bidx,
       |    (((((1 * 127 + m0) % $P) * 127 + m1) % $P * 127 + m2) % $P * 127 + m3) % $P AS band
       |  FROM sig
       |  UNION ALL
       |  SELECT doc_id, 2 AS bidx,
       |    (((((2 * 127 + m4) % $P) * 127 + m5) % $P * 127 + m6) % $P * 127 + m7) % $P AS band
       |  FROM sig),
       |stars AS (
       |  SELECT DISTINCT doc_id,
       |    min(doc_id) OVER (PARTITION BY bidx, band) AS root
       |  FROM bandt),
       |edges AS (
       |  SELECT doc_id AS src, root AS dst FROM stars WHERE doc_id <> root
       |  UNION ALL
       |  SELECT root AS src, doc_id AS dst FROM stars WHERE doc_id <> root),
       |lab AS (
       |  SELECT doc_id AS node, doc_id AS label FROM documents
       |  UNION
       |  SELECT e.dst AS node, lab.label AS label
       |  FROM lab JOIN edges e ON lab.node = e.src),
       |cc AS (SELECT node, min(label) AS label FROM lab GROUP BY node),
       |dropped AS (SELECT node AS doc_id FROM cc WHERE label <> node),
       |qual AS ($q149Sql),
       |per AS (
       |  SELECT d.source, CAST(count(*) AS BIGINT) AS n_final,
       |    CAST(sum(len($wordsSqlExpr))
       |      AS BIGINT) AS tokens_final
       |  FROM documents d
       |  JOIN qual q ON q.doc_id = d.doc_id
       |  LEFT JOIN dropped dr ON dr.doc_id = d.doc_id
       |  WHERE q.keep AND dr.doc_id IS NULL
       |  GROUP BY 1),
       |mm AS (
       |  SELECT *, CAST(floor(sqrt(CAST(tokens_final AS DOUBLE)) * 1000000
       |    + 0.5) AS BIGINT) AS m
       |  FROM per),
       |tot AS (
       |  SELECT CAST(sum(m) AS BIGINT) AS tot_m,
       |    min(CAST(tokens_final AS DOUBLE) / m) AS minratio
       |  FROM mm)
       |SELECT source, n_final, tokens_final,
       |  round(CAST(m AS DOUBLE) / tot_m, 6) AS mixture_weight,
       |  CAST(floor(minratio * m) AS BIGINT) AS token_quota,
       |  round(floor(minratio * m) / CAST(tokens_final AS DOUBLE), 6)
       |    AS utilization
       |FROM mm, tot""".stripMargin

  /** q166: EVAL-SET DECONTAMINATION — the n-gram-overlap audit every
    * serious pretraining run performs (GPT-3 appendix C / PaLM style):
    * any training document sharing at least one 13-token gram with the
    * held-out eval slice (`source = 'src0'`, the same trusted slice
    * q161 trains on) is flagged before it can leak test data into the
    * model. Gram identity travels as the rolling polynomial window
    * hash (the q115 machinery, k=13) — collisions are possible at P =
    * 2^31-1, so a hash flag alone would drop real training data. The
    * CONFIRM pass closes that channel: flagged docs (small by
    * construction) are rescanned on their raw 13-token gram STRINGS
    * against the eval set's exact gram strings, and the query ships
    * `n_confirmed`/`confirmed` alongside the hash verdict — a
    * collision FP shows up as contaminated=true, confirmed=false.
    *
    * Scale shape: eval sets are benchmark-sized by nature, so both
    * eval-side artifacts BROADCAST — the distinct gram-hash set and
    * the exact gram-string set (the asymmetry is the whole design:
    * never shuffle the corpus against the eval set). The training gram
    * stream is scanned once for the hash verdict (map-side partials
    * collapse each doc before the doc_id exchange); the confirm pass
    * rescans ONLY the flagged population (broadcast semi-join on the
    * flagged ids), and the per-doc confirm counts broadcast back onto
    * the verdict — the corpus never shuffles in either pass. Docs
    * under 13 tokens have no grams and report 0/false via
    * explode_outer. */
  private[queries] def q166(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        expr("token_window_hashes(" + wordsExpr + ", 13)").as("grams"))
    val evalGrams = docs.filter(col("source") === "src0")
      .select(explode(col("grams")).as("h")).distinct()
      .withColumn("hit", lit(true))
    val verdict = docs.filter(col("source") =!= "src0")
      .select(col("doc_id"), col("source"),
        explode_outer(col("grams")).as("h"))
      .join(broadcast(evalGrams), Seq("h"), "left")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(col("h")).as("n_grams"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_contaminated"))
      .withColumn("contaminated", col("n_contaminated") >= 1)
    // exact-string confirm over the flagged population only
    val gramStrExpr =
      "transform(sequence(0, size(w) - 13), i -> array_join(slice(w, i + 1, 13), ' '))"
    val evalStrs = Tables.documents(s, d)
      .filter(col("source") === "src0")
      .select(expr(wordsExpr).as("w"))
      .filter(size(col("w")) >= 13)
      .select(explode(expr(gramStrExpr)).as("gs")).distinct()
      .withColumn("sconf", lit(true))
    val confirm = Tables.documents(s, d)
      .filter(col("source") =!= "src0")
      .join(broadcast(verdict.filter(col("contaminated"))
        .select(col("doc_id"))), "doc_id")
      .select(col("doc_id"), expr(wordsExpr).as("w"))
      .filter(size(col("w")) >= 13)
      .select(col("doc_id"), explode(expr(gramStrExpr)).as("gs"))
      .join(broadcast(evalStrs), Seq("gs"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(when(col("sconf"), 1L).otherwise(0L)).as("n_confirmed"))
    verdict.join(broadcast(confirm), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_grams"),
        col("n_contaminated"), col("contaminated"),
        coalesce(col("n_confirmed"), lit(0L)).as("n_confirmed"),
        (coalesce(col("n_confirmed"), lit(0L)) >= 1).as("confirmed"))
  }

  private[queries] val q166Sql =
    s"""WITH docs AS (
       |  SELECT doc_id, source, $wordsSqlExpr AS w,
       |    CAST(len($wordsSqlExpr) AS INT) AS n
       |  FROM documents),
       |th AS (
       |  SELECT doc_id, source, n,
       |    list_transform(w, t -> list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(str_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
       |      (a, c) -> (a * 131 + c) % 2147483647)) AS th
       |  FROM docs),
       |wins AS (
       |  SELECT doc_id, source,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), th[i : i + 12]),
       |      (a, t) -> (a * 1000003 + t) % 2147483647) AS h
       |  FROM (SELECT doc_id, source, th, unnest(range(1, n - 13 + 2)) AS i
       |        FROM th WHERE n >= 13)),
       |ev AS (SELECT DISTINCT h FROM wins WHERE source = 'src0'),
       |agg AS (
       |  SELECT t.doc_id,
       |    CAST(count(*) AS BIGINT) AS n_grams,
       |    CAST(sum(CASE WHEN e.h IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_contaminated
       |  FROM wins t LEFT JOIN ev e ON e.h = t.h
       |  WHERE t.source <> 'src0'
       |  GROUP BY 1),
       |gs AS (
       |  SELECT doc_id, source, array_to_string(w[i : i + 12], ' ') AS g
       |  FROM (SELECT doc_id, source, w, unnest(range(1, n - 13 + 2)) AS i
       |        FROM docs WHERE n >= 13)),
       |evs AS (SELECT DISTINCT g FROM gs WHERE source = 'src0'),
       |conf AS (
       |  SELECT t.doc_id,
       |    CAST(sum(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_confirmed
       |  FROM gs t LEFT JOIN evs e ON e.g = t.g
       |  WHERE t.source <> 'src0'
       |  GROUP BY 1)
       |SELECT d.doc_id, d.source,
       |  coalesce(a.n_grams, 0) AS n_grams,
       |  coalesce(a.n_contaminated, 0) AS n_contaminated,
       |  coalesce(a.n_contaminated, 0) >= 1 AS contaminated,
       |  CASE WHEN coalesce(a.n_contaminated, 0) >= 1
       |       THEN coalesce(c.n_confirmed, 0) ELSE 0 END AS n_confirmed,
       |  coalesce(a.n_contaminated, 0) >= 1
       |    AND coalesce(c.n_confirmed, 0) >= 1 AS confirmed
       |FROM docs d LEFT JOIN agg a ON a.doc_id = d.doc_id
       |  LEFT JOIN conf c ON c.doc_id = d.doc_id
       |WHERE d.source <> 'src0'""".stripMargin

  /** q167: INTRA-document repeated-span removal — the self-dedup half
    * of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better"): spans whose k-token window repeats EARLIER IN THE
    * SAME DOCUMENT are cut, keeping the first occurrence. Identical
    * machinery to q115 (rolling window hashes → later-occurrence
    * islands → disjoint-interval rewrite via per-row HOFs) with the
    * dup partition keyed by (doc_id, h) instead of h. Window k=3 here:
    * the synthetic corpus draws uniform tokens from a 31-word
    * vocabulary, so 50-token intra-doc repeats never occur — k=3
    * exercises the full cut-and-rewrite path on naturally-colliding
    * trigrams (production uses 50, one constant).
    *
    * Scale shape: strictly BETTER than q115 — every shuffle is keyed
    * by doc_id (the dup window partitions by (doc_id, h), the island
    * pass by doc_id), so the operator is embarrassingly parallel over
    * documents with no cross-doc state at all. */
  private def q167(s: SparkSession, d: String): DataFrame =
    intraDocDedup(s, Tables.documents(s, d), k = 3)

  /** The q167 kernel over ANY (`doc_id`, `text`) frame — factored so
    * IntraDocDedupFuzzSpec can drive it on random corpora against an
    * independent naive reference. */
  def intraDocDedup(s: SparkSession,
      documents: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = documents
      .select(col("doc_id"), expr(wordsExpr).as("w"))
      .withColumn("n", size(col("w")))
    val wins = docs
      .select(col("doc_id"), expr(s"token_window_hashes(w, $k)").as("wh"))
      .select(col("doc_id"), posexplode(col("wh")).as(Seq("widx", "h")))
    val dup = wins
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id"), col("h"))
          .orderBy(col("widx").asc)))
      .filter(col("rk") > 1)
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("widx").asc)
    val islands = dup
      .withColumn("prev", lag(col("widx"), 1).over(byDoc))
      .withColumn("brk",
        (col("prev").isNull || col("widx") - col("prev") > k - 1).cast("int"))
      .withColumn("isl", sum(col("brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("widx")).as("s"), (max(col("widx")) + lit(k - 1)).as("e"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("s"), col("e"))).as("ivs"))
    docs.join(islands, Seq("doc_id"), "left")
      .withColumn("kept", expr(
        """CASE WHEN ivs IS NULL THEN w
          |ELSE transform(filter(sequence(0, n - 1),
          |  i -> NOT exists(ivs, v -> i >= v.s AND i <= v.e)),
          |  i -> element_at(w, i + 1)) END""".stripMargin))
      .select(col("doc_id"),
        col("n").as("n_tokens"),
        (col("n") - size(col("kept"))).as("n_removed"),
        array_join(col("kept"), " ").as("clean_text"))
  }

  private val q167Sql =
    s"""WITH docs AS (
       |  SELECT doc_id, $wordsSqlExpr AS w,
       |    CAST(len($wordsSqlExpr) AS INT) AS n
       |  FROM documents),
       |th AS (
       |  SELECT doc_id, n, w,
       |    list_transform(w, t -> list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(str_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
       |      (a, c) -> (a * 131 + c) % 2147483647)) AS th
       |  FROM docs),
       |wins AS (
       |  SELECT doc_id, i - 1 AS widx,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), th[i : i + 2]),
       |      (a, t) -> (a * 1000003 + t) % 2147483647) AS h
       |  FROM (SELECT doc_id, th, unnest(range(1, n - 3 + 2)) AS i
       |        FROM th WHERE n >= 3)),
       |dup AS (
       |  SELECT doc_id, widx FROM (
       |    SELECT doc_id, widx,
       |      row_number() OVER (PARTITION BY doc_id, h ORDER BY widx) AS rk
       |    FROM wins)
       |  WHERE rk > 1),
       |isl AS (
       |  SELECT doc_id, widx,
       |    sum(CASE WHEN prev IS NULL OR widx - prev > 2
       |             THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY widx
       |            ROWS UNBOUNDED PRECEDING) AS g
       |  FROM (SELECT doc_id, widx,
       |          lag(widx) OVER (PARTITION BY doc_id ORDER BY widx) AS prev
       |        FROM dup)),
       |iv AS (
       |  SELECT doc_id, min(widx) AS s, max(widx) + 2 AS e
       |  FROM isl GROUP BY doc_id, g),
       |cov AS (
       |  SELECT doc_id, unnest(range(s, e + 1)) AS tidx FROM iv),
       |tok AS (
       |  SELECT doc_id, tidx, w[CAST(tidx AS INT) + 1] AS tk
       |  FROM (SELECT doc_id, w,
       |          CAST(unnest(range(0, n)) AS BIGINT) AS tidx
       |        FROM docs)),
       |kept AS (
       |  SELECT t.doc_id, t.tidx, t.tk
       |  FROM tok t LEFT JOIN cov c
       |    ON c.doc_id = t.doc_id AND c.tidx = t.tidx
       |  WHERE c.tidx IS NULL)
       |SELECT d.doc_id,
       |  d.n AS n_tokens,
       |  CAST(d.n - count(k.tidx) AS INT) AS n_removed,
       |  coalesce(string_agg(k.tk, ' ' ORDER BY k.tidx), '') AS clean_text
       |FROM docs d LEFT JOIN kept k ON k.doc_id = d.doc_id
       |GROUP BY d.doc_id, d.n""".stripMargin

  /** q168: CONTAINMENT near-dup scoring — the asymmetric complement of
    * q29's Jaccard: C = |A∩B| / min(|A|,|B|) catches a short document
    * swallowed whole by a long one (quote-and-extend plagiarism, page
    * + boilerplate wrapper), which symmetric Jaccard misses precisely
    * BECAUSE the length-ratio prune that makes q29 cheap discards
    * those pairs. So this query drops both the length prune and the
    * Jaccard floor, and candidates come from TWO generators, each
    * catching what the other is blind to:
    *
    * 1. the same first-matching-band LSH pairs as q29 (no new shuffle
    *    shape) — finds high-Jaccard pairs, but MinHash band collision
    *    probability is governed by Jaccard, which is exactly what's
    *    SMALL for a short doc swallowed by a long one (q170 measures
    *    the collapse: ≈ 2·J⁴ as asymmetry grows);
    * 2. a containment-native RARE-SHINGLE PROBE — each doc probes its
    *    per-permutation argmin trigram hashes (4 perms; per-perm hit
    *    probability equals CONTAINMENT, not Jaccard — q170 pins the
    *    ≈ 1−(1−C)⁴ recall) against a document-frequency-capped
    *    inverted shingle index. The df cap ([[Q168DfCap]]) is the
    *    scale contract: probe join fan-out is ≤ cap per probed
    *    shingle, so candidates are LINEAR in corpus size, and at
    *    100 TB the cap is what keeps stop-shingles from ever fanning
    *    out (standard prefix-filter discipline; rare shingles are the
    *    only workable probes at scale). Probe pairs whose bands
    *    already match are excluded via the band folds
    *    (generator-level first-match dedup), so the union with the
    *    band path is exact without any distinct over it.
    *
    * Every candidate from either path is verified by the codegen'd
    * sorted-merge intersect; a pair ships when the smaller side is
    * ≥90% contained. New shuffles vs q29's shape: one trigram-keyed
    * window (the df count) and one trigram-keyed probe join — both
    * linear in corpus trigram occurrences, same class as q28's
    * explode. */
  private val Q168DfCap = 16L

  private def q168(s: SparkSession, d: String): DataFrame =
    containmentNearDup(s, Tables.documents(s, d))

  /** The q168 kernel over ANY (`doc_id`, `text`) frame — factored so
    * ContainmentFuzzSpec can drive it on random corpora with planted
    * quote-and-extend pairs against an independent naive reference. */
  def containmentNearDup(s: SparkSession, documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sig = minhashAgg(s, documents)
    val words = documents
      .select(col("doc_id"),
        expr("opt_barrier(array_sort(array_distinct(" +
          s"md5_prefix_longs($wordsExpr, 8))))")
          .as("wset"))
      .withColumn("nw", size(col("wset")).cast("long"))
    def fold(seed: Long, ms: Seq[String]): Column =
      ms.foldLeft(lit(seed))((acc, m) => (acc * 127 + col(m)) % P)
    val bandRows = sig
      .select(col("doc_id"),
        fold(1L, Seq("m0", "m1", "m2", "m3")).as("band1"),
        fold(2L, Seq("m4", "m5", "m6", "m7")).as("band2"))
      .select(col("doc_id"), col("band1"),
        explode(array(
          struct(lit(1).as("bidx"), col("band1").as("band")),
          struct(lit(2).as("bidx"), col("band2").as("band")))).as("e"))
      .select(col("doc_id"), col("band1"),
        col("e.bidx").as("bidx"), col("e.band").as("band"))
      .join(words, "doc_id")
    val x = bandRows.select(col("bidx"), col("band"),
      col("doc_id").as("doc_a"), col("band1").as("b1a"),
      col("wset").as("wa"), col("nw").as("na"))
    val y = bandRows.select(col("bidx"), col("band"),
      col("doc_id").as("doc_b"), col("band1").as("b1b"),
      col("wset").as("wb"), col("nw").as("nb"))
    def verified(cand: DataFrame): DataFrame = cand
      .withColumn("inter",
        expr("opt_barrier(sorted_long_intersect_count(wa, wb))"))
      .withColumn("containment", round(
        col("inter").cast("double") / least(col("na"), col("nb")), 6))
      .filter(col("containment") >= 0.9)
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"),
        col("inter"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 6).as("jaccard"),
        col("containment"))
    val bandOut = verified(x.join(y, Seq("bidx", "band"))
      .filter(col("doc_a") < col("doc_b") &&
        (col("bidx") === 1 || col("b1a") =!= col("b1b"))))
    // containment-native probe path: rare-shingle argmin probes against
    // a df-capped inverted trigram index
    val triDocs = documents
      .filter(size(expr(wordsExpr)) >= 3)
      .select(col("doc_id"), expr(wordsExpr).as("w"))
      .select(col("doc_id"), expr(triHashSetExpr("w")).as("tri"))
    // the per-perm argmin is hoisted into its own opt_barrier'd
    // projection: written inline inside the filter lambda it is
    // re-evaluated PER ELEMENT (O(len²) modmuls + one array alloc per
    // element — measured 5.7 s of q168's 8.5 s at sf0.1), and without
    // the barrier CollapseProject inlines the single-use alias right
    // back into the lambda
    val amCols = perms.take(4).zipWithIndex.map { case ((a, b), i) =>
      expr(s"opt_barrier(array_min(transform(tri, " +
        s"h -> (h * ${a}L + ${b}L) % $P)))").as(s"am$i")
    }
    val probes = triDocs
      .select(col("doc_id") +: col("tri") +: amCols: _*)
      .select(col("doc_id"), explode(expr(
        perms.take(4).zipWithIndex.map { case ((a, b), i) =>
          s"filter(tri, t -> (t * ${a}L + ${b}L) % $P = am$i)"
        }.mkString("flatten(array(", ", ", "))"))).as("th"))
      .distinct()
    val idx = triDocs
      .select(col("doc_id").as("doc_i"), explode(col("tri")).as("th"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("th"))))
      .filter(col("df") <= Q168DfCap)
      .select(col("doc_i"), col("th"))
    // one doc-keyed payload frame (band folds + word set) so candidate
    // pair rows pay TWO shuffle joins, not four
    val docSide = sig.select(col("doc_id"),
      fold(1L, Seq("m0", "m1", "m2", "m3")).as("bf1"),
      fold(2L, Seq("m4", "m5", "m6", "m7")).as("bf2"))
      .join(words, "doc_id")
    val probeOut = verified(probes.join(idx, "th")
      .filter(col("doc_id") =!= col("doc_i"))
      .select(least(col("doc_id"), col("doc_i")).as("doc_a"),
        greatest(col("doc_id"), col("doc_i")).as("doc_b"))
      .distinct()
      .join(docSide.select(col("doc_id").as("doc_a"),
        col("bf1").as("b1a"), col("bf2").as("b2a"),
        col("wset").as("wa"), col("nw").as("na")), "doc_a")
      .join(docSide.select(col("doc_id").as("doc_b"),
        col("bf1").as("b1b"), col("bf2").as("b2b"),
        col("wset").as("wb"), col("nw").as("nb")), "doc_b")
      .filter(col("b1a") =!= col("b1b") && col("b2a") =!= col("b2b")))
    bandOut.unionByName(probeOut)
  }

  private val q168Sql = {
    val probeUnion = perms.take(4).map { case (a, b) =>
      s"""SELECT doc_id, unnest(list_filter(tri,
         |      t -> (t * $a + $b) % $P =
         |        list_min(list_transform(tri, h -> (h * $a + $b) % $P)))) AS th
         |    FROM tris""".stripMargin
    }.mkString("\n    UNION ALL\n    ")
    s"""WITH sig AS ($q28Sql),
       |bands AS (
       |  SELECT doc_id, 1 AS bidx,
       |    (((((1 * 127 + m0) % $P) * 127 + m1) % $P * 127 + m2) % $P * 127 + m3) % $P AS band
       |  FROM sig
       |  UNION ALL
       |  SELECT doc_id, 2 AS bidx,
       |    (((((2 * 127 + m4) % $P) * 127 + m5) % $P * 127 + m6) % $P * 127 + m7) % $P AS band
       |  FROM sig),
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |  ON x.bidx = y.bidx AND x.band = y.band AND x.doc_id < y.doc_id),
       |bf AS (
       |  SELECT doc_id,
       |    max(CASE WHEN bidx = 1 THEN band END) AS bf1,
       |    max(CASE WHEN bidx = 2 THEN band END) AS bf2
       |  FROM bands GROUP BY doc_id),
       |tris AS (
       |  SELECT doc_id, ${triHashSetSql("w")} AS tri
       |  FROM (SELECT doc_id, $wordsSqlExpr AS w FROM documents
       |        WHERE len($wordsSqlExpr) >= 3)),
       |probes AS (
       |  SELECT DISTINCT doc_id, th FROM (
       |    $probeUnion)),
       |idx AS (
       |  SELECT doc_id AS doc_i, th FROM (
       |    SELECT doc_id, th, count(*) OVER (PARTITION BY th) AS df
       |    FROM (SELECT doc_id, unnest(tri) AS th FROM tris))
       |  WHERE df <= $Q168DfCap),
       |ppairs AS (
       |  SELECT DISTINCT least(p.doc_id, i.doc_i) AS doc_a,
       |    greatest(p.doc_id, i.doc_i) AS doc_b
       |  FROM probes p JOIN idx i ON i.th = p.th AND i.doc_i <> p.doc_id),
       |ppairs2 AS (
       |  SELECT doc_a, doc_b FROM ppairs
       |  JOIN bf a ON a.doc_id = doc_a
       |  JOIN bf b ON b.doc_id = doc_b
       |  WHERE a.bf1 <> b.bf1 AND a.bf2 <> b.bf2),
       |allpairs AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  UNION ALL
       |  SELECT doc_a, doc_b FROM ppairs2),
       |wsets AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform($wordsSqlExpr,
       |      w -> CAST(('0x' || substr(md5(w),1,8)) AS BIGINT))) AS wset,
       |    CAST(len(list_distinct(list_transform($wordsSqlExpr,
       |      w -> CAST(('0x' || substr(md5(w),1,8)) AS BIGINT)))) AS BIGINT) AS nw
       |  FROM documents)
       |SELECT doc_a, doc_b, wa.nw AS na, wb.nw AS nb,
       |  CAST(len(list_intersect(wa.wset, wb.wset)) AS BIGINT) AS inter,
       |  round(CAST(len(list_intersect(wa.wset, wb.wset)) AS DOUBLE)
       |    / (wa.nw + wb.nw - len(list_intersect(wa.wset, wb.wset))), 6)
       |    AS jaccard,
       |  round(CAST(len(list_intersect(wa.wset, wb.wset)) AS DOUBLE)
       |    / least(wa.nw, wb.nw), 6) AS containment
       |FROM allpairs
       |JOIN wsets wa ON wa.doc_id = doc_a
       |JOIN wsets wb ON wb.doc_id = doc_b
       |WHERE round(CAST(len(list_intersect(wa.wset, wb.wset)) AS DOUBLE)
       |    / least(wa.nw, wb.nw), 6) >= 0.9""".stripMargin
  }

  /** q170: MEASURED containment recall vs asymmetry — q155's discipline
    * applied to q168's structural weakness. The corpus has essentially
    * no natural short-in-long pairs (uniform random text), so truth is
    * SYNTHESIZED with the q156/q116 pattern: from each source's first
    * [[Q170SamplePerSource]] docs in content-addressed (md5(text),
    * doc_id) order, build quote-and-extend pairs — A = sampled doc i,
    * B = docs i..i+m concatenated — so A's trigram windows are exactly
    * a prefix-subset of B's (containment ≡ 1 by construction, pinned by
    * sum_inter = sum_na in the output) while Jaccard shrinks like
    * 1/(m+1). Per asymmetry level m ∈ {0,1,3,7} the query scores every
    * pair under BOTH detectors: the SHIPPING q168 scheme (8-perm
    * trigram MinHash, 2 bands of 4, identical fold constants) and the
    * containment-native short-side probe (does perm i's minimum over A
    * fall in A∩B — per-perm hit probability = containment itself,
    * 4 perms). The per-m recall curve is a pinned oracle output: the
    * expected shape is band recall collapsing ≈ 2·J⁴ with asymmetry
    * while probe recall stays ≈ 1−(1−C)⁴ ≈ 100%, and any regression in
    * either detector's constants flips integer counts and fails parity.
    *
    * Every output column is ENGINE-EXACT (QueryDef's integer-exact
    * discipline): counts and sums are BIGINT on both engines, and the
    * pooled-Jaccard / recall measurements are integer basis points via
    * BIGINT division — no double rounding anywhere, so the hash cannot
    * depend on either engine's round() semantics or on DuckDB widening
    * sum(BIGINT) to HUGEINT (both were latent hash-divergence channels
    * in the r11 driver run; CORRECTNESS_r11's only red cell).
    *
    * Scale shape: the evaluator is a fixed-cost probe — ≤ 24 docs/source
    * regardless of corpus size (content-addressed sample, stable across
    * runs and growth), pair construction is per-source-local, and no
    * shuffle exceeds the sample. The detectors under test run exactly
    * the arithmetic q168 ships. */
  private val Q170SamplePerSource = 24
  private val Q170Exts = Seq(0, 1, 3, 7)

  /** Distinct 32-bit md5 trigram hashes of a token-array column —
    * the shingle universe shared by q170 (containment truth + both
    * detectors) and q168's probe path. Caller guarantees size ≥ 3
    * (below it the fused kernel returns an empty set where the old
    * sequence() form produced null shingles — both are wrong answers
    * for a short doc, which is why callers filter first). */
  private def triHashSetExpr(c: String): String =
    s"opt_barrier(array_distinct(ngram_md5_longs($c, 3, 8)))"

  private def triHashSetSql(c: String): String =
    s"list_distinct(list_transform([$c[j] || ' ' || $c[j+1] || ' ' || $c[j+2] " +
      s"for j in range(1, len($c) - 1)], " +
      "t -> CAST(('0x' || substr(md5(t),1,8)) AS BIGINT)))"

  private def q170(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def tri(c: String) = triHashSetExpr(c)
    def minsExpr(c: String, k: Int) =
      perms.take(k).map { case (a, b) =>
        s"array_min(transform($c, h -> (h * ${a}L + ${b}L) % $P))"
      }.mkString("array(", ", ", ")")
    def fold(seed: Long, ms: Column, idxs: Range): Column =
      idxs.foldLeft(lit(seed): Column)((acc, i) =>
        (acc * 127 + element_at(ms, i + 1)) % P)
    val sw = Window.partitionBy(col("source"))
      .orderBy(md5(col("text").cast("binary")).asc, col("doc_id").asc)
    val flags = Tables.documents(s, d)
      .filter(size(expr(wordsExpr)) >= 3)
      .withColumn("rn", row_number().over(sw))
      .filter(col("rn") <= Q170SamplePerSource)
      .groupBy(col("source"))
      .agg(sort_array(collect_list(struct(col("rn"), col("text")))).as("ds"))
      .select(col("source"),
        expr("transform(ds, v -> v.text)").as("texts"),
        size(col("ds")).as("n"))
      .select(col("source"), col("texts"),
        explode(expr(s"filter(flatten(transform(array(${Q170Exts.mkString(", ")}), " +
          "m -> transform(sequence(1, n), i -> struct(i as i, m as m)))), " +
          "p -> p.i + p.m <= n)")).as("pm"))
      .select(col("pm.m").as("m"),
        expr("split(element_at(texts, pm.i), ' ')").as("wa"),
        expr("flatten(transform(sequence(pm.i, pm.i + pm.m), " +
          "j -> split(element_at(texts, j), ' ')))").as("wb"))
      .select(col("m"), expr(tri("wa")).as("ta"), expr(tri("wb")).as("tb"))
      .withColumn("il", expr("opt_barrier(array_intersect(ta, tb))"))
      .withColumn("na", size(col("ta")).cast("long"))
      .withColumn("nb", size(col("tb")).cast("long"))
      .withColumn("inter", size(col("il")).cast("long"))
      .withColumn("msa", expr(s"opt_barrier(${minsExpr("ta", 8)})"))
      .withColumn("msb", expr(s"opt_barrier(${minsExpr("tb", 8)})"))
      .withColumn("msi", expr(s"opt_barrier(${minsExpr("il", 4)})"))
      .withColumn("found_band",
        fold(1L, col("msa"), 0 until 4) === fold(1L, col("msb"), 0 until 4) ||
          fold(2L, col("msa"), 4 until 8) === fold(2L, col("msb"), 4 until 8))
      .withColumn("found_probe",
        coalesce((0 until 4).map(i =>
            element_at(col("msa"), i + 1) === element_at(col("msi"), i + 1))
          .reduce(_ || _), lit(false)))
    flags.groupBy(col("m"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("na")).as("sum_na"),
        sum(col("nb")).as("sum_nb"),
        sum(col("inter")).as("sum_inter"),
        sum(when(col("found_band"), 1L).otherwise(0L)).as("n_found_band"),
        sum(when(col("found_probe"), 1L).otherwise(0L)).as("n_found_probe"))
      .withColumn("pooled_jaccard_bp",
        expr("(10000L * sum_inter) div (sum_na + sum_nb - sum_inter)"))
      .withColumn("recall_band_bp", expr("(10000L * n_found_band) div n_pairs"))
      .withColumn("recall_probe_bp", expr("(10000L * n_found_probe) div n_pairs"))
  }

  private val q170Sql = {
    def triSql(c: String) = triHashSetSql(c)
    def minsSql(c: String, k: Int) =
      perms.take(k).map { case (a, b) =>
        s"list_min(list_transform($c, h -> (h * $a + $b) % $P))"
      }.mkString("[", ",\n      ", "]")
    def foldSql(seed: Int, ms: String, lo: Int): String =
      (lo until lo + 4).foldLeft(seed.toString)((acc, i) =>
        s"($acc * 127 + $ms[${i + 1}]) % $P")
    s"""WITH sampled AS (
       |  SELECT source, rn, text FROM (
       |    SELECT source, text,
       |      row_number() OVER (PARTITION BY source
       |        ORDER BY md5(text), doc_id) AS rn
       |    FROM documents
       |    WHERE len(str_split(text, ' ')) >= 3)
       |  WHERE rn <= $Q170SamplePerSource),
       |src AS (
       |  SELECT source, list(text ORDER BY rn) AS texts, count(*) AS n
       |  FROM sampled GROUP BY source),
       |combos AS (
       |  SELECT source, texts, CAST(i AS INT) AS i, m
       |  FROM (SELECT source, texts, n, unnest(range(1, n + 1)) AS i FROM src)
       |  CROSS JOIN (SELECT unnest([${Q170Exts.mkString(", ")}]) AS m) ms
       |  WHERE i + m <= n),
       |ab AS (
       |  SELECT m,
       |    str_split(texts[i], ' ') AS wa,
       |    flatten([str_split(texts[j], ' ') for j in range(i, i + m + 1)]) AS wb
       |  FROM combos),
       |tri AS (
       |  SELECT m, ${triSql("wa")} AS ta, ${triSql("wb")} AS tb
       |  FROM ab),
       |sc AS (
       |  SELECT m,
       |    CAST(len(ta) AS BIGINT) AS na,
       |    CAST(len(tb) AS BIGINT) AS nb,
       |    CAST(len(list_intersect(ta, tb)) AS BIGINT) AS inter,
       |    ${minsSql("ta", 8)} AS msa,
       |    ${minsSql("tb", 8)} AS msb,
       |    ${minsSql("list_intersect(ta, tb)", 4)} AS msi
       |  FROM tri),
       |flags AS (
       |  SELECT m, na, nb, inter,
       |    (${foldSql(1, "msa", 0)}) = (${foldSql(1, "msb", 0)})
       |      OR (${foldSql(2, "msa", 4)}) = (${foldSql(2, "msb", 4)}) AS found_band,
       |    coalesce(msa[1] = msi[1] OR msa[2] = msi[2]
       |      OR msa[3] = msi[3] OR msa[4] = msi[4], false) AS found_probe
       |  FROM sc)
       |SELECT m, count(*) AS n_pairs,
       |  CAST(sum(na) AS BIGINT) AS sum_na,
       |  CAST(sum(nb) AS BIGINT) AS sum_nb,
       |  CAST(sum(inter) AS BIGINT) AS sum_inter,
       |  CAST(sum(CASE WHEN found_band THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_found_band,
       |  CAST(sum(CASE WHEN found_probe THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_found_probe,
       |  (10000 * CAST(sum(inter) AS BIGINT))
       |    // (CAST(sum(na) AS BIGINT) + CAST(sum(nb) AS BIGINT)
       |        - CAST(sum(inter) AS BIGINT)) AS pooled_jaccard_bp,
       |  (10000 * CAST(sum(CASE WHEN found_band THEN 1 ELSE 0 END) AS BIGINT))
       |    // count(*) AS recall_band_bp,
       |  (10000 * CAST(sum(CASE WHEN found_probe THEN 1 ELSE 0 END) AS BIGINT))
       |    // count(*) AS recall_probe_bp
       |FROM flags GROUP BY m""".stripMargin
  }

  /** q171: SHIPPING MANIFEST — the last unclosed composition in the
    * training-data story (VERDICT r10 #8): everything upstream of the
    * writer in ONE plan. The shipped corpus is quality-passing (q149
    * rules), near-dup-free (q150's CC drop set), and DECONTAMINATED
    * (q166's 13-gram hash gate vs the held-out src0 eval slice, which
    * itself never ships); each surviving doc is assigned its
    * reproducible split (q74's md5-byte rule) and output shard (q169's
    * md5-slice mod 32), and the manifest reports per (split, shard,
    * source) doc/token/byte loads plus each row's token share of its
    * split — the writer's work order, auditable before any write job
    * runs.
    *
    * Scale shape: the manifest aggregation path scans `documents`
    * once — split and shard are per-row md5 arithmetic on that scan,
    * the per-(split,shard,source) group-by is ≤ 2·32·sources rows, and
    * the split totals ride back as a 2-row broadcast. Gate sets join
    * the same way they do in their home queries: the corpus-growing
    * drop set by doc_id-keyed left-anti shuffle (never broadcast), the
    * small contaminated set by left-anti (AQE broadcasts it when
    * small), quality flags by doc_id join. The documents table itself
    * never reshuffles. */
  private def q171(s: SparkSession, d: String): DataFrame = {
    val nShards = 32
    val keepFlags = q149(s, d).select(col("doc_id"), col("keep"))
    val (labels, _) =
      graft.operators.ConnectedComponents.minLabel(lshStarEdges(s, d))
    val dropped = labels.filter(col("node") =!= col("label"))
      .select(col("node").as("doc_id"))
    // decontamination gate: q166's hash verdict, flag-only (a doc is
    // out as soon as one 13-gram hash hits the eval set)
    val docsG = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        expr("token_window_hashes(" + wordsExpr + ", 13)").as("grams"))
    val evalGrams = docsG.filter(col("source") === "src0")
      .select(explode(col("grams")).as("h")).distinct()
    val contam = docsG.filter(col("source") =!= "src0")
      .select(col("doc_id"), explode(col("grams")).as("h"))
      .join(broadcast(evalGrams), Seq("h"))
      .select(col("doc_id")).distinct()
    val ship = Tables.documents(s, d)
      .filter(col("source") =!= "src0")
      .join(keepFlags, "doc_id").filter(col("keep"))
      .join(dropped, Seq("doc_id"), "left_anti")
      .join(contam, Seq("doc_id"), "left_anti")
      .withColumn("split",
        when(substring(md5(col("doc_id").cast("string").cast("binary")),
          1, 2) <= "e5", "train").otherwise("holdout"))
      .withColumn("shard",
        expr("cast(conv(substring(md5(cast(cast(doc_id as string) as " +
          "binary)), 1, 8), 16, 10) as bigint)") % nShards)
    val per = ship.groupBy(col("split"), col("shard"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(expr(wordsExpr)).cast("long")).as("n_tokens"),
        sum(col("n_chars")).as("n_bytes"))
    val splitTot = per.groupBy(col("split"))
      .agg(sum(col("n_tokens")).as("split_tokens"))
    per.join(broadcast(splitTot), "split")
      .select(col("split"), col("shard"), col("source"), col("n_docs"),
        col("n_tokens"), col("n_bytes"),
        round(col("n_tokens").cast("double") / col("split_tokens"), 6)
          .as("token_share"))
  }

  private val q171Sql =
    s"""WITH RECURSIVE sig AS ($q28Sql),
       |bandt AS (
       |  SELECT doc_id, 1 AS bidx,
       |    (((((1 * 127 + m0) % $P) * 127 + m1) % $P * 127 + m2) % $P * 127 + m3) % $P AS band
       |  FROM sig
       |  UNION ALL
       |  SELECT doc_id, 2 AS bidx,
       |    (((((2 * 127 + m4) % $P) * 127 + m5) % $P * 127 + m6) % $P * 127 + m7) % $P AS band
       |  FROM sig),
       |stars AS (
       |  SELECT DISTINCT doc_id,
       |    min(doc_id) OVER (PARTITION BY bidx, band) AS root
       |  FROM bandt),
       |edges AS (
       |  SELECT doc_id AS src, root AS dst FROM stars WHERE doc_id <> root
       |  UNION ALL
       |  SELECT root AS src, doc_id AS dst FROM stars WHERE doc_id <> root),
       |lab AS (
       |  SELECT doc_id AS node, doc_id AS label FROM documents
       |  UNION
       |  SELECT e.dst AS node, lab.label AS label
       |  FROM lab JOIN edges e ON lab.node = e.src),
       |cc AS (SELECT node, min(label) AS label FROM lab GROUP BY node),
       |dropped AS (SELECT node AS doc_id FROM cc WHERE label <> node),
       |qual AS ($q149Sql),
       |cdocs AS (
       |  SELECT doc_id, source, $wordsSqlExpr AS w,
       |    CAST(len($wordsSqlExpr) AS INT) AS n
       |  FROM documents),
       |cth AS (
       |  SELECT doc_id, source, n,
       |    list_transform(w, t -> list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(str_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
       |      (a, c) -> (a * 131 + c) % 2147483647)) AS th
       |  FROM cdocs),
       |cwins AS (
       |  SELECT doc_id, source,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), th[i : i + 12]),
       |      (a, t) -> (a * 1000003 + t) % 2147483647) AS h
       |  FROM (SELECT doc_id, source, th, unnest(range(1, n - 13 + 2)) AS i
       |        FROM cth WHERE n >= 13)),
       |cev AS (SELECT DISTINCT h FROM cwins WHERE source = 'src0'),
       |contam AS (
       |  SELECT DISTINCT t.doc_id
       |  FROM cwins t JOIN cev e ON e.h = t.h
       |  WHERE t.source <> 'src0'),
       |ship AS (
       |  SELECT d.doc_id, d.source, d.n_chars,
       |    CAST(len($wordsSqlExpr) AS BIGINT) AS toks,
       |    CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) <= 'e5'
       |      THEN 'train' ELSE 'holdout' END AS split,
       |    CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
       |      AS BIGINT) % 32 AS shard
       |  FROM documents d
       |  JOIN qual q ON q.doc_id = d.doc_id
       |  LEFT JOIN dropped dr ON dr.doc_id = d.doc_id
       |  LEFT JOIN contam ct ON ct.doc_id = d.doc_id
       |  WHERE d.source <> 'src0' AND q.keep
       |    AND dr.doc_id IS NULL AND ct.doc_id IS NULL),
       |per AS (
       |  SELECT split, shard, source,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(toks) AS BIGINT) AS n_tokens,
       |    CAST(sum(n_chars) AS BIGINT) AS n_bytes
       |  FROM ship GROUP BY 1, 2, 3),
       |stot AS (
       |  SELECT split, CAST(sum(n_tokens) AS BIGINT) AS split_tokens
       |  FROM per GROUP BY 1)
       |SELECT p.split, p.shard, p.source, p.n_docs, p.n_tokens, p.n_bytes,
       |  round(CAST(p.n_tokens AS DOUBLE) / s.split_tokens, 6)
       |    AS token_share
       |FROM per p JOIN stot s ON s.split = p.split""".stripMargin

  /** q173: DELTA dedup — an incoming refresh batch admitted against a
    * corpus SNAPSHOT (the continuous-training-data operator: new crawl
    * slices arrive forever; each is kept only where it is not a
    * near-dup of what the corpus already holds). The batch here is the
    * deterministic 10% slice doc_id % 10 = 0; the snapshot is the
    * rest. Same LSH chain as q29 (8-hash MinHash → 2 band keys →
    * band-key equi-join → exact hashed-token-set Jaccard ≥ 0.7), but
    * the join is ASYMMETRIC: incoming band rows against snapshot band
    * rows only — never snapshot×snapshot, so the per-refresh cost is
    * delta-sized, not corpus-sized. Per incoming doc: match count,
    * first (min-id) snapshot match, best Jaccard, and the admitted
    * verdict. Exactly-once pair emission by q29's first-matching-band
    * rule (no distinct anywhere).
    *
    * Scale shape: in production the snapshot's band table is a
    * MATERIALIZED index (built once, bucketed by band key) — the
    * per-refresh work is one signature pass over the delta plus a
    * band-key join the delta side dominates; no broadcast is forced
    * (the delta is refresh-cycle-bounded, so AQE broadcasts it when
    * small and shuffles both sides when a backfill batch is large).
    * Here both sides derive from one corpus scan since the snapshot
    * index isn't persisted between queries. */
  /** LSH band rows of ANY (`doc_id`, `text`) frame — q29's shape
    * factored for reuse by q173 and the [[graft.operators
    * .DeltaDedupIndex]] materialized snapshot index: one row per
    * (doc, band) with the band-1 fold kept for the first-matching-band
    * rule and the hashed word set attached for verification. */
  private[graft] def lshBandRows(docs: DataFrame): DataFrame = {
    val sig = minhashAgg(docs.sparkSession, docs)
    val words = docs
      .select(col("doc_id"),
        expr("opt_barrier(array_sort(array_distinct(" +
          s"md5_prefix_longs($wordsExpr, 8))))")
          .as("wset"))
      .withColumn("nw", size(col("wset")).cast("long"))
    def fold(seed: Long, ms: Seq[String]): Column =
      ms.foldLeft(lit(seed))((acc, m) => (acc * 127 + col(m)) % P)
    sig
      .select(col("doc_id"),
        fold(1L, Seq("m0", "m1", "m2", "m3")).as("band1"),
        fold(2L, Seq("m4", "m5", "m6", "m7")).as("band2"))
      .select(col("doc_id"), col("band1"),
        explode(array(
          struct(lit(1).as("bidx"), col("band1").as("band")),
          struct(lit(2).as("bidx"), col("band2").as("band")))).as("e"))
      .select(col("doc_id"), col("band1"),
        col("e.bidx").as("bidx"), col("e.band").as("band"))
      .join(words, "doc_id")
  }

  private def q173(s: SparkSession, d: String): DataFrame = {
    val bandRows = lshBandRows(
      Tables.documents(s, d).select(col("doc_id"), col("text")))
    val inc = bandRows.filter(col("doc_id") % 10 === 0)
      .select(col("bidx"), col("band"), col("doc_id").as("doc_n"),
        col("band1").as("b1n"), col("wset").as("wn"), col("nw").as("nn"))
    val snap = bandRows.filter(col("doc_id") % 10 =!= 0)
      .select(col("bidx"), col("band"), col("doc_id").as("doc_s"),
        col("band1").as("b1s"), col("wset").as("ws"), col("nw").as("ns"))
    val verdict = snap.join(inc, Seq("bidx", "band"))
      .filter((col("bidx") === 1 || col("b1n") =!= col("b1s")) &&
        least(col("nn"), col("ns")) * 10 >= greatest(col("nn"), col("ns")) * 7)
      .withColumn("inter",
        expr("opt_barrier(sorted_long_intersect_count(wn, ws))"))
      .withColumn("jaccard", round(
        col("inter").cast("double") / (col("nn") + col("ns") - col("inter")),
        6))
      .filter(col("jaccard") >= 0.7)
      .groupBy(col("doc_n"))
      .agg(count(lit(1)).as("n_matches"),
        min(col("doc_s")).as("first_match"),
        max(col("jaccard")).as("max_jaccard"))
    Tables.documents(s, d)
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("source"))
      .join(verdict.withColumnRenamed("doc_n", "doc_id"),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("first_match"), lit(-1L)).as("first_match"),
        coalesce(col("max_jaccard"), lit(0.0)).as("max_jaccard"),
        (coalesce(col("n_matches"), lit(0L)) === 0).as("admitted"))
  }

  private val q173Sql =
    s"""WITH sig AS ($q28Sql),
       |bands AS (
       |  SELECT doc_id, 1 AS bidx,
       |    (((((1 * 127 + m0) % $P) * 127 + m1) % $P * 127 + m2) % $P * 127 + m3) % $P AS band
       |  FROM sig
       |  UNION ALL
       |  SELECT doc_id, 2 AS bidx,
       |    (((((2 * 127 + m4) % $P) * 127 + m5) % $P * 127 + m6) % $P * 127 + m7) % $P AS band
       |  FROM sig),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_n, y.doc_id AS doc_s
       |  FROM bands x JOIN bands y
       |    ON x.bidx = y.bidx AND x.band = y.band
       |  WHERE x.doc_id % 10 = 0 AND y.doc_id % 10 <> 0),
       |wsets AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform($wordsSqlExpr,
       |      w -> CAST(('0x' || substr(md5(w),1,8)) AS BIGINT))) AS wset,
       |    CAST(len(list_distinct(list_transform($wordsSqlExpr,
       |      w -> CAST(('0x' || substr(md5(w),1,8)) AS BIGINT)))) AS BIGINT) AS nw
       |  FROM documents),
       |ver AS (
       |  SELECT doc_n, doc_s,
       |    round(CAST(len(list_intersect(wa.wset, wb.wset)) AS DOUBLE)
       |      / (wa.nw + wb.nw - len(list_intersect(wa.wset, wb.wset))), 6)
       |      AS jaccard
       |  FROM cand
       |  JOIN wsets wa ON wa.doc_id = doc_n
       |  JOIN wsets wb ON wb.doc_id = doc_s
       |  WHERE least(wa.nw, wb.nw) * 10 >= greatest(wa.nw, wb.nw) * 7
       |    AND round(CAST(len(list_intersect(wa.wset, wb.wset)) AS DOUBLE)
       |      / (wa.nw + wb.nw - len(list_intersect(wa.wset, wb.wset))), 6)
       |      >= 0.7),
       |agg AS (
       |  SELECT doc_n, count(*) AS n_matches, min(doc_s) AS first_match,
       |    max(jaccard) AS max_jaccard
       |  FROM ver GROUP BY 1)
       |SELECT d.doc_id, d.source,
       |  coalesce(a.n_matches, 0) AS n_matches,
       |  coalesce(a.first_match, CAST(-1 AS BIGINT)) AS first_match,
       |  coalesce(a.max_jaccard, 0.0) AS max_jaccard,
       |  (coalesce(a.n_matches, 0) = 0) AS admitted
       |FROM documents d LEFT JOIN agg a ON a.doc_n = d.doc_id
       |WHERE d.doc_id % 10 = 0""".stripMargin

  /** q177: REFRESH MANIFEST — the capstone of the DELTA story, composed
    * the way q171 composed the batch story: one plan that takes a
    * refresh batch (the q173 contract: the deterministic 10% slice
    * doc_id % 10 = 0, never the held-out src0 eval slice) through
    * every admission gate a continuously-refreshed training corpus
    * runs — quality rules (q149's integer thresholds), delta near-dup
    * vs the corpus SNAPSHOT (q173's asymmetric band join; admitted
    * verdicts only — the batch never pairs with itself, the snapshot
    * never pairs with itself), and decontamination (q166's 13-gram
    * hash gate against the eval slice) — then assigns EVERY batch doc
    * its reproducible split (q74's md5-byte rule) and output shard
    * (q169's md5-slice mod 32) and reports the refresh FUNNEL per
    * (split, shard, source): how many batch docs landed there, how
    * many survived each gate (quality → +admitted → +clean), and the
    * docs / tokens / bytes the refresh actually ADDS — the incremental
    * work order a shard writer executes after each refresh, WITH the
    * per-gate rejection accounting an ingest operator audits when a
    * refresh ships less than expected (on this synthetic corpus the
    * near-dup gate rejects most of the batch — visible in the
    * n_admitted column, not silently). (The embedding-space admission
    * leg runs in vec-id space — q176 /
    * [[graft.operators.DeltaSemDedupIndex]] — and composes in the
    * pipeline, not in this documents-keyed plan.)
    *
    * Scale shape: per-refresh cost ∝ delta everywhere — the only
    * corpus-sized terms are the snapshot band rows (in production the
    * [[graft.operators.DeltaDedupIndex]] bucketed table, scanned
    * without an exchange) and the eval-slice gram set (broadcast, eval
    * benchmarks don't grow with the corpus); the batch's own scans,
    * the gate joins, and the ≤ 2·32·sources manifest aggregation are
    * all delta-sized. All output columns integer-exact. */
  private def q177(s: SparkSession, d: String): DataFrame = {
    val nShards = 32
    val isBatch = col("doc_id") % 10 === 0
    val keepFlags = q149(s, d).select(col("doc_id"), col("keep"))
    val admFlags = q173(s, d)
      .select(col("doc_id"), col("admitted"))
    val docsG = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        expr("token_window_hashes(" + wordsExpr + ", 13)").as("grams"))
    val evalGrams = docsG.filter(col("source") === "src0")
      .select(explode(col("grams")).as("h")).distinct()
    val contam = docsG.filter(isBatch && col("source") =!= "src0")
      .select(col("doc_id"), explode(col("grams")).as("h"))
      .join(broadcast(evalGrams), Seq("h"))
      .select(col("doc_id"), lit(true).as("is_contam")).distinct()
    Tables.documents(s, d)
      .filter(isBatch && col("source") =!= "src0")
      .join(keepFlags, Seq("doc_id"))
      .join(admFlags, Seq("doc_id"))
      .join(contam, Seq("doc_id"), "left")
      .withColumn("shipped", col("keep") && col("admitted") &&
        coalesce(col("is_contam"), lit(false)) === false)
      .withColumn("split",
        when(substring(md5(col("doc_id").cast("string").cast("binary")),
          1, 2) <= "e5", "train").otherwise("holdout"))
      .withColumn("shard",
        expr("cast(conv(substring(md5(cast(cast(doc_id as string) as " +
          "binary)), 1, 8), 16, 10) as bigint)") % nShards)
      .groupBy(col("split"), col("shard"), col("source"))
      .agg(count(lit(1)).as("n_batch"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        sum(when(col("keep") && col("admitted"), 1L).otherwise(0L))
          .as("n_admitted"),
        sum(when(col("shipped"), 1L).otherwise(0L)).as("n_shipped"),
        sum(when(col("shipped"), size(expr(wordsExpr)).cast("long"))
          .otherwise(0L)).as("n_tokens"),
        sum(when(col("shipped"), col("n_chars")).otherwise(0L))
          .as("n_bytes"))
  }

  private val q177Sql =
    s"""WITH qual AS ($q149Sql),
       |adm AS (SELECT doc_id, admitted FROM ($q173Sql) t),
       |cdocs AS (
       |  SELECT doc_id, source, $wordsSqlExpr AS w,
       |    CAST(len($wordsSqlExpr) AS INT) AS n
       |  FROM documents),
       |cth AS (
       |  SELECT doc_id, source, n,
       |    list_transform(w, t -> list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(str_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
       |      (a, c) -> (a * 131 + c) % 2147483647)) AS th
       |  FROM cdocs),
       |cwins AS (
       |  SELECT doc_id, source,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), th[i : i + 12]),
       |      (a, t) -> (a * 1000003 + t) % 2147483647) AS h
       |  FROM (SELECT doc_id, source, th, unnest(range(1, n - 13 + 2)) AS i
       |        FROM cth WHERE n >= 13)),
       |cev AS (SELECT DISTINCT h FROM cwins WHERE source = 'src0'),
       |contam AS (
       |  SELECT DISTINCT t.doc_id
       |  FROM cwins t JOIN cev e ON e.h = t.h
       |  WHERE t.source <> 'src0' AND t.doc_id % 10 = 0)
       |SELECT
       |  CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) <= 'e5'
       |    THEN 'train' ELSE 'holdout' END AS split,
       |  CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
       |    AS BIGINT) % 32 AS shard,
       |  d.source,
       |  CAST(count(*) AS BIGINT) AS n_batch,
       |  CAST(sum(CASE WHEN q.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       |  CAST(sum(CASE WHEN q.keep AND a.admitted THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_admitted,
       |  CAST(sum(CASE WHEN q.keep AND a.admitted AND ct.doc_id IS NULL
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_shipped,
       |  CAST(sum(CASE WHEN q.keep AND a.admitted AND ct.doc_id IS NULL
       |    THEN len($wordsSqlExpr) ELSE 0 END) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN q.keep AND a.admitted AND ct.doc_id IS NULL
       |    THEN d.n_chars ELSE 0 END) AS BIGINT) AS n_bytes
       |FROM documents d
       |JOIN qual q ON q.doc_id = d.doc_id
       |JOIN adm a ON a.doc_id = d.doc_id
       |LEFT JOIN contam ct ON ct.doc_id = d.doc_id
       |WHERE d.doc_id % 10 = 0 AND d.source <> 'src0'
       |GROUP BY 1, 2, 3""".stripMargin

  /** q198: LINE-LEVEL C4 quality rules — the pass a real corpus build
    * runs BEFORE the q149 doc-level gate (C4 §2.2: drop lines without
    * terminal punctuation or with <N words; drop whole documents
    * containing '{' or the word "javascript"; keep documents with ≥3
    * retained sentences). Per document: line counts, per-rule ratios
    * in basis points (integer-exact, the q149 discipline), per-rule
    * flags, the composed keep, and a fail_mask so drops are auditable.
    *
    * The corpus's documents are single-line and punctuation-free, so
    * the LINING is a deterministic in-query FIXTURE (the F32/WavCodec
    * discipline — synthesize the missing physical structure, then run
    * the REAL rules over it): a line breaks after every word of ≤3
    * characters, and a line carries terminal punctuation iff its last
    * word's initial is ≤ 'm' — content-derived, so line lengths and
    * punctuation vary per document on both engines identically. The
    * brace/javascript rules run against the real token text (never
    * firing on this corpus — their firing paths are typed-spec-proved
    * on constructed rows, QueriesSmokeSpec).
    *
    * Scale shape: one token explode, line ids from a PER-DOCUMENT
    * running count (window partitioned by doc_id — never global), two
    * partial-aggregated shuffles ((doc, line) then doc). Nothing
    * pairwise, nothing corpus-global. */
  private[queries] def q198(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(expr(wordsExpr)).as(Seq("pos", "w")))
    // line id = breaks strictly BEFORE this word (first line is 0)
    val lined = tok.withColumn("line_no",
      coalesce(
        sum(when(length(col("w")) <= 3, 1L).otherwise(0L))
          .over(Window.partitionBy(col("doc_id")).orderBy(col("pos"))
            .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    val lines = lined.groupBy(col("doc_id"), col("line_no"))
      .agg(count(lit(1)).as("n_words"),
        max_by(col("w"), col("pos")).as("last_w"),
        max(col("w").contains("{").cast("long")).as("has_brace"),
        max((lower(col("w")) === "javascript").cast("long")).as("has_js"))
      .withColumn("term",
        (substring(col("last_w"), 1, 1) <= "m").cast("long"))
      .withColumn("kept",
        (col("term") === 1L && col("n_words") >= 3).cast("long"))
    lines.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("kept")).as("n_kept_lines"),
        sum(col("term")).as("n_term_lines"),
        sum((col("n_words") >= 3).cast("long")).as("n_ge3_lines"),
        max(col("has_brace")).as("any_brace"),
        max(col("has_js")).as("any_js"))
      .select(col("doc_id"), col("n_lines"), col("n_kept_lines"),
        expr("(10000L * n_term_lines) div n_lines").as("term_bp"),
        expr("(10000L * n_ge3_lines) div n_lines").as("ge3_bp"),
        (col("n_kept_lines") >= 3).as("r_sent"),
        (col("any_brace") === 0L).as("r_brace"),
        (col("any_js") === 0L).as("r_js"))
      .withColumn("keep", col("r_sent") && col("r_brace") && col("r_js"))
      .withColumn("fail_mask",
        when(col("r_sent"), 0L).otherwise(1L) +
          when(col("r_brace"), 0L).otherwise(2L) +
          when(col("r_js"), 0L).otherwise(4L))
  }

  private[queries] val q198Sql =
    s"""WITH tok AS (
       |  SELECT doc_id, pos, words[pos] AS w FROM (
       |    SELECT doc_id, words,
       |      unnest(range(1, len(words) + 1)) AS pos
       |    FROM (SELECT doc_id, $wordsSqlExpr AS words FROM documents))),
       |lined AS (
       |  SELECT doc_id, pos, w,
       |    coalesce(sum(CASE WHEN length(w) <= 3 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS line_no
       |  FROM tok),
       |lines AS (
       |  SELECT doc_id, line_no,
       |    CAST(count(*) AS BIGINT) AS n_words,
       |    arg_max(w, pos) AS last_w,
       |    max(CASE WHEN contains(w, '{') THEN 1 ELSE 0 END) AS has_brace,
       |    max(CASE WHEN lower(w) = 'javascript' THEN 1 ELSE 0 END)
       |      AS has_js
       |  FROM lined GROUP BY 1, 2),
       |flagged AS (
       |  SELECT *,
       |    CASE WHEN substr(last_w, 1, 1) <= 'm' THEN 1 ELSE 0 END AS term
       |  FROM lines),
       |doc AS (
       |  SELECT doc_id,
       |    CAST(count(*) AS BIGINT) AS n_lines,
       |    CAST(sum(CASE WHEN term = 1 AND n_words >= 3 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_kept_lines,
       |    CAST(sum(term) AS BIGINT) AS n_term_lines,
       |    CAST(sum(CASE WHEN n_words >= 3 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_ge3_lines,
       |    max(has_brace) AS any_brace,
       |    max(has_js) AS any_js
       |  FROM flagged GROUP BY 1)
       |SELECT doc_id, n_lines, n_kept_lines,
       |  (10000 * n_term_lines) // n_lines AS term_bp,
       |  (10000 * n_ge3_lines) // n_lines AS ge3_bp,
       |  (n_kept_lines >= 3) AS r_sent,
       |  (any_brace = 0) AS r_brace,
       |  (any_js = 0) AS r_js,
       |  (n_kept_lines >= 3 AND any_brace = 0 AND any_js = 0) AS keep,
       |  (CASE WHEN n_kept_lines >= 3 THEN 0 ELSE 1 END
       |   + CASE WHEN any_brace = 0 THEN 0 ELSE 2 END
       |   + CASE WHEN any_js = 0 THEN 0 ELSE 4 END) AS fail_mask
       |FROM doc""".stripMargin

  /** q199: the q157 corpus-build funnel EXTENDED with the q198
    * line-level gate in front (VERDICT r14 #5's composition leg): per
    * source, raw docs → line-rule survivors → (∧ doc-level q149)
    * quality survivors → (∧ not a near-dup cluster member) final docs
    * and chars. The line gate runs FIRST, as C4 does — its rejects
    * never reach the word-stat shuffle on a real pipeline; here both
    * gates read the same one corpus scan and the funnel is the
    * composed verdict. Same join discipline as q157: verdict frames
    * join back to documents by doc_id with no forced broadcast (AQE
    * decides), the documents table itself never reshuffles. */
  private def q199(s: SparkSession, d: String): DataFrame = {
    val lineKeep = q198(s, d)
      .select(col("doc_id"), col("keep").as("line_keep"))
    val keepFlags = q149(s, d).select(col("doc_id"), col("keep"))
    val (labels, _) =
      graft.operators.ConnectedComponents.minLabel(lshStarEdges(s, d))
    val dropped = labels.filter(col("node") =!= col("label"))
      .select(col("node").as("doc_id"), lit(true).as("is_dup"))
    Tables.documents(s, d)
      .join(lineKeep, "doc_id")
      .join(keepFlags, "doc_id")
      .join(dropped, Seq("doc_id"), "left")
      .withColumn("quality", col("line_keep") && col("keep"))
      .withColumn("ships",
        col("quality") && !coalesce(col("is_dup"), lit(false)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("line_keep"), 1L).otherwise(0L)).as("n_line_pass"),
        sum(when(col("quality"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("ships"), 1L).otherwise(0L)).as("n_final"),
        sum(when(col("ships"), col("n_chars")).otherwise(0L))
          .as("chars_final"))
  }

  private val q199Sql =
    s"""WITH RECURSIVE sig AS ($q28Sql),
       |bandt AS (
       |  SELECT doc_id, 1 AS bidx,
       |    (((((1 * 127 + m0) % $P) * 127 + m1) % $P * 127 + m2) % $P * 127 + m3) % $P AS band
       |  FROM sig
       |  UNION ALL
       |  SELECT doc_id, 2 AS bidx,
       |    (((((2 * 127 + m4) % $P) * 127 + m5) % $P * 127 + m6) % $P * 127 + m7) % $P AS band
       |  FROM sig),
       |stars AS (
       |  SELECT DISTINCT doc_id,
       |    min(doc_id) OVER (PARTITION BY bidx, band) AS root
       |  FROM bandt),
       |edges AS (
       |  SELECT doc_id AS src, root AS dst FROM stars WHERE doc_id <> root
       |  UNION ALL
       |  SELECT root AS src, doc_id AS dst FROM stars WHERE doc_id <> root),
       |lab AS (
       |  SELECT doc_id AS node, doc_id AS label FROM documents
       |  UNION
       |  SELECT e.dst AS node, lab.label AS label
       |  FROM lab JOIN edges e ON lab.node = e.src),
       |cc AS (SELECT node, min(label) AS label FROM lab GROUP BY node),
       |dropped AS (SELECT node AS doc_id FROM cc WHERE label <> node),
       |qual AS ($q149Sql),
       |lq AS ($q198Sql)
       |SELECT d.source,
       |  count(*) AS n_raw,
       |  CAST(sum(CASE WHEN l.keep THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_line_pass,
       |  CAST(sum(CASE WHEN l.keep AND q.keep THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_quality,
       |  CAST(sum(CASE WHEN l.keep AND q.keep AND dr.doc_id IS NULL
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
       |  CAST(sum(CASE WHEN l.keep AND q.keep AND dr.doc_id IS NULL
       |    THEN d.n_chars ELSE 0 END) AS BIGINT) AS chars_final
       |FROM documents d
       |JOIN lq l ON l.doc_id = d.doc_id
       |JOIN qual q ON q.doc_id = d.doc_id
       |LEFT JOIN dropped dr ON dr.doc_id = d.doc_id
       |GROUP BY 1""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q199_line_gated_corpus", q199, Some(q199Sql)),
    QueryDef("q198_c4_line_rules", q198, Some(q198Sql)),
    QueryDef("q177_refresh_manifest", q177, Some(q177Sql)),
    QueryDef("q173_delta_dedup", q173, Some(q173Sql)),
    QueryDef("q171_shipping_manifest", q171, Some(q171Sql)),
    QueryDef("q170_containment_recall", q170, Some(q170Sql)),
    QueryDef("q168_containment_neardup", q168, Some(q168Sql)),
    QueryDef("q167_intradoc_dedup", q167, Some(q167Sql)),
    QueryDef("q166_decontamination", q166, Some(q166Sql)),
    QueryDef("q165_training_mix_plan", q165, Some(q165Sql)),
    QueryDef("q164_mixture_weights", q164, Some(q164Sql)),
    QueryDef("q163_bpe_encode", q163, Some(q163Sql)),
    QueryDef("q162_bpe_train_rounds", q162, Some(q162Sql)),
    QueryDef("q161_lm_quality_filter", q161, Some(q161Sql)),
    QueryDef("q157_corpus_build", q157, Some(q157Sql)),
    QueryDef("q156_pii_redaction", q156, Some(q156Sql)),
    QueryDef("q155_banding_recall", q155, Some(q155Sql)),
    QueryDef("q154_rag_chunks", q154, Some(q154Sql)),
    QueryDef("q152_bpe_merge_step", q152, Some(q152Sql)),
    QueryDef("q150_dedup_materialize", q150, Some(q150Sql)),
    QueryDef("q149_quality_rules", q149, Some(q149Sql)),
    QueryDef("q144_similarity_histogram", q144, Some(q144Sql)),
    QueryDef("q138_oov_rate", q138, Some(q138Sql)),
    QueryDef("q139_length_histogram", q139, Some(q139Sql)),
    QueryDef("q134_boilerplate_strip", q134, Some(q134Sql)),
    QueryDef("q132_countmin_heavy_hitters", q132, Some(q132Sql)),
    QueryDef("q124_corpus_rarity_score", q124, Some(q124Sql)),
    QueryDef("q115_exact_substring_dedup", q115, Some(q115Sql)),
    QueryDef("q113_bigram_novelty", q113, Some(q113Sql)),
    QueryDef("q109_passage_dedup", q109, Some(q109Sql)),
    QueryDef("q104_simhash_near_dup", q104, Some(q104Sql)),
    QueryDef("q72_rolling_fingerprint", q72, Some(q72Sql)),
    QueryDef("q71_langid_agreement", q71, Some(q71Sql)),
    QueryDef("q23_token_counts", q23, Some(q23Sql)),
    QueryDef("q24_quality_score", q24, Some(q24Sql)),
    QueryDef("q25_langid", q25, Some(q25Sql)),
    QueryDef("q26_fingerprint", q26, Some(q26Sql)),
    QueryDef("q27_dedup_exact", q27, Some(q27Sql)),
    QueryDef("q28_minhash_signatures", q28, Some(q28Sql)),
    QueryDef("q29_lsh_near_dup", q29, Some(q29Sql)),
    QueryDef("q78_dup_clusters", q78, Some(q78Sql)),
    QueryDef("q79_canonical_selection", q79, Some(q79Sql)),
    QueryDef("q82_repetition", q82, Some(q82Sql)),
    QueryDef("q30_simhash", q30, Some(q30Sql)),
    QueryDef("q31_trigram_jaccard", q31, Some(q31Sql)),
    QueryDef("q35_binary_metadata", q35, Some(q35Sql)))
}
