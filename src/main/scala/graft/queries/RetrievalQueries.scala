package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Materialize, Tables}
import graft.expressions.NearestCentroid

/** Retrieval layer over the documents/embeddings corpus (driver north
  * star; beyond the reference's own surface): inverted-index keyword
  * search with an INTEGER-EXACT BM25-style score, brute-force semantic
  * ranking, and hybrid fusion by reciprocal rank — the query side of the
  * training-data engine (RAG candidate generation, eval-neighbor
  * mining, corpus exploration), sitting on the same token front as the
  * dedup family.
  *
  * Why the score is integer: BM25's idf is a log — a double — and the
  * r11 q170 failure proved that any measurement column computed through
  * engine-version-dependent double rounding is a hash-divergence channel
  * (QueryDef.scala conventions). This family's score replaces
  * `log((N-df+.5)/(df+.5))` with the integer rarity weight
  * `(10000·N) div df` and keeps BM25's two real mechanisms — tf
  * saturation and document-length normalization — in exact fixed-point
  * (milli/bp) BIGINT arithmetic:
  *
  *   norm_milli  = 250 + (750000·dl) div avgdl_milli          (b = 0.75)
  *   tfsat_milli = (tf·2200·1000) div (tf·1000 +
  *                   (1200·norm_milli) div 1000)              (k1 = 1.2)
  *   score(q,d)  = Σ_t  tfsat_milli(t,d) · ((10000·N) div df(t))
  *
  * Both engines compute identical BIGINTs, so ranks — and the emitted
  * scores themselves — hash-match under ANY driver DuckDB version.
  *
  * Scale shape (the production path is the materialized
  * [[graft.operators.InvertedTextIndex]]; these oracle queries derive
  * the same postings from one scan so DuckDB can replay them):
  *   - postings = one (doc,token-hash) shuffle with map-side combine;
  *     tokens hash to 60-bit md5 BEFORE shuffling (the q113 rule — the
  *     shuffle key is never the string; same hash as
  *     TextQueries.tokenHashes, change both together);
  *   - the query workload is FIXED-SIZE at any corpus scale: one
  *     content-addressed query doc per source (window partitioned by
  *     source — never a global sort), ≤4 rarest terms each;
  *   - candidate generation is a BROADCAST of ~80 term rows onto the
  *     postings scan — the corpus never shuffles against the queries —
  *     and rarest-term selection doubles as a df cap on candidate
  *     volume (the stop-shingle discipline applied to retrieval);
  *   - top-k windows partition by q_doc.
  */
object RetrievalQueries {

  private val wordsExpr = "split(text, ' ')"
  private val wordsSqlExpr = "str_split(text, ' ')"

  /** Terms per query doc, fused result depth, emitted top-k. */
  private[graft] val TermsPerQuery = 4
  private[graft] val FuseDepth = 20
  private[graft] val TopK = 5
  private[graft] val RrfK = 60

  // ---- shared Spark-side front (also the InvertedTextIndex kernel) --

  /** `col` → array of 60-bit md5 token hashes (same hash as
    * TextQueries.tokenHashes — the q113 rule: the shuffle key is never
    * the string; change the hash there and here together). Fused
    * kernel ([[graft.expressions.Md5PrefixLongs]], bit-identical to
    * the composed conv/substring/md5 form). */
  private[graft] def whArrayExprFor(textCol: String): String =
    s"md5_prefix_longs(split($textCol, ' '), 15)"

  private[graft] val whArrayExpr: String = whArrayExprFor("text")

  /** (doc_id, dl, wh, tf): distinct token-hash postings with term
    * frequency and document length. dl rides the groupBy keys (it is
    * functionally dependent on doc_id) so no second pass re-derives it.
    * Shared with [[graft.operators.InvertedTextIndex]] — the index is
    * this frame, materialized bucketed by wh. */
  private[graft] def postingRows(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"), expr(whArrayExpr).as("whs"))
      .withColumn("dl", size(col("whs")).cast("long"))
      .select(col("doc_id"), col("dl"), explode(col("whs")).as("wh"))
      .groupBy(col("doc_id"), col("dl"), col("wh"))
      .agg(count(lit(1)).as("tf"))
  }

  private def postings(s: SparkSession, d: String): DataFrame =
    postingRows(Tables.documents(s, d))

  /** The postings relation materialized ONCE per query invocation (the
    * WidePhash r16 / videoFrames r17 rule applied to the retrieval
    * front, r18): every query in this family references `post` 2-6
    * times — df aggregation, term selection, candidate scoring, PRF
    * feedback rounds — and Spark re-executes each reference's whole
    * scan+hash+explode+aggregate subtree (their projections differ, so
    * ReuseExchange cannot unify them; measured 10-15 parquet scans per
    * query plan). An executor-local [[Materialize.once]] evaluates the
    * frame once per invocation — always from the parquet inputs inside
    * the timed region, never across runs — and truncates the plan every
    * consumer compiles. At 100 TB this materialization IS the
    * production design: [[graft.operators.InvertedTextIndex]] serves
    * from exactly this frame persisted bucketed by wh; the in-plan
    * derivation exists so DuckDB can replay it. Construction runs the
    * checkpoint's labelled jobs. */
  private def postingsM(s: SparkSession, d: String): DataFrame =
    Materialize.once(postings(s, d), "retrieval.postings")

  /** (doc_id, pos, wh): POSITIONAL postings — every token occurrence
    * with its 0-based position. The phrase-search kernel (q183 derives
    * it inline from one scan; [[graft.operators.InvertedTextIndex]]
    * materializes it bucketed by wh as the `_pos` companion table). */
  private[graft] def positionRows(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"), posexplode(expr(whArrayExpr)).as(Seq("pos", "wh")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("wh"))
  }

  /** 1-row corpus stats (n_docs, avgdl_milli) — attached downstream via
    * the scalar-broadcast crossJoin pattern (PlanQualitySpec proves the
    * build side is a global aggregate). */
  private def stats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(size(expr(wordsExpr)).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .select(col("n_docs"),
        expr("(1000L * sum_dl) div n_docs").as("avgdl_milli"))

  /** One content-addressed query doc per source: row_number over
    * (md5(text), doc_id) INSIDE each source partition — the q155
    * sampling idiom, so the workload is ~|sources| queries at any
    * corpus size and no window is global. */
  private[graft] def queryDocs(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("text")), col("doc_id"))
    Tables.documents(s, d)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id").as("q_doc"))
  }

  /** Bound of [[queryDocs]]: one doc per source, and a corpus's sources
    * are a small fixed set (20 at every testdata scale). Every
    * query-side frame this family collects is bounded over it. */
  private[graft] val MaxQueryDocs = 256

  /** [[queryDocs]] collected once and re-entered as a local relation,
    * for the queries that feed it to several legs (the window chain
    * over documents then runs once, not per leg). */
  private def localQueryDocs(s: SparkSession, d: String): DataFrame =
    Materialize.local(queryDocs(s, d), "retrieval.query_docs", MaxQueryDocs).df

  /** ≤[[TermsPerQuery]] rarest terms per query doc: (q_doc, wh, df),
    * ranked (df asc, wh asc). Rarest-first is both the relevance choice
    * (rare terms discriminate) and the scale cap (their posting lists
    * are the shortest). */
  private def queryTerms(s: SparkSession, d: String,
      post: DataFrame, qdocs: DataFrame): DataFrame = {
    val dfreq = post.groupBy(col("wh")).agg(count(lit(1)).as("df"))
    val tw = Window.partitionBy(col("q_doc"))
      .orderBy(col("df").asc, col("wh").asc)
    post.select(col("doc_id"), col("wh"))
      .join(broadcast(qdocs), col("doc_id") === col("q_doc"))
      .join(dfreq, "wh")
      .withColumn("trn", row_number().over(tw))
      .filter(col("trn") <= TermsPerQuery)
      .select(col("q_doc"), col("wh"), col("df"))
  }

  /** Score candidate postings already joined with their query term and
    * corpus stats — input columns (q_doc, doc_id, tf, dl, df, n_docs,
    * avgdl_milli) — into (q_doc, doc_id, n_hit, score). Shared with
    * [[graft.operators.InvertedTextIndex.search]] so the index path is
    * formula-for-formula the oracle's. */
  private[graft] def scoreCandidates(cands: DataFrame): DataFrame =
    cands
      .withColumn("norm_milli",
        expr("250L + (750000L * dl) div avgdl_milli"))
      .withColumn("contrib",
        expr("((tf * 2200000L) div " +
          "(tf * 1000L + (1200L * norm_milli) div 1000L)) * " +
          "((10000L * n_docs) div df)"))
      .groupBy(col("q_doc"), col("doc_id"))
      .agg(count(lit(1)).as("n_hit"), sum(col("contrib")).as("score"))

  /** (q_doc, doc_id, n_hit, score): the integer BM25-style score over
    * every candidate doc sharing ≥1 query term, over a caller-supplied
    * postings frame (callers pass [[postingsM]] so the frame
    * materializes once per query). */
  private def scored(s: SparkSession, d: String, post: DataFrame,
      qdocs: DataFrame): DataFrame =
    scoreCandidates(
      post.join(broadcast(queryTerms(s, d, post, qdocs)), "wh")
        .crossJoin(broadcast(stats(s, d))))

  private[graft] def rankTop(df: DataFrame, rkName: String, k: Int)
      : DataFrame = {
    val w = Window.partitionBy(col("q_doc"))
      .orderBy(col("score").desc, col("doc_id").asc)
    df.withColumn(rkName, row_number().over(w)).filter(col(rkName) <= k)
  }

  // ---- shared oracle front ----------------------------------------

  /** The CTE prefix both oracles share — identical math, DuckDB `//`
    * for Spark `div`, every aggregate CAST AS BIGINT (HUGEINT guard). */
  private val frontSql =
    s"""WITH th AS (
       |  SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS wh
       |  FROM (SELECT doc_id, unnest($wordsSqlExpr) AS t FROM documents)),
       |post AS (
       |  SELECT doc_id, wh, CAST(count(*) AS BIGINT) AS tf
       |  FROM th GROUP BY doc_id, wh),
       |dlen AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM th GROUP BY doc_id),
       |stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    (1000 * CAST(sum(dl) AS BIGINT)) // CAST(count(*) AS BIGINT)
       |      AS avgdl_milli
       |  FROM dlen),
       |dfreq AS (
       |  SELECT wh, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY wh),
       |qdocs AS (
       |  SELECT doc_id AS q_doc FROM (
       |    SELECT doc_id, row_number() OVER (PARTITION BY source
       |      ORDER BY md5(text), doc_id) AS rn
       |    FROM documents) WHERE rn = 1),
       |terms AS (
       |  SELECT q_doc, wh, df FROM (
       |    SELECT q.q_doc, p.wh, f.df, row_number() OVER (
       |      PARTITION BY q.q_doc ORDER BY f.df, p.wh) AS trn
       |    FROM qdocs q JOIN post p ON p.doc_id = q.q_doc
       |    JOIN dfreq f ON f.wh = p.wh) WHERE trn <= $TermsPerQuery),
       |hits AS (
       |  SELECT t.q_doc, p.doc_id,
       |    ((p.tf * 2200000) //
       |      (p.tf * 1000 + (1200 * (250 + (750000 * l.dl) // s.avgdl_milli)) // 1000))
       |      * ((10000 * s.n_docs) // t.df) AS contrib
       |  FROM terms t JOIN post p ON p.wh = t.wh
       |  JOIN dlen l ON l.doc_id = p.doc_id CROSS JOIN stats s),
       |scored AS (
       |  SELECT q_doc, doc_id, CAST(count(*) AS BIGINT) AS n_hit,
       |    CAST(sum(contrib) AS BIGINT) AS score
       |  FROM hits GROUP BY q_doc, doc_id)""".stripMargin

  // ---- q180: keyword search ---------------------------------------

  /** q180: inverted-index keyword top-k. One fixed query workload (one
    * content-addressed doc per source, its [[TermsPerQuery]] rarest
    * terms), integer BM25-style scoring, top-[[TopK]] per query with
    * (score desc, doc_id asc) determinism. */
  private def q180(s: SparkSession, d: String): DataFrame =
    rankTop(scored(s, d, postingsM(s, d), queryDocs(s, d)), "rk", TopK)
      .select(col("q_doc"), col("rk"), col("doc_id"), col("n_hit"),
        col("score"))

  private val q180Sql =
    s"""$frontSql
       |SELECT q_doc, rk, doc_id, n_hit, score FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_doc
       |    ORDER BY score DESC, doc_id) AS rk
       |  FROM scored) WHERE rk <= $TopK""".stripMargin

  // ---- q181: hybrid keyword + semantic fusion ---------------------

  /** q181: hybrid retrieval — the keyword ranking fused with a
    * brute-force cosine ranking of the same query docs' embeddings by
    * reciprocal rank (RRF, Cormack et al. 2009), in exact integer ppm:
    * `1000000 div (60 + rank)` summed over the two systems (0 when a
    * doc appears in only one list). Rank fusion needs no score
    * calibration between systems — which is also what makes it
    * integer-exact: ranks are integers, so the fused score is too.
    *
    * The semantic side broadcasts ~|sources| query vectors onto the
    * embeddings scan (q32's shape — the corpus never shuffles); docs
    * without an embedding row simply have no semantic rank and fuse
    * from the keyword list alone. Fusion itself joins two ≤(queries ×
    * [[FuseDepth]])-row frames — negligible at any corpus size. */
  private def q181(s: SparkSession, d: String): DataFrame = {
    val qdocs = localQueryDocs(s, d)
    val kw = rankTop(scored(s, d, postingsM(s, d), qdocs), "rk_kw", FuseDepth)
      .select(col("q_doc"), col("doc_id"), col("rk_kw"))
    val emb = Tables.embeddings(s, d)
      .withColumn("nrm", graft.functions.VectorFunctions.norm(col("embedding")))
    val qembs = emb.join(broadcast(qdocs),
        col("vec_id") === col("q_doc"))
      .select(col("q_doc"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val sw = Window.partitionBy(col("q_doc"))
      .orderBy(col("cos_sim").desc, col("doc_id").asc)
    val sem = emb.select(col("vec_id").as("doc_id"),
        col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
      .crossJoin(broadcast(qembs))
      .select(col("q_doc"), col("doc_id"),
        round(expr("float_vector_dot(q_emb, c_emb)") /
          (col("q_nrm") * col("c_nrm")), 6).as("cos_sim"))
      .withColumn("rk_sem", row_number().over(sw))
      .filter(col("rk_sem") <= FuseDepth)
      .select(col("q_doc"), col("doc_id"), col("rk_sem"))
    val rrfW = Window.partitionBy(col("q_doc"))
      .orderBy(col("rrf_ppm").desc, col("doc_id").asc)
    kw.join(sem, Seq("q_doc", "doc_id"), "full_outer")
      .select(col("q_doc"), col("doc_id"),
        (coalesce(expr(s"1000000L div ($RrfK + rk_kw)"), lit(0L)) +
          coalesce(expr(s"1000000L div ($RrfK + rk_sem)"), lit(0L)))
          .as("rrf_ppm"),
        coalesce(col("rk_kw"), lit(0)).as("rk_kw"),
        coalesce(col("rk_sem"), lit(0)).as("rk_sem"))
      .withColumn("rk", row_number().over(rrfW)).filter(col("rk") <= TopK)
      .select(col("q_doc"), col("rk"), col("doc_id"), col("rrf_ppm"),
        col("rk_kw"), col("rk_sem"))
  }

  private val q181Sql = {
    import graft.functions.VectorFunctions.cosineSql
    s"""$frontSql,
       |kw AS (
       |  SELECT q_doc, doc_id, rk_kw FROM (
       |    SELECT q_doc, doc_id, row_number() OVER (PARTITION BY q_doc
       |      ORDER BY score DESC, doc_id) AS rk_kw
       |    FROM scored) WHERE rk_kw <= $FuseDepth),
       |sem AS (
       |  SELECT q_doc, doc_id, rk_sem FROM (
       |    SELECT q.q_doc, c.vec_id AS doc_id, row_number() OVER (
       |      PARTITION BY q.q_doc ORDER BY
       |        round(${cosineSql("qe.embedding", "c.embedding")}, 6) DESC,
       |        c.vec_id) AS rk_sem
       |    FROM qdocs q JOIN embeddings qe ON qe.vec_id = q.q_doc
       |    CROSS JOIN embeddings c) WHERE rk_sem <= $FuseDepth),
       |fused AS (
       |  SELECT coalesce(k.q_doc, s2.q_doc) AS q_doc,
       |    coalesce(k.doc_id, s2.doc_id) AS doc_id,
       |    coalesce(1000000 // ($RrfK + k.rk_kw), 0) +
       |      coalesce(1000000 // ($RrfK + s2.rk_sem), 0) AS rrf_ppm,
       |    coalesce(k.rk_kw, 0) AS rk_kw,
       |    coalesce(s2.rk_sem, 0) AS rk_sem
       |  FROM kw k FULL OUTER JOIN sem s2
       |    ON k.q_doc = s2.q_doc AND k.doc_id = s2.doc_id)
       |SELECT q_doc, rk, doc_id, rrf_ppm, rk_kw, rk_sem FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_doc
       |    ORDER BY rrf_ppm DESC, doc_id) AS rk
       |  FROM fused) WHERE rk <= $TopK""".stripMargin
  }

  // ---- q182: known-item retrieval recall --------------------------

  /** q182: the retrieval family's trust measurement (the q175/q155
    * pattern — an oracle-pinned quality curve, not a new mechanism).
    * Known-item task: each query doc's QUERY is an 8-token quote (token
    * positions 3-10, 1-based — every corpus doc has ≥10 tokens), its
    * TARGET is the doc itself. Three systems answer: keyword search
    * from the quote's rarest terms, semantic ranking from the full
    * embedding (its sanity pin: cosine(self) = 1 ⇒ rank 1), and the
    * q181 hybrid fusion of both. Per system the output pins queries
    * answered, targets found in the depth-[[FuseDepth]] list, found at
    * rank 1 / rank ≤ 5, and the reciprocal-rank mass as integer ppm
    * (`1000000 div rank` summed — MRR without the double division).
    * A regression anywhere in the retrieval stack — scoring, term
    * selection, fusion arithmetic — moves one of these integers and
    * fails parity.
    *
    * Scale shape: identical to q180/q181 (fixed query workload,
    * broadcast terms, partitioned windows); the measurement adds only
    * ≤3×|queries|-row bookkeeping on top. */
  /** q182/q190's known-item query terms: rarest [[TermsPerQuery]]
    * tokens among quote positions 3-10 (1-based) of each query doc. */
  private def quoteTerms(s: SparkSession, d: String,
      post: DataFrame, qdocs: DataFrame): DataFrame = {
    val quoteTok = Tables.documents(s, d)
      .join(broadcast(qdocs), col("doc_id") === col("q_doc"))
      .select(col("q_doc"), posexplode(expr(whArrayExpr)).as(Seq("p", "wh")))
      .filter(col("p").between(2, 9)) // 0-based ⇔ 1-based positions 3-10
      .select(col("q_doc"), col("wh")).distinct()
    val dfreq = post.groupBy(col("wh")).agg(count(lit(1)).as("df"))
    val tw = Window.partitionBy(col("q_doc"))
      .orderBy(col("df").asc, col("wh").asc)
    quoteTok.join(dfreq, "wh")
      .withColumn("trn", row_number().over(tw))
      .filter(col("trn") <= TermsPerQuery)
      .select(col("q_doc"), col("wh"), col("df"))
  }

  /** Per-system self-rank rows for the known-item aggregation:
    * (system, q_doc, self_rk) — NULL self_rk when the target is absent
    * from `list`. */
  private def selfRank(list: DataFrame, base: DataFrame, rkCol: String,
      sys: String): DataFrame =
    base.join(
        list.filter(col("doc_id") === col("q_doc"))
          .select(col("q_doc"), col(rkCol).cast("long").as("self_rk")),
        Seq("q_doc"), "left")
      .select(lit(sys).as("system"), col("q_doc"), col("self_rk"))

  /** The known-item recall aggregation shared by q182/q190. */
  private def recallAgg(rows: DataFrame): DataFrame =
    rows.groupBy(col("system"))
      .agg(count(lit(1)).as("n_queries"),
        count(col("self_rk")).as("n_found"),
        count(when(col("self_rk") === 1, 1)).as("n_top1"),
        count(when(col("self_rk") <= 5, 1)).as("n_top5"),
        coalesce(sum(expr("1000000L div self_rk")), lit(0L))
          .as("mrr_ppm_sum"))

  private def q182(s: SparkSession, d: String): DataFrame = {
    val post = postingsM(s, d)
    val qdocs = localQueryDocs(s, d)
    val terms = quoteTerms(s, d, post, qdocs)

    val kw = rankTop(
      scoreCandidates(post.join(broadcast(terms), "wh")
        .crossJoin(broadcast(stats(s, d)))),
      "rk_kw", FuseDepth)
      .select(col("q_doc"), col("doc_id"), col("rk_kw"))

    val emb = Tables.embeddings(s, d)
      .withColumn("nrm", graft.functions.VectorFunctions.norm(col("embedding")))
    val qembs = emb.join(broadcast(qdocs), col("vec_id") === col("q_doc"))
      .select(col("q_doc"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val sw = Window.partitionBy(col("q_doc"))
      .orderBy(col("cos_sim").desc, col("doc_id").asc)
    val sem = emb.select(col("vec_id").as("doc_id"),
        col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
      .crossJoin(broadcast(qembs))
      .select(col("q_doc"), col("doc_id"),
        round(expr("float_vector_dot(q_emb, c_emb)") /
          (col("q_nrm") * col("c_nrm")), 6).as("cos_sim"))
      .withColumn("rk_sem", row_number().over(sw))
      .filter(col("rk_sem") <= FuseDepth)
      .select(col("q_doc"), col("doc_id"), col("rk_sem"))

    val rrfW = Window.partitionBy(col("q_doc"))
      .orderBy(col("rrf_ppm").desc, col("doc_id").asc)
    val hyb = kw.join(sem, Seq("q_doc", "doc_id"), "full_outer")
      .select(col("q_doc"), col("doc_id"),
        (coalesce(expr(s"1000000L div ($RrfK + rk_kw)"), lit(0L)) +
          coalesce(expr(s"1000000L div ($RrfK + rk_sem)"), lit(0L)))
          .as("rrf_ppm"))
      .withColumn("rk_hyb", row_number().over(rrfW))
      .select(col("q_doc"), col("doc_id"), col("rk_hyb"))

    val semBase = qembs.select(col("q_doc"))
    recallAgg(selfRank(kw, qdocs, "rk_kw", "kw")
      .unionByName(selfRank(sem, semBase, "rk_sem", "sem"))
      .unionByName(selfRank(hyb, qdocs, "rk_hyb", "hyb")))
  }

  /** Shared oracle CTEs for the known-item KEYWORD leg (q182/q190):
    * quote-term selection and the integer BM25 ranking to depth
    * [[FuseDepth]]. Appends to [[frontSql]]'s CTE list. */
  private val knownItemKwSql =
    s"""quote_tok AS (
       |  SELECT DISTINCT q.q_doc,
       |    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS wh
       |  FROM qdocs q JOIN (
       |    SELECT doc_id, unnest($wordsSqlExpr) AS t,
       |      generate_subscripts($wordsSqlExpr, 1) AS o
       |    FROM documents) x ON x.doc_id = q.q_doc
       |  WHERE x.o BETWEEN 3 AND 10),
       |qterms AS (
       |  SELECT q_doc, wh, df FROM (
       |    SELECT qt.q_doc, qt.wh, f.df, row_number() OVER (
       |      PARTITION BY qt.q_doc ORDER BY f.df, qt.wh) AS trn
       |    FROM quote_tok qt JOIN dfreq f ON f.wh = qt.wh)
       |  WHERE trn <= $TermsPerQuery),
       |khits AS (
       |  SELECT t.q_doc, p.doc_id,
       |    ((p.tf * 2200000) //
       |      (p.tf * 1000 + (1200 * (250 + (750000 * l.dl) // s.avgdl_milli)) // 1000))
       |      * ((10000 * s.n_docs) // t.df) AS contrib
       |  FROM qterms t JOIN post p ON p.wh = t.wh
       |  JOIN dlen l ON l.doc_id = p.doc_id CROSS JOIN stats s),
       |kscored AS (
       |  SELECT q_doc, doc_id, CAST(sum(contrib) AS BIGINT) AS score
       |  FROM khits GROUP BY q_doc, doc_id),
       |kw AS (
       |  SELECT q_doc, doc_id, rk_kw FROM (
       |    SELECT q_doc, doc_id, row_number() OVER (PARTITION BY q_doc
       |      ORDER BY score DESC, doc_id) AS rk_kw
       |    FROM kscored) WHERE rk_kw <= $FuseDepth)""".stripMargin

  private val q182Sql = {
    import graft.functions.VectorFunctions.cosineSql
    s"""$frontSql,
       |$knownItemKwSql,
       |sem AS (
       |  SELECT q_doc, doc_id, rk_sem FROM (
       |    SELECT q.q_doc, c.vec_id AS doc_id, row_number() OVER (
       |      PARTITION BY q.q_doc ORDER BY
       |        round(${cosineSql("qe.embedding", "c.embedding")}, 6) DESC,
       |        c.vec_id) AS rk_sem
       |    FROM qdocs q JOIN embeddings qe ON qe.vec_id = q.q_doc
       |    CROSS JOIN embeddings c) WHERE rk_sem <= $FuseDepth),
       |hyb AS (
       |  SELECT q_doc, doc_id, row_number() OVER (PARTITION BY q_doc
       |    ORDER BY rrf_ppm DESC, doc_id) AS rk_hyb
       |  FROM (
       |    SELECT coalesce(k.q_doc, s2.q_doc) AS q_doc,
       |      coalesce(k.doc_id, s2.doc_id) AS doc_id,
       |      coalesce(1000000 // ($RrfK + k.rk_kw), 0) +
       |        coalesce(1000000 // ($RrfK + s2.rk_sem), 0) AS rrf_ppm
       |    FROM kw k FULL OUTER JOIN sem s2
       |      ON k.q_doc = s2.q_doc AND k.doc_id = s2.doc_id)),
       |long_form AS (
       |  SELECT 'kw' AS system, q.q_doc,
       |    (SELECT CAST(rk_kw AS BIGINT) FROM kw
       |     WHERE kw.q_doc = q.q_doc AND kw.doc_id = q.q_doc) AS self_rk
       |  FROM qdocs q
       |  UNION ALL
       |  SELECT 'sem' AS system, qe.vec_id AS q_doc,
       |    (SELECT CAST(rk_sem AS BIGINT) FROM sem
       |     WHERE sem.q_doc = qe.vec_id AND sem.doc_id = qe.vec_id) AS self_rk
       |  FROM qdocs q2 JOIN embeddings qe ON qe.vec_id = q2.q_doc
       |  UNION ALL
       |  SELECT 'hyb' AS system, q3.q_doc,
       |    (SELECT CAST(rk_hyb AS BIGINT) FROM hyb
       |     WHERE hyb.q_doc = q3.q_doc AND hyb.doc_id = q3.q_doc) AS self_rk
       |  FROM qdocs q3)
       |SELECT system, CAST(count(*) AS BIGINT) AS n_queries,
       |  CAST(count(self_rk) AS BIGINT) AS n_found,
       |  CAST(count(CASE WHEN self_rk = 1 THEN 1 END) AS BIGINT) AS n_top1,
       |  CAST(count(CASE WHEN self_rk <= 5 THEN 1 END) AS BIGINT) AS n_top5,
       |  coalesce(CAST(sum(1000000 // self_rk) AS BIGINT), 0) AS mrr_ppm_sum
       |FROM long_form GROUP BY system""".stripMargin
  }

  // ---- q183: positional phrase search -----------------------------

  /** q183: exact-phrase retrieval — the positional-intersection
    * algorithm every inverted-index engine runs for quoted queries.
    * Each query doc contributes a 3-token phrase (1-based token
    * positions 3-5 of its text); a document matches at base position p
    * when the phrase's token hashes appear at p, p+1, p+2 — computed by
    * joining positional postings to the phrase terms and aligning on
    * `base = pos − offset`, then requiring all 3 DISTINCT offsets at
    * one base (repeated words inside a phrase are handled by the
    * distinct-offset count, the textbook subtlety). Output per query:
    * matching docs, total occurrences, first match — the source doc
    * always matches its own phrase, so n_docs_hit ≥ 1 is the built-in
    * sanity pin.
    *
    * Scale shape: the phrase table is ≤3×|queries| rows, broadcast;
    * candidate volume is the phrase terms' posting lists (tiny under a
    * realistic vocabulary; on this 31-word corpus ~3/31 of all corpus
    * positions, still one broadcast join + one (q,doc,base)-keyed
    * combine — never a corpus self-join). The same algorithm runs
    * against [[graft.operators.InvertedTextIndex]] postings extended
    * with positions; the oracle form derives them inline so DuckDB can
    * replay it. */
  private def q183(s: SparkSession, d: String): DataFrame = {
    // referenced by both the phrase extraction and the candidate join —
    // materialized once per invocation (the postingsM rule; the
    // production path reads the InvertedTextIndex `_pos` companion)
    val th2 = Materialize.once(positionRows(Tables.documents(s, d)),
      "q183.positions")
    val phrase = th2
      .join(broadcast(queryDocs(s, d)), col("doc_id") === col("q_doc"))
      .filter(col("pos").between(2, 4)) // 0-based ⇔ 1-based positions 3-5
      .select(col("q_doc"), (col("pos") - 2).as("off"), col("wh"))
    val occ = th2.join(broadcast(phrase), "wh")
      .select(col("q_doc"), col("doc_id"), (col("pos") - col("off")).as("base"),
        col("off"))
      .groupBy(col("q_doc"), col("doc_id"), col("base"))
      .agg(countDistinct(col("off")).as("k"))
      .filter(col("k") === 3)
    occ.groupBy(col("q_doc"))
      .agg(countDistinct(col("doc_id")).as("n_docs_hit"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"))
  }

  private val q183Sql =
    s"""WITH th2 AS (
       |  SELECT doc_id, o, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS wh
       |  FROM (SELECT doc_id, unnest($wordsSqlExpr) AS t,
       |          generate_subscripts($wordsSqlExpr, 1) AS o
       |        FROM documents)),
       |qdocs AS (
       |  SELECT doc_id AS q_doc FROM (
       |    SELECT doc_id, row_number() OVER (PARTITION BY source
       |      ORDER BY md5(text), doc_id) AS rn
       |    FROM documents) WHERE rn = 1),
       |phrase AS (
       |  SELECT q.q_doc, t.o - 3 AS off, t.wh
       |  FROM qdocs q JOIN th2 t ON t.doc_id = q.q_doc
       |  WHERE t.o BETWEEN 3 AND 5),
       |occ AS (
       |  SELECT p.q_doc, t.doc_id, t.o - p.off AS base
       |  FROM phrase p JOIN th2 t ON t.wh = p.wh
       |  GROUP BY p.q_doc, t.doc_id, t.o - p.off
       |  HAVING count(DISTINCT p.off) = 3)
       |SELECT q_doc, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_hit,
       |  CAST(count(*) AS BIGINT) AS n_occurrences,
       |  min(doc_id) AS first_doc
       |FROM occ GROUP BY q_doc""".stripMargin

  // ---- q184: snippet extraction -----------------------------------

  /** q184: search-result snippets — for every q180 top-[[TopK]] hit,
    * the first position where one of the query's terms occurs in the
    * doc (1-based) and the 5-token window starting ≤2 tokens before it,
    * the result presentation every search stack builds from its
    * positional index. Positions are integers on both engines; the
    * snippet string itself uses only constructs proven green elsewhere
    * (str_split + 1-based list slice + array_to_string — the q115/q174
    * oracle kernel), never derived doubles.
    *
    * Scale shape: the ranked hits are ≤|queries|×[[TopK]] rows —
    * BROADCAST twice, first onto the term-positional scan (which is
    * itself bounded by the query terms' posting lists, q183's shape),
    * then onto the documents scan to fetch text — the corpus never
    * shuffles. The production path reads positions from the
    * [[graft.operators.InvertedTextIndex]] `_pos` companion instead of
    * deriving them (same IN-list pruning as phraseSearch). */
  private def q184(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val post = postingsM(s, d)
    val qdocs = localQueryDocs(s, d)
    // the ranked hits are referenced twice (position probe + text
    // fetch) — collected once
    val ranked = Materialize.local(
      rankTop(scored(s, d, post, qdocs), "rk", TopK)
        .select(col("q_doc"), col("rk"), col("doc_id")),
      "q184.ranked", MaxQueryDocs * TopK).df
    val firstHit = positionRows(docs)
      .join(broadcast(
        queryTerms(s, d, post, qdocs).select(col("q_doc"), col("wh"))),
        "wh")
      .join(broadcast(ranked.select(col("q_doc"), col("doc_id"))),
        Seq("q_doc", "doc_id"))
      .groupBy(col("q_doc"), col("doc_id"))
      .agg(min(col("pos") + 1L).as("first_pos")) // 1-based on both engines
    val hits = ranked.join(firstHit, Seq("q_doc", "doc_id"))
      .withColumn("snip_start", greatest(lit(1L), col("first_pos") - 2L))
    docs.select(col("doc_id"), col("text"))
      .join(broadcast(hits), "doc_id")
      .select(col("q_doc"), col("rk"), col("doc_id"), col("first_pos"),
        col("snip_start"),
        expr("array_join(slice(split(text, ' '), cast(snip_start as int), 5), ' ')")
          .as("snippet"))
  }

  private val q184Sql =
    s"""$frontSql,
       |ranked AS (
       |  SELECT q_doc, rk, doc_id FROM (
       |    SELECT q_doc, doc_id, row_number() OVER (PARTITION BY q_doc
       |      ORDER BY score DESC, doc_id) AS rk
       |    FROM scored) WHERE rk <= $TopK),
       |th2 AS (
       |  SELECT doc_id, o, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS wh
       |  FROM (SELECT doc_id, unnest($wordsSqlExpr) AS t,
       |          generate_subscripts($wordsSqlExpr, 1) AS o
       |        FROM documents)),
       |firsthit AS (
       |  SELECT t.q_doc, p.doc_id, CAST(min(p.o) AS BIGINT) AS first_pos
       |  FROM terms t JOIN th2 p ON p.wh = t.wh
       |  JOIN ranked r ON r.q_doc = t.q_doc AND r.doc_id = p.doc_id
       |  GROUP BY t.q_doc, p.doc_id)
       |SELECT r.q_doc, r.rk, r.doc_id, f.first_pos,
       |  CAST(greatest(1, f.first_pos - 2) AS BIGINT) AS snip_start,
       |  array_to_string($wordsSqlExpr[
       |    CAST(greatest(1, f.first_pos - 2) AS BIGINT) :
       |    CAST(greatest(1, f.first_pos - 2) + 4 AS BIGINT)], ' ') AS snippet
       |FROM ranked r
       |JOIN firsthit f ON f.q_doc = r.q_doc AND f.doc_id = r.doc_id
       |JOIN documents d ON d.doc_id = r.doc_id""".stripMargin

  // ---- q185: pseudo-relevance-feedback expansion -------------------

  /** Pseudo-relevant docs per query, expansion terms added from them. */
  private[graft] val PrfDocs = 3
  private[graft] val ExpTermsPerQuery = 2

  /** q185: query expansion by pseudo-relevance feedback (the RM3
    * family, Lavrenko & Croft 2001, in integer-exact form): take each
    * query's top-[[PrfDocs]] keyword hits as pseudo-relevant, rank the
    * terms they contain that the query did NOT use by (support across
    * the pseudo-relevant docs DESC, df ASC, wh ASC), adopt the top
    * [[ExpTermsPerQuery]] as expansion terms, and re-run the scored
    * retrieval with the widened term set — the classic recall lever
    * when the original terms under-describe the need. Ranks, supports,
    * and scores are all integers, so the expanded ranking hash-matches
    * under any oracle engine.
    *
    * Scale shape: q180's twice — the feedback round adds one broadcast
    * of ≤|queries|×[[PrfDocs]] hit rows onto the postings scan (term
    * harvesting) and the re-score broadcasts ≤6 terms/query instead of
    * 4; candidate volume stays the adopted terms' posting lists, and
    * the fixed expansion budget (with the df-ASC tiebreak preferring
    * the rarest equally-supported terms) is the cap that keeps it so.
    * The corpus shuffles exactly as often as q180: never. */
  private def q185(s: SparkSession, d: String): DataFrame = {
    val post = postingsM(s, d)
    val qdocs = localQueryDocs(s, d)
    // terms is referenced twice (the anti-join and the widened term
    // set) — collected once; the first scoring round it feeds (prdocs)
    // feeds the expansion aggregation once
    val terms = Materialize.local(queryTerms(s, d, post, qdocs),
      "q185.terms", MaxQueryDocs * TermsPerQuery).df
    val st = Materialize.local(stats(s, d), "q185.stats", 1).df
    val prdocs = rankTop(scoreCandidates(
        post.join(broadcast(terms), "wh").crossJoin(broadcast(st))),
        "rk", PrfDocs)
      .select(col("q_doc"), col("doc_id"))
    val dfreq = post.groupBy(col("wh")).agg(count(lit(1)).as("df"))
    val ew = Window.partitionBy(col("q_doc"))
      .orderBy(col("nd").desc, col("df").asc, col("wh").asc)
    val exps = post.select(col("doc_id"), col("wh"))
      .join(broadcast(prdocs), "doc_id")
      .groupBy(col("q_doc"), col("wh"))
      .agg(count(lit(1)).as("nd"))
      .join(terms.select(col("q_doc"), col("wh")), Seq("q_doc", "wh"),
        "left_anti")
      .join(dfreq, "wh")
      .withColumn("ern", row_number().over(ew))
      .filter(col("ern") <= ExpTermsPerQuery)
      .select(col("q_doc"), col("wh"), col("df"))
    val allTerms = terms.unionByName(exps)
    rankTop(scoreCandidates(
        post.join(broadcast(allTerms), "wh")
          .crossJoin(broadcast(st))), "rk", TopK)
      .select(col("q_doc"), col("rk"), col("doc_id"), col("n_hit"),
        col("score"))
  }

  private val q185Sql =
    s"""$frontSql,
       |prdocs AS (
       |  SELECT q_doc, doc_id FROM (
       |    SELECT q_doc, doc_id, row_number() OVER (PARTITION BY q_doc
       |      ORDER BY score DESC, doc_id) AS rk
       |    FROM scored) WHERE rk <= $PrfDocs),
       |expcand AS (
       |  SELECT pr.q_doc, p.wh, CAST(count(*) AS BIGINT) AS nd
       |  FROM prdocs pr JOIN post p ON p.doc_id = pr.doc_id
       |  GROUP BY pr.q_doc, p.wh),
       |exps AS (
       |  SELECT q_doc, wh, df FROM (
       |    SELECT c.q_doc, c.wh, f.df, row_number() OVER (
       |      PARTITION BY c.q_doc
       |      ORDER BY c.nd DESC, f.df, c.wh) AS ern
       |    FROM expcand c JOIN dfreq f ON f.wh = c.wh
       |    WHERE NOT EXISTS (SELECT 1 FROM terms t
       |      WHERE t.q_doc = c.q_doc AND t.wh = c.wh))
       |  WHERE ern <= $ExpTermsPerQuery),
       |allterms AS (
       |  SELECT q_doc, wh, df FROM terms
       |  UNION ALL SELECT q_doc, wh, df FROM exps),
       |hits2 AS (
       |  SELECT t.q_doc, p.doc_id,
       |    ((p.tf * 2200000) //
       |      (p.tf * 1000 + (1200 * (250 + (750000 * l.dl) // s.avgdl_milli)) // 1000))
       |      * ((10000 * s.n_docs) // t.df) AS contrib
       |  FROM allterms t JOIN post p ON p.wh = t.wh
       |  JOIN dlen l ON l.doc_id = p.doc_id CROSS JOIN stats s),
       |scored2 AS (
       |  SELECT q_doc, doc_id, CAST(count(*) AS BIGINT) AS n_hit,
       |    CAST(sum(contrib) AS BIGINT) AS score
       |  FROM hits2 GROUP BY q_doc, doc_id)
       |SELECT q_doc, rk, doc_id, n_hit, score FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_doc
       |    ORDER BY score DESC, doc_id) AS rk
       |  FROM scored2) WHERE rk <= $TopK""".stripMargin

  // ---- q186: MMR result diversification ---------------------------

  /** MMR trade-off λ in milli (500 = equal weight). */
  private[graft] val MmrLambdaMilli = 500L

  /** q186: maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    * 1998) of each query's depth-[[FuseDepth]] keyword candidates into a
    * DIVERSIFIED top-[[TopK]] — the training-data variant of search
    * diversification: when near-duplicate candidates crowd a ranking,
    * pick the next result by `λ·relevance − (1−λ)·max-similarity-to-
    * already-picked`. All integer: relevance is the score in basis
    * points of the query's best score (nested integer divs — never
    * `10000·score`, which overflows BIGINT at corpus scale, the q174
    * checksum lesson), similarity is token-set Jaccard in bp, and the
    * MMR objective is a milli-weighted difference of the two.
    * The [[TopK]] − 1 greedy rounds run in [[mmrFold]]'s native
    * `mmr_select` kernel over ONE collected row per query (the
    * sequential greedy is the definition of MMR; the kernel keeps it
    * one declarative plan, not a driver loop of actions).
    *
    * Scale shape: everything after q180's scoring is query-workload-
    * bounded — each query collapses to one row of ≤[[FuseDepth]]
    * candidate structs, similarities are computed inside that row, and
    * the candidate token sets come from ONE broadcast of candidate ids
    * onto the documents scan. The corpus scales only q180's one token
    * shuffle. */
  private def q186(s: SparkSession, d: String): DataFrame = {
    val mw = Window.partitionBy(col("q_doc"))
    // greatest(1, ·) guards the denominator: a best score < 10000 is
    // possible under extreme doc-length skew (all-zero tfsat contribs),
    // and Spark's div-by-zero returns NULL while DuckDB's // raises —
    // the guard is applied identically on both engines
    // referenced twice (token-set broadcast + the MMR fold input) —
    // collected once
    val cands = Materialize.local(
      rankTop(scored(s, d, postingsM(s, d), queryDocs(s, d)),
        "rk", FuseDepth)
      .withColumn("maxs", max(col("score")).over(mw))
      .withColumn("rel_bp",
        expr("score div greatest(1L, maxs div 10000L)"))
      .select(col("q_doc"), col("rk"), col("doc_id"), col("rel_bp")),
      "q186.candidates", MaxQueryDocs * FuseDepth).df
    val tsets = Tables.documents(s, d)
      .join(broadcast(cands.select(col("doc_id")).distinct()), "doc_id")
      .select(col("doc_id"), expr(s"array_distinct($whArrayExpr)").as("tset"))
    mmrFold(cands.join(broadcast(tsets), "doc_id"), TopK)
  }

  /** The MMR greedy over per-query candidate rows (q_doc, rk, doc_id,
    * rel_bp, tset) → the diversified picks (q_doc, pick, doc_id,
    * rel_bp, div_bp). Shared by q186 and
    * [[graft.operators.InvertedTextIndex.mmrSearch]] so the index-
    * served form is pick-for-pick the oracle's.
    *
    * Each query's candidates collapse to ONE row (their rank-sorted
    * `collect_list`), and the `topK` − 1 greedy rounds run inside that
    * row as the native [[graft.expressions.MmrSelect]] kernel: each
    * token set is sorted once, and each round merge-intersects only
    * the newest pick against the remaining candidates. A per-round
    * DataFrame recurrence would re-embed — and re-EXECUTE — the scoring
    * subtree once per reference (measured 245 file scans / 410
    * exchanges, no ReuseExchange under AQE); here the upstream work
    * runs exactly once. */
  private[graft] def mmrFold(candsWithTsets: DataFrame, topK: Int)
      : DataFrame = {
    candsWithTsets
      .groupBy(col("q_doc"))
      .agg(sort_array(collect_list(struct(col("rk"), col("doc_id"),
        col("rel_bp"), col("tset")))).as("cs"))
      .select(col("q_doc"), explode(call_function("mmr_select", col("cs"),
        lit(topK), lit(MmrLambdaMilli))).as("s"))
      .select(col("q_doc"), col("s.pick").as("pick"),
        col("s.doc_id").as("doc_id"), col("s.rel_bp").as("rel_bp"),
        col("s.div_bp").as("div_bp"))
  }

  private val q186Sql = {
    val rounds = (2 to TopK).map { t =>
      s"""mmr$t AS (
         |  SELECT c.q_doc, c.doc_id, c.rel_bp,
         |    CAST(max(s.jac_bp) AS BIGINT) AS div_bp
         |  FROM cands c
         |  JOIN sims s ON s.q_doc = c.q_doc AND s.a = c.doc_id
         |  JOIN sel${t - 1} z ON z.q_doc = s.q_doc AND z.doc_id = s.b
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} w
         |    WHERE w.q_doc = c.q_doc AND w.doc_id = c.doc_id)
         |  GROUP BY c.q_doc, c.doc_id, c.rel_bp),
         |pick$t AS (
         |  SELECT q_doc, CAST($t AS BIGINT) AS pick, doc_id, rel_bp, div_bp
         |  FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_doc
         |      ORDER BY $MmrLambdaMilli * rel_bp -
         |        ${1000L - MmrLambdaMilli} * div_bp DESC, doc_id) AS prn
         |    FROM mmr$t) WHERE prn = 1),
         |sel$t AS (SELECT * FROM sel${t - 1}
         |  UNION ALL SELECT * FROM pick$t)""".stripMargin
    }.mkString(",\n")
    s"""$frontSql,
       |cands AS (
       |  SELECT q_doc, rk, doc_id,
       |    score // greatest(1, (max(score) OVER (PARTITION BY q_doc)) // 10000)
       |      AS rel_bp
       |  FROM (
       |    SELECT q_doc, doc_id, score, row_number() OVER (
       |      PARTITION BY q_doc ORDER BY score DESC, doc_id) AS rk
       |    FROM scored) t WHERE rk <= $FuseDepth),
       |tsets AS (
       |  SELECT doc_id, list_distinct(list_transform($wordsSqlExpr,
       |    t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT))) AS tset
       |  FROM documents
       |  WHERE doc_id IN (SELECT DISTINCT doc_id FROM cands)),
       |sims AS (
       |  SELECT x.q_doc, x.doc_id AS a, y.doc_id AS b,
       |    (10000 * CAST(len(list_intersect(xt.tset, yt.tset)) AS BIGINT)) //
       |      (CAST(len(xt.tset) AS BIGINT) + CAST(len(yt.tset) AS BIGINT)
       |        - CAST(len(list_intersect(xt.tset, yt.tset)) AS BIGINT))
       |      AS jac_bp
       |  FROM cands x JOIN cands y
       |    ON y.q_doc = x.q_doc AND y.doc_id <> x.doc_id
       |  JOIN tsets xt ON xt.doc_id = x.doc_id
       |  JOIN tsets yt ON yt.doc_id = y.doc_id),
       |sel1 AS (
       |  SELECT q_doc, CAST(1 AS BIGINT) AS pick, doc_id, rel_bp,
       |    CAST(0 AS BIGINT) AS div_bp
       |  FROM cands WHERE rk = 1),
       |$rounds
       |SELECT q_doc, pick, doc_id, rel_bp, div_bp FROM sel$TopK""".stripMargin
  }

  // ---- q188: fuzzy term match (SymSpell deletion neighborhood) -----

  /** q188: fuzzy dictionary matching — the "did you mean" path every
    * search stack carries, in the SymSpell shape (Garbe's
    * deletion-neighborhood indexing): a misspelled probe (each query
    * doc's rarest term with its 2nd character deleted — deterministic,
    * so the oracle can replay it) matches vocabulary word `v` iff they
    * share a member of {x} ∪ del₁(x) — the candidate join — and the
    * match is CONFIRMED by exact `levenshtein ≤ 1` (the shared-deletion
    * key over-generates same-length distance-2 pairs by design; the
    * verify closes it, both engines' levenshtein being plain edit
    * distance). Output per query: the probe, match count, and the
    * highest-df match as the suggestion (df desc, word asc — frequency
    * IS the suggestion rank in SymSpell).
    *
    * Scale shape: everything is VOCABULARY-sized, never corpus-sized —
    * the deletion index is \|vocab\| × (len+1) short strings (Heaps'
    * law sublinear in the corpus), the probes broadcast (workload-
    * bounded), and the only corpus pass is the word-df aggregation
    * (one token shuffle, map-side combined). The verify runs only on
    * key-join survivors. */
  /** The SymSpell deletion neighborhood {x} ∪ del₁(x) of a string
    * column — shared with [[graft.operators.FuzzyVocabIndex]] (the
    * materialized form of this query's candidate join; change the
    * neighborhood here and there together). */
  private[graft] def delKeysExpr(c: String): String =
    s"array_distinct(concat(array($c), transform(sequence(1, length($c)), " +
      s"i -> concat(substring($c, 1, i - 1), substring($c, i + 1)))))"

  /** Probes shorter than this are served EXACT-ONLY (distance 0) by
    * the fuzzy family — the enforced form of the minimum-probe-length
    * rule production SymSpell deployments impose (a 1-char probe's
    * deletion neighborhood would touch every 1-2-char vocabulary
    * word). Shared with [[graft.operators.FuzzyVocabIndex.search]]. */
  private[graft] val MinProbeLen = 2

  /** Distance-2 deletion keys are generated only for strings of at
    * least this length, so no generated key drops below 2 chars — the
    * candidate-explosion guard on BOTH sides of the key join (vocab
    * keys in [[graft.operators.FuzzyVocabIndex.build]], probe keys in
    * its `search`). q192 measures what the guard sacrifices: d2 edits
    * on 3-4-char words are the one band below 100% recall. */
  private[graft] val MinD2Len = 4

  /** The guarded SymSpell d≤2 neighborhood: {x} ∪ del₁(x) ∪ (len ≥
    * [[MinD2Len]]: del₂(x), derived as del₁∘del₁). Shared with
    * [[graft.operators.FuzzyVocabIndex]] exactly like [[delKeysExpr]]. */
  private[graft] def delKeys2Expr(c: String): String = {
    def d1(s: String): String =
      s"transform(sequence(1, length($s)), " +
        s"i -> concat(substring($s, 1, i - 1), substring($s, i + 1)))"
    s"array_distinct(concat(array($c), ${d1(c)}, " +
      s"CASE WHEN length($c) >= $MinD2Len THEN " +
      s"flatten(transform(${d1(c)}, s -> ${d1("s")})) " +
      s"ELSE array_repeat('', 0) END))"
  }

  /** [[delKeys2Expr]]'s DuckDB form — one generator per engine, same
    * neighborhood and the same [[MinD2Len]] guard. */
  private[graft] def delKeys2SqlExpr(c: String): String = {
    def d1(s: String): String =
      s"list_transform(range(1, len($s) + 1), " +
        s"i -> substr($s, 1, i - 1) || substr($s, i + 1))"
    s"list_distinct(list_prepend($c, list_concat(${d1(c)}, " +
      s"CASE WHEN len($c) >= $MinD2Len THEN " +
      s"flatten(list_transform(${d1(c)}, s -> ${d1("s")})) " +
      s"ELSE [] END)))"
  }

  /** q188's deterministic misspelled probes — each query doc's rarest
    * term with its 2nd character deleted: (q_doc, probe). Exposed so
    * FuzzyVocabIndexSpec can replay the exact workload against the
    * materialized index. */
  private[graft] def fuzzyProbes(s: SparkSession, d: String): DataFrame = {
    val words = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val vocab = words.groupBy(col("w"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val qw = Window.partitionBy(col("q_doc"))
      .orderBy(col("df").asc, col("w").asc)
    words.join(broadcast(queryDocs(s, d)), col("doc_id") === col("q_doc"))
      .select(col("q_doc"), col("w")).distinct()
      .join(vocab, "w")
      .withColumn("rn", row_number().over(qw)).filter(col("rn") === 1)
      .withColumn("probe", expr("CASE WHEN length(w) >= 2 " +
        "THEN concat(substring(w, 1, 1), substring(w, 3)) ELSE w END"))
      .select(col("q_doc"), col("probe"))
  }

  private def q188(s: SparkSession, d: String): DataFrame = {
    val words = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val vocab = words.groupBy(col("w"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val probes = fuzzyProbes(s, d)
    def delKeys(c: String): String = delKeysExpr(c)
    val probeKeys = probes.select(col("q_doc"), col("probe"),
      explode(expr(delKeys("probe"))).as("k"))
    val vocabKeys = vocab.select(col("w"), col("df"),
      explode(expr(delKeys("w"))).as("k"))
    val cand = vocabKeys.join(broadcast(probeKeys), "k")
      .select(col("q_doc"), col("probe"), col("w"), col("df")).distinct()
      .withColumn("dist", levenshtein(col("probe"), col("w")).cast("long"))
      .filter(col("dist") <= 1)
    val bw = Window.partitionBy(col("q_doc"))
      .orderBy(col("df").desc, col("w").asc)
    cand.withColumn("brn", row_number().over(bw))
      .groupBy(col("q_doc"), col("probe"))
      .agg(count(lit(1)).as("n_matches"),
        max(when(col("brn") === 1, col("w"))).as("best_word"),
        max(when(col("brn") === 1, col("df"))).as("best_df"),
        max(when(col("brn") === 1, col("dist"))).as("best_dist"))
  }

  private val q188Sql =
    s"""WITH words AS (
       |  SELECT doc_id, unnest($wordsSqlExpr) AS w FROM documents),
       |vocab AS (
       |  SELECT w, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       |  FROM words GROUP BY 1),
       |qdocs AS (
       |  SELECT doc_id AS q_doc FROM (
       |    SELECT doc_id, row_number() OVER (PARTITION BY source
       |      ORDER BY md5(text), doc_id) AS rn
       |    FROM documents) WHERE rn = 1),
       |probes AS (
       |  SELECT q_doc, CASE WHEN len(w) >= 2
       |    THEN substr(w, 1, 1) || substr(w, 3) ELSE w END AS probe
       |  FROM (
       |    SELECT q.q_doc, x.w, row_number() OVER (PARTITION BY q.q_doc
       |      ORDER BY v.df, x.w) AS rn
       |    FROM qdocs q
       |    JOIN (SELECT DISTINCT doc_id, w FROM words) x ON x.doc_id = q.q_doc
       |    JOIN vocab v ON v.w = x.w) WHERE rn = 1),
       |pk AS (
       |  SELECT q_doc, probe, unnest(list_distinct(list_prepend(probe,
       |    list_transform(range(1, len(probe) + 1),
       |      i -> substr(probe, 1, i - 1) || substr(probe, i + 1))))) AS k
       |  FROM probes),
       |vk AS (
       |  SELECT w, df, unnest(list_distinct(list_prepend(w,
       |    list_transform(range(1, len(w) + 1),
       |      i -> substr(w, 1, i - 1) || substr(w, i + 1))))) AS k
       |  FROM vocab),
       |cand AS (
       |  SELECT DISTINCT p.q_doc, p.probe, v.w, v.df
       |  FROM pk p JOIN vk v ON v.k = p.k),
       |m AS (
       |  SELECT *, CAST(levenshtein(probe, w) AS BIGINT) AS dist
       |  FROM cand WHERE levenshtein(probe, w) <= 1),
       |b AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_doc
       |    ORDER BY df DESC, w) AS brn
       |  FROM m)
       |SELECT q_doc, probe, CAST(count(*) AS BIGINT) AS n_matches,
       |  max(CASE WHEN brn = 1 THEN w END) AS best_word,
       |  CAST(max(CASE WHEN brn = 1 THEN df END) AS BIGINT) AS best_df,
       |  CAST(max(CASE WHEN brn = 1 THEN dist END) AS BIGINT) AS best_dist
       |FROM b GROUP BY q_doc, probe""".stripMargin

  // ---- q192: measured recall of the guarded d≤2 fuzzy dictionary ---

  /** Deterministic misspelling probe at fixed char positions: replace
    * position `pos` with 'q' ('z' when the original already is 'q'),
    * guaranteeing a genuine substitution edit. Engine/SQL pair. */
  private def subAtExpr(c: String, pos: Int): String =
    s"concat(substring($c, 1, ${pos - 1}), " +
      s"CASE WHEN substring($c, $pos, 1) = 'q' THEN 'z' ELSE 'q' END, " +
      s"substring($c, ${pos + 1}))"

  private def subAtSqlExpr(c: String, pos: Int): String =
    s"(substr($c, 1, ${pos - 1}) || " +
      s"CASE WHEN substr($c, $pos, 1) = 'q' THEN 'z' ELSE 'q' END || " +
      s"substr($c, ${pos + 1}))"

  /** q192: MEASURED recall of the d≤2 SymSpell dictionary as guarded
    * (the q155/q170/q175 measure-before-you-trust discipline applied
    * to [[graft.operators.FuzzyVocabIndex]]'s distance-2 extension):
    * every ≥5-char vocabulary word is misspelled three deterministic
    * ways — one deletion (d=1), two deletions (d=2), two substitutions
    * (d=2) — and each probe is pushed through the SAME guarded
    * candidate join the index serves ([[delKeys2Expr]] on both sides,
    * [[MinD2Len]] key floor, exact-only below [[MinProbeLen]]). A
    * fourth band applies the double substitution to 3-4-char words —
    * the edits the length guard DELIBERATELY sacrifices, so its
    * sub-100% row is the measured price of explosion protection, not a
    * bug. Output per edit class: probes, source-word recovery recall
    * (found among verified candidates / suggested as best) in basis
    * points, and total candidate volume (the guard's cost metric).
    *
    * Scale shape: vocabulary-sized key generation (Heaps-law sublinear
    * in the corpus) joined against a VOCABULARY-DERIVED probe frame —
    * 3 probes per ≥5-char word plus the short band, so the
    * broadcast(pk) after d≤2 key explosion is |vocab|-sized (~50 rows
    * only on this fixed 31-word synthetic corpus; a Heaps-law corpus
    * grows it ~n^0.5, and past broadcast limits the recall probe would
    * need to sample the vocabulary — the MEASUREMENT samples, the
    * serving index never broadcasts its vocabulary). The one
    * corpus-sized term is the word-df aggregation, one token shuffle.
    * FuzzyVocabIndexSpec pins that searching the materialized index at
    * maxDist = 2 reproduces this query's per-probe verdicts. */
  private def q192(s: SparkSession, d: String): DataFrame = {
    val words = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val vocab = words.groupBy(col("w"))
      .agg(countDistinct(col("doc_id")).as("df"))
    // ONE pass generates every probe (a 4-way union of per-edit
    // selects would re-evaluate the corpus word-df subtree per branch)
    val probes = vocab.filter(length(col("w")) >= 3)
      .select(col("w").as("src"), explode(expr(
        "CASE WHEN length(w) >= 5 THEN array(" +
          "named_struct('edit', 'd1_del', 'probe', " +
          "concat(substring(w, 1, 1), substring(w, 3))), " +
          "named_struct('edit', 'd2_del', 'probe', " +
          "concat(substring(w, 1, 1), substring(w, 4))), " +
          "named_struct('edit', 'd2_sub', 'probe', " +
          s"${subAtExpr(subAtExpr("w", 2), 4)})) " +
        "ELSE array(named_struct('edit', 'd2_sub_short', 'probe', " +
          s"${subAtExpr(subAtExpr("w", 1), 3)})) END")).as("ep"))
      .select(col("src"), col("ep.edit").as("edit"),
        col("ep.probe").as("probe"))
    val pk = probes.select(col("src"), col("edit"), col("probe"),
      explode(expr(delKeys2Expr("probe"))).as("k"))
    val vk = vocab.select(col("w"), col("df"),
      explode(expr(delKeys2Expr("w"))).as("k"))
    val cand = vk.join(broadcast(pk), "k")
      .select(col("src"), col("edit"), col("probe"), col("w"), col("df"))
      .distinct()
      .withColumn("dist", levenshtein(col("probe"), col("w")).cast("long"))
      .filter(col("dist") <= when(length(col("probe")) < MinProbeLen, 0L)
        .otherwise(lit(2L)))
    val bw = Window.partitionBy(col("src"), col("edit"), col("probe"))
      .orderBy(col("df").desc, col("w").asc)
    val grouped = cand.withColumn("brn", row_number().over(bw))
      .groupBy(col("src"), col("edit"), col("probe"))
      .agg(count(lit(1)).as("n_cand"),
        max((col("w") === col("src")).cast("long")).as("found"),
        max((col("brn") === 1 && col("w") === col("src")).cast("long"))
          .as("best_src"))
    probes.join(grouped, Seq("src", "edit", "probe"), "left")
      .select(col("edit"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("found"), lit(0L)).as("found"),
        coalesce(col("best_src"), lit(0L)).as("best_src"))
      .groupBy(col("edit"))
      .agg(count(lit(1)).as("n_probes"),
        sum(col("found")).as("n_found"),
        sum(col("best_src")).as("n_best_src"),
        sum(col("n_cand")).as("n_cand_pairs"))
      .select(col("edit"), col("n_probes"), col("n_found"),
        expr("(10000L * n_found) div n_probes").as("found_bp"),
        col("n_best_src"),
        expr("(10000L * n_best_src) div n_probes").as("best_bp"),
        col("n_cand_pairs"))
  }

  private val q192Sql =
    s"""WITH words AS (
       |  SELECT doc_id, unnest($wordsSqlExpr) AS w FROM documents),
       |vocab AS (
       |  SELECT w, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       |  FROM words GROUP BY 1),
       |long_src AS (SELECT w AS src FROM vocab WHERE len(w) >= 5),
       |short_src AS (SELECT w AS src FROM vocab WHERE len(w) BETWEEN 3 AND 4),
       |probes AS (
       |  SELECT src, 'd1_del' AS edit,
       |    substr(src, 1, 1) || substr(src, 3) AS probe FROM long_src
       |  UNION ALL
       |  SELECT src, 'd2_del', substr(src, 1, 1) || substr(src, 4)
       |  FROM long_src
       |  UNION ALL
       |  SELECT src, 'd2_sub', ${subAtSqlExpr(subAtSqlExpr("src", 2), 4)}
       |  FROM long_src
       |  UNION ALL
       |  SELECT src, 'd2_sub_short',
       |    ${subAtSqlExpr(subAtSqlExpr("src", 1), 3)}
       |  FROM short_src),
       |pk AS (
       |  SELECT src, edit, probe, unnest(${delKeys2SqlExpr("probe")}) AS k
       |  FROM probes),
       |vk AS (
       |  SELECT w, df, unnest(${delKeys2SqlExpr("w")}) AS k FROM vocab),
       |cand AS (
       |  SELECT DISTINCT p.src, p.edit, p.probe, v.w, v.df
       |  FROM pk p JOIN vk v ON v.k = p.k),
       |m AS (
       |  SELECT *, CAST(levenshtein(probe, w) AS BIGINT) AS dist FROM cand
       |  WHERE CAST(levenshtein(probe, w) AS BIGINT) <=
       |    CASE WHEN len(probe) < $MinProbeLen THEN 0 ELSE 2 END),
       |b AS (
       |  SELECT *, row_number() OVER (PARTITION BY src, edit, probe
       |    ORDER BY df DESC, w) AS brn
       |  FROM m),
       |per AS (
       |  SELECT p.edit,
       |    coalesce(g.n_cand, 0) AS n_cand,
       |    coalesce(g.found, 0) AS found,
       |    coalesce(g.best_src, 0) AS best_src
       |  FROM probes p LEFT JOIN (
       |    SELECT src, edit, probe,
       |      CAST(count(*) AS BIGINT) AS n_cand,
       |      CAST(max(CASE WHEN w = src THEN 1 ELSE 0 END) AS BIGINT)
       |        AS found,
       |      CAST(max(CASE WHEN brn = 1 AND w = src THEN 1 ELSE 0 END)
       |        AS BIGINT) AS best_src
       |    FROM b GROUP BY 1, 2, 3) g
       |    ON g.src = p.src AND g.edit = p.edit AND g.probe = p.probe)
       |SELECT edit, CAST(count(*) AS BIGINT) AS n_probes,
       |  CAST(sum(found) AS BIGINT) AS n_found,
       |  (10000 * CAST(sum(found) AS BIGINT)) // CAST(count(*) AS BIGINT)
       |    AS found_bp,
       |  CAST(sum(best_src) AS BIGINT) AS n_best_src,
       |  (10000 * CAST(sum(best_src) AS BIGINT)) // CAST(count(*) AS BIGINT)
       |    AS best_bp,
       |  CAST(sum(n_cand) AS BIGINT) AS n_cand_pairs
       |FROM per GROUP BY 1""".stripMargin

  // ---- q189: learning-to-rank feature extraction -------------------

  /** q189: the RERANKER TRAINING SET — per (query, candidate) feature
    * rows a cross-encoder/LTR reranker trains on, built from the same
    * candidate pool the first-stage ranker emits (q180's depth-
    * [[FuseDepth]] list): lexical features (keyword rank, integer BM25
    * score, matched-term count, document length), the set-overlap
    * feature (token Jaccard to the query doc in bp, q186's kernel), the
    * semantic feature (embedding cosine at 6dp, q181's proven form,
    * with `has_emb` flagging corpus docs without an embedding row), and
    * the known-item LABEL (candidate == query doc — q182's task
    * definition, which is what makes this a supervised set without
    * human judgments). The pool is retrieved ∪ known-positive — the
    * target doc always contributes its feature row (rk_kw = 0 when the
    * first stage missed it), so every query has exactly one positive
    * and ≤[[FuseDepth]] hard negatives at any corpus scale.
    *
    * Scale shape: q180's scoring plus three broadcasts of the
    * ≤|queries|×[[FuseDepth]] candidate frame — onto the documents scan
    * (token sets), the embeddings scan (vectors), and the query-side
    * payloads; per-query feature math is workload-bounded. The corpus
    * scales only the one token shuffle. */
  private def q189(s: SparkSession, d: String): DataFrame = {
    // retrieved ∪ known-positive: the target doc always joins the pool
    // (rk_kw = 0 marks "scored but not retrieved" — it shares its own
    // query terms, so it is always in the scored frame), the standard
    // LTR training-set construction when first-stage recall is imperfect
    val candsPlan = rankTop(
      scored(s, d, postingsM(s, d), queryDocs(s, d)), "rk", Int.MaxValue)
      .filter(col("rk") <= FuseDepth || col("doc_id") === col("q_doc"))
      .select(col("q_doc"),
        when(col("rk") <= FuseDepth, col("rk")).otherwise(lit(0))
          .as("rk_kw"),
        col("doc_id"), col("n_hit"), col("score"))
    // the pool (≤ FuseDepth + 1 rows per query doc) is referenced three
    // times below (two id-pruning branches + the feature join) — a
    // Spark subtree referenced thrice executes thrice, so the
    // first-stage scoring pass runs ONCE and the collected rows
    // re-enter as a local relation
    val cands = Materialize.local(candsPlan, "q189.pool",
      MaxQueryDocs * (FuseDepth + 1)).df
    val tsets = Tables.documents(s, d)
      .join(broadcast(cands.select(col("doc_id")).unionByName(
        cands.select(col("q_doc").as("doc_id"))).distinct()), "doc_id")
      .select(col("doc_id"),
        expr(s"array_distinct($whArrayExpr)").as("tset"),
        size(expr(wordsExpr)).cast("long").as("dl"))
    val emb = Tables.embeddings(s, d)
      .withColumn("nrm", graft.functions.VectorFunctions.norm(col("embedding")))
    val qSide = tsets.select(col("doc_id").as("q_doc"),
        col("tset").as("q_tset"))
      .join(emb.select(col("vec_id").as("q_doc"),
        col("embedding").as("q_emb"), col("nrm").as("q_nrm")), Seq("q_doc"),
        "left")
    val cSide = tsets.select(col("doc_id"), col("tset"), col("dl"))
      .join(emb.select(col("vec_id").as("doc_id"),
        col("embedding").as("c_emb"), col("nrm").as("c_nrm")),
        Seq("doc_id"), "left")
    cands
      .join(broadcast(qSide), "q_doc")
      .join(broadcast(cSide), "doc_id")
      .withColumn("inter",
        size(array_intersect(col("q_tset"), col("tset"))).cast("long"))
      .withColumn("jac_bp", expr("(10000L * inter) div " +
        "(cast(size(q_tset) as bigint) + cast(size(tset) as bigint) - inter)"))
      .withColumn("has_emb",
        col("q_emb").isNotNull && col("c_emb").isNotNull)
      .withColumn("cos_sim", when(col("has_emb"),
        round(expr("float_vector_dot(q_emb, c_emb)") /
          (col("q_nrm") * col("c_nrm")), 6)).otherwise(lit(0.0)))
      // group_n: the query's candidate-list size — rerankers train
      // LISTWISE/grouped (q_doc is the group key), so the set is
      // consumable without a second grouping pass over it
      .withColumn("group_n",
        count(lit(1)).over(Window.partitionBy(col("q_doc"))))
      .select(col("q_doc"), col("group_n"), col("doc_id"), col("rk_kw"),
        col("n_hit"), col("score"), col("dl"), col("jac_bp"),
        col("has_emb"), col("cos_sim"),
        (col("doc_id") === col("q_doc")).as("label"))
  }

  /** q189's oracle CTEs + final feature projection, shared with q191
    * (which applies the deployed reranker over the same feature set). */
  private val q189Ctes = {
    import graft.functions.VectorFunctions.cosineSql
    s"""cands AS (
       |  SELECT q_doc, CASE WHEN rk <= $FuseDepth THEN rk ELSE 0 END AS rk_kw,
       |    doc_id, n_hit, score FROM (
       |    SELECT q_doc, doc_id, n_hit, score, row_number() OVER (
       |      PARTITION BY q_doc ORDER BY score DESC, doc_id) AS rk
       |    FROM scored) WHERE rk <= $FuseDepth OR doc_id = q_doc),
       |tsets AS (
       |  SELECT doc_id, list_distinct(list_transform($wordsSqlExpr,
       |      t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT))) AS tset,
       |    CAST(len($wordsSqlExpr) AS BIGINT) AS dl
       |  FROM documents),
       |feat AS (
       |  SELECT c.q_doc, c.doc_id, c.rk_kw, c.n_hit, c.score, ct.dl,
       |    CAST(len(list_intersect(qt.tset, ct.tset)) AS BIGINT) AS inter,
       |    CAST(len(qt.tset) AS BIGINT) AS qn,
       |    CAST(len(ct.tset) AS BIGINT) AS cn,
       |    qe.embedding AS q_emb, ce.embedding AS c_emb
       |  FROM cands c
       |  JOIN tsets qt ON qt.doc_id = c.q_doc
       |  JOIN tsets ct ON ct.doc_id = c.doc_id
       |  LEFT JOIN embeddings qe ON qe.vec_id = c.q_doc
       |  LEFT JOIN embeddings ce ON ce.vec_id = c.doc_id),
       |ltr AS (
       |  SELECT q_doc,
       |    CAST(count(*) OVER (PARTITION BY q_doc) AS BIGINT) AS group_n,
       |    doc_id, rk_kw, n_hit, score, dl,
       |    (10000 * inter) // (qn + cn - inter) AS jac_bp,
       |    q_emb IS NOT NULL AND c_emb IS NOT NULL AS has_emb,
       |    CASE WHEN q_emb IS NOT NULL AND c_emb IS NOT NULL
       |      THEN round(${cosineSql("q_emb", "c_emb")}, 6)
       |      ELSE 0.0 END AS cos_sim,
       |    doc_id = q_doc AS label
       |  FROM feat)""".stripMargin
  }

  private val q189Sql =
    s"""$frontSql,
       |$q189Ctes
       |SELECT q_doc, group_n, doc_id, rk_kw, n_hit, score, dl, jac_bp,
       |  has_emb, cos_sim, label
       |FROM ltr""".stripMargin

  // ---- q190: recall of the DEPLOYED retrieval stack ----------------

  /** IVF probes for the deployed semantic leg — the measurement's
    * documented cost knob (each probe pays one more cell's bucket). */
  private[graft] val IvfNprobe = 2

  /** q190: q182's known-item task answered by the math the PRODUCTION
    * stack actually ships (the q155/q175 measure-what-you-serve
    * discipline — q182 pins the idealized exact stack; this pins the
    * deployed one, and the gap between the two tables IS the measured
    * cost of approximation):
    *
    *   - `kw_idx`  — [[graft.operators.InvertedTextIndex.search]]'s
    *     scoring, formula-identical to q182's kw leg (the index is a
    *     pure layout change, so its recall row doubles as the
    *     cross-check between the two tables);
    *   - `sem_ivf` — [[graft.operators.AnnIvfIndex.search]]'s two-stage
    *     ANN: probe the [[IvfNprobe]] nearest cells by the quantized-
    *     centroid score (cbarq = csum div n in micro-units — bounded,
    *     order-independent integers at any occupancy), then exact
    *     cosine top-[[FuseDepth]] WITHIN the probed cells only. No
    *     self-exclusion: the target is the query doc's own indexed row
    *     (AnnIvfIndex.search(excludeSelf = false)). Recall < 100% here
    *     is the price of scanning nprobe/k_cells of the corpus;
    *   - `sem_ivf4` — the same leg at DOUBLE the probe budget: with
    *     `nprobe` as the cost column, the two rows pin the
    *     recall-vs-probes curve the operator's knob actually trades
    *     (the testdata label cells are deliberately noisy — own-cell
    *     probe rank spreads across all cells — so the curve is steep
    *     and meaningfully measured, not saturated at 1.0);
    *   - `hyb_ivf` — [[graft.operators.HybridRetrieval]]'s RRF fusion
    *     of the two production legs (q181's integer-ppm formula) at
    *     the deployed [[IvfNprobe]].
    *
    * Output per system: queries answered, target found in the candidate
    * list, found at rank 1 / ≤5, reciprocal-rank mass in ppm, and the
    * probe count as the cost column. RetrievalQueriesSpec additionally
    * pins that this inline math is row-for-row the materialized
    * operators' output on the same corpus — so the oracle-checked
    * numbers ARE the deployed stack's numbers.
    *
    * Scale shape: the keyword leg is q180's (one token shuffle, terms
    * broadcast); the semantic leg is q110's (centroid build is one
    * (cell, dim) shuffle producing cells×dims rows, probe scoring joins
    * the broadcast centroid table, the candidate join keys on the cell
    * — against the materialized index it is the pruned-bucket scan);
    * the fusion and recall bookkeeping are ≤3×|queries| rows. */
  private def q190(s: SparkSession, d: String): DataFrame = {
    val post = postingsM(s, d)
    val qdocs = localQueryDocs(s, d)
    val terms = quoteTerms(s, d, post, qdocs)

    // keyword leg — InvertedTextIndex.search's formula. Each leg is
    // consumed twice (fusion + its own recall row), so the legs are
    // collected once and re-entered
    val kw = Materialize.local(rankTop(
      scoreCandidates(post.join(broadcast(terms), "wh")
        .crossJoin(broadcast(stats(s, d)))),
      "rk_kw", FuseDepth)
      .select(col("q_doc"), col("doc_id"), col("rk_kw")),
      "q190.kw", MaxQueryDocs * FuseDepth).df

    // semantic leg — AnnIvfIndex.search's math over the label cells
    val emb = Tables.embeddings(s, d)
      .withColumn("nrm", graft.functions.VectorFunctions.norm(col("embedding")))
    val dims = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("u", round(col("v").cast("double") * 1e6).cast("long"))
    val cs = dims.groupBy(col("label"), col("dim"))
      .agg(sum(col("u")).as("csum"), count(lit(1)).as("n"))
      .withColumn("cbarq", expr("csum div n"))
    val cmeta = cs.groupBy(col("label"))
      .agg(sum(col("cbarq") * col("cbarq")).as("cnormsq"))
    // query-side dim rows: join BEFORE the explode, so only the
    // ~|sources| query vectors generate dim rows (the centroid pass
    // above is the one full-corpus explode)
    val qdots = Tables.embeddings(s, d)
      .join(broadcast(qdocs), col("vec_id") === col("q_doc"))
      .select(col("q_doc"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("u", round(col("v").cast("double") * 1e6).cast("long"))
      .select(col("q_doc"), col("dim"), col("u"))
      .join(broadcast(cs.select(col("label").as("c_label"), col("dim"),
        col("cbarq"))), "dim")
      .groupBy(col("q_doc"), col("c_label"))
      .agg(sum(col("u") * col("cbarq")).as("dotnum"))
    // collected once (a row per query doc and cell): BOTH probe
    // budgets below slice this frame, and the centroid pipeline above
    // it must run once, not once per budget
    val probeRk = Materialize.local(qdots
      .join(broadcast(cmeta.withColumnRenamed("label", "c_label")),
        "c_label")
      .withColumn("score", col("dotnum").cast("double") /
        sqrt(greatest(col("cnormsq"), lit(1L)).cast("double")))
      .withColumn("pk", row_number().over(Window.partitionBy(col("q_doc"))
        .orderBy(col("score").desc, col("c_label").asc))),
      "q190.probes", MaxQueryDocs * NearestCentroid.MaxCells).df
    val qembs = emb.join(broadcast(qdocs), col("vec_id") === col("q_doc"))
      .select(col("q_doc"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val sw = Window.partitionBy(col("q_doc"))
      .orderBy(col("cos_sim").desc, col("doc_id").asc)
    // the probed-cell ranking at a given probe budget — the recall-vs-
    // cost curve's x axis (each probe adds one more cell's bucket scan)
    def semAt(nprobe: Int): DataFrame = {
      val probes = probeRk.filter(col("pk") <= nprobe)
        .select(col("q_doc"), col("c_label"))
      emb.select(col("vec_id").as("doc_id"),
          col("label").as("c_label"), col("embedding").as("c_emb"),
          col("nrm").as("c_nrm"))
        .join(broadcast(probes.join(qembs, "q_doc")), "c_label")
        .select(col("q_doc"), col("doc_id"),
          round(expr("float_vector_dot(q_emb, c_emb)") /
            (col("q_nrm") * col("c_nrm")), 6).as("cos_sim"))
        .withColumn("rk_sem", row_number().over(sw))
        .filter(col("rk_sem") <= FuseDepth)
        .select(col("q_doc"), col("doc_id"), col("rk_sem"))
    }
    val sem = Materialize.local(semAt(IvfNprobe), "q190.sem",
      MaxQueryDocs * FuseDepth).df
    val sem4 = semAt(2 * IvfNprobe)

    // hybrid — HybridRetrieval's RRF over the two production legs
    val rrfW = Window.partitionBy(col("q_doc"))
      .orderBy(col("rrf_ppm").desc, col("doc_id").asc)
    val hyb = kw.join(sem, Seq("q_doc", "doc_id"), "full_outer")
      .select(col("q_doc"), col("doc_id"),
        (coalesce(expr(s"1000000L div ($RrfK + rk_kw)"), lit(0L)) +
          coalesce(expr(s"1000000L div ($RrfK + rk_sem)"), lit(0L)))
          .as("rrf_ppm"))
      .withColumn("rk_hyb", row_number().over(rrfW))
      .select(col("q_doc"), col("doc_id"), col("rk_hyb"))

    val semBase = qembs.select(col("q_doc"))
    recallAgg(selfRank(kw, qdocs, "rk_kw", "kw_idx")
      .unionByName(selfRank(sem, semBase, "rk_sem", "sem_ivf"))
      .unionByName(selfRank(sem4, semBase, "rk_sem", "sem_ivf4"))
      .unionByName(selfRank(hyb, qdocs, "rk_hyb", "hyb_ivf")))
      .withColumn("nprobe",
        when(col("system") === "kw_idx", lit(0L))
          .when(col("system") === "sem_ivf4", lit(2L * IvfNprobe))
          .otherwise(lit(IvfNprobe.toLong)))
  }

  private val q190Sql = {
    import graft.functions.VectorFunctions.cosineSql
    s"""$frontSql,
       |$knownItemKwSql,
       |edims AS (
       |  SELECT vec_id, label, i - 1 AS dim,
       |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS u
       |  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) ix),
       |cent AS (
       |  SELECT label, dim, CAST(sum(u) AS BIGINT) AS csum,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM edims GROUP BY 1, 2),
       |cbar AS (SELECT label, dim, csum // n AS cbarq FROM cent),
       |cmeta AS (
       |  SELECT label, CAST(sum(cbarq * cbarq) AS BIGINT) AS cnormsq
       |  FROM cbar GROUP BY 1),
       |qdots AS (
       |  SELECT e.vec_id AS q_doc, c.label AS c_label,
       |    CAST(sum(e.u * c.cbarq) AS BIGINT) AS dotnum
       |  FROM edims e JOIN cbar c ON c.dim = e.dim
       |  WHERE e.vec_id IN (SELECT q_doc FROM qdocs)
       |  GROUP BY 1, 2),
       |probe_rk AS (
       |  SELECT q.q_doc, q.c_label, row_number() OVER (PARTITION BY q.q_doc
       |    ORDER BY CAST(q.dotnum AS DOUBLE) /
       |      sqrt(CAST(greatest(1, m.cnormsq) AS DOUBLE)) DESC,
       |      q.c_label) AS pk
       |  FROM qdots q JOIN cmeta m ON m.label = q.c_label),
       |sem AS (
       |  SELECT q_doc, doc_id, rk_sem FROM (
       |    SELECT p.q_doc, c.vec_id AS doc_id, row_number() OVER (
       |      PARTITION BY p.q_doc ORDER BY
       |        round(${cosineSql("qe.embedding", "c.embedding")}, 6) DESC,
       |        c.vec_id) AS rk_sem
       |    FROM probe_rk p
       |    JOIN embeddings qe ON qe.vec_id = p.q_doc
       |    JOIN embeddings c ON c.label = p.c_label
       |    WHERE p.pk <= $IvfNprobe)
       |  WHERE rk_sem <= $FuseDepth),
       |sem4 AS (
       |  SELECT q_doc, doc_id, rk_sem FROM (
       |    SELECT p.q_doc, c.vec_id AS doc_id, row_number() OVER (
       |      PARTITION BY p.q_doc ORDER BY
       |        round(${cosineSql("qe.embedding", "c.embedding")}, 6) DESC,
       |        c.vec_id) AS rk_sem
       |    FROM probe_rk p
       |    JOIN embeddings qe ON qe.vec_id = p.q_doc
       |    JOIN embeddings c ON c.label = p.c_label
       |    WHERE p.pk <= ${2 * IvfNprobe})
       |  WHERE rk_sem <= $FuseDepth),
       |hyb AS (
       |  SELECT q_doc, doc_id, row_number() OVER (PARTITION BY q_doc
       |    ORDER BY rrf_ppm DESC, doc_id) AS rk_hyb
       |  FROM (
       |    SELECT coalesce(k.q_doc, s2.q_doc) AS q_doc,
       |      coalesce(k.doc_id, s2.doc_id) AS doc_id,
       |      coalesce(1000000 // ($RrfK + k.rk_kw), 0) +
       |        coalesce(1000000 // ($RrfK + s2.rk_sem), 0) AS rrf_ppm
       |    FROM kw k FULL OUTER JOIN sem s2
       |      ON k.q_doc = s2.q_doc AND k.doc_id = s2.doc_id)),
       |long_form AS (
       |  SELECT 'kw_idx' AS system, q.q_doc,
       |    (SELECT CAST(rk_kw AS BIGINT) FROM kw
       |     WHERE kw.q_doc = q.q_doc AND kw.doc_id = q.q_doc) AS self_rk
       |  FROM qdocs q
       |  UNION ALL
       |  SELECT 'sem_ivf' AS system, qe.vec_id AS q_doc,
       |    (SELECT CAST(rk_sem AS BIGINT) FROM sem
       |     WHERE sem.q_doc = qe.vec_id AND sem.doc_id = qe.vec_id) AS self_rk
       |  FROM qdocs q2 JOIN embeddings qe ON qe.vec_id = q2.q_doc
       |  UNION ALL
       |  SELECT 'sem_ivf4' AS system, qe4.vec_id AS q_doc,
       |    (SELECT CAST(rk_sem AS BIGINT) FROM sem4
       |     WHERE sem4.q_doc = qe4.vec_id AND sem4.doc_id = qe4.vec_id)
       |      AS self_rk
       |  FROM qdocs q4 JOIN embeddings qe4 ON qe4.vec_id = q4.q_doc
       |  UNION ALL
       |  SELECT 'hyb_ivf' AS system, q3.q_doc,
       |    (SELECT CAST(rk_hyb AS BIGINT) FROM hyb
       |     WHERE hyb.q_doc = q3.q_doc AND hyb.doc_id = q3.q_doc) AS self_rk
       |  FROM qdocs q3)
       |SELECT system, CAST(count(*) AS BIGINT) AS n_queries,
       |  CAST(count(self_rk) AS BIGINT) AS n_found,
       |  CAST(count(CASE WHEN self_rk = 1 THEN 1 END) AS BIGINT) AS n_top1,
       |  CAST(count(CASE WHEN self_rk <= 5 THEN 1 END) AS BIGINT) AS n_top5,
       |  coalesce(CAST(sum(1000000 // self_rk) AS BIGINT), 0) AS mrr_ppm_sum,
       |  CASE WHEN system = 'kw_idx' THEN CAST(0 AS BIGINT)
       |    WHEN system = 'sem_ivf4' THEN CAST(${2 * IvfNprobe} AS BIGINT)
       |    ELSE CAST($IvfNprobe AS BIGINT) END AS nprobe
       |FROM long_form GROUP BY system""".stripMargin
  }

  // ---- q191: reranker APPLY + measured lift ------------------------

  /** q191: the second half of the LTR story — q189 BUILDS the reranker
    * training set; this query APPLIES a deployed reranker over the same
    * feature rows and pins the measured lift, closing
    * train → apply → evaluate in one oracle-checked loop.
    *
    * The model is a fixed INTEGER linear scorer
    * `2·cos_µ + 100·jac_bp + rr_kw_ppm` (cosine in exact micro-units,
    * Jaccard in bp, the first-stage reciprocal rank in ppm) — the
    * weights are a deployment artifact like the reference's model
    * files (`stt/service.py` loads Whisper, it doesn't train it); what
    * the ENGINE owns is the apply + evaluation pipeline, and integer
    * weights make the scores — and the emitted metrics — engine-exact.
    *
    * Output: q182's recall frame for two systems over the SAME
    * candidate pool — `first_stage` (the keyword ranking, rk_kw;
    * target missed when the first stage missed it) and `reranked`
    * (the model ordering of the pool). The pool includes the known
    * positive by q189's construction, so `reranked` n_found equals
    * n_queries BY DESIGN — the honest lift numbers are top1/top5/MRR
    * (the semantic feature puts the cos=1 target first unless an
    * exact-duplicate ties it).
    *
    * Scale shape: q189's (one token shuffle + workload-bounded
    * broadcasts) plus one ≤21-row-per-query window — apply cost is the
    * feature-set cost. */
  private def q191(s: SparkSession, d: String): DataFrame = {
    val feats = q189(s, d)
    val scored = feats
      .withColumn("cos_u",
        expr("cast(round(cos_sim * 1000000.0) as bigint)"))
      .withColumn("rr_kw_ppm",
        expr("CASE WHEN rk_kw > 0 THEN 1000000L div rk_kw ELSE 0L END"))
      .withColumn("model_score",
        expr("2L * cos_u + 100L * jac_bp + rr_kw_ppm"))
      .withColumn("rerank", row_number().over(
        Window.partitionBy(col("q_doc"))
          .orderBy(col("model_score").desc, col("doc_id").asc)))
    // ≤|sources| rows, referenced by both recall rows — collected once
    val qdocs = localQueryDocs(s, d)
    val first = qdocs.join(
        scored.filter(col("label") && col("rk_kw") > 0)
          .select(col("q_doc"), col("rk_kw").cast("long").as("self_rk")),
        Seq("q_doc"), "left")
      .select(lit("first_stage").as("system"), col("q_doc"), col("self_rk"))
    val reranked = qdocs.join(
        scored.filter(col("label"))
          .select(col("q_doc"), col("rerank").cast("long").as("self_rk")),
        Seq("q_doc"), "left")
      .select(lit("reranked").as("system"), col("q_doc"), col("self_rk"))
    recallAgg(first.unionByName(reranked))
  }

  private val q191Sql =
    s"""$frontSql,
       |$q189Ctes,
       |rscored AS (
       |  SELECT q_doc, doc_id, rk_kw, label,
       |    2 * CAST(round(cos_sim * 1000000.0) AS BIGINT)
       |      + 100 * jac_bp
       |      + CASE WHEN rk_kw > 0 THEN 1000000 // rk_kw ELSE 0 END
       |      AS model_score
       |  FROM ltr),
       |rranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_doc
       |    ORDER BY model_score DESC, doc_id) AS rerank
       |  FROM rscored),
       |long_form AS (
       |  SELECT 'first_stage' AS system, q.q_doc,
       |    (SELECT CAST(rk_kw AS BIGINT) FROM rranked r
       |     WHERE r.q_doc = q.q_doc AND r.label AND r.rk_kw > 0) AS self_rk
       |  FROM qdocs q
       |  UNION ALL
       |  SELECT 'reranked' AS system, q2.q_doc,
       |    (SELECT CAST(rerank AS BIGINT) FROM rranked r2
       |     WHERE r2.q_doc = q2.q_doc AND r2.label) AS self_rk
       |  FROM qdocs q2)
       |SELECT system, CAST(count(*) AS BIGINT) AS n_queries,
       |  CAST(count(self_rk) AS BIGINT) AS n_found,
       |  CAST(count(CASE WHEN self_rk = 1 THEN 1 END) AS BIGINT) AS n_top1,
       |  CAST(count(CASE WHEN self_rk <= 5 THEN 1 END) AS BIGINT) AS n_top5,
       |  coalesce(CAST(sum(1000000 // self_rk) AS BIGINT), 0) AS mrr_ppm_sum
       |FROM long_form GROUP BY system""".stripMargin

  // ---- q193: the reranker TRAINED in-engine -------------------------

  /** The 3×3 Cramer solve of the ridge normal equations — ONE pair of
    * expression-string sets (A symmetric: a11..a33, rhs b1..b3, all
    * already cast to double), identical text on both engines so the
    * double arithmetic is bit-identical and the fitted ranking needs
    * no cross-engine tolerance. Fixed parenthesization throughout. */
  private val cramerDet =
    "(a11 * ((a22 * a33) - (a23 * a23))) - " +
      "(a12 * ((a12 * a33) - (a23 * a13))) + " +
      "(a13 * ((a12 * a23) - (a22 * a13)))"
  private val cramerW = Seq(
    "(b1 * ((a22 * a33) - (a23 * a23))) - " +
      "(a12 * ((b2 * a33) - (a23 * b3))) + " +
      "(a13 * ((b2 * a23) - (a22 * b3)))",
    "(a11 * ((b2 * a33) - (a23 * b3))) - " +
      "(b1 * ((a12 * a33) - (a23 * a13))) + " +
      "(a13 * ((a12 * b3) - (b2 * a13)))",
    "(a11 * ((a22 * b3) - (b2 * a23))) - " +
      "(a12 * ((a12 * b3) - (b2 * a13))) + " +
      "(b1 * ((a12 * a23) - (a22 * a13)))")

  /** q193: the reranker FIT inside the engine — closing the loop q191
    * left open (q189 extracts the training set, q191 applies FIXED
    * weights; this fits the weights). Model: linear scorer over q189's
    * three integer features (cos_u = round(cos·10⁶), jac_bp, rr_kw_ppm
    * = 10⁶ div rk_kw), no intercept (ranking is translation-invariant),
    * fit by closed-form ridge least squares against the known-item
    * label on the TRAIN split of q74's deterministic md5-byte splitter
    * (threshold '7f' ≈ 50/50 — the holdout must hold enough queries to
    * measure on). The normal equations are exactly summable: X'X and
    * X'y entries are integer sums of bounded products (|f| ≤ 10⁶ →
    * each product ≤ 10¹², exact in int64 to ~10⁶ training rows at any
    * partitioning), +1 ridge on the diagonal guards singularity; the
    * 3×3 solve is [[cramerDet]]/[[cramerW]] — the fixedSum16
    * discipline applied to Cramer's rule, so the coefficients are
    * bit-identical doubles on both engines and pin as floor(w·10⁹).
    *
    * Evaluation: HOLDOUT queries reranked by the fitted scorer vs
    * q191's fixed scorer over the same candidate pool; recallAgg rows
    * per system with the coefficients as columns. Measured at sf0.1:
    * fitted 7/7 top1 where the fixed weights hold only 1/7 — the
    * fitted model is not just equal, it generalizes better.
    *
    * Scale shape: q189's (one token shuffle + workload-sized
    * broadcasts); the fit adds one 9-number aggregate and a 1-row
    * broadcast of the weights — closed-form LSQ is embarrassingly
    * aggregable, which is why it suits a 100 TB training table where
    * an iterative fit would pay a pass per epoch. */
  private def q193(s: SparkSession, d: String): DataFrame = {
    val fxPlan = q189(s, d)
      .select(col("q_doc"), col("doc_id"), col("label"), col("rk_kw"),
        expr("cast(round(cos_sim * 1000000.0) as bigint)").as("f1"),
        col("jac_bp").as("f2"),
        expr("CASE WHEN rk_kw > 0 THEN 1000000L div rk_kw ELSE 0L END")
          .as("f3"))
      .withColumn("split", when(
        substring(md5(col("q_doc").cast("string").cast("binary")), 1, 2)
          <= "7f", "train").otherwise("holdout"))
    // the feature set (q189's pool: ≤ FuseDepth + 1 rows per query doc)
    // has three consumers (train aggregate, holdout scoring, holdout
    // query list) — a Spark subtree referenced three times executes
    // three times, so collect once and re-enter as a local relation
    val fx = Materialize.local(fxPlan, "q193.features",
      MaxQueryDocs * (FuseDepth + 1)).df
    val nm = fx.filter(col("split") === "train").agg(
        (sum(col("f1") * col("f1")) + 1L).as("a11"),
        sum(col("f1") * col("f2")).as("a12"),
        sum(col("f1") * col("f3")).as("a13"),
        (sum(col("f2") * col("f2")) + 1L).as("a22"),
        sum(col("f2") * col("f3")).as("a23"),
        (sum(col("f3") * col("f3")) + 1L).as("a33"),
        sum(when(col("label"), col("f1")).otherwise(0L)).as("b1"),
        sum(when(col("label"), col("f2")).otherwise(0L)).as("b2"),
        sum(when(col("label"), col("f3")).otherwise(0L)).as("b3"))
      .select(Seq("a11", "a12", "a13", "a22", "a23", "a33",
        "b1", "b2", "b3").map(c => col(c).cast("double").as(c)): _*)
    val ws = nm.select(
      expr(s"($cramerDet)").as("det"),
      expr(s"(${cramerW(0)})").as("n1"),
      expr(s"(${cramerW(1)})").as("n2"),
      expr(s"(${cramerW(2)})").as("n3"))
      .select((col("n1") / col("det")).as("w1"),
        (col("n2") / col("det")).as("w2"),
        (col("n3") / col("det")).as("w3"))
    val hscored = fx.filter(col("split") === "holdout")
      .crossJoin(broadcast(ws))
      .withColumn("fit_score",
        expr("((w1 * cast(f1 as double)) + (w2 * cast(f2 as double)))" +
          " + (w3 * cast(f3 as double))"))
      .withColumn("fixed_score",
        expr("(2L * f1) + (100L * f2) + f3"))
    val fitW = Window.partitionBy(col("q_doc"))
      .orderBy(col("fit_score").desc, col("doc_id").asc)
    val fixedW = Window.partitionBy(col("q_doc"))
      .orderBy(col("fixed_score").desc, col("doc_id").asc)
    val hranked = hscored
      .withColumn("fit_rk", row_number().over(fitW))
      .withColumn("fixed_rk", row_number().over(fixedW))
    val hq = fx.filter(col("split") === "holdout")
      .select(col("q_doc")).distinct()
    def sys(name: String, rkCol: String): DataFrame = hq.join(
        hranked.filter(col("label"))
          .select(col("q_doc"), col(rkCol).cast("long").as("self_rk")),
        Seq("q_doc"), "left")
      .select(lit(name).as("system"), col("q_doc"), col("self_rk"))
    recallAgg(sys("fitted", "fit_rk").unionByName(sys("fixed", "fixed_rk")))
      .crossJoin(broadcast(ws.select(
        expr("cast(floor(w1 * 1000000000.0) as bigint)").as("w1_x1e9"),
        expr("cast(floor(w2 * 1000000000.0) as bigint)").as("w2_x1e9"),
        expr("cast(floor(w3 * 1000000000.0) as bigint)").as("w3_x1e9"))))
  }

  private val q193Sql =
    s"""$frontSql,
       |$q189Ctes,
       |fx AS (
       |  SELECT q_doc, doc_id, label, rk_kw,
       |    CAST(round(cos_sim * 1000000.0) AS BIGINT) AS f1,
       |    jac_bp AS f2,
       |    CASE WHEN rk_kw > 0 THEN 1000000 // rk_kw ELSE 0 END AS f3,
       |    CASE WHEN substr(md5(CAST(q_doc AS VARCHAR)), 1, 2) <= '7f'
       |      THEN 'train' ELSE 'holdout' END AS split
       |  FROM ltr),
       |nm AS (
       |  SELECT
       |    CAST(CAST(sum(f1 * f1) AS BIGINT) + 1 AS DOUBLE) AS a11,
       |    CAST(CAST(sum(f1 * f2) AS BIGINT) AS DOUBLE) AS a12,
       |    CAST(CAST(sum(f1 * f3) AS BIGINT) AS DOUBLE) AS a13,
       |    CAST(CAST(sum(f2 * f2) AS BIGINT) + 1 AS DOUBLE) AS a22,
       |    CAST(CAST(sum(f2 * f3) AS BIGINT) AS DOUBLE) AS a23,
       |    CAST(CAST(sum(f3 * f3) AS BIGINT) + 1 AS DOUBLE) AS a33,
       |    CAST(CAST(sum(CASE WHEN label THEN f1 ELSE 0 END) AS BIGINT)
       |      AS DOUBLE) AS b1,
       |    CAST(CAST(sum(CASE WHEN label THEN f2 ELSE 0 END) AS BIGINT)
       |      AS DOUBLE) AS b2,
       |    CAST(CAST(sum(CASE WHEN label THEN f3 ELSE 0 END) AS BIGINT)
       |      AS DOUBLE) AS b3
       |  FROM fx WHERE split = 'train'),
       |ws AS (
       |  SELECT (${cramerW(0)}) / ($cramerDet) AS w1,
       |    (${cramerW(1)}) / ($cramerDet) AS w2,
       |    (${cramerW(2)}) / ($cramerDet) AS w3
       |  FROM nm),
       |hscored AS (
       |  SELECT f.q_doc, f.doc_id, f.label,
       |    ((w.w1 * CAST(f.f1 AS DOUBLE)) + (w.w2 * CAST(f.f2 AS DOUBLE)))
       |      + (w.w3 * CAST(f.f3 AS DOUBLE)) AS fit_score,
       |    (2 * f.f1) + (100 * f.f2) + f.f3 AS fixed_score
       |  FROM fx f CROSS JOIN ws w WHERE f.split = 'holdout'),
       |hranked AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY q_doc
       |      ORDER BY fit_score DESC, doc_id) AS fit_rk,
       |    row_number() OVER (PARTITION BY q_doc
       |      ORDER BY fixed_score DESC, doc_id) AS fixed_rk
       |  FROM hscored),
       |hq AS (SELECT DISTINCT q_doc FROM fx WHERE split = 'holdout'),
       |long_form AS (
       |  SELECT 'fitted' AS system, q.q_doc,
       |    (SELECT CAST(fit_rk AS BIGINT) FROM hranked r
       |     WHERE r.q_doc = q.q_doc AND r.label) AS self_rk
       |  FROM hq q
       |  UNION ALL
       |  SELECT 'fixed' AS system, q2.q_doc,
       |    (SELECT CAST(fixed_rk AS BIGINT) FROM hranked r2
       |     WHERE r2.q_doc = q2.q_doc AND r2.label) AS self_rk
       |  FROM hq q2)
       |SELECT l.system, CAST(count(*) AS BIGINT) AS n_queries,
       |  CAST(count(self_rk) AS BIGINT) AS n_found,
       |  CAST(count(CASE WHEN self_rk = 1 THEN 1 END) AS BIGINT) AS n_top1,
       |  CAST(count(CASE WHEN self_rk <= 5 THEN 1 END) AS BIGINT) AS n_top5,
       |  coalesce(CAST(sum(1000000 // self_rk) AS BIGINT), 0)
       |    AS mrr_ppm_sum,
       |  CAST(floor(w.w1 * 1000000000.0) AS BIGINT) AS w1_x1e9,
       |  CAST(floor(w.w2 * 1000000000.0) AS BIGINT) AS w2_x1e9,
       |  CAST(floor(w.w3 * 1000000000.0) AS BIGINT) AS w3_x1e9
       |FROM long_form l CROSS JOIN ws w
       |GROUP BY l.system, w.w1, w.w2, w.w3""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q180_keyword_search", q180, Some(q180Sql)),
    QueryDef("q181_hybrid_rrf", q181, Some(q181Sql)),
    QueryDef("q182_retrieval_recall", q182, Some(q182Sql)),
    QueryDef("q183_phrase_search", q183, Some(q183Sql)),
    QueryDef("q184_snippets", q184, Some(q184Sql)),
    QueryDef("q185_prf_expansion", q185, Some(q185Sql)),
    QueryDef("q186_mmr_diversify", q186, Some(q186Sql)),
    QueryDef("q188_fuzzy_term_match", q188, Some(q188Sql)),
    QueryDef("q189_ltr_features", q189, Some(q189Sql)),
    QueryDef("q190_deployed_recall", q190, Some(q190Sql)),
    QueryDef("q191_reranker_lift", q191, Some(q191Sql)),
    QueryDef("q192_fuzzy_d2_recall", q192, Some(q192Sql)),
    QueryDef("q193_reranker_fit", q193, Some(q193Sql)))
}
