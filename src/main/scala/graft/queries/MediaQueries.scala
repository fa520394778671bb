package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.CoreFunctions._

/** Audio/image scalar-transform surface (SURVEY.md §2.9 F3/F16/F18/F19/
  * F23-F30, §2.3 P5, §2.5 A3, §2.7 B10/A15) — the column-expressible
  * transforms, declared with oracles; the sequential kernels (AGC,
  * resample) live in AudioDsp and are property-tested instead. */
object MediaQueries {

  /** q36: bounding box from quad points (A3, `ocr/service.py:231-240`):
    * 4 (x, y) corners from the first 8 embedding components — bbox =
    * (min x, min y, max−min). Exact double min/max, rounded 6. */
  private def q36(s: SparkSession, d: String): DataFrame = {
    def e(i: Int) = element_at(col("embedding"), i).cast("double")
    val xs = (1 to 4).map(e)
    val ys = (5 to 8).map(e)
    Tables.embeddings(s, d).select(
      col("vec_id"),
      round(bboxX(xs), 6).as("bbox_x"),
      round(bboxY(ys), 6).as("bbox_y"),
      round(bboxW(xs), 6).as("bbox_w"),
      round(bboxH(ys), 6).as("bbox_h"))
  }

  private val q36Sql = {
    def e(i: Int) = s"CAST(embedding[$i] AS DOUBLE)"
    val xs = (1 to 4).map(e).mkString(", ")
    val ys = (5 to 8).map(e).mkString(", ")
    s"""SELECT vec_id,
       |  round(least($xs), 6) AS bbox_x,
       |  round(least($ys), 6) AS bbox_y,
       |  round(greatest($xs) - least($xs), 6) AS bbox_w,
       |  round(greatest($ys) - least($ys), 6) AS bbox_h
       |FROM embeddings""".stripMargin
  }

  /** q37: RMS→dBFS normalization gain (F3, `audio_processor.py:93-114`):
    * gain to −20 dBFS, clamped to the AGC bounds [0.1, 10]. The event
    * value stands in for the frame RMS. */
  private def q37(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("value") > 0.0)
      .select(col("event_id"),
        round(lit(20.0) * log10(col("value")), 6).as("dbfs"),
        round(clamp(
          pow(lit(10.0), (lit(-20.0) - lit(20.0) * log10(col("value"))) / 20.0),
          lit(0.1), lit(10.0)), 6).as("gain"))

  private val q37Sql =
    """SELECT event_id, round(20.0 * log10(value), 6) AS dbfs,
      |  round(least(greatest(
      |    pow(10.0, (-20.0 - 20.0 * log10(value)) / 20.0), 0.1), 10.0), 6) AS gain
      |FROM events WHERE value > 0.0""".stripMargin

  /** q38: layout-region classification by aspect ratio (F19,
    * `image_processor.py:288-335`): >5 line, >2 paragraph, 0.8-1.2
    * square, else text_block; synthetic boxes from lineitem
    * (w = quantity, h = linenumber), reading-order sort key (B7). */
  private def q38(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_quantity").as("w"),
        col("l_linenumber").cast("double").as("h"))
      .withColumn("aspect", col("w") / col("h"))
      .withColumn("block_type",
        when(col("aspect") > 5.0, "line")
          .when(col("aspect") > 2.0, "paragraph")
          .when(col("aspect") >= 0.8 && col("aspect") <= 1.2, "square")
          .otherwise("text_block"))
      .groupBy(col("block_type"))
      .agg(count(lit(1)).as("n"), round(Q.davg(col("w")), 6).as("avg_w"))

  private val q38Sql =
    s"""SELECT block_type, count(*) AS n, round(${Q.davgSql("w")}, 6) AS avg_w
       |FROM (
       |  SELECT w, CASE WHEN aspect > 5.0 THEN 'line'
       |    WHEN aspect > 2.0 THEN 'paragraph'
       |    WHEN aspect >= 0.8 AND aspect <= 1.2 THEN 'square'
       |    ELSE 'text_block' END AS block_type
       |  FROM (SELECT l_quantity AS w,
       |          l_quantity / CAST(l_linenumber AS DOUBLE) AS aspect
       |        FROM lineitem))
       |GROUP BY block_type""".stripMargin

  /** q39: validation predicate (P5/F23, `image_processor.py:422-446`):
    * size window [100, 10000] + minimum content ratio, per source. */
  private def q39(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("n_words",
        size(split(col("text"), " ")).cast("long"))
      .withColumn("valid",
        (col("n_chars") >= 100 && col("n_chars") <= 10000 &&
          col("n_words") >= 10).cast("int"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("valid")).as("n_valid"))

  private val q39Sql =
    """SELECT source, count(*) AS n,
      |  CAST(sum(CAST(n_chars >= 100 AND n_chars <= 10000
      |      AND len(str_split(text, ' ')) >= 10 AS INT)) AS BIGINT) AS n_valid
      |FROM documents GROUP BY source""".stripMargin

  /** q40: job-envelope scalar kit — JSON payload decode (F24,
    * `redis_queue.py:122,236`), job-id synthesis (F29,
    * `redis_queue.py:110`), preview truncation (F30), priority default
    * (P3, `redis_queue.py:117-118`). */
  private def q40(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id"),
      concat(lit("job_"), Q.us, lit("_"), col("event_id")).as("job_id"),
      get_json_object(col("props"), "$.k").cast("long").as("payload_k"),
      substring(col("props"), 1, 50).as("preview"),
      coalesce(
        when(col("event_type") === "error", 3)
          .when(col("event_type") === "purchase", 2)
          .when(col("event_type") === "signup", 1),
        lit(0)).as("priority"))

  private val q40Sql =
    s"""SELECT event_id,
       |  'job_' || ${Q.usSql} || '_' || event_id AS job_id,
       |  CAST(props->>'k' AS BIGINT) AS payload_k,
       |  substr(props, 1, 50) AS preview,
       |  coalesce(CASE WHEN event_type = 'error' THEN 3
       |    WHEN event_type = 'purchase' THEN 2
       |    WHEN event_type = 'signup' THEN 1 END, 0) AS priority
       |FROM events""".stripMargin

  /** q41: last-N retention + rolling context (B10/A15,
    * `stt_worker.py:510-520`: keep the last transcripts per session for
    * conditioning): last 5 events per user, each with its rolling
    * 5-event context window. */
  private def q41(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us").asc, col("event_id").asc)
    val ctx = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us").asc, col("event_id").asc)
      .rowsBetween(-4, Window.currentRow)
    val desc5 = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us").desc, col("event_id").desc)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        Q.us.as("t_us"))
      .withColumn("context",
        concat_ws(" ", collect_list(col("event_type")).over(ctx)))
      .withColumn("rn", row_number().over(desc5))
      .filter(col("rn") <= 5)
      .select(col("user_id"), col("event_id"), col("rn"), col("context"))
  }

  private val q41Sql =
    s"""SELECT user_id, event_id, rn, context FROM (
       |  SELECT user_id, event_id,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY t_us DESC, event_id DESC) AS rn,
       |    string_agg(event_type, ' ') OVER (PARTITION BY user_id
       |      ORDER BY t_us, event_id
       |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS context
       |  FROM (SELECT event_id, user_id, event_type, ${Q.usSql} AS t_us
       |        FROM events))
       |WHERE rn <= 5""".stripMargin

  /** q43: approx-distinct sketch. The raw HLL++ estimate is not
    * oracle-reproducible (DuckDB's approx_count_distinct is a different
    * sketch), so the query emits what IS exactly checkable: the exact
    * distinct count alongside a deterministic bounded-error VERDICT on
    * the estimate (HLL++ is deterministic on fixed data, so the boolean
    * is stable; default rsd=0.05, asserted within ±15% = 3σ). The oracle
    * states `true` literally — if Spark's sketch ever drifted outside
    * the band, the hash comparison fails. This upgrades q43 from a
    * rows-only check to a full rows+schema+hash oracle while still
    * exercising the sketch on the 100 TB path (the exact distinct is
    * the expensive half at scale; the HLL column is the one a real
    * pipeline would keep). */
  private def q43(s: SparkSession, d: String): DataFrame = {
    val exact = countDistinct(col("l_partkey"))
    val est = approx_count_distinct(col("l_partkey"))
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(exact.as("n_parts_exact"),
        // exact > 0 guard: an all-null key group would make the relative
        // error NaN and spuriously fail parity against the pinned `true`
        (exact > 0 && abs(est - exact).cast("double") / exact <= lit(0.15))
          .as("hll_within_15pct"),
        count(lit(1)).as("n"))
  }

  private val q43Sql =
    """SELECT l_returnflag,
      |  count(DISTINCT l_partkey) AS n_parts_exact,
      |  true AS hll_within_15pct,
      |  count(*) AS n
      |FROM lineitem GROUP BY 1""".stripMargin

  /** q44: multimodal decode features through the mapPartitions codec
    * seam. The decode STAGE stays a stub (this container has no codecs)
    * but the stub is deterministic byte arithmetic — FNV-1a 32 over the
    * payload plus dimension/frame/embedding derivations — and the corpus
    * is pure ASCII (octet_length == length at every SF), so the oracle
    * replays it exactly in SQL: character arithmetic equals byte
    * arithmetic (the q45 technique). A real codec swap would return this
    * query to rows-only; until then the whole plumbing path — payload
    * projection, partition-scoped decoder, feature schema, CSV embedding
    * formatting — is hash-checked, not just row-counted. */
  private def q44(s: SparkSession, d: String): DataFrame =
    graft.multimodal.Multimodal.featuresQuery(s, d)

  /** printf('%.5f') matches Spark's format_number(_, 5) here: both emit
    * fixed 5 decimals, and ties never occur (the values are binary
    * floats n/255−0.5, never exactly k·10⁻⁵+5·10⁻⁶), so the rounding-
    * mode difference (HALF_EVEN vs printf) is unreachable. */
  private val q44Sql =
    """WITH h0 AS (
      |  SELECT doc_id, length(text) AS bl,
      |    list_reduce(
      |      list_prepend(CAST(2166136261 AS BIGINT),
      |        list_transform(str_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
      |      (acc, c) -> (xor(acc, c) * 16777619) % 4294967296) AS h
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, bl, h,
      |    CASE WHEN doc_id % 3 = 0 THEN 'image'
      |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality
      |  FROM h0)
      |SELECT doc_id AS id, modality, CAST(bl AS BIGINT) AS "byteLength",
      |  CAST(1 + h % 4096 AS INT) AS width,
      |  CAST(1 + (h // 4096) % 4096 AS INT) AS height,
      |  CAST(CASE modality WHEN 'video' THEN 1 + h % 16
      |       WHEN 'audio' THEN 1 + h % 512 ELSE 1 END AS INT) AS "nFrames",
      |  h AS "contentHash",
      |  list_aggregate(
      |    list_transform(range(0, 8),
      |      k -> printf('%.5f',
      |        CAST(CAST((h // (2**(4*k))::BIGINT) % 256 AS FLOAT)
      |          / CAST(255 AS FLOAT) - CAST(0.5 AS FLOAT) AS DOUBLE))),
      |    'string_agg', ',') AS embedding
      |FROM f""".stripMargin

  /** q45: the streaming sessionizer applied in batch (typed
    * flatMapGroupsWithState path; event-time semantics identical to the
    * streaming run, proved by StreamingBatchParitySpec). FULLY
    * hash-checked: the oracle replays the exact session state machine —
    * W1 buffering, W2 320 ms size trigger, W3 VAD endpoint, W4 150 ms
    * overlap retention with byte-proportional segment splitting, W8
    * debounce — as one recursive CTE per session, including the
    * surrogate inferencer's FNV-1a text hash and confidence (props are
    * pure ASCII, so character arithmetic = byte arithmetic). */
  private def q45(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val byUser = Window.partitionBy(col("user_id"))
    val chunks = Tables.events(s, d)
      .withColumn("t_us", Q.us)
      .withColumn("base_us", min(col("t_us")).over(byUser))
      .select(
        col("user_id").cast("string").as("sessionId"),
        encode(coalesce(col("props"), lit("")), "UTF-8").as("content"),
        ((col("t_us") - col("base_us")) / 1000L).cast("long").as("offsetMs"),
        lit(50L).as("durationMs"),
        lit(false).as("isFinal"))
      .as[graft.model.AudioChunk](Encoders.product[graft.model.AudioChunk])
    graft.streaming.SessionProcessor.attach(chunks, timeoutMs = 0L).toDF()
  }

  /** One transition of [[graft.streaming.SessionLogic.step]] per
    * recursion level; state = (segment list with per-segment text,
    * buffer origin, silence run, speech flag, debounce clock). All
    * emission arithmetic is integer (byte-proportional splits use the
    * same truncating division); the FNV fold seeds via list_prepend. */
  private val q45Sql = {
    val fnv = "(xor(a, b) * 16777619) % 4294967296"
    s"""WITH RECURSIVE chunks AS (
       |  SELECT sid, off, content, length(content) AS clen,
       |    row_number() OVER (PARTITION BY sid ORDER BY off) AS rn
       |  FROM (
       |    SELECT CAST(user_id AS VARCHAR) AS sid,
       |      (t_us - min(t_us) OVER (PARTITION BY user_id)) // 1000 AS off,
       |      coalesce(props, '') AS content
       |    FROM (SELECT user_id, props, ${Q.usSql} AS t_us FROM events))),
       |sessions AS (SELECT DISTINCT sid FROM chunks),
       |step AS (
       |  SELECT sid, 0 AS k,
       |    CAST([] AS STRUCT(s BIGINT, d BIGINT, txt VARCHAR)[]) AS segs,
       |    CAST(0 AS BIGINT) AS bufstart, CAST(0 AS BIGINT) AS silence,
       |    false AS speech, CAST(-1 AS BIGINT) AS lastp,
       |    CAST(NULL AS VARCHAR) AS ev_text, CAST(NULL AS DOUBLE) AS ev_conf,
       |    CAST(NULL AS BIGINT) AS ev_off
       |  FROM sessions
       |  UNION ALL
       |  SELECT sid, k, segs2 AS segs, bufstart1 AS bufstart,
       |    silence1 AS silence,
       |    CASE WHEN w3 THEN false ELSE speech1 END AS speech,
       |    CASE WHEN doemit THEN upto ELSE lastp END AS lastp,
       |    CASE WHEN doemit THEN 'seg_' || h || '_' || blen END AS ev_text,
       |    CASE WHEN doemit THEN CAST(h % 1000 AS DOUBLE) / 1000.0 END AS ev_conf,
       |    CASE WHEN doemit THEN bufstart0 END AS ev_off
       |  FROM (
       |    SELECT l3.*,
       |      list_reduce(list_prepend(CAST(2166136261 AS BIGINT),
       |        list_transform(range(1, length(emit_txt) + 1),
       |          i -> CAST(ascii(substr(emit_txt, CAST(i AS INT), 1)) AS BIGINT))),
       |        (a, b) -> $fnv) AS h,
       |      length(emit_txt) AS blen,
       |      CASE WHEN doemit THEN list_filter(list_transform(segs1, g ->
       |          CASE WHEN g.s + g.d <= keepfrom THEN NULL
       |               WHEN g.s >= keepfrom THEN g
       |               ELSE {s: keepfrom, d: g.s + g.d - keepfrom,
       |                 txt: substr(g.txt,
       |                   CAST(length(g.txt) * (keepfrom - g.s) // g.d AS INT) + 1)}
       |          END), g -> g IS NOT NULL)
       |        ELSE segs1 END AS segs2,
       |      CASE WHEN doemit THEN keepfrom ELSE bufstart0 END AS bufstart1
       |    FROM (
       |      SELECT l2.*,
       |        CASE WHEN doemit THEN list_reduce(list_prepend('',
       |          list_transform(segs1, g ->
       |            CASE WHEN g.s + g.d <= upto THEN g.txt
       |                 WHEN g.s >= upto THEN ''
       |                 ELSE substr(g.txt, 1,
       |                   CAST(length(g.txt) * (upto - g.s) // g.d AS INT))
       |            END)), (a, b) -> a || b) ELSE '' END AS emit_txt,
       |        CASE WHEN doemit
       |          THEN greatest(bufstart0, upto - 150) END AS keepfrom
       |      FROM (
       |        SELECT l1.*,
       |          CASE WHEN w2 THEN endms WHEN w3 THEN endms - silence1 END AS upto,
       |          ((w2 OR w3)
       |            AND (CASE WHEN w2 THEN endms ELSE endms - silence1 END)
       |                - bufstart0 > 0
       |            AND NOT (lastp <> -1
       |              AND (CASE WHEN w2 THEN endms ELSE endms - silence1 END)
       |                  - lastp < 150)) AS doemit
       |        FROM (
       |          SELECT l0.*,
       |            buffems >= 320 AS w2,
       |            buffems < 320 AND speech1 AND silence1 >= 300 AS w3
       |          FROM (
       |            SELECT s.sid, c.rn AS k, s.lastp,
       |              CASE WHEN len(s.segs) = 0 THEN c.off
       |                   ELSE s.bufstart END AS bufstart0,
       |              list_append(s.segs,
       |                {s: c.off, d: CAST(50 AS BIGINT), txt: c.content}) AS segs1,
       |              CASE WHEN rmsv < 10.0 THEN s.silence + 50
       |                   ELSE CAST(0 AS BIGINT) END AS silence1,
       |              CASE WHEN rmsv < 10.0 THEN s.speech ELSE true END AS speech1,
       |              c.off + 50 AS endms,
       |              list_reduce(list_transform(list_append(s.segs,
       |                {s: c.off, d: CAST(50 AS BIGINT), txt: c.content}),
       |                g -> g.d), (a, b) -> a + b) AS buffems
       |            FROM step s
       |            JOIN (
       |              SELECT c0.*,
       |                CASE WHEN clen = 0 THEN 0.0 ELSE sqrt(
       |                  list_reduce(list_transform(range(1, clen + 1),
       |                    i -> CAST(ascii(substr(content, CAST(i AS INT), 1))
       |                      AS DOUBLE) * ascii(substr(content, CAST(i AS INT), 1))),
       |                    (a, b) -> a + b) / clen) END AS rmsv
       |              FROM chunks c0) c
       |              ON c.sid = s.sid AND c.rn = s.k + 1) l0) l1) l2) l3))
       |SELECT sid AS "sessionId", 'PARTIAL' AS "eventType",
       |  ev_text AS "text", ev_conf AS "confidence",
       |  ev_off AS "resultOffsetMs", true AS "isPartial"
       |FROM step WHERE ev_text IS NOT NULL""".stripMargin
  }

  /** q83: AGC recurrence trace (F6, `audio_processor.py:182-215`) made
    * oracle-checkable — the attack/release gain follower runs over the
    * embedding components (the stand-in signal), summarized as the
    * final gain and the limiter clip count. Sequential per row (the
    * recurrence is inherently a scan) but embarrassingly parallel
    * across rows; the kernel is +, *, /, abs, min/max only, so both
    * engines produce bit-identical doubles with no transcendental-libm
    * risk. DuckDB folds the same recurrence with a struct accumulator. */
  private def q83(s: SparkSession, d: String): DataFrame = {
    val agc = udf((emb: Seq[Float]) => {
      val (g, n) = graft.functions.AudioDsp.agcTrace(emb.map(_.toDouble).toArray)
      (g, n)
    })
    Tables.embeddings(s, d)
      .select(col("vec_id"), agc(col("embedding")).as("t"))
      .select(col("vec_id"), round(col("t._1"), 6).as("final_gain"),
        col("t._2").as("n_clip"))
  }

  /** The oracle unrolls the recurrence as a recursive CTE over
    * (vec_id, sample idx) — NOT a list_reduce lambda: DuckDB 1.0's
    * list_reduce re-evaluates the repeated gain subexpression
    * inconsistently across fold steps (observed: clip counts 2 low on
    * 64-sample folds while a single step evaluates correctly), whereas
    * the plain-SQL recursion computes each step's gain once in a
    * subquery and reuses it for both state columns. */
  private val q83Sql = {
    val desired = "(CASE WHEN abs(j.x) > 1e-9 THEN 0.5 / abs(j.x) ELSE s.g END)"
    val gain = s"least(greatest(s.g + (CASE WHEN $desired < s.g " +
      s"THEN 0.1 ELSE 0.9 END) * ($desired - s.g), 0.1), 10.0)"
    s"""WITH RECURSIVE ex AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS idx,
       |         CAST(unnest(embedding) AS DOUBLE) AS x
       |  FROM embeddings),
       |step AS (
       |  SELECT vec_id, 0 AS idx, CAST(1.0 AS DOUBLE) AS g,
       |         CAST(0 AS BIGINT) AS nclip
       |  FROM embeddings
       |  UNION ALL
       |  SELECT vec_id, idx, g2,
       |    CAST(nclip + (CASE WHEN abs(x * g2) > 1.0 THEN 1 ELSE 0 END)
       |      AS BIGINT)
       |  FROM (
       |    SELECT s.vec_id, j.idx, j.x, s.nclip, $gain AS g2
       |    FROM step s JOIN ex j ON j.vec_id = s.vec_id AND j.idx = s.idx + 1))
       |SELECT vec_id, round(g, 6) AS final_gain, nclip AS n_clip
       |FROM step
       |QUALIFY idx = max(idx) OVER (PARTITION BY vec_id)""".stripMargin
  }

  /** q84: linear-interpolation resample probe (F1,
    * `audio_processor.py:70-82`): each embedding, treated as a 16 kHz
    * signal, resampled to 12 kHz by the shared kernel; the oracle
    * recomputes the interpolation at three probe positions (¼, ½, ¾ of
    * the output) in closed form — position-indexed math (+,*,trunc),
    * no recurrence, engine-identical doubles. */
  private def q84(s: SparkSession, d: String): DataFrame = {
    val probe = udf((emb: Seq[Float]) => {
      val y = graft.functions.AudioDsp.resampleLinear(
        emb.map(_.toDouble).toArray, 16000, 12000)
      val n = y.length
      def at(i: Int) = y(math.max(1, i) - 1)
      (n.toLong, at(n / 4), at(n / 2), at(3 * n / 4))
    })
    Tables.embeddings(s, d)
      .select(col("vec_id"), probe(col("embedding")).as("t"))
      .select(col("vec_id"), col("t._1").as("n_out"),
        (round(col("t._2"), 6) + lit(0.0)).as("y_q1"),
        (round(col("t._3"), 6) + lit(0.0)).as("y_mid"),
        (round(col("t._4"), 6) + lit(0.0)).as("y_q3"))
  }

  private val q84Sql = {
    // y(i): 1-based output index → kernel interpolation in closed form
    def y(iExpr: String): String = {
      val pos = s"((greatest(1, $iExpr) - 1) * step)"
      val i0 = s"CAST(trunc($pos) AS INT)"
      s"""(x[least(n - 1, $i0) + 1] * (1.0 - ($pos - least(n - 1, $i0)))
         | + x[least(n - 1, least(n - 1, $i0) + 1) + 1]
         |   * ($pos - least(n - 1, $i0)))""".stripMargin
    }
    s"""SELECT vec_id, CAST(n_out AS BIGINT) AS n_out,
       |  (round(${y("n_out // 4")}, 6) + 0.0) AS y_q1,
       |  (round(${y("n_out // 2")}, 6) + 0.0) AS y_mid,
       |  (round(${y("(3 * n_out) // 4")}, 6) + 0.0) AS y_q3
       |FROM (
       |  SELECT vec_id, x, n, n_out,
       |    CAST(n - 1 AS DOUBLE) / greatest(1, n_out - 1) AS step
       |  FROM (
       |    SELECT vec_id,
       |      list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x,
       |      len(embedding) AS n,
       |      greatest(1, CAST(round(len(embedding) * 12000 / 16000.0) AS INT))
       |        AS n_out
       |    FROM embeddings))""".stripMargin
  }

  /** q85: high-pass biquad probe (F5, `audio_processor.py:159-180`) —
    * the 2nd-order feedback recurrence over the embedding signal,
    * probed at the midpoint and final samples. The transcendental
    * coefficient math (tan/sqrt) runs ONCE in Scala and the exact
    * doubles are embedded as round-trip literals in the oracle — the
    * per-sample recurrence is then add/multiply only, so 64 feedback
    * steps stay bit-identical across engines. Oracle = recursive CTE
    * carrying the (y1, y2, x1, x2) filter state. */
  private def q85(s: SparkSession, d: String): DataFrame = {
    val probe = udf((emb: Seq[Float]) => {
      val y = graft.functions.AudioDsp.highPass(emb.map(_.toDouble).toArray)
      val n = y.length
      def at(i: Int) = y(math.max(1, i) - 1)
      (n.toLong, at(n / 2), at(n))
    })
    Tables.embeddings(s, d)
      .select(col("vec_id"), probe(col("embedding")).as("t"))
      .select(col("vec_id"), col("t._1").as("n"),
        (round(col("t._2"), 6) + lit(0.0)).as("y_mid"),
        (round(col("t._3"), 6) + lit(0.0)).as("y_last"))
  }

  private val q85Sql = {
    // the kernel's coefficients, computed once here; Double.toString is
    // the shortest round-trip form, so DuckDB parses the same doubles
    val k = math.tan(math.Pi * 80.0 / 16000.0)
    val q = math.sqrt(2.0) / 2.0
    val norm = 1.0 / (1.0 + k / q + k * k)
    val (b0, b1, b2) = (norm, -2.0 * norm, norm)
    val a1 = 2.0 * (k * k - 1.0) * norm
    val a2 = (1.0 - k / q + k * k) * norm
    s"""WITH RECURSIVE ex AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS idx,
       |         CAST(unnest(embedding) AS DOUBLE) AS x
       |  FROM embeddings),
       |dims AS (SELECT vec_id, len(embedding) AS n FROM embeddings),
       |step AS (
       |  SELECT vec_id, 0 AS idx, CAST(0.0 AS DOUBLE) AS y1,
       |    CAST(0.0 AS DOUBLE) AS y2, CAST(0.0 AS DOUBLE) AS x1,
       |    CAST(0.0 AS DOUBLE) AS x2, CAST(NULL AS DOUBLE) AS y
       |  FROM embeddings
       |  UNION ALL
       |  SELECT vec_id, idx, yv AS y1, y1 AS y2, xv AS x1, x1 AS x2, yv AS y
       |  FROM (
       |    SELECT s.vec_id, j.idx, j.x AS xv, s.y1, s.y2, s.x1, s.x2,
       |      ($b0 * j.x + $b1 * s.x1 + $b2 * s.x2
       |        - $a1 * s.y1 - $a2 * s.y2) AS yv
       |    FROM step s JOIN ex j ON j.vec_id = s.vec_id AND j.idx = s.idx + 1))
       |SELECT s.vec_id, CAST(d.n AS BIGINT) AS n,
       |  (round(max(CASE WHEN s.idx = d.n // 2 THEN s.y END), 6) + 0.0) AS y_mid,
       |  (round(max(CASE WHEN s.idx = d.n THEN s.y END), 6) + 0.0) AS y_last
       |FROM step s JOIN dims d USING (vec_id)
       |WHERE s.idx > 0
       |GROUP BY s.vec_id, d.n""".stripMargin
  }

  /** q86: stereo downmix + frame VAD (F2+F7 composed,
    * `audio_processor.py:84-91,217-278`): the embedding as 2-channel
    * interleaved audio → per-sample channel mean → 8-sample frames →
    * energy decision per frame (zero-padded last frame = divide by the
    * full frame length). sqrt is IEEE-exact, frame sums fold
    * left-to-right on both engines. */
  private def q86(s: SparkSession, d: String): DataFrame = {
    val probe = udf((emb: Seq[Float]) => {
      val mono = graft.functions.AudioDsp.toMono(
        emb.map(_.toDouble).toArray, 2)
      val flags = graft.functions.AudioDsp.vadFlags(
        mono, fsHz = 1000.0, frameMs = 8, threshold = 0.15)
      (mono.length.toLong, flags.length.toLong,
        flags.count(identity).toLong, mono(mono.length / 2))
    })
    Tables.embeddings(s, d)
      .select(col("vec_id"), probe(col("embedding")).as("t"))
      .select(col("vec_id"), col("t._1").as("n_mono"),
        col("t._2").as("n_frames"), col("t._3").as("n_speech"),
        (round(col("t._4"), 6) + lit(0.0)).as("mono_mid"))
  }

  private val q86Sql =
    """SELECT vec_id, CAST(nm AS BIGINT) AS n_mono,
      |  CAST(nf AS BIGINT) AS n_frames,
      |  CAST(len(list_filter(range(1, nf + 1), f ->
      |    sqrt(list_reduce(list_transform(m[(f-1)*8+1 : f*8], v -> v * v),
      |      (a, b) -> a + b) / 8.0) >= 0.15)) AS BIGINT) AS n_speech,
      |  (round(m[CAST(nm // 2 + 1 AS INT)], 6) + 0.0) AS mono_mid
      |FROM (
      |  SELECT vec_id,
      |    [ (CAST(embedding[2*i-1] AS DOUBLE) + CAST(embedding[2*i] AS DOUBLE))
      |      / 2.0 for i in range(1, len(embedding) // 2 + 1) ] AS m,
      |    len(embedding) // 2 AS nm,
      |    (len(embedding) // 2 + 7) // 8 AS nf
      |  FROM embeddings)""".stripMargin

  /** q87: envelope spectral-subtraction denoise probe (F4,
    * `audio_processor.py:116-157`): noise floor = running mean |x| over
    * the estimation window (the whole 64-sample signal at this fs),
    * α=2.0 over-subtraction, β=0.01 spectral floor, sign preserved.
    * Outputs the noise estimate, the mid/last cleaned samples, and how
    * many samples hit the β floor — abs/add/multiply/max only. */
  private def q87(s: SparkSession, d: String): DataFrame = {
    val probe = udf((emb: Seq[Float]) => {
      val x = emb.map(_.toDouble).toArray
      val y = graft.functions.AudioDsp.denoiseSubtract(x)
      var noise = 0.0
      x.foreach(v => noise += math.abs(v))
      noise /= math.max(1, x.length)
      val nFloored =
        x.count(v => math.abs(v) - 2.0 * noise < 0.01 * math.abs(v))
      def at(i: Int) = y(math.max(1, i) - 1)
      (x.length.toLong, noise, at(x.length / 2 + 1), at(x.length),
        nFloored.toLong)
    })
    Tables.embeddings(s, d)
      .select(col("vec_id"), probe(col("embedding")).as("t"))
      .select(col("vec_id"), col("t._1").as("n"),
        round(col("t._2"), 6).as("noise"),
        (round(col("t._3"), 6) + lit(0.0)).as("y_mid"),
        (round(col("t._4"), 6) + lit(0.0)).as("y_last"),
        col("t._5").as("n_floored"))
  }

  private val q87Sql = {
    def y(pos: String): String = {
      val v = s"x[$pos]"
      val cleaned = s"greatest(0.01 * abs($v), abs($v) - 2.0 * noise)"
      s"(CASE WHEN $v >= 0 THEN $cleaned ELSE -($cleaned) END)"
    }
    s"""SELECT vec_id, CAST(n AS BIGINT) AS n, round(noise, 6) AS noise,
       |  (round(${y("CAST(n // 2 + 1 AS INT)")}, 6) + 0.0) AS y_mid,
       |  (round(${y("CAST(n AS INT)")}, 6) + 0.0) AS y_last,
       |  CAST(len(list_filter(x, v ->
       |    abs(v) - 2.0 * noise < 0.01 * abs(v))) AS BIGINT) AS n_floored
       |FROM (
       |  SELECT vec_id, x, n,
       |    list_reduce(list_transform(x, v -> abs(v)), (a, b) -> a + b)
       |      / greatest(1, n) AS noise
       |  FROM (
       |    SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x,
       |      len(embedding) AS n
       |    FROM embeddings))""".stripMargin
  }

  /** The documents with text, the rows every probe query reads. */
  private[queries] def textDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(length(col("text")) >= 1)

  /** q88/q89 shared plane builder — indexes the text by CODE POINTS
    * (as DuckDB's length/substr/ascii do), not UTF-16 code units, so
    * both engines derive the identical pixel plane even when the
    * document contains non-BMP characters (emoji). */
  private[queries] def textPlane(text: String): Array[Byte] = {
    val cps = text.codePoints().toArray
    val n = math.max(1, cps.length)
    Array.tabulate(512) { i =>
      val c = if (cps.isEmpty) 0 else cps((i * 7) % n)
      (if ((c * (i + 1)) % 17 == 0) 40 else 255).toByte
    }
  }

  /** q88: image-kernel probe (F16 binarize + F21 crop-to-content,
    * `image_processor.py:230-236,371-398`): a deterministic 32×16
    * grayscale plane synthesized from each doc's text (sparse dark
    * pixels on white), run through the REAL ImageOps kernels; the
    * oracle rebuilds the same plane as a list and recomputes the
    * black-pixel count and the padded, frame-clamped content bbox.
    * Integer pixel math only. */
  private def q88(s: SparkSession, d: String): DataFrame = {
    val probe = udf((text: String) => {
      val img = graft.functions.ImageOps.Gray(32, 16, textPlane(text))
      val nBlack = graft.functions.ImageOps.binarizeFixed(img)
        .px.count(_ == 0).toLong
      graft.functions.ImageOps.contentBBox(img, 240, 2) match {
        case Some((x, y, w, h)) =>
          (nBlack, x.toLong, y.toLong, w.toLong, h.toLong)
        case None => (nBlack, -1L, -1L, -1L, -1L)
      }
    })
    textDocs(s, d).select(col("doc_id"), probe(col("text")).as("t"))
      .select(col("doc_id"), col("t._1").as("n_black"),
        col("t._2").as("bb_x"), col("t._3").as("bb_y"),
        col("t._4").as("bb_w"), col("t._5").as("bb_h"))
  }

  private val q88Sql =
    """SELECT doc_id,
      |  CAST(len(list_filter(p, v -> v <= 127)) AS BIGINT) AS n_black,
      |  CAST(CASE WHEN nd = 0 THEN -1 ELSE greatest(0, mnx - 2) END
      |    AS BIGINT) AS bb_x,
      |  CAST(CASE WHEN nd = 0 THEN -1 ELSE greatest(0, mny - 2) END
      |    AS BIGINT) AS bb_y,
      |  CAST(CASE WHEN nd = 0 THEN -1
      |    ELSE least(31, mxx + 2) - greatest(0, mnx - 2) + 1 END
      |    AS BIGINT) AS bb_w,
      |  CAST(CASE WHEN nd = 0 THEN -1
      |    ELSE least(15, mxy + 2) - greatest(0, mny - 2) + 1 END
      |    AS BIGINT) AS bb_h
      |FROM (
      |  SELECT doc_id, p, len(di) AS nd,
      |    list_min(list_transform(di, i -> i % 32)) AS mnx,
      |    list_max(list_transform(di, i -> i % 32)) AS mxx,
      |    list_min(list_transform(di, i -> i // 32)) AS mny,
      |    list_max(list_transform(di, i -> i // 32)) AS mxy
      |  FROM (
      |    SELECT doc_id, p,
      |      list_filter(range(0, 512), i -> p[i + 1] < 240) AS di
      |    FROM (
      |      SELECT doc_id,
      |        [CASE WHEN (ascii(substr(text, ((i * 7) % nch) + 1, 1))
      |                    * (i + 1)) % 17 = 0
      |              THEN 40 ELSE 255 END for i in range(0, 512)] AS p
      |      FROM (SELECT doc_id, text, length(text) AS nch
      |            FROM documents WHERE length(text) >= 1))))""".stripMargin

  /** q89: rotation probe (F13 quadrant rotations,
    * `image_processor.py:88-104` EXIF auto-rotate core): the q88 plane
    * through the REAL rotate90cw/rotate180 kernels, summarized as
    * position-weighted integer checksums (exact in both engines); the
    * oracle recomputes each checksum directly from the index mapping
    * (out[x·h + (h−1−y)] = in[y·w + x] for 90° cw; out[i] = in[N−1−i]
    * for 180°) without materializing the rotated plane. */
  private def q89(s: SparkSession, d: String): DataFrame = {
    val probe = udf((text: String) => {
      val img = graft.functions.ImageOps.Gray(32, 16, textPlane(text))
      val r90 = graft.functions.ImageOps.rotate90cw(img)
      val r180 = graft.functions.ImageOps.rotate180(img)
      (checksum(r90), checksum(r180), (r90.w * 100000 + r90.h).toLong)
    })
    textDocs(s, d).select(col("doc_id"), probe(col("text")).as("t"))
      .select(col("doc_id"), col("t._1").as("sum90"),
        col("t._2").as("sum180"), col("t._3").as("dims90"))
  }

  private val q89Sql =
    """SELECT doc_id,
      |  CAST(sum((CAST((i % 32) * 16 + 15 - (i // 32) AS BIGINT) + 1)
      |    * p[i + 1]) AS BIGINT) AS sum90,
      |  CAST(sum(CAST(512 - i AS BIGINT) * p[i + 1]) AS BIGINT) AS sum180,
      |  CAST(16 * 100000 + 32 AS BIGINT) AS dims90
      |FROM (
      |  SELECT doc_id, p, unnest(range(0, 512)) AS i
      |  FROM (
      |    SELECT doc_id,
      |      [CASE WHEN (ascii(substr(text, ((i * 7) % nch) + 1, 1))
      |                  * (i + 1)) % 17 = 0
      |            THEN 40 ELSE 255 END for i in range(0, 512)] AS p
      |    FROM (SELECT doc_id, text, length(text) AS nch
      |          FROM documents WHERE length(text) >= 1)))
      |GROUP BY doc_id""".stripMargin

  /** q95: feature-extraction probe (F10, `audio_processor.py:384-420`):
    * the RMS and zero-crossing-rate components of the real
    * extractFeatures kernel over the embedding signal — both IEEE-exact
    * (square/sum/sqrt and sign comparisons). The Goertzel centroid
    * stays typed-only: its 16-probe recurrence would need a 16×N
    * recursive unroll in the oracle for no additional determinism
    * evidence beyond q85's biquad recursion. */
  private def q95(s: SparkSession, d: String): DataFrame = {
    val probe = udf((emb: Seq[Float]) => {
      val f = graft.functions.AudioDsp.extractFeatures(
        emb.map(_.toDouble).toArray)
      (f.rms, f.zcr)
    })
    Tables.embeddings(s, d)
      .select(col("vec_id"), probe(col("embedding")).as("t"))
      .select(col("vec_id"), round(col("t._1"), 6).as("rms"),
        round(col("t._2"), 6).as("zcr"))
  }

  private val q95Sql =
    """SELECT vec_id,
      |  round(sqrt(list_reduce(list_transform(x, v -> v * v),
      |    (a, b) -> a + b) / n), 6) AS rms,
      |  round(CAST(len(list_filter(range(2, CAST(n AS INT) + 1),
      |      i -> (x[i] >= 0) <> (x[i - 1] >= 0))) AS DOUBLE) / n, 6) AS zcr
      |FROM (
      |  SELECT vec_id,
      |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x,
      |    len(embedding) AS n
      |  FROM embeddings)""".stripMargin

  /** q99: MFCC + spectral bandwidth/rolloff probe (F10 full fidelity,
    * `audio_processor.py:384-420`): the embedding as a 64-sample 1 kHz
    * signal through the REAL AudioDsp.spectralFeatures kernel — 64-point
    * DFT power via Goertzel, 12-filter mel bank, log, orthonormal
    * DCT-II (first 5 cepstra), power-weighted bandwidth, 85% rolloff.
    * The oracle replays the Goertzel recurrence per DFT bin in a
    * recursive CTE (pure +,* with the kernel's cos coefficients embedded
    * as round-trip literals — bit-identical feedback), then applies the
    * mel/DCT stages as literal-weight sum chains in the same ascending
    * fold order. ln() is the one non-exact step (≤1 ulp either engine);
    * round-6 absorbs it. */
  private def q99(s: SparkSession, d: String): DataFrame = {
    val probe = udf((emb: Seq[Float]) => {
      val f = graft.functions.AudioDsp.spectralFeatures(
        emb.map(_.toDouble).toArray)
      (f.mfcc(0), f.mfcc(1), f.mfcc(2), f.mfcc(3), f.mfcc(4),
        f.bandwidthHz, f.rolloffHz)
    })
    Tables.embeddings(s, d)
      .select(col("vec_id"), probe(col("embedding")).as("t"))
      .select(col("vec_id"),
        (round(col("t._1"), 6) + lit(0.0)).as("mfcc0"),
        (round(col("t._2"), 6) + lit(0.0)).as("mfcc1"),
        (round(col("t._3"), 6) + lit(0.0)).as("mfcc2"),
        (round(col("t._4"), 6) + lit(0.0)).as("mfcc3"),
        (round(col("t._5"), 6) + lit(0.0)).as("mfcc4"),
        (round(col("t._6"), 6) + lit(0.0)).as("bandwidth_hz"),
        (round(col("t._7"), 6) + lit(0.0)).as("rolloff_hz"))
  }

  private val q99Sql = {
    val sp = graft.functions.AudioDsp.Spectral
    val coeffs = sp.goertzelCoeff.mkString("[", ", ", "]")
    val binHz = sp.binHz.mkString("[", ", ", "]")
    // mel energies as literal-weight sum chains over the (sparse)
    // nonzero bins — adding a 0.0-weight term is an exact no-op, so
    // skipping zeros matches the kernel's dense ascending fold bit-f-bit
    val mels = (0 until sp.NMel).map { m =>
      val terms = sp.melWeights(m).zipWithIndex.collect {
        case (w, k) if w != 0.0 => s"$w * p[${k + 1}]"
      }
      s"ln((${terms.mkString(" + ")}) + 1.0e-10) AS lm$m"
    }
    val mfccs = (0 until sp.NMfcc).map { j =>
      val terms = (0 until sp.NMel).map(m => s"${sp.dctBasis(j)(m)} * lm$m")
      s"(round(${terms.mkString(" + ")}, 6) + 0.0) AS mfcc$j"
    }
    s"""WITH RECURSIVE ex AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS idx,
       |         CAST(unnest(embedding) AS DOUBLE) AS x
       |  FROM embeddings),
       |cf AS (SELECT unnest($coeffs) AS c,
       |              generate_subscripts($coeffs, 1) - 1 AS bin),
       |step AS (
       |  SELECT e.vec_id, b.bin, b.c, 0 AS idx,
       |    CAST(0.0 AS DOUBLE) AS s1, CAST(0.0 AS DOUBLE) AS s2
       |  FROM embeddings e CROSS JOIN cf b
       |  UNION ALL
       |  SELECT s.vec_id, s.bin, s.c, j.idx,
       |    j.x + s.c * s.s1 - s.s2 AS s1, s.s1 AS s2
       |  FROM step s JOIN ex j ON j.vec_id = s.vec_id AND j.idx = s.idx + 1),
       |pw AS (
       |  SELECT vec_id,
       |    list(s1 * s1 + s2 * s2 - c * s1 * s2 ORDER BY bin) AS p
       |  FROM step WHERE idx = ${sp.N}
       |  GROUP BY vec_id),
       |fb AS (SELECT list_transform($binHz,
       |  v -> CAST(v AS DOUBLE)) AS f),
       |moments AS (
       |  SELECT vec_id, p, f, tot,
       |    CASE WHEN tot > 0 THEN num / tot ELSE 0.0 END AS centroid
       |  FROM (
       |    SELECT vec_id, p, f,
       |      list_reduce(p, (a, b) -> a + b) AS tot,
       |      list_reduce(list_transform(range(1, ${sp.K} + 1),
       |        k -> f[k] * p[k]), (a, b) -> a + b) AS num
       |    FROM pw CROSS JOIN fb)),
       |feats AS (
       |  SELECT vec_id,
       |    ${mels.mkString(",\n    ")},
       |    CASE WHEN tot > 0 THEN sqrt(greatest(0.0, list_reduce(
       |      list_transform(range(1, ${sp.K} + 1),
       |        k -> (f[k] - centroid) * (f[k] - centroid) * p[k]),
       |      (a, b) -> a + b) / tot)) ELSE 0.0 END AS bw,
       |    f[CAST(list_min(list_filter(range(0, ${sp.K}), k ->
       |      list_reduce(p[1 : k + 1], (a, b) -> a + b)
       |        >= ${sp.RolloffPct} * tot)) AS INT) + 1] AS roll
       |  FROM moments)
       |SELECT vec_id,
       |  ${mfccs.mkString(",\n  ")},
       |  (round(bw, 6) + 0.0) AS bandwidth_hz,
       |  (round(roll, 6) + 0.0) AS rolloff_hz
       |FROM feats""".stripMargin
  }

  /** q100: order-4 zero-phase high-pass probe (F5 full fidelity,
    * `audio_processor.py:159-180` `filtfilt(butter(4, 80/8000))`): the
    * embedding signal through the REAL highPassFiltFilt kernel — two
    * cascaded Butterworth SOS biquads forward, then the same cascade
    * backward (zero phase). The oracle replays both passes as recursive
    * CTEs carrying the 8-variable cascade state, with the kernel's SOS
    * coefficients embedded as round-trip literals: every step is +,*
    * only, so all 256 feedback applications stay bit-identical. */
  private def q100(s: SparkSession, d: String): DataFrame = {
    val probe = udf((emb: Seq[Float]) => {
      val y = graft.functions.AudioDsp.highPassFiltFilt(
        emb.map(_.toDouble).toArray)
      val n = y.length
      (n.toLong, y(n / 2 - 1), y(n - 1))
    })
    Tables.embeddings(s, d)
      .select(col("vec_id"), probe(col("embedding")).as("t"))
      .select(col("vec_id"), col("t._1").as("n"),
        (round(col("t._2"), 6) + lit(0.0)).as("y_mid"),
        (round(col("t._3"), 6) + lit(0.0)).as("y_last"))
  }

  private val q100Sql = {
    val dsp = graft.functions.AudioDsp
    val (b0a, b1a, b2a, a1a, a2a) = dsp.hpCoeffs(80.0, 16000.0, dsp.butter4Q1)
    val (b0b, b1b, b2b, a1b, a2b) = dsp.hpCoeffs(80.0, 16000.0, dsp.butter4Q2)
    // one cascade step: section 1 consumes xin, section 2 consumes
    // section 1's output in the same step (identical arithmetic to
    // running the full array through section 1 then section 2)
    def pass(src: String, rev: Boolean): String = {
      val join =
        if (rev) s"j.vec_id = s.vec_id AND j.idx = n + 1 - (s.k + 1)"
        else "j.vec_id = s.vec_id AND j.idx = s.k + 1"
      s"""  SELECT e.vec_id, 0 AS k,
         |    CAST(0.0 AS DOUBLE) AS x1a, CAST(0.0 AS DOUBLE) AS x2a,
         |    CAST(0.0 AS DOUBLE) AS y1a, CAST(0.0 AS DOUBLE) AS y2a,
         |    CAST(0.0 AS DOUBLE) AS x1b, CAST(0.0 AS DOUBLE) AS x2b,
         |    CAST(0.0 AS DOUBLE) AS y1b, CAST(0.0 AS DOUBLE) AS y2b,
         |    CAST(NULL AS DOUBLE) AS y
         |  FROM embeddings e
         |  UNION ALL
         |  SELECT vec_id, k, xin AS x1a, x1a AS x2a, ya AS y1a, y1a AS y2a,
         |    ya AS x1b, x1b AS x2b, yb AS y1b, y1b AS y2b, yb AS y
         |  FROM (
         |    SELECT t.*, ($b0b * ya + $b1b * x1b + $b2b * x2b
         |                 - $a1b * y1b - $a2b * y2b) AS yb
         |    FROM (
         |      SELECT s.vec_id, s.k + 1 AS k, j.x AS xin,
         |        s.x1a, s.x2a, s.y1a, s.y2a, s.x1b, s.x2b, s.y1b, s.y2b,
         |        ($b0a * j.x + $b1a * s.x1a + $b2a * s.x2a
         |          - $a1a * s.y1a - $a2a * s.y2a) AS ya
         |      FROM $src s JOIN ${if (rev) "fwdn" else "ex"} j
         |        ON $join) t)""".stripMargin
    }
    s"""WITH RECURSIVE ex AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS idx,
       |         CAST(unnest(embedding) AS DOUBLE) AS x
       |  FROM embeddings),
       |dims AS (SELECT vec_id, len(embedding) AS n FROM embeddings),
       |fwd AS (
       |${pass("fwd", rev = false)}),
       |fwdn AS (
       |  SELECT f.vec_id, f.k AS idx, f.y AS x, d.n
       |  FROM fwd f JOIN dims d USING (vec_id) WHERE f.k > 0),
       |bwd AS (
       |${pass("bwd", rev = true)})
       |SELECT b.vec_id, CAST(d.n AS BIGINT) AS n,
       |  (round(max(CASE WHEN b.k = d.n + 1 - (d.n // 2) THEN b.y END), 6)
       |    + 0.0) AS y_mid,
       |  (round(max(CASE WHEN b.k = 1 THEN b.y END), 6) + 0.0) AS y_last
       |FROM bwd b JOIN dims d USING (vec_id)
       |WHERE b.k > 0
       |GROUP BY b.vec_id, d.n""".stripMargin
  }

  /** q101: WebRTC-VAD-shaped frame classification probe (P8/F7 full
    * fidelity, `audio_processor.py:217-278`): the embedding as a 1 kHz
    * signal in 8-sample frames through the REAL vadFrames kernel —
    * two-feature decision (RMS gate AND ZCR ceiling, or loud-override)
    * at aggressiveness 2, last frame zero-padded. The oracle recomputes
    * both features and the decision rule per frame in closed form; the
    * thresholds are embedded from the same Scala expressions so the
    * inexact 0.01·(1+a) arithmetic matches bit-for-bit. */
  private def q101(s: SparkSession, d: String): DataFrame = {
    val probe = udf((emb: Seq[Float]) => {
      val flags = graft.functions.AudioDsp.vadFrames(
        emb.map(_.toDouble).toArray, fsHz = 1000.0, frameMs = 8,
        aggressiveness = 2)
      val first = flags.indexWhere(identity)
      (flags.length.toLong, flags.count(identity).toLong, first.toLong)
    })
    Tables.embeddings(s, d)
      .select(col("vec_id"), probe(col("embedding")).as("t"))
      .select(col("vec_id"), col("t._1").as("n_frames"),
        col("t._2").as("n_speech"), col("t._3").as("first_speech"))
  }

  private val q101Sql = {
    val aggressiveness = 2
    val eThresh = 0.01 * (1 + aggressiveness)
    val zThresh = 0.5 - 0.1 * aggressiveness
    val speech =
      s"""(sqrt(list_reduce(list_transform(m[(f-1)*8+1 : f*8], v -> v * v),
         |      (a, b) -> a + b) / 8.0) >= $eThresh
         |    AND CAST(len(list_filter(range((f-1)*8+2, least(nm, f*8) + 1),
         |      i -> (m[i] >= 0) <> (m[i-1] >= 0))) AS DOUBLE) / 8.0
         |      <= $zThresh)
         |   OR sqrt(list_reduce(list_transform(m[(f-1)*8+1 : f*8], v -> v * v),
         |      (a, b) -> a + b) / 8.0) >= 3.0 * $eThresh""".stripMargin
    s"""SELECT vec_id, CAST(nf AS BIGINT) AS n_frames,
       |  CAST(len(list_filter(range(1, nf + 1), f ->
       |    $speech)) AS BIGINT) AS n_speech,
       |  CAST(coalesce(list_min(list_filter(range(1, nf + 1), f ->
       |    $speech)), 0) - 1 AS BIGINT) AS first_speech
       |FROM (
       |  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS m,
       |    len(embedding) AS nm, (len(embedding) + 7) // 8 AS nf
       |  FROM embeddings)""".stripMargin
  }

  // ---- q102/q103 SQL helpers: morphology / pixel stages over the ----
  // ---- 32×16 plane as DuckDB list comprehensions (0-based i var) ----
  private[queries] val W = 32
  private[queries] val H = 16
  private def xOf(i: String) = s"($i % $W)"
  private def yOf(i: String) = s"($i // $W)"

  /** erode/dilate with a 2×2 window anchored top-left (the kernel's
    * convention): out-of-frame cells contribute the neutral element. */
  private def morph2x2Sql(src: String, min: Boolean): String = {
    val neutral = if (min) 255 else 0
    val f = if (min) "least" else "greatest"
    val (x, y) = (xOf("i"), yOf("i"))
    s"""list_transform(range(0, ${W * H}), i -> $f(
       |  $src[i + 1],
       |  CASE WHEN $x < ${W - 1} THEN $src[i + 2] ELSE $neutral END,
       |  CASE WHEN $y < ${H - 1} THEN $src[i + $W + 1] ELSE $neutral END,
       |  CASE WHEN $x < ${W - 1} AND $y < ${H - 1}
       |    THEN $src[i + $W + 2] ELSE $neutral END))""".stripMargin
  }

  /** erode/dilate with a 1-D window of `2r+1` cells along one axis,
    * window clipped to the frame. */
  private def morphLineSql(src: String, r: Int, horizontal: Boolean,
      min: Boolean): String = {
    val agg = if (min) "list_min" else "list_max"
    val (x, y) = (xOf("i"), yOf("i"))
    if (horizontal)
      s"""list_transform(range(0, ${W * H}), i -> $agg(
         |  list_transform(list_filter(range(${-r}, ${r + 1}),
         |    d -> $x + d >= 0 AND $x + d <= ${W - 1}),
         |    d -> $src[i + d + 1])))""".stripMargin
    else
      s"""list_transform(range(0, ${W * H}), i -> $agg(
         |  list_transform(list_filter(range(${-r}, ${r + 1}),
         |    d -> $y + d >= 0 AND $y + d <= ${H - 1}),
         |    d -> $src[i + d * $W + 1])))""".stripMargin
  }

  /** Position-weighted plane checksum, Σ (i+1)·px(i) over unsigned
    * pixels; [[checksumSql]] is the oracle's side. */
  private def checksum(g: graft.functions.ImageOps.Gray): Long = {
    var cs = 0L
    var i = 0
    while (i < g.px.length) { cs += (i + 1).toLong * (g.px(i) & 0xff); i += 1 }
    cs
  }

  private def checksumSql(src: String): String =
    s"""CAST(list_reduce(list_transform(range(0, ${W * H}),
       |  i -> CAST((i + 1) * $src[i + 1] AS BIGINT)),
       |  (a, b) -> a + b) AS BIGINT)""".stripMargin

  private[queries] val planeSql = // the q88 text plane (code-point indexed)
    s"""[CASE WHEN (ascii(substr(text, ((i * 7) % nch) + 1, 1))
       |            * (i + 1)) % 17 = 0
       |      THEN 40 ELSE 255 END for i in range(0, ${W * H})]""".stripMargin

  /** q102: morphology probe (F14/F17/F20 kernels,
    * `image_processor.py:182-195,238-262,337-368`): the binarized q88
    * plane through the REAL ImageOps morphology — 2×2 open and close,
    * 2-iteration 9-cell line detection with saturating line removal,
    * and the 0.5/0.5 table mask — summarized as position-weighted
    * integer checksums (exact in both engines). The oracle recomputes
    * every erode/dilate stage as window min/max list comprehensions
    * with identical clipping. */
  private def q102(s: SparkSession, d: String): DataFrame = {
    val probe = udf((text: String) => {
      val io = graft.functions.ImageOps
      val b = io.binarizeFixed(io.Gray(W, H, textPlane(text)))
      val tm = io.tableMask(b, 9)
      (checksum(io.open(b, 2, 2)), checksum(io.close(b, 2, 2)),
        checksum(io.removeNoise(b, 9)),
        tm.px.count(p => (p & 0xff) < 128).toLong)
    })
    textDocs(s, d).select(col("doc_id"), probe(col("text")).as("t"))
      .select(col("doc_id"), col("t._1").as("c_open"),
        col("t._2").as("c_close"), col("t._3").as("c_removed"),
        col("t._4").as("n_table_dark"))
  }

  private val q102Sql =
    s"""SELECT doc_id,
       |  ${checksumSql("o22")} AS c_open,
       |  ${checksumSql("c22")} AS c_close,
       |  CAST(list_reduce(list_transform(range(0, ${W * H}),
       |    i -> CAST((i + 1) * greatest(0, greatest(0, b[i + 1] - hl[i + 1])
       |                 - vl[i + 1]) AS BIGINT)),
       |    (a, b2) -> a + b2) AS BIGINT) AS c_removed,
       |  CAST(len(list_filter(range(0, ${W * H}),
       |    i -> round(0.5 * hl[i + 1] + 0.5 * vl[i + 1]) < 128))
       |    AS BIGINT) AS n_table_dark
       |FROM (
       |  SELECT doc_id, b, hl, vl,
       |    ${morph2x2Sql("e22", min = false)} AS o22,
       |    ${morph2x2Sql("d22", min = true)} AS c22
       |  FROM (
       |    SELECT doc_id, b,
       |      ${morph2x2Sql("b", min = true)} AS e22,
       |      ${morph2x2Sql("b", min = false)} AS d22,
       |      ${morphLineSql("dh1", 4, horizontal = true, min = false)} AS hl,
       |      ${morphLineSql("dv1", 4, horizontal = false, min = false)} AS vl
       |    FROM (
       |      SELECT doc_id, b,
       |        ${morphLineSql("eh2", 4, horizontal = true, min = false)} AS dh1,
       |        ${morphLineSql("ev2", 4, horizontal = false, min = false)} AS dv1
       |      FROM (
       |        SELECT doc_id, b,
       |          ${morphLineSql("eh1", 4, horizontal = true, min = true)} AS eh2,
       |          ${morphLineSql("ev1", 4, horizontal = false, min = true)} AS ev2
       |        FROM (
       |          SELECT doc_id, b,
       |            ${morphLineSql("b", 4, horizontal = true, min = true)} AS eh1,
       |            ${morphLineSql("b", 4, horizontal = false, min = true)} AS ev1
       |          FROM (
       |            SELECT doc_id,
       |              list_transform(p, v -> CASE WHEN v > 127 THEN 255 ELSE 0 END) AS b
       |            FROM (
       |              SELECT doc_id, $planeSql AS p
       |              FROM (SELECT doc_id, text, length(text) AS nch
       |                    FROM documents WHERE length(text) >= 1))))))))""".stripMargin

  /** q103: contrast/sharpen probe (F15/F22,
    * `image_processor.py:198-215,400-420`): the q88 plane through the
    * REAL enhanceContrast (contrast-limited equalization + γ=1.2 LUT),
    * sharpen3x3 (center 9 / neighbors −1, replicated border), and the
    * 0.7/0.3 blend — checksums plus the blended mid pixel. The oracle
    * rebuilds the CLAHE LUT from the plane histogram with the same
    * clip/redistribute arithmetic (the probe plane is two-valued, so
    * the histogram is the {40, 255} count pair) and embeds the kernel's
    * gamma LUT literally. */
  private def q103(s: SparkSession, d: String): DataFrame = {
    val probe = udf((text: String) => {
      val io = graft.functions.ImageOps
      val img = io.Gray(W, H, textPlane(text))
      val enh = io.enhanceContrast(img)
      val sh = io.sharpen3x3(enh)
      val bl = io.addWeighted(enh, 0.7, sh, 0.3)
      (checksum(enh), checksum(sh), checksum(bl),
        (bl.px(W * H / 2) & 0xff).toLong)
    })
    textDocs(s, d).select(col("doc_id"), probe(col("text")).as("t"))
      .select(col("doc_id"), col("t._1").as("c_enhanced"),
        col("t._2").as("c_sharpened"), col("t._3").as("c_blended"),
        col("t._4").as("mid_px"))
  }

  private val q103Sql = {
    val gamma = graft.functions.ImageOps.GammaLut.mkString("[", ", ", "]")
    val n = W * H
    val clip = math.max(1.0, 2.0 * n / 256.0)
    // 3×3 sharpen with replicated border: 10·center − Σ 3×3 window
    val (x, y) = (xOf("i"), yOf("i"))
    def cell(dx: Int, dy: Int) =
      s"e[least(${H - 1}, greatest(0, $y + $dy)) * $W" +
        s" + least(${W - 1}, greatest(0, $x + $dx)) + 1]"
    val windowSum = (for (dy <- -1 to 1; dx <- -1 to 1) yield cell(dx, dy))
      .mkString(" + ")
    s"""SELECT doc_id,
       |  ${checksumSql("e")} AS c_enhanced,
       |  ${checksumSql("sh")} AS c_sharpened,
       |  ${checksumSql("bl")} AS c_blended,
       |  CAST(bl[${n / 2 + 1}] AS BIGINT) AS mid_px
       |FROM (
       |  SELECT doc_id, e, sh,
       |    list_transform(range(0, $n), i -> CAST(least(255, greatest(0,
       |      round(0.7 * e[i + 1] + 0.3 * sh[i + 1]))) AS INT)) AS bl
       |  FROM (
       |    SELECT doc_id, e,
       |      list_transform(range(0, $n), i -> least(255, greatest(0,
       |        10 * e[i + 1] - ($windowSum)))) AS sh
       |    FROM (
       |      SELECT doc_id,
       |        list_transform(p, v -> $gamma[lut[v + 1] + 1]) AS e
       |      FROM (
       |        SELECT doc_id, p,
       |          list_transform(range(0, 256), v -> CAST(least(255, greatest(0,
       |            round(list_reduce(
       |              list_transform(cl[1 : v + 1], c -> c + share),
       |              (a, b) -> a + b) * 255.0 / $n))) AS INT)) AS lut
       |        FROM (
       |          SELECT doc_id, p, cl,
       |            list_reduce(list_transform(hist, c -> greatest(0.0, c - $clip)),
       |              (a, b) -> a + b) / 256.0 AS share
       |          FROM (
       |            SELECT doc_id, p, hist,
       |              list_transform(hist, c -> CASE WHEN c > $clip THEN $clip
       |                ELSE CAST(c AS DOUBLE) END) AS cl
       |            FROM (
       |              SELECT doc_id, p,
       |                list_transform(range(0, 256), v -> CASE
       |                  WHEN v = 40 THEN n40
       |                  WHEN v = 255 THEN $n - n40
       |                  ELSE 0 END) AS hist
       |              FROM (
       |                SELECT doc_id, p,
       |                  len(list_filter(p, v -> v = 40)) AS n40
       |                FROM (
       |                  SELECT doc_id, $planeSql AS p
       |                  FROM (SELECT doc_id, text, length(text) AS nch
       |                        FROM documents WHERE length(text) >= 1))))))))))""".stripMargin
  }

  /** q159: REAL STFT spectral-subtraction probe (F4 closed,
    * `audio_processor.py:116-157`): a 256-sample signal per doc —
    * leading quarter pure deterministic "noise" (text-derived rational
    * values, the noise-estimation segment), then a 0.8-amplitude
    * period-32 triangle wave plus the same noise — through the REAL
    * AudioDsp.denoiseSpectral: Hann-windowed 64-point DFT (hop 16, the
    * reference's 4:1 overlap), mean-noise-spectrum subtraction with
    * α=2.0 / β=0.01 floor as a per-bin complex gain, WOLA resynthesis.
    * The oracle replays every stage — forward DFT, mean noise spectrum
    * over the nF noise frames (generated as an explicit sum/nF, not
    * specialized to any frame), magnitude gain, inverse DFT,
    * overlap-add — as list comprehensions over the SAME window/cos/sin
    * literal tables with the same ascending fold orders, so both
    * engines land on bit-identical doubles; every structural constant
    * (frames=13, bins=33, nF=1) is derived in the SQL generator from
    * Stft and the probe length N=256 via the kernel's own formulas.
    * Outputs are total |·| energies in/out plus three probe samples. */
  private def q159(s: SparkSession, d: String): DataFrame = {
    val probe = udf((text: String) => {
      val cps = text.codePoints().toArray
      val nch = math.max(1, cps.length)
      val x = Array.tabulate(256) { i =>
        val cp = if (cps.isEmpty) 0 else cps((i * 11) % nch)
        val r = ((cp * (i + 7)) % 97) / 97.0 - 0.5
        val tri = math.abs((i % 32) - 16) / 16.0 - 0.5
        (if (i < 64) 0.0 else 0.8 * tri) + 0.25 * r
      }
      val y = graft.functions.AudioDsp.denoiseSpectral(x)
      def sumAbs(a: Array[Double]): Double = {
        var s = 0.0
        var i = 0
        while (i < a.length) { s += math.abs(a(i)); i += 1 }
        s
      }
      (sumAbs(x), sumAbs(y), y(64), y(128), y(200))
    })
    textDocs(s, d).select(col("doc_id"), probe(col("text")).as("t"))
      .select(col("doc_id"),
        round(col("t._1"), 6).as("e_in"), round(col("t._2"), 6).as("e_out"),
        round(col("t._3"), 6).as("y64"), round(col("t._4"), 6).as("y128"),
        round(col("t._5"), 6).as("y200"))
  }

  private val q159Sql = {
    val st = graft.functions.AudioDsp.Stft
    val hn = st.hann.mkString("[", ", ", "]")
    val ct = st.cosT.mkString("[", ", ", "]")
    val stb = st.sinT.mkString("[", ", ", "]")
    // Every structural constant below is DERIVED from the Stft object
    // and the probe length via the kernel's own formulas — scaling the
    // probe (e.g. N=256 -> 512) regenerates a consistent oracle instead
    // of silently keeping 13/33/429-shaped literals.
    val N = 256                       // probe signal length
    val W = st.Win                    // 64: analysis window
    val H = st.Hop                    // 16: hop (4:1 overlap)
    val B = st.K                      // 33: rfft bins
    val frames = (N - W) / H + 1      // 13 analysis frames
    val nF = (N / 4 - W) / H + 1      // noise-segment frames (1 at N=256)
    val FK = frames * B               // 429: flat (frame,bin) index space
    val FJ = frames * W               // 832: flat (frame,sample) space
    // Inner DFT sums as explicit left-associated term chains (ascending
    // i/k, matching the kernel's fold order): a list_reduce here calls
    // its lambda once PER ELEMENT on 1-row vectors — measured ~1.4 s/doc
    // — while one generated 64-term expression vectorizes across the
    // whole flat list. Window/trig weights embed as per-term literals.
    def fwdTerms(tbl: String): String = (0 until W).map { i =>
      s"(${st.hann(i)} * x[(fk // $B) * $H + ${i + 1}])" +
        s" * $tbl[(((fk % $B) * $i) % $W) + 1]"
    }.mkString(" + ")
    val reTerms = fwdTerms("ct")
    val imTerms = fwdTerms("stb")
    val yfTerms = (0 until B).map { k =>
      val wk = if (k == 0 || k == B - 1) "1.0" else "2.0"
      s"$wk * ((re[(fj // $W) * $B + ${k + 1}] * g[(fj // $W) * $B + ${k + 1}])" +
        s" * ct[((${k} * (fj % $W)) % $W) + 1]" +
        s" - (im[(fj // $W) * $B + ${k + 1}] * g[(fj // $W) * $B + ${k + 1}])" +
        s" * stb[((${k} * (fj % $W)) % $W) + 1])"
    }.mkString(" + ")
    // Mean noise spectrum per bin over the nF noise frames — replayed as
    // a generated sum/nF (the kernel's noiseMag fold), NOT specialized
    // to frame 0, so a probe rescale that makes nF > 1 stays correct.
    val noiseMean = (0 until nF)
      .map(f => s"mg[${f * B} + (fk % $B) + 1]")
      .mkString("(", " + ", s") / $nF")
    // FLAT layouts throughout — re/im/mg/g are 13x33 lists indexed
    // [f*33+k+1], yf is 13x64 indexed [f*64+j+1]: a nested list-of-lists
    // oracle re-extracts (copies) the inner list on every [f][k] access,
    // which measured ~1000x slower in DuckDB. Same arithmetic, same
    // ascending fold orders as the Scala kernel.
    s"""SELECT doc_id,
       |  round(list_reduce(list_transform(x, v -> abs(v)), (a, b) -> a + b), 6)
       |    AS e_in,
       |  round(list_reduce(list_transform(y, v -> abs(v)), (a, b) -> a + b), 6)
       |    AS e_out,
       |  round(y[65], 6) AS y64, round(y[129], 6) AS y128,
       |  round(y[201], 6) AS y200
       |FROM (
       |  SELECT doc_id, x,
       |    list_transform(range(0, $N), n2 -> CASE
       |      WHEN yden[n2 + 1] > 1e-8 THEN ynum[n2 + 1] / yden[n2 + 1]
       |      ELSE 0.0 END) AS y
       |  FROM (
       |    SELECT doc_id, x,
       |      list_transform(range(0, $N), n2 -> list_reduce(
       |        list_prepend(0.0, list_transform(
       |          list_filter(range(0, $frames),
       |            f -> n2 - $H * f >= 0 AND n2 - $H * f < $W),
       |          f -> hn[n2 - $H * f + 1] * yf[f * $W + n2 - $H * f + 1])),
       |        (a, b) -> a + b)) AS ynum,
       |      list_transform(range(0, $N), n2 -> list_reduce(
       |        list_prepend(0.0, list_transform(
       |          list_filter(range(0, $frames),
       |            f -> n2 - $H * f >= 0 AND n2 - $H * f < $W),
       |          f -> hn[n2 - $H * f + 1] * hn[n2 - $H * f + 1])),
       |        (a, b) -> a + b)) AS yden
       |    FROM (
       |      SELECT doc_id, hn, ct, stb, x,
       |        list_transform(range(0, $FJ), fj -> ($yfTerms) / $W) AS yf
       |      FROM (
       |        SELECT doc_id, hn, ct, stb, x, re, im,
       |          list_transform(range(0, $FK), fk -> CASE
       |            WHEN mg[fk + 1] > 0 THEN
       |              greatest(0.01 * mg[fk + 1],
       |                mg[fk + 1] - 2.0 * ($noiseMean)) / mg[fk + 1]
       |            ELSE 0.0 END) AS g
       |        FROM (
       |          SELECT doc_id, hn, ct, stb, x, re, im,
       |            list_transform(range(0, $FK), fk ->
       |              sqrt(re[fk + 1] * re[fk + 1] + im[fk + 1] * im[fk + 1]))
       |              AS mg
       |          FROM (
       |            SELECT doc_id, hn, ct, stb, x,
       |              list_transform(range(0, $FK), fk -> $reTerms) AS re,
       |              list_transform(range(0, $FK), fk -> -($imTerms)) AS im
       |            FROM (
       |              SELECT doc_id, hn, ct, stb,
       |                [(CASE WHEN i < ${N / 4} THEN 0.0
       |                   ELSE 0.8 * (abs((i % 32) - 16)
       |                     / CAST(16 AS DOUBLE) - 0.5) END)
       |                 + 0.25 * (((ascii(substr(text, ((i * 11) % nch) + 1, 1))
       |                     * (i + 7)) % 97) / CAST(97 AS DOUBLE) - 0.5)
       |                 for i in range(0, $N)] AS x
       |              FROM (SELECT doc_id, text, length(text) AS nch
       |                    FROM documents WHERE length(text) >= 1)
       |                CROSS JOIN (SELECT CAST($hn AS DOUBLE[]) AS hn,
       |                  CAST($ct AS DOUBLE[]) AS ct,
       |                  CAST($stb AS DOUBLE[]) AS stb))))))))""".stripMargin
  }


  /** q158 plane: unlike the two-valued q88 plane, every pixel is a full
    * 0..255 level — v[i] = (cp[(i·7) mod nch] · (i+3)) mod 256 — so the
    * Otsu histogram has real mass across bins and the adaptive-Gaussian
    * local mean varies per pixel. Code-point indexed like [[textPlane]]. */
  private def textPlaneGrad(text: String): Array[Byte] = {
    val cps = text.codePoints().toArray
    val n = math.max(1, cps.length)
    Array.tabulate(W * H) { i =>
      val c = if (cps.isEmpty) 0 else cps((i * 7) % n)
      ((c * (i + 3)) % 256).toByte
    }
  }

  private val gradPlaneSql =
    s"""[(ascii(substr(text, ((i * 7) % nch) + 1, 1)) * (i + 3)) % 256
       | for i in range(0, ${W * H})]""".stripMargin

  /** q158: F16 DEFAULT-path probe (adaptive-Gaussian + Otsu binarize,
    * `image_processor.py:217-231`): the multi-level plane through the
    * REAL ImageOps.binarizeAdaptiveGaussian (σ=2.0 11-tap kernel in
    * 1/1024 fixed point, border-replicate, cross-multiplied compare
    * `(px+C)·(Σw)² > Σw·px` — division-free) and binarizeOtsu
    * (between-class-variance argmax over the 256-bin histogram, first
    * max wins). The oracle replays the separable integer convolution
    * with the identical pinned kernel literals and the Otsu score as
    * the same `(double)A·(double)A/(double)(w0·w1)` op sequence, so
    * both engines agree bit-for-bit on thresholds and planes. */
  private def q158(s: SparkSession, d: String): DataFrame = {
    val probe = udf((text: String) => {
      val io = graft.functions.ImageOps
      val img = io.Gray(W, H, textPlaneGrad(text))
      val ad = io.binarizeAdaptiveGaussian(img, c = 2)
      val t = io.otsuThreshold(img)
      (checksum(ad), ad.px.count(_ == -1).toLong, t.toLong,
        checksum(io.binarizeOtsu(img)))
    })
    textDocs(s, d).select(col("doc_id"), probe(col("text")).as("t"))
      .select(col("doc_id"), col("t._1").as("c_adapt"),
        col("t._2").as("n_white_adapt"), col("t._3").as("t_otsu"),
        col("t._4").as("c_otsu"))
  }

  private val q158Sql = {
    val io = graft.functions.ImageOps
    val k = io.Gauss11
    val r = k.length / 2
    val n = W * H
    val (x, y) = (xOf("i"), yOf("i"))
    // separable Gaussian, border-replicate; horizontal sums fit INT32
    // (≤ 255·Σw = 1.3M), vertical sums need BIGINT (≤ 255·(Σw)² = 6.6e9)
    val hTerms = (for (dx <- -r to r) yield
      s"${k(dx + r)} * p[$y * $W + least(${W - 1}, greatest(0, $x + $dx)) + 1]")
      .mkString(" + ")
    val vTerms = (for (dy <- -r to r) yield
      s"CAST(${k(dy + r)} AS BIGINT) * " +
        s"hp[least(${H - 1}, greatest(0, $y + $dy)) * $W + $x + 1]")
      .mkString(" + ")
    val w0 = "w0s[t + 1]"
    val sum0 = "sum0s[t + 1]"
    val aExpr = s"($sum0 * ($n - $w0) - (total - $sum0) * $w0)"
    s"""SELECT doc_id,
       |  ${checksumSql("ad")} AS c_adapt,
       |  CAST(len(list_filter(ad, v -> v = 255)) AS BIGINT) AS n_white_adapt,
       |  CAST(t_otsu AS BIGINT) AS t_otsu,
       |  ${checksumSql("ob")} AS c_otsu
       |FROM (
       |  SELECT doc_id, ad, t_otsu,
       |    list_transform(p, v -> CASE WHEN v > t_otsu THEN 255 ELSE 0 END) AS ob
       |  FROM (
       |    SELECT doc_id, p, ad,
       |      CASE WHEN list_max(scores) < 0 THEN p[1]
       |           ELSE list_position(scores, list_max(scores)) - 1 END AS t_otsu
       |    FROM (
       |      SELECT doc_id, p, ad,
       |        list_transform(range(0, 255), t ->
       |          CASE WHEN $w0 > 0 AND $n - $w0 > 0
       |            THEN CAST($aExpr AS DOUBLE) * CAST($aExpr AS DOUBLE)
       |                   / CAST($w0 * ($n - $w0) AS DOUBLE)
       |            ELSE -1.0 END) AS scores
       |      FROM (
       |        SELECT doc_id, p, ad,
       |          list_transform(range(0, 255), t ->
       |            list_reduce(hist[1 : t + 1], (a, b) -> a + b)) AS w0s,
       |          list_transform(range(0, 255), t ->
       |            list_reduce(list_transform(range(0, t + 1),
       |              v -> v * hist[v + 1]), (a, b) -> a + b)) AS sum0s,
       |          list_reduce(list_transform(range(0, 256),
       |            v -> v * hist[v + 1]), (a, b) -> a + b) AS total
       |        FROM (
       |          SELECT doc_id, p, ad,
       |            list_transform(range(0, 256),
       |              v -> CAST(len(list_filter(p, q -> q = v)) AS BIGINT)) AS hist
       |          FROM (
       |            SELECT doc_id, p,
       |              list_transform(range(0, $n), i ->
       |                CASE WHEN CAST(p[i + 1] + 2 AS BIGINT) * ${io.Gauss11Norm2}
       |                          > vp[i + 1]
       |                     THEN 255 ELSE 0 END) AS ad
       |            FROM (
       |              SELECT doc_id, p,
       |                list_transform(range(0, $n), i -> $vTerms) AS vp
       |              FROM (
       |                SELECT doc_id, p,
       |                  list_transform(range(0, $n), i -> $hTerms) AS hp
       |                FROM (
       |                  SELECT doc_id, $gradPlaneSql AS p
       |                  FROM (SELECT doc_id, text, length(text) AS nch
       |                        FROM documents WHERE length(text) >= 1))))))))))""".stripMargin
  }

  // ---- q160 helpers: parameterized SQL replays of the compose stages ----

  /** CLAHE + γ-LUT chain (q103's replay, parameterized): consumes a
    * two-valued {40,255} plane column `src` from `inner`, emits `enh`.
    * (The q88-family planes stay two-valued through warp/morphology —
    * warp fills white, min/max preserve the value set — so the
    * histogram is always the {40, 255} count pair.) */
  private def claheChainSql(inner: String, carry: Seq[String]): String = {
    val gamma = graft.functions.ImageOps.GammaLut.mkString("[", ", ", "]")
    val n = W * H
    val clip = math.max(1.0, 2.0 * n / 256.0)
    val cy = if (carry.isEmpty) "" else carry.mkString(", ", ", ", "")
    s"""SELECT doc_id$cy,
       |  list_transform(src, v -> $gamma[lut[v + 1] + 1]) AS enh
       |FROM (
       |  SELECT doc_id$cy, src,
       |    list_transform(range(0, 256), v -> CAST(least(255, greatest(0,
       |      round(list_reduce(
       |        list_transform(cl[1 : v + 1], c -> c + share),
       |        (a, b) -> a + b) * 255.0 / $n))) AS INT)) AS lut
       |  FROM (
       |    SELECT doc_id$cy, src, cl,
       |      list_reduce(list_transform(hist, c -> greatest(0.0, c - $clip)),
       |        (a, b) -> a + b) / 256.0 AS share
       |    FROM (
       |      SELECT doc_id$cy, src, hist,
       |        list_transform(hist, c -> CASE WHEN c > $clip THEN $clip
       |          ELSE CAST(c AS DOUBLE) END) AS cl
       |      FROM (
       |        SELECT doc_id$cy, src,
       |          list_transform(range(0, 256), v -> CASE
       |            WHEN v = 40 THEN n40
       |            WHEN v = 255 THEN $n - n40
       |            ELSE 0 END) AS hist
       |        FROM (
       |          SELECT doc_id$cy, src,
       |            len(list_filter(src, v -> v = 40)) AS n40
       |          FROM ($inner))))))""".stripMargin
  }

  /** Adaptive-Gaussian binarize chain (q158's replay, parameterized):
    * separable integer convolution of `src` from `inner`, emits the
    * thresholded plane `fin`. */
  private def gaussAdaptSql(src: String, inner: String,
      carry: Seq[String]): String = {
    val io = graft.functions.ImageOps
    val k = io.Gauss11
    val r = k.length / 2
    val (x, y) = (xOf("i"), yOf("i"))
    val hT = (for (dx <- -r to r) yield
      s"${k(dx + r)} * $src[$y * $W + least(${W - 1}, greatest(0, $x + $dx)) + 1]")
      .mkString(" + ")
    val vT = (for (dy <- -r to r) yield
      s"CAST(${k(dy + r)} AS BIGINT) * " +
        s"gh[least(${H - 1}, greatest(0, $y + $dy)) * $W + $x + 1]")
      .mkString(" + ")
    val cy = if (carry.isEmpty) "" else carry.mkString(", ", ", ", "")
    s"""SELECT doc_id$cy,
       |  list_transform(range(0, ${W * H}), i ->
       |    CASE WHEN CAST($src[i + 1] + 2 AS BIGINT) * ${io.Gauss11Norm2}
       |              > gv[i + 1]
       |         THEN 255 ELSE 0 END) AS fin
       |FROM (
       |  SELECT doc_id$cy, $src, gh,
       |    list_transform(range(0, ${W * H}), i -> $vT) AS gv
       |  FROM (
       |    SELECT doc_id$cy, $src,
       |      list_transform(range(0, ${W * H}), i -> $hT) AS gh
       |    FROM ($inner)))""".stripMargin
  }

  /** q160: F11 image-side COMPOSE end-to-end
    * (`image_processor.py:18-79`): the flag-driven preprocess chain
    * behind one [[graft.functions.ImageOps.preprocessImage]] entry,
    * exercised over three flag combinations round-robined by doc_id —
    *   m=0 `open_clahe`: denoise + contrast only;
    *   m=1 `deskew_open_clahe_bin`: deskew → denoise → contrast →
    *       adaptive binarize (every non-rotate stage on);
    *   m=2 `rot180_deskew_bin`: EXIF-180 autoRotate → deskew →
    *       adaptive binarize (geometry path with stages off).
    * The oracle UNIONs three replay chains assembled from the pinned
    * q146 (Hough+warp), q102 (2×2 open), q103 (CLAHE+γ), and q158
    * (adaptive) machinery — each combo hash-pins the FINAL plane, so
    * any stage-ordering or composition bug fails parity even though
    * every stage is individually green. */
  private def q160(s: SparkSession, d: String): DataFrame = {
    val probe = udf((docId: Long, text: String) => {
      val io = graft.functions.ImageOps
      val img = io.Gray(W, H, textPlane(text))
      val m = (docId % 3).toInt
      val (cfg, orient) = m match {
        case 0 => (io.PreprocessConfig(autoRotate = false, deskew = false,
          denoise = true, enhanceContrast = true, binarize = false), 1)
        case 1 => (io.PreprocessConfig(autoRotate = false, deskew = true,
          denoise = true, enhanceContrast = true, binarize = true), 1)
        case _ => (io.PreprocessConfig(autoRotate = true, deskew = true,
          denoise = false, enhanceContrast = false, binarize = true), 3)
      }
      val (fin, applied) = io.preprocessImage(img, cfg, orient)
      val combo = m match {
        case 0 => "open_clahe"
        case 1 => "deskew_open_clahe_bin"
        case _ => "rot180_deskew_bin"
      }
      var cs = 0L
      var i = 0
      while (i < fin.px.length) { cs += (i + 1).toLong * (fin.px(i) & 0xff); i += 1 }
      (combo, applied.toLong, cs,
        fin.px.count(p => (p & 0xff) <= 127).toLong)
    })
    textDocs(s, d)
      .select(col("doc_id"), probe(col("doc_id"), col("text")).as("t"))
      .select(col("doc_id"),
        col("t._1").as("combo"), col("t._2").as("applied_deg"),
        col("t._3").as("checksum"), col("t._4").as("n_dark"))
  }

  private val q160Sql = {
    val hg = graft.functions.ImageOps.Hough
    val wp = graft.functions.ImageOps.Warp
    val hCos = hg.cosQ.mkString("[", ", ", "]")
    val hSin = hg.sinQ.mkString("[", ", ", "]")
    val wCos = wp.cosQ.mkString("[", ", ", "]")
    val wSin = wp.sinQ.mkString("[", ", ", "]")
    val sc = wp.Scale
    val offX = sc * W + wp.OffsetQ
    val offY = sc * H + wp.OffsetQ
    def darkLen(src: String) =
      s"CAST(len(list_filter($src, v -> v <= 127)) AS BIGINT)"
    s"""WITH base AS (
       |  SELECT doc_id, CAST(doc_id % 3 AS INT) AS m,
       |    text, length(text) AS nch
       |  FROM documents WHERE length(text) >= 1),
       |pl AS (SELECT doc_id, m, $planeSql AS p FROM base),
       |geo AS (
       |  SELECT doc_id, m,
       |    CASE WHEN m = 1 THEN p ELSE list_reverse(p) END AS hp
       |  FROM pl WHERE m IN (1, 2)),
       |edge AS (
       |  SELECT doc_id, CAST(i % ${W} AS INT) AS x,
       |         CAST(i // ${W} AS INT) AS y
       |  FROM (SELECT doc_id,
       |          unnest(list_filter(range(0, ${W * H}),
       |            i -> hp[i + 1] < 128)) AS i
       |        FROM geo)),
       |hcs AS (
       |  SELECT t, cosl[t + 1] AS c, sinl[t + 1] AS sn
       |  FROM (SELECT CAST(unnest(range(0, ${hg.cosQ.length})) AS INT) AS t,
       |          $hCos AS cosl, $hSin AS sinl)),
       |acc AS (
       |  SELECT doc_id, t,
       |    (e.x * c.c + e.y * c.sn + ${hg.OffsetQ}) // ${hg.Scale} AS bin,
       |    count(*) AS v
       |  FROM edge e CROSS JOIN hcs c
       |  GROUP BY 1, 2, 3),
       |agg AS (
       |  SELECT doc_id, median(t + ${hg.ThetaMinDeg} - 90) + 0.0 AS med
       |  FROM acc WHERE v >= 3 GROUP BY 1),
       |ang AS (
       |  SELECT g.doc_id, g.m, g.hp,
       |    CAST(-greatest(-${wp.MaxDeg}, least(${wp.MaxDeg},
       |      CAST(floor(coalesce(a.med, 0.0) + 0.5) AS INT))) AS INT) AS applied
       |  FROM geo g LEFT JOIN agg a ON a.doc_id = g.doc_id),
       |trig AS (
       |  SELECT doc_id, m, hp, applied,
       |    wcl[applied + ${wp.MaxDeg + 1}] AS c,
       |    wsl[applied + ${wp.MaxDeg + 1}] AS sn
       |  FROM ang CROSS JOIN (SELECT $wCos AS wcl, $wSin AS wsl)),
       |wsrc AS (
       |  SELECT doc_id, m, hp, applied,
       |    list_transform(range(0, ${W * H}), i ->
       |      [ ( c * (2 * (i % ${W}) - ${W - 1})
       |          + sn * (2 * (i // ${W}) - ${H - 1}) + $offX) // ${2 * sc} - 64,
       |        (-sn * (2 * (i % ${W}) - ${W - 1})
       |          + c * (2 * (i // ${W}) - ${H - 1}) + $offY) // ${2 * sc} - 64 ])
       |      AS sxy
       |  FROM trig),
       |warped AS (
       |  SELECT doc_id, m, applied,
       |    list_transform(sxy, q ->
       |      CASE WHEN q[1] >= 0 AND q[1] < ${W} AND q[2] >= 0 AND q[2] < ${H}
       |        THEN hp[q[2] * ${W} + q[1] + 1] ELSE 255 END) AS wpx
       |  FROM wsrc),
       |a1 AS (SELECT doc_id, ${morph2x2Sql("p", min = true)} AS e1
       |       FROM pl WHERE m = 0),
       |a2 AS (SELECT doc_id, ${morph2x2Sql("e1", min = false)} AS src FROM a1),
       |aF AS (${claheChainSql("SELECT * FROM a2", Seq.empty)}),
       |b1 AS (SELECT doc_id, applied, ${morph2x2Sql("wpx", min = true)} AS e1
       |       FROM warped WHERE m = 1),
       |b2 AS (SELECT doc_id, applied, ${morph2x2Sql("e1", min = false)} AS src
       |       FROM b1),
       |bC AS (${claheChainSql("SELECT * FROM b2", Seq("applied"))}),
       |bF AS (${gaussAdaptSql("enh", "SELECT * FROM bC", Seq("applied"))}),
       |cF AS (${gaussAdaptSql("wpx",
              "SELECT doc_id, applied, wpx FROM warped WHERE m = 2",
              Seq("applied"))})
       |SELECT doc_id, 'open_clahe' AS combo,
       |  CAST(0 AS BIGINT) AS applied_deg,
       |  ${checksumSql("enh")} AS checksum,
       |  ${darkLen("enh")} AS n_dark
       |FROM aF
       |UNION ALL
       |SELECT doc_id, 'deskew_open_clahe_bin' AS combo,
       |  CAST(applied AS BIGINT) AS applied_deg,
       |  ${checksumSql("fin")} AS checksum,
       |  ${darkLen("fin")} AS n_dark
       |FROM bF
       |UNION ALL
       |SELECT doc_id, 'rot180_deskew_bin' AS combo,
       |  CAST(applied AS BIGINT) AS applied_deg,
       |  ${checksumSql("fin")} AS checksum,
       |  ${darkLen("fin")} AS n_dark
       |FROM cF""".stripMargin
  }

  /** q114: tempo + beat probe (F10 tail, the last feature of the
    * reference's librosa stack — `audio_processor.py:411-413`
    * `beat_track`): the embedding as an onset-rate signal through the
    * REAL AudioDsp.tempoBeats kernel — half-wave-rectified energy-flux
    * envelope, raw autocorrelation over lags 6..16 (60–160 BPM at the
    * declared 16 fps envelope rate, smallest lag wins ties), beats =
    * envelope samples above the mean. Every step is +,*,/ and
    * comparisons (no libm), so the oracle recomputes it exactly with
    * list comprehensions: per-lag autocorrelation as a left-to-right
    * list_reduce of the product list (simple a+b lambda — safe per the
    * list_reduce rule), the argmax as ORDER BY r DESC, lag ASC. */
  private def q114(s: SparkSession, d: String): DataFrame = {
    val probe = udf((emb: Seq[Float]) => {
      val t = graft.functions.AudioDsp.tempoBeats(
        emb.map(_.toDouble).toArray)
      (t.bpm, t.lagFrames, t.beats, t.strength)
    })
    Tables.embeddings(s, d)
      .select(col("vec_id"), probe(col("embedding")).as("t"))
      .select(col("vec_id"),
        (round(col("t._1"), 6) + lit(0.0)).as("bpm"),
        col("t._2").as("lag_frames"),
        col("t._3").as("beats"),
        (round(col("t._4"), 6) + lit(0.0)).as("strength"))
  }

  private val q114Sql =
    """WITH base AS (
      |  SELECT vec_id,
      |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x,
      |    len(embedding) AS n
      |  FROM embeddings),
      |env AS (
      |  SELECT vec_id,
      |    list_transform(range(2, CAST(n AS INT) + 1), i ->
      |      CASE WHEN x[i] * x[i] - x[i - 1] * x[i - 1] > 0.0
      |           THEN x[i] * x[i] - x[i - 1] * x[i - 1]
      |           ELSE 0.0 END) AS o
      |  FROM base),
      |acf AS (
      |  SELECT vec_id, lag,
      |    list_reduce(list_transform(range(1, CAST(len(o) AS INT) - lag + 1),
      |      j -> o[j] * o[j + lag]), (a, b) -> a + b) AS r
      |  FROM env CROSS JOIN (SELECT CAST(unnest(range(6, 17)) AS INT) AS lag)),
      |pick AS (
      |  SELECT vec_id, lag, r,
      |    row_number() OVER (PARTITION BY vec_id
      |                       ORDER BY r DESC, lag ASC) AS rn
      |  FROM acf),
      |beats AS (
      |  SELECT vec_id,
      |    CAST(len(list_filter(o, v -> v > mn)) AS BIGINT) AS beats
      |  FROM (SELECT vec_id, o,
      |          list_reduce(o, (a, b) -> a + b) / len(o) AS mn
      |        FROM env))
      |SELECT p.vec_id,
      |  (round(960.0 / p.lag, 6) + 0.0) AS bpm,
      |  p.lag AS lag_frames,
      |  b.beats,
      |  (round(p.r, 6) + 0.0) AS strength
      |FROM pick p JOIN beats b ON b.vec_id = p.vec_id
      |WHERE p.rn = 1""".stripMargin

  /** q116: EXIF orientation probe (F12 head,
    * `image_processor.py:84-94`): per-document EXIF blobs synthesized
    * with [[graft.functions.Exif.writeTiff]] — endianness, JPEG-APP1
    * `Exif\0\0` framing, and the orientation/width/height SHORT tags
    * all varied by doc fields — then parsed back through the REAL
    * byte-walking parser ([[graft.functions.Exif.orientation]]) and
    * mapped to rotation degrees exactly like the reference (3/6/8 →
    * 180/−90/90). The oracle replays the synthesis arithmetic
    * (write→parse is the identity on well-formed fixtures — the typed
    * ExifSpec proves the parser against malformed/truncated/foreign
    * bytes, which SQL can't exercise). */
  private def q116(s: SparkSession, d: String): DataFrame = {
    val probe = udf((docId: Long, nChars: Long) => {
      val bytes = graft.functions.Exif.writeTiff(
        orientationV = (1 + docId % 8).toInt,
        width = (nChars % 500 + 1).toInt,
        height = (nChars % 300 + 1).toInt,
        littleEndian = docId % 2 == 0,
        exifPrefix = docId % 4 < 2)
      val o = graft.functions.Exif.orientation(bytes)
      (o, graft.functions.Exif.rotationDegrees(o),
        graft.functions.Exif.shortTag(bytes,
          graft.functions.Exif.WidthTag).getOrElse(0),
        graft.functions.Exif.shortTag(bytes,
          graft.functions.Exif.HeightTag).getOrElse(0))
    })
    Tables.documents(s, d)
      .select(col("doc_id"), probe(col("doc_id"), col("n_chars")).as("t"))
      .select(col("doc_id"),
        col("t._1").as("orientation"),
        col("t._2").as("rotation_deg"),
        col("t._3").as("img_w"),
        col("t._4").as("img_h"))
  }

  private val q116Sql =
    """SELECT doc_id,
      |  CAST(1 + doc_id % 8 AS INT) AS orientation,
      |  CAST(CASE 1 + doc_id % 8
      |    WHEN 3 THEN 180 WHEN 6 THEN -90 WHEN 8 THEN 90
      |    ELSE 0 END AS INT) AS rotation_deg,
      |  CAST(n_chars % 500 + 1 AS INT) AS img_w,
      |  CAST(n_chars % 300 + 1 AS INT) AS img_h
      |FROM documents""".stripMargin

  /** q117: Hough content-angle probe (F12/F13 tail,
    * `image_processor.py:113-141`): the q88 text plane through the REAL
    * ImageOps.houghAngle kernel — dark pixels vote into a 1°×1px (ρ,θ)
    * accumulator over the nearly-horizontal band θ ∈ [45°,135°] with
    * cos/sin quantized to integer 1/1024ths, cells ≥ 3 votes are lines,
    * output is the np.median of their θ−90 angles. Every vote and bin
    * is INTEGER math, so the oracle replays it with the kernel's own
    * quantized tables embedded as integer literals — the only doubles
    * are the final median interpolation (exact halves) on both engines. */
  private def q117(s: SparkSession, d: String): DataFrame = {
    val probe = udf((text: String) => {
      val img = graft.functions.ImageOps.Gray(W, H, textPlane(text))
      graft.functions.ImageOps.houghAngle(img)
    })
    textDocs(s, d).select(col("doc_id"), probe(col("text")).as("t"))
      .select(col("doc_id"),
        (col("t._1") + lit(0.0)).as("skew_deg"),
        col("t._2").as("n_lines"))
  }

  private val q117Sql = {
    val h = graft.functions.ImageOps.Hough
    val cosList = h.cosQ.mkString("[", ", ", "]")
    val sinList = h.sinQ.mkString("[", ", ", "]")
    s"""WITH base AS (
       |  SELECT doc_id, text, length(text) AS nch
       |  FROM documents WHERE length(text) >= 1),
       |pl AS (SELECT doc_id, $planeSql AS p FROM base),
       |edge AS (
       |  SELECT doc_id, CAST(i % ${W} AS INT) AS x,
       |         CAST(i // ${W} AS INT) AS y
       |  FROM (SELECT doc_id,
       |          unnest(list_filter(range(0, ${W * H}),
       |            i -> p[i + 1] < 128)) AS i
       |        FROM pl)),
       |cs AS (
       |  SELECT t, cosl[t + 1] AS c, sinl[t + 1] AS sn
       |  FROM (SELECT CAST(unnest(range(0, ${h.cosQ.length})) AS INT) AS t,
       |          $cosList AS cosl, $sinList AS sinl)),
       |acc AS (
       |  SELECT doc_id, t,
       |    (e.x * c.c + e.y * c.sn + ${h.OffsetQ}) // ${h.Scale} AS bin,
       |    count(*) AS v
       |  FROM edge e CROSS JOIN cs c
       |  GROUP BY 1, 2, 3),
       |lines AS (
       |  SELECT doc_id, t + ${h.ThetaMinDeg} - 90 AS angle
       |  FROM acc WHERE v >= 3),
       |agg AS (
       |  SELECT doc_id, median(angle) + 0.0 AS med,
       |    CAST(count(*) AS BIGINT) AS n_lines
       |  FROM lines GROUP BY 1)
       |SELECT b.doc_id,
       |  coalesce(a.med, 0.0) AS skew_deg,
       |  CAST(coalesce(a.n_lines, 0) AS BIGINT) AS n_lines
       |FROM (SELECT doc_id FROM base) b
       |LEFT JOIN agg a USING (doc_id)""".stripMargin
  }

  /** q145: REAL JDK image decode probe (S9 closed,
    * `ocr/service.py:447-464` cv2.imdecode): the q88 plane is encoded
    * into ACTUAL container bytes — PNG, BMP, or GIF round-robined by
    * doc_id — by the JDK ImageIO writer, magic-byte sniffed, decoded
    * back through the REAL [[graft.functions.ImageCodec.decode]] path,
    * and the DECODED plane (not the synthesis plane) runs the existing
    * kernels: fixed-threshold binarize black count, a position-weighted
    * checksum, and the padded content bbox. 8-bit-gray encode→decode is
    * the identity for all three containers (pinned adversarially by
    * ImageCodecSpec, including color/JPEG/corrupt paths SQL can't
    * reach), so the oracle replays the plane arithmetic exactly as
    * q88's does — any decoder deviation breaks the hash. */
  private def q145(s: SparkSession, d: String): DataFrame = {
    val probe = udf((docId: Long, text: String) => {
      val img = graft.functions.ImageOps.Gray(W, H, textPlane(text))
      val fmt = (docId % 3) match {
        case 0 => "png"; case 1 => "bmp"; case _ => "gif"
      }
      val bytes = graft.functions.ImageCodec.encode(img, fmt)
      val sniffed = graft.functions.ImageCodec.sniffFormat(bytes)
      val dec = graft.functions.ImageCodec.decode(bytes).get
      val nBlack = graft.functions.ImageOps.binarizeFixed(dec)
        .px.count(_ == 0).toLong
      var cs = 0L
      var i = 0
      while (i < dec.px.length) { cs += (i + 1).toLong * (dec.px(i) & 0xff); i += 1 }
      val bb = graft.functions.ImageOps.contentBBox(dec, 240, 2) match {
        case Some((x, y, w, h)) => (x.toLong, y.toLong, w.toLong, h.toLong)
        case None => (-1L, -1L, -1L, -1L)
      }
      (sniffed, (dec.w * 100000 + dec.h).toLong, nBlack, cs,
        bb._1, bb._2, bb._3, bb._4)
    })
    textDocs(s, d)
      .select(col("doc_id"), probe(col("doc_id"), col("text")).as("t"))
      .select(col("doc_id"),
        col("t._1").as("fmt"),
        col("t._2").as("dims"),
        col("t._3").as("n_black"),
        col("t._4").as("checksum"),
        col("t._5").as("bb_x"), col("t._6").as("bb_y"),
        col("t._7").as("bb_w"), col("t._8").as("bb_h"))
  }

  private val q145Sql =
    s"""SELECT doc_id,
       |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp'
       |    ELSE 'gif' END AS fmt,
       |  CAST(${W} * 100000 + ${H} AS BIGINT) AS dims,
       |  CAST(len(list_filter(p, v -> v <= 127)) AS BIGINT) AS n_black,
       |  ${checksumSql("p")} AS checksum,
       |  CAST(CASE WHEN nd = 0 THEN -1 ELSE greatest(0, mnx - 2) END
       |    AS BIGINT) AS bb_x,
       |  CAST(CASE WHEN nd = 0 THEN -1 ELSE greatest(0, mny - 2) END
       |    AS BIGINT) AS bb_y,
       |  CAST(CASE WHEN nd = 0 THEN -1
       |    ELSE least(${W - 1}, mxx + 2) - greatest(0, mnx - 2) + 1 END
       |    AS BIGINT) AS bb_w,
       |  CAST(CASE WHEN nd = 0 THEN -1
       |    ELSE least(${H - 1}, mxy + 2) - greatest(0, mny - 2) + 1 END
       |    AS BIGINT) AS bb_h
       |FROM (
       |  SELECT doc_id, p, len(di) AS nd,
       |    list_min(list_transform(di, i -> i % ${W})) AS mnx,
       |    list_max(list_transform(di, i -> i % ${W})) AS mxx,
       |    list_min(list_transform(di, i -> i // ${W})) AS mny,
       |    list_max(list_transform(di, i -> i // ${W})) AS mxy
       |  FROM (
       |    SELECT doc_id, p,
       |      list_filter(range(0, ${W * H}), i -> p[i + 1] < 240) AS di
       |    FROM (
       |      SELECT doc_id, $planeSql AS p
       |      FROM (SELECT doc_id, text, length(text) AS nch
       |            FROM documents WHERE length(text) >= 1))))""".stripMargin

  /** q146: deskew END-TO-END probe (F13 closed,
    * `image_processor.py:143-180` warpAffine): the q88 plane through
    * the REAL houghAngle estimator, the estimate rounded half-up /
    * clamped to the ±45° band, then the plane rotated by the NEGATED
    * angle through the REAL integer nearest-neighbor warp
    * ([[graft.functions.ImageOps.rotateNN]]) — doubled center-relative
    * coordinates, 1/1024-quantized trig, floor(v+½) NN rounding, white
    * fill. Every step is integer math, so the oracle replays the FULL
    * chain — Hough voting, median, rounding, and the warp with the
    * kernel's own quantized tables as literals. */
  private def q146(s: SparkSession, d: String): DataFrame = {
    val probe = udf((text: String) => {
      val img = graft.functions.ImageOps.Gray(W, H, textPlane(text))
      // one Hough pass (the per-doc hot loop) feeds BOTH the reported
      // skew and the correction — deskew() would re-estimate
      val (skew, _) = graft.functions.ImageOps.houghAngle(img)
      val applied = -math.max(-graft.functions.ImageOps.Warp.MaxDeg,
        math.min(graft.functions.ImageOps.Warp.MaxDeg,
          math.floor(skew + 0.5).toInt))
      val fixed = graft.functions.ImageOps.rotateNN(img, applied)
      val nBlack = graft.functions.ImageOps.binarizeFixed(fixed)
        .px.count(_ == 0).toLong
      var cs = 0L
      var i = 0
      while (i < fixed.px.length) { cs += (i + 1).toLong * (fixed.px(i) & 0xff); i += 1 }
      (skew, applied.toLong, cs, nBlack)
    })
    textDocs(s, d).select(col("doc_id"), probe(col("text")).as("t"))
      .select(col("doc_id"),
        (col("t._1") + lit(0.0)).as("skew_deg"),
        col("t._2").as("applied_deg"),
        col("t._3").as("checksum"),
        col("t._4").as("n_black"))
  }

  private val q146Sql = {
    val hg = graft.functions.ImageOps.Hough
    val wp = graft.functions.ImageOps.Warp
    val hCos = hg.cosQ.mkString("[", ", ", "]")
    val hSin = hg.sinQ.mkString("[", ", ", "]")
    val wCos = wp.cosQ.mkString("[", ", ", "]")
    val wSin = wp.sinQ.mkString("[", ", ", "]")
    val sc = wp.Scale
    val offX = sc * W + wp.OffsetQ
    val offY = sc * H + wp.OffsetQ
    s"""WITH base AS (
       |  SELECT doc_id, text, length(text) AS nch
       |  FROM documents WHERE length(text) >= 1),
       |pl AS (SELECT doc_id, $planeSql AS p FROM base),
       |edge AS (
       |  SELECT doc_id, CAST(i % ${W} AS INT) AS x,
       |         CAST(i // ${W} AS INT) AS y
       |  FROM (SELECT doc_id,
       |          unnest(list_filter(range(0, ${W * H}),
       |            i -> p[i + 1] < 128)) AS i
       |        FROM pl)),
       |hcs AS (
       |  SELECT t, cosl[t + 1] AS c, sinl[t + 1] AS sn
       |  FROM (SELECT CAST(unnest(range(0, ${hg.cosQ.length})) AS INT) AS t,
       |          $hCos AS cosl, $hSin AS sinl)),
       |acc AS (
       |  SELECT doc_id, t,
       |    (e.x * c.c + e.y * c.sn + ${hg.OffsetQ}) // ${hg.Scale} AS bin,
       |    count(*) AS v
       |  FROM edge e CROSS JOIN hcs c
       |  GROUP BY 1, 2, 3),
       |agg AS (
       |  SELECT doc_id, median(t + ${hg.ThetaMinDeg} - 90) + 0.0 AS med
       |  FROM acc WHERE v >= 3 GROUP BY 1),
       |ang AS (
       |  SELECT pl.doc_id, pl.p,
       |    coalesce(a.med, 0.0) AS skew,
       |    CAST(-greatest(-${wp.MaxDeg}, least(${wp.MaxDeg},
       |      CAST(floor(coalesce(a.med, 0.0) + 0.5) AS INT))) AS INT) AS applied
       |  FROM pl LEFT JOIN agg a ON a.doc_id = pl.doc_id),
       |trig AS (
       |  SELECT doc_id, p, skew, applied,
       |    wcl[applied + ${wp.MaxDeg + 1}] AS c,
       |    wsl[applied + ${wp.MaxDeg + 1}] AS sn
       |  FROM ang CROSS JOIN (SELECT $wCos AS wcl, $wSin AS wsl)),
       |src AS (
       |  SELECT doc_id, p, skew, applied,
       |    list_transform(range(0, ${W * H}), i ->
       |      [ ( c * (2 * (i % ${W}) - ${W - 1})
       |          + sn * (2 * (i // ${W}) - ${H - 1}) + $offX) // ${2 * sc} - 64,
       |        (-sn * (2 * (i % ${W}) - ${W - 1})
       |          + c * (2 * (i // ${W}) - ${H - 1}) + $offY) // ${2 * sc} - 64 ])
       |      AS sxy
       |  FROM trig),
       |warped AS (
       |  SELECT doc_id, skew, applied,
       |    list_transform(sxy, q ->
       |      CASE WHEN q[1] >= 0 AND q[1] < ${W} AND q[2] >= 0 AND q[2] < ${H}
       |        THEN p[q[2] * ${W} + q[1] + 1] ELSE 255 END) AS wpx
       |  FROM src)
       |SELECT doc_id,
       |  skew + 0.0 AS skew_deg,
       |  CAST(applied AS BIGINT) AS applied_deg,
       |  ${checksumSql("wpx")} AS checksum,
       |  CAST(len(list_filter(wpx, v -> v <= 127)) AS BIGINT) AS n_black
       |FROM warped""".stripMargin
  }

  /** q147: REAL pixel resize probe (F18 closed,
    * `image_processor.py:264-286` DPI upscale): the q88 plane goes
    * through a REAL PNG encode→decode round trip
    * ([[graft.functions.ImageCodec]]) and then the REAL
    * nearest-neighbor resize — half-pixel-center integer geometry —
    * both DOWN (16×8 thumbnail) and UP (64×32, the DPI-upscale
    * direction), summarized as position-weighted checksums. The oracle
    * replays the NN index arithmetic (((2x+1)·srcW)/(2·dstW)) directly
    * on the synthesis plane; the bilinear kernel is typed-spec'd
    * (ImageOpsSpec) where SQL replay would cost more than it proves. */
  private def q147(s: SparkSession, d: String): DataFrame = {
    val probe = udf((text: String) => {
      val img = graft.functions.ImageOps.Gray(W, H, textPlane(text))
      val dec = graft.functions.ImageCodec.decode(
        graft.functions.ImageCodec.encode(img, "png")).get
      val down = graft.functions.ImageOps.resizeNN(dec, 16, 8)
      val up = graft.functions.ImageOps.resizeNN(dec, 64, 32)
      (checksum(down), checksum(up),
        down.px.count(b => (b & 0xff) <= 127).toLong,
        up.px.count(b => (b & 0xff) <= 127).toLong)
    })
    textDocs(s, d).select(col("doc_id"), probe(col("text")).as("t"))
      .select(col("doc_id"),
        col("t._1").as("cs_down"), col("t._2").as("cs_up"),
        col("t._3").as("dark_down"), col("t._4").as("dark_up"))
  }

  private val q147Sql = {
    def resized(dw: Int, dh: Int): String =
      s"""list_transform(range(0, ${dw * dh}), i ->
         |  p[ (((2 * (i // $dw) + 1) * ${H}) // ${2 * dh}) * ${W}
         |     + (((2 * (i % $dw) + 1) * ${W}) // ${2 * dw}) + 1 ])""".stripMargin
    def cs(src: String, n: Int): String =
      s"""CAST(list_reduce(list_transform(range(0, $n),
         |  i -> CAST((i + 1) * $src[i + 1] AS BIGINT)),
         |  (a, b) -> a + b) AS BIGINT)""".stripMargin
    s"""SELECT doc_id,
       |  ${cs("dn", 16 * 8)} AS cs_down,
       |  ${cs("up", 64 * 32)} AS cs_up,
       |  CAST(len(list_filter(dn, v -> v <= 127)) AS BIGINT) AS dark_down,
       |  CAST(len(list_filter(up, v -> v <= 127)) AS BIGINT) AS dark_up
       |FROM (
       |  SELECT doc_id,
       |    ${resized(16, 8)} AS dn,
       |    ${resized(64, 32)} AS up
       |  FROM (
       |    SELECT doc_id, $planeSql AS p
       |    FROM (SELECT doc_id, text, length(text) AS nch
       |          FROM documents WHERE length(text) >= 1)))""".stripMargin
  }

  /** q153: the REAL Multimodal API under oracle — q44 proves the
    * mapPartitions plumbing with the stub; this proves the actual
    * production path: per-doc PNG payloads (real ImageIO encode of the
    * q88 plane) through [[graft.multimodal.Multimodal.decodeAll]] with
    * the [[graft.multimodal.Multimodal.ImageIODecoder]] — real decode,
    * decoded-pixel FNV hash, 8-bin histogram embedding. The oracle
    * replays the plane synthesis, the FNV fold, and the bin fractions
    * (exact /512 binary rationals; both engines round half-even at 5
    * decimals). Container byte length is compression-dependent and
    * deliberately not an output. */
  private def q153(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val mk = udf((text: String) => graft.functions.ImageCodec.encode(
      graft.functions.ImageOps.Gray(W, H, textPlane(text)), "png"))
    val payloads = textDocs(s, d)
      .select(col("doc_id").as("id"), lit("image").as("modality"),
        lit("png").as("format"), mk(col("text")).as("content"))
      .as[graft.multimodal.Multimodal.Payload](
        Encoders.product[graft.multimodal.Multimodal.Payload])
    graft.multimodal.Multimodal
      .decodeAll(payloads,
        () => new graft.multimodal.Multimodal.ImageIODecoder)
      .toDF()
      .select(col("id").as("doc_id"), col("width"), col("height"),
        col("nFrames").as("n_frames"),
        col("contentHash").as("content_hash"),
        array_join(transform(col("embedding"),
          e => format_number(e.cast("double"), 5)), ",").as("emb_csv"))
  }

  private val q153Sql =
    s"""WITH pl AS (
       |  SELECT doc_id, $planeSql AS p
       |  FROM (SELECT doc_id, text, length(text) AS nch
       |        FROM documents WHERE length(text) >= 1))
       |SELECT doc_id,
       |  CAST(${W} AS INT) AS width, CAST(${H} AS INT) AS height,
       |  CAST(1 AS INT) AS n_frames,
       |  list_reduce(
       |    list_prepend(CAST(2166136261 AS BIGINT),
       |      list_transform(p, v -> CAST(v AS BIGINT))),
       |    (acc, c) -> (xor(acc, c) * 16777619) % 4294967296)
       |    AS content_hash,
       |  list_aggregate(
       |    list_transform(range(0, 8),
       |      k -> printf('%.5f',
       |        CAST(CAST(len(list_filter(p, v -> v // 32 = k)) AS FLOAT)
       |          / CAST(${W * H} AS FLOAT)
       |          - CAST(0.5 AS FLOAT) AS DOUBLE))),
       |    'string_agg', ',') AS emb_csv
       |FROM pl""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q160_preprocess_compose", q160, Some(q160Sql)),
    QueryDef("q159_stft_denoise_probe", q159, Some(q159Sql)),
    QueryDef("q158_binarize_probe", q158, Some(q158Sql)),
    QueryDef("q153_imageio_features", q153, Some(q153Sql)),
    QueryDef("q147_resize_probe", q147, Some(q147Sql)),
    QueryDef("q146_deskew_warp", q146, Some(q146Sql)),
    QueryDef("q145_imageio_decode", q145, Some(q145Sql)),
    QueryDef("q117_hough_angle", q117, Some(q117Sql)),
    QueryDef("q116_exif_probe", q116, Some(q116Sql)),
    QueryDef("q114_tempo_probe", q114, Some(q114Sql)),
    QueryDef("q102_morphology_probe", q102, Some(q102Sql)),
    QueryDef("q103_enhance_probe", q103, Some(q103Sql)),
    QueryDef("q99_mfcc_probe", q99, Some(q99Sql)),
    QueryDef("q100_filtfilt_probe", q100, Some(q100Sql)),
    QueryDef("q101_webrtc_vad_probe", q101, Some(q101Sql)),
    QueryDef("q95_features_probe", q95, Some(q95Sql)),
    QueryDef("q89_rotate_probe", q89, Some(q89Sql)),
    QueryDef("q88_image_kernel_probe", q88, Some(q88Sql)),
    QueryDef("q87_denoise_probe", q87, Some(q87Sql)),
    QueryDef("q83_agc_trace", q83, Some(q83Sql)),
    QueryDef("q84_resample_probe", q84, Some(q84Sql)),
    QueryDef("q85_highpass_probe", q85, Some(q85Sql)),
    QueryDef("q86_downmix_vad", q86, Some(q86Sql)),
    QueryDef("q36_bbox_from_quad", q36, Some(q36Sql)),
    QueryDef("q37_audio_normalize_gain", q37, Some(q37Sql)),
    QueryDef("q38_layout_classify", q38, Some(q38Sql)),
    QueryDef("q39_validate_predicate", q39, Some(q39Sql)),
    QueryDef("q40_job_envelope", q40, Some(q40Sql)),
    QueryDef("q41_last_n_context", q41, Some(q41Sql)),
    QueryDef("q43_approx_distinct", q43, Some(q43Sql)),
    QueryDef("q44_multimodal_features", q44, Some(q44Sql)),
    QueryDef("q45_streaming_sessionize", q45, Some(q45Sql)))
}
