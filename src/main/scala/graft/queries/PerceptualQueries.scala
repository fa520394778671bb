package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}
import graft.operators.WidePhash

/** Perceptual MULTIMODAL dedup — images (q206-q208), audio
  * (q209-q211), the funnel (q212), video (q213-q215), and the
  * hash-width robustness measurement (q216). The engine already dedups
  * text five ways (q27/q29/q30/q104/q109) and embeddings two ways
  * (q151/q126); a LAION/DataComp-style multimodal build ALSO drops
  * near-duplicate images and audio clips before paying for OCR/STT,
  * which the reference never does — every submitted image and clip is
  * loaded and processed unconditionally
  * (`src/workers/ocr_worker.py:118-190`,
  * `src/preprocessing/audio_processor.py`; no content hash anywhere
  * in its tree). This family closes that gap with the standard
  * perceptual-hash pipeline: modality-specific fingerprint (Krawetz
  * dHash for images, Haitsma-Kalker band-energy signs for audio) →
  * banded Hamming-ball join (Manku WWW'07, the q104 machinery) →
  * connected-component clusters (the q78 machinery).
  *
  * Image synthesis: the q88/q145 deterministic 32×16 plane from each
  * doc's text, round-tripped through the REAL JDK PNG encoder/decoder
  * ([[graft.functions.ImageCodec]]) so the measured path is
  * bytes → decode → fingerprint, exactly what a binary-column corpus
  * runs; 8-bit-gray PNG round-trip is the identity (pinned
  * adversarially by ImageCodecSpec), so the DuckDB oracle replays the
  * plane arithmetic bit-for-bit without a codec.
  *
  * Scale shape at 100 TB: the image near-dup join is the PRODUCTION-
  * WIDTH layout ([[graft.operators.WidePhash]], round 16 — closing
  * round 15's one flagged plan): a 252-bit dHash over a 16×16 cell
  * grid in four 63-bit lanes, split into 12 blocks of 21 bits with a
  * distinct-fingerprint df cap of 32 per block bucket, so candidate
  * pairs are bounded at 12·32·D — LINEAR in distinct fingerprints.
  * The round-15 narrow layout (63-bit hash, 16-bit blocks, no cap)
  * measured ×4 wall exponents of 1.64-1.69 off hot blocks; the narrow
  * machinery survives here for the audio fingerprint family and as
  * q216's comparison arm. q216 pins the wide-vs-narrow detection
  * recall (and the df cap's price) in integers, the q155/q175
  * measured-recall discipline.
  */
object PerceptualQueries {

  import MediaQueries.{W, H, planeSql, textDocs, textPlane}

  /** doc → (dhash63, ahash63, wide lanes) through the real codec path:
    * synthesize the q88 plane, encode to actual PNG container bytes,
    * decode back through [[graft.functions.ImageCodec.decode]],
    * fingerprint the DECODED plane — narrow hashes over the 8×8 grid,
    * the production-width hash over the 16×16 grid. Any decoder
    * deviation breaks the oracle hash. */
  private val pHash = udf((text: String) => {
    val img = graft.functions.ImageOps.Gray(W, H, textPlane(text))
    val bytes = graft.functions.ImageCodec.encode(img, "png")
    val dec = graft.functions.ImageCodec.decode(bytes).get
    val cells = graft.functions.ImageOps.cellSums(dec, 8, 8)
    val wide = graft.functions.ImageOps.dHashWide(
      graft.functions.ImageOps.cellSums(dec, WidePhash.Grid, WidePhash.Grid))
    (graft.functions.ImageOps.dHash63(cells),
      graft.functions.ImageOps.aHash63(cells),
      wide(0), wide(1), wide(2), wide(3))
  })

  /** Rows where `c` holds, 0 over an empty relation. */
  private def cnt(c: Column): Column =
    coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))

  /** Shared signature frame: one scan, one UDF evaluation per doc.
    * Columns: doc_id, dhash, ahash (narrow 63-bit), l0..l3 (wide
    * 252-bit lanes, the [[WidePhash]] input names). */
  private def sig(s: SparkSession, d: String): DataFrame =
    textDocs(s, d).select(col("doc_id"), pHash(col("text")).as("t"))
      .select(col("doc_id"),
        col("t._1").as("dhash"), col("t._2").as("ahash"),
        col("t._3").as("l0"), col("t._4").as("l1"),
        col("t._5").as("l2"), col("t._6").as("l3"))

  /** The wide-fingerprint frame (`id`, `l0..l3`) through the real
    * codec path — the [[graft.operators.PerceptualDedupIndex]] input
    * shape, exposed for RefreshMain's multimodal index leg. */
  private[graft] def imageSignatures(s: SparkSession, d: String): DataFrame =
    sig(s, d).select(col("doc_id").as("id"),
      col("l0"), col("l1"), col("l2"), col("l3"))

  /** q206: the fingerprints themselves — 63-bit dHash (row-major
    * neighbor gradient sign over an 8×8 block-sum grid), 63-bit aHash
    * (cell vs frame mean, exact integer cross-multiplication), and the
    * production-width 252-bit dHash (16×16 grid, four 63-bit lanes
    * w0..w3). Scan → UDF → no shuffle at all; the oracle rebuilds the
    * plane, both grids, and every comparison as DuckDB list
    * comprehensions. */
  private def q206(s: SparkSession, d: String): DataFrame =
    sig(s, d).select(col("doc_id"), col("dhash"), col("ahash"),
      col("l0").as("w0"), col("l1").as("w1"),
      col("l2").as("w2"), col("l3").as("w3"))

  /** The oracle's 8×8 cell grid: cell c (0..63) sums its 4×2 pixel
    * block of the q88 plane; j (0..7) walks the block row-major. */
  private val cellsSql =
    s"""list_transform(range(0, 64), c ->
       |  list_reduce(list_transform(range(0, 8), j ->
       |    p[((c // 8) * 2 + (j // 4)) * $W + (c % 8) * 4 + (j % 4) + 1]),
       |    (a, b) -> a + b))""".stripMargin

  /** The 16×16 grid: cell c (0..255) sums its 2×1 pixel block. */
  private val cells16Sql =
    s"""list_transform(range(0, 256), c ->
       |  p[(c // 16) * $W + (c % 16) * 2 + 1]
       |  + p[(c // 16) * $W + (c % 16) * 2 + 2])""".stripMargin

  /** Wide lane `l` (0..3) from a 256-cell list column `src`:
    * comparisons g = 63l..63l+62 (cells g vs g+1), the
    * [[graft.functions.ImageOps.dHashWide]] layout bit-for-bit. */
  private def laneSql(src: String, l: Int): String =
    s"""CAST(list_reduce(list_transform(range(0, 63), i ->
       |    CASE WHEN $src[${l * 63} + i + 1] > $src[${l * 63} + i + 2]
       |      THEN (2**i)::BIGINT ELSE 0::BIGINT END),
       |    (a, b) -> a + b) AS BIGINT)""".stripMargin

  private val q206Sql =
    s"""WITH plane AS (
       |  SELECT doc_id, $planeSql AS p
       |  FROM (SELECT doc_id, text, length(text) AS nch
       |        FROM documents WHERE length(text) >= 1)),
       |cells AS (SELECT doc_id, $cellsSql AS cs, $cells16Sql AS cw
       |          FROM plane),
       |tot AS (SELECT doc_id, cs, cw,
       |          list_reduce(cs, (a, b) -> a + b) AS total FROM cells)
       |SELECT doc_id,
       |  CAST(list_reduce(list_transform(range(0, 63), i ->
       |    CASE WHEN cs[i + 1] > cs[i + 2]
       |      THEN (2**i)::BIGINT ELSE 0::BIGINT END),
       |    (a, b) -> a + b) AS BIGINT) AS dhash,
       |  CAST(list_reduce(list_transform(range(0, 63), i ->
       |    CASE WHEN cs[i + 1] * 64 > total
       |      THEN (2**i)::BIGINT ELSE 0::BIGINT END),
       |    (a, b) -> a + b) AS BIGINT) AS ahash,
       |  ${laneSql("cw", 0)} AS w0,
       |  ${laneSql("cw", 1)} AS w1,
       |  ${laneSql("cw", 2)} AS w2,
       |  ${laneSql("cw", 3)} AS w3
       |FROM tot""".stripMargin

  /** The wide-hash source CTE body shared by q207/q208/q212/q216's
    * oracles: (id, l0..l3) per doc from the original plane. */
  private val wideSrcSql =
    s"""SELECT doc_id AS id,
       |  ${laneSql("cw", 0)} AS l0, ${laneSql("cw", 1)} AS l1,
       |  ${laneSql("cw", 2)} AS l2, ${laneSql("cw", 3)} AS l3
       |FROM (
       |  SELECT doc_id, $cells16Sql AS cw
       |  FROM (
       |    SELECT doc_id, $planeSql AS p
       |    FROM (SELECT doc_id, text, length(text) AS nch
       |          FROM documents WHERE length(text) >= 1)))""".stripMargin

  /** bval for block index k — the [[WidePhash.block]] split as
    * generated integer div/mod SQL (one CASE branch per block). */
  private val bvalCaseSql = {
    val m = WidePhash.BlockMask + 1 // 2^21
    val branches = (0 until WidePhash.Blocks).map { k =>
      val lane = s"l${k / 3}"
      val e = k % 3 match {
        case 0 => s"$lane % $m"
        case 1 => s"($lane // $m) % $m"
        case _ => s"$lane // ${m * m}"
      }
      s"WHEN $k THEN $e"
    }.mkString(" ")
    s"CASE b.k $branches END"
  }

  private val wideHdSql =
    "bit_count(xor(x.l0, y.l0)) + bit_count(xor(x.l1, y.l1))" +
      " + bit_count(xor(x.l2, y.l2)) + bit_count(xor(x.l3, y.l3))"

  /** The capped banded-join pipeline over a source CTE `src`
    * (id, l0..l3) — CTE bodies mirroring [[WidePhash.pairs]] stage for
    * stage: distinct fingerprints → 12 block rows each → bucket df →
    * drop buckets over the cap → equi-join + verify (hd ≤ 11) with
    * DISTINCT standing in for the Spark side's dropDuplicates →
    * identical-fingerprint cliques bypass the banding entirely.
    * Defines CTEs dh/bl/keep/bk/rp/mem/pairs. */
  private def widePairCtesSql(src: String): String =
    s"""dh AS (
       |  SELECT min(id) AS rep, count(*) AS grp_n, l0, l1, l2, l3
       |  FROM $src GROUP BY l0, l1, l2, l3),
       |bl AS (
       |  SELECT rep, l0, l1, l2, l3, b.k AS bidx, $bvalCaseSql AS bval
       |  FROM dh CROSS JOIN
       |    (SELECT unnest(range(0, ${WidePhash.Blocks})) AS k) b),
       |keep AS (
       |  SELECT bidx, bval FROM (
       |    SELECT bidx, bval, count(*) AS df FROM bl GROUP BY 1, 2)
       |  WHERE df <= ${WidePhash.DfCap}),
       |bk AS (SELECT bl.* FROM bl JOIN keep USING (bidx, bval)),
       |rp AS (
       |  SELECT DISTINCT x.rep AS rep_a, y.rep AS rep_b,
       |    CAST($wideHdSql AS INT) AS hd
       |  FROM bk x JOIN bk y ON x.bidx = y.bidx AND x.bval = y.bval
       |    AND x.rep < y.rep
       |  WHERE $wideHdSql <= ${WidePhash.HdMax}),
       |mem AS (
       |  SELECT s.id, dh.rep FROM $src s
       |  JOIN dh USING (l0, l1, l2, l3)),
       |pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b, CAST(0 AS INT) AS hd
       |  FROM mem a JOIN mem b ON a.rep = b.rep AND a.id < b.id
       |  UNION ALL
       |  SELECT least(ma.id, mb.id) AS id_a,
       |    greatest(ma.id, mb.id) AS id_b, rp.hd
       |  FROM rp JOIN mem ma ON ma.rep = rp.rep_a
       |    JOIN mem mb ON mb.rep = rp.rep_b)""".stripMargin

  /** q207: image NEAR-DUP pairs at production width — wide dHashes
    * within Hamming distance ≤ 11, found by [[WidePhash.pairs]]'s
    * df-capped 21-bit-block banded join (candidates ≤ 12·cap·D; the
    * round-15 narrow layout's hot 16-bit blocks measured ×4 exponents
    * of 1.64-1.69, PLANS.md). The cap deliberately drops pairs whose
    * every matching block is degenerate-hot — q216 prices that in
    * integers.
    *
    * The pair LIST is the audit form and is output-bound quadratic in
    * exact-dup group size (g identical images are g(g−1)/2 hd = 0
    * rows) — at corpus scale a build materializes q208's CLUSTERS,
    * whose construction never expands a group into its clique. */
  private def q207(s: SparkSession, d: String): DataFrame =
    WidePhash.pairs(sig(s, d)
      .select(col("doc_id").as("id"),
        col("l0"), col("l1"), col("l2"), col("l3")))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hd"))

  private val q207Sql =
    s"""WITH src AS ($wideSrcSql),
       |${widePairCtesSql("src")}
       |SELECT id_a AS doc_a, id_b AS doc_b, hd FROM pairs""".stripMargin

  /** q208: image duplicate CLUSTERS — the near-dup relation composed
    * into transitive groups with a canonical representative (min
    * doc_id), the "keep one copy per visual cluster" step of the
    * build, and the form a 100 TB pipeline actually materializes.
    * Clique-free construction ([[WidePhash.clusterLabels]]): STAR
    * edges within each exact-fingerprint group (doc → group-min,
    * 1 edge/doc) plus the df-capped banded join over DISTINCT
    * fingerprints only (hd 1..11, one representative per group). The
    * union's components equal the full verified-pair graph's: stars
    * connect within groups, and an (a, b) cross pair exists iff its
    * representative pair does. Min-label propagation
    * ([[graft.operators.ConnectedComponents.minLabel]], O(log
    * diameter) rounds) labels the components; the oracle computes the
    * same fixpoint from the identical pair relation with a recursive
    * CTE. */
  private def q208(s: SparkSession, d: String): DataFrame =
    WidePhash.clusterLabels(sig(s, d)
      .select(col("doc_id").as("id"),
        col("l0"), col("l1"), col("l2"), col("l3")))
      .groupBy(col("label").as("canonical_doc"))
      .agg(count(lit(1)).as("n_docs"), max(col("node")).as("max_doc"))
      .filter(col("n_docs") > 1)

  /** The image cluster fixpoint as reusable CTEs, shared by q208 and
    * the q212 funnel: `final` is (node, label) over every doc, label =
    * min of the near-dup component (isolated docs label themselves —
    * the Spark side's "no label row" case). */
  private val clusterCteSql =
    s"""src AS ($wideSrcSql),
       |${widePairCtesSql("src")},
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT id_b AS src, id_a AS dst FROM pairs),
       |lab AS (
       |  SELECT id AS node, id AS label FROM src
       |  UNION
       |  SELECT e.dst AS node, lab.label AS label
       |  FROM lab JOIN edges e ON lab.node = e.src),
       |final AS (SELECT node, min(label) AS label FROM lab GROUP BY node)""".stripMargin

  private val q208Sql =
    s"""WITH RECURSIVE $clusterCteSql
       |SELECT label AS canonical_doc, count(*) AS n_docs, max(node) AS max_doc
       |FROM final GROUP BY 1 HAVING count(*) > 1""".stripMargin

  /** q209: perceptual AUDIO fingerprint
    * ([[graft.functions.AudioDsp.fingerprint63]], Haitsma-Kalker
    * ISMIR'02): a 256-sample waveform synthesized deterministically
    * from each doc's text (the q159 code-point discipline, carrier
    * dropped so the signal is purely text-derived), STFT'd with the
    * REAL [[graft.functions.AudioDsp.Stft]] tables (win 64 / hop 16 →
    * 13 frames × 32 non-DC bins), folded into 8 band energies per
    * frame, and sign-quantized along the time × band double
    * difference into 63 bits. Scan → UDF → no shuffle; the oracle
    * replays the full STFT as generated left-associated term chains
    * (the q159 discipline — every trig/window double embedded as a
    * round-trip literal).
    *
    * At 100 TB the fingerprint is 8 bytes per clip regardless of clip
    * length (a real build fingerprints every ~0.37 s granule and
    * matches on any granule hit — Haitsma's layout; the per-granule
    * operator is THIS one applied per window). */
  private def q209(s: SparkSession, d: String): DataFrame = {
    val probe = udf((text: String) => {
      val cps = text.codePoints().toArray
      val nch = math.max(1, cps.length)
      val x = Array.tabulate(256) { i =>
        val cp = if (cps.isEmpty) 0 else cps((i * 11) % nch)
        ((cp * (i + 7)) % 97) / 97.0 - 0.5
      }
      graft.functions.AudioDsp.fingerprint63(x)
    })
    textDocs(s, d).select(col("doc_id"), probe(col("text")).as("fp"))
  }

  /** The q104 pigeonhole join for 63-BIT fingerprints (the audio
    * family and q216's narrow comparison arm): the hash splits into 4
    * blocks (16+16+16+15 bits); hd ≤ 3 forces at least one block to
    * match exactly, so candidates come from an EQUI-join on
    * (block-idx, block-value) — never an all-pairs scan — and each
    * surviving pair is verified with one XOR + popcount. Duplicate
    * candidates are eliminated without a `distinct` shuffle by the
    * first-matching-block rule: a pair found at block k is kept only
    * when blocks 0..k−1 all differ. Input: (id, h); output:
    * (id_a, id_b, hd) with id_a < id_b, hd ≤ 3.
    *
    * Scale note: this narrow layout has NO df cap — correct for the
    * high-entropy audio fingerprint (measured min cross-doc hd = 12),
    * but its hot-block behavior on correlated image hashes is exactly
    * what [[WidePhash]] replaced (round 16); q216 measures both arms
    * side by side. */
  private def hd3Pairs(sigDf: DataFrame): DataFrame = {
    val withBlocks = sigDf.select(
      col("id"), col("h"),
      expr("h % 65536").as("b0"),
      expr("(h div 65536) % 65536").as("b1"),
      expr("(h div 4294967296) % 65536").as("b2"),
      expr("h div 281474976710656").as("b3"))
    val bandRows = withBlocks.select(
      col("id"), col("h"), col("b0"), col("b1"), col("b2"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
        .as(Seq("bidx", "bval")))
    val x = bandRows.select(col("bidx"), col("bval"),
      col("id").as("id_a"), col("h").as("ha"),
      col("b0").as("b0a"), col("b1").as("b1a"), col("b2").as("b2a"))
    val y = bandRows.select(col("bidx"), col("bval"),
      col("id").as("id_b"), col("h").as("hb"),
      col("b0").as("b0b"), col("b1").as("b1b"), col("b2").as("b2b"))
    x.join(y, Seq("bidx", "bval"))
      .filter(col("id_a") < col("id_b") &&
        (col("bidx") === 0 || col("b0a") =!= col("b0b")) &&
        (col("bidx") <= 1 || col("b1a") =!= col("b1b")) &&
        (col("bidx") <= 2 || col("b2a") =!= col("b2b")))
      .withColumn("hd", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hd") <= 3)
      .select(col("id_a"), col("id_b"), col("hd"))
  }

  /** The original clip synthesis as a DuckDB list comprehension (the
    * q159 code-point discipline, carrier dropped). */
  private val origXSql =
    """(((ascii(substr(text, ((i * 11) % nch) + 1, 1))
      |             * (i + 7)) % 97) / CAST(97 AS DOUBLE) - 0.5)""".stripMargin

  /** The degraded copy: gain ×0.9 + ±0.025 noise from a second
    * code-point stream (amplitude 0.05 around zero). */
  private val degXSql =
    s"""0.9 * $origXSql
       |           + (((ascii(substr(text, ((i * 13) % nch) + 1, 1))
       |             * (i + 13)) % 89) / CAST(89 AS DOUBLE) - 0.5) * 0.05""".stripMargin

  /** Generated fingerprint SQL over any per-sample synthesis
    * expression (variable `i`, columns text/nch in scope): the full
    * STFT → band-energy → sign-quantize pipeline as left-associated
    * term chains (the q159 vectorization lesson). */
  private def fpSqlFrom(xSynth: String): String = {
    val st = graft.functions.AudioDsp.Stft
    val ct = st.cosT.mkString("[", ", ", "]")
    val stb = st.sinT.mkString("[", ", ", "]")
    val N = 256                  // probe signal length
    val W = st.Win               // 64: analysis window
    val H = st.Hop               // 16: hop
    val frames = (N - W) / H + 1 // 13 analysis frames
    val FK = frames * 32         // flat (frame, bin−1) space, bins 1..32
    val FB = frames * 8          // flat (frame, band) space
    // forward DFT as generated 64-term left-associated chains; hann
    // embeds per-term as a literal, trig tables index by (k·i) mod W
    def fwdTerms(tbl: String): String = (0 until W).map { i =>
      s"(${st.hann(i)} * x[(fk // 32) * $H + ${i + 1}])" +
        s" * $tbl[((((fk % 32) + 1) * $i) % $W) + 1]"
    }.mkString(" + ")
    // band energy: 4 bins per band, ascending k, re²+im² per bin
    val bandTerms = (0 until 4).map { kk =>
      val p = s"(fb // 8) * 32 + (fb % 8) * 4 + ${kk + 1}"
      s"(re[$p] * re[$p] + im[$p] * im[$p])"
    }.mkString(" + ")
    s"""SELECT doc_id,
       |  CAST(list_reduce(list_transform(range(0, 63), i ->
       |    CASE WHEN ((eb[(i // 7 + 1) * 8 + (i % 7) + 1]
       |              - eb[(i // 7 + 1) * 8 + (i % 7) + 2])
       |             - (eb[(i // 7) * 8 + (i % 7) + 1]
       |              - eb[(i // 7) * 8 + (i % 7) + 2])) > 0
       |      THEN (2**i)::BIGINT ELSE 0::BIGINT END),
       |    (a, b) -> a + b) AS BIGINT) AS fp
       |FROM (
       |  SELECT doc_id,
       |    list_transform(range(0, $FB), fb -> $bandTerms) AS eb
       |  FROM (
       |    SELECT doc_id,
       |      list_transform(range(0, $FK), fk -> ${fwdTerms("ct")}) AS re,
       |      list_transform(range(0, $FK), fk -> ${fwdTerms("stb")}) AS im
       |    FROM (
       |      SELECT doc_id, ct, stb,
       |        [ $xSynth
       |          for i in range(0, $N) ] AS x
       |      FROM (SELECT doc_id, text, length(text) AS nch
       |            FROM documents WHERE length(text) >= 1)
       |        CROSS JOIN (SELECT CAST($ct AS DOUBLE[]) AS ct,
       |          CAST($stb AS DOUBLE[]) AS stb))))""".stripMargin
  }

  private val q209Sql = fpSqlFrom(origXSql)

  /** q210: audio NEAR-DUP pairs under MEASURED degradation — the
    * q168 dual-generator discipline. The corpus's texts are all
    * distinct and the 63-bit fingerprint has full entropy (measured
    * min cross-doc hd = 12 at sf0.01), so a bare hd ≤ 3 join over the
    * original clips is vacuously empty; instead every doc contributes
    * its clip (clip_id = 2·doc_id) AND a deterministically DEGRADED
    * copy (2·doc_id+1): gain ×0.9 — which the sign-of-difference
    * fingerprint cancels exactly — plus ±0.025 additive noise from a
    * second code-point stream, which flips a measurable few bits.
    * The [[hd3Pairs]] banded join then has to RECOVER the planted
    * pairs (and any residual cross collisions) — the operator and its
    * robustness measurement in one relation; q211 rolls the recall
    * up. At 100 TB the same knobs apply: Haitsma's full layout is a
    * 32-bit sub-fingerprint per ~12 ms granule with block matching —
    * the per-granule operator is this one. */
  private def clips(s: SparkSession, d: String): DataFrame = {
    val probe = udf((text: String) => {
      val cps = text.codePoints().toArray
      val nch = math.max(1, cps.length)
      val x = Array.tabulate(256) { i =>
        val cp = if (cps.isEmpty) 0 else cps((i * 11) % nch)
        ((cp * (i + 7)) % 97) / 97.0 - 0.5
      }
      val x2 = Array.tabulate(256) { i =>
        val cp2 = if (cps.isEmpty) 0 else cps((i * 13) % nch)
        0.9 * x(i) + (((cp2 * (i + 13)) % 89) / 89.0 - 0.5) * 0.05
      }
      (graft.functions.AudioDsp.fingerprint63(x),
        graft.functions.AudioDsp.fingerprint63(x2))
    })
    textDocs(s, d).select(col("doc_id"), probe(col("text")).as("t"))
      .select(explode(array(
        struct((col("doc_id") * 2).as("id"), col("t._1").as("h")),
        struct((col("doc_id") * 2 + 1).as("id"), col("t._2").as("h"))))
        .as("c"))
      .select(col("c.id").as("id"), col("c.h").as("h"))
  }

  private def q210(s: SparkSession, d: String): DataFrame =
    hd3Pairs(clips(s, d))
      .select(col("id_a").as("clip_a"), col("id_b").as("clip_b"), col("hd"))

  /** The clip relation's oracle: original + degraded fingerprint per
    * doc, both replayed through the generated-STFT SQL. */
  private val clipsSql =
    s"""SELECT doc_id * 2 AS id, fp AS h FROM (${fpSqlFrom(origXSql)})
       |UNION ALL
       |SELECT doc_id * 2 + 1 AS id, fp AS h FROM (${fpSqlFrom(degXSql)})""".stripMargin

  private val q210Sql =
    s"""WITH c AS ($clipsSql)
       |SELECT x.id AS clip_a, y.id AS clip_b,
       |  CAST(bit_count(xor(x.h, y.h)) AS INT) AS hd
       |FROM c x JOIN c y ON x.id < y.id
       |WHERE bit_count(xor(x.h, y.h)) <= 3""".stripMargin

  /** q211: the fingerprint ROBUSTNESS rollup — of the planted
    * (original, degraded) pairs, how many does the hd ≤ 3 near-dup
    * gate recover, per surviving Hamming distance and in total
    * (integer basis points, the q155/q170/q192 measured-recall
    * convention). A planted pair is (2k, 2k+1) — adjacent ids with
    * even left edge; residual cross-doc collisions are counted
    * separately, not dropped (a real gate pays for them too). Every
    * count is coalesced to 0 so a degenerate corpus with an empty
    * pair relation matches the oracle's coalesce (Spark's
    * sum-over-empty is NULL where the guard is absent). */
  private def q211(s: SparkSession, d: String): DataFrame = {
    val pairs = hd3Pairs(clips(s, d))
    val nDocs = textDocs(s, d).agg(count(lit(1)).as("n_planted"))
    pairs
      .withColumn("planted",
        (col("id_b") - col("id_a") === 1) && (col("id_a") % 2 === 0))
      .agg(
        cnt(col("planted")).as("n_recovered"),
        cnt(!col("planted")).as("n_collisions"),
        cnt(col("planted") && col("hd") === 0).as("n_hd0"),
        cnt(col("planted") && col("hd") === 1).as("n_hd1"),
        cnt(col("planted") && col("hd") === 2).as("n_hd2"),
        cnt(col("planted") && col("hd") === 3).as("n_hd3"))
      .crossJoin(broadcast(nDocs))
      .select(col("n_planted"), col("n_recovered"), col("n_collisions"),
        col("n_hd0"), col("n_hd1"), col("n_hd2"), col("n_hd3"),
        expr("(10000 * n_recovered) div n_planted").as("recall_bp"))
  }

  private val q211Sql =
    s"""WITH c AS ($clipsSql),
       |p AS (
       |  SELECT x.id AS id_a, y.id AS id_b,
       |    bit_count(xor(x.h, y.h)) AS hd,
       |    (y.id - x.id = 1 AND x.id % 2 = 0) AS planted
       |  FROM c x JOIN c y ON x.id < y.id
       |  WHERE bit_count(xor(x.h, y.h)) <= 3),
       |agg AS (
       |  SELECT
       |    CAST(coalesce(sum(CASE WHEN planted THEN 1 END), 0) AS BIGINT)
       |      AS n_recovered,
       |    CAST(coalesce(sum(CASE WHEN NOT planted THEN 1 END), 0) AS BIGINT)
       |      AS n_collisions,
       |    CAST(coalesce(sum(CASE WHEN planted AND hd = 0 THEN 1 END), 0)
       |      AS BIGINT) AS n_hd0,
       |    CAST(coalesce(sum(CASE WHEN planted AND hd = 1 THEN 1 END), 0)
       |      AS BIGINT) AS n_hd1,
       |    CAST(coalesce(sum(CASE WHEN planted AND hd = 2 THEN 1 END), 0)
       |      AS BIGINT) AS n_hd2,
       |    CAST(coalesce(sum(CASE WHEN planted AND hd = 3 THEN 1 END), 0)
       |      AS BIGINT) AS n_hd3
       |  FROM p),
       |n AS (SELECT count(*) AS n_planted FROM documents
       |      WHERE length(text) >= 1)
       |SELECT CAST(n.n_planted AS BIGINT) AS n_planted,
       |  agg.n_recovered, agg.n_collisions,
       |  agg.n_hd0, agg.n_hd1, agg.n_hd2, agg.n_hd3,
       |  (10000 * agg.n_recovered) // n.n_planted AS recall_bp
       |FROM agg CROSS JOIN n""".stripMargin

  /** q212: the MULTIMODAL dedup funnel — the capstone composition a
    * LAION/DataComp-style build runs: exact TEXT dedup (q79's md5
    * fingerprint, min doc kept per group) → perceptual IMAGE dedup
    * (min SURVIVING member kept per wide-hash near-dup cluster,
    * [[WidePhash.clusterLabels]] — the same min-survivor rule as the
    * audio stage, so a cluster whose minimum was dropped upstream
    * still keeps one copy) → AUDIO fingerprint dedup (min doc per
    * 63-bit fp among remaining survivors); one row of per-stage
    * survivor counts. Scale shape: one md5 shuffle + the clique-free
    * df-capped cluster build + one fp shuffle; every window is
    * PARTITIONED by its dedup key; the four counts are 1-row
    * broadcast scalars. */
  private def q212(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = textDocs(s, d)
    val s1 = docs
      .select(col("doc_id"), md5(col("text").cast("binary")).as("ft"))
      .withColumn("kmin",
        min(col("doc_id")).over(Window.partitionBy(col("ft"))))
      .filter(col("doc_id") === col("kmin"))
      .select(col("doc_id"))
    val clus = WidePhash.clusterLabels(sig(s, d)
      .select(col("doc_id").as("id"),
        col("l0"), col("l1"), col("l2"), col("l3")))
    val s2 = s1.join(clus, s1("doc_id") === clus("node"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("grp"))
      .withColumn("kmin",
        min(col("doc_id")).over(Window.partitionBy(col("grp"))))
      .filter(col("doc_id") === col("kmin"))
      .select(col("doc_id"))
    val s3 = s2.join(q209(s, d), "doc_id")
      .withColumn("kmin",
        min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .filter(col("doc_id") === col("kmin"))
      .select(col("doc_id"))
    docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(s1.agg(count(lit(1)).as("n_after_text"))))
      .crossJoin(broadcast(s2.agg(count(lit(1)).as("n_after_image"))))
      .crossJoin(broadcast(s3.agg(count(lit(1)).as("n_after_audio"))))
  }

  private val q212Sql =
    s"""WITH RECURSIVE $clusterCteSql,
       |t AS (SELECT doc_id, md5(text) AS ft FROM documents
       |      WHERE length(text) >= 1),
       |s1 AS (SELECT doc_id FROM (
       |  SELECT doc_id, min(doc_id) OVER (PARTITION BY ft) AS kmin FROM t)
       |  WHERE doc_id = kmin),
       |s2 AS (SELECT doc_id FROM (
       |  SELECT s1.doc_id,
       |    min(s1.doc_id) OVER (
       |      PARTITION BY coalesce(final.label, s1.doc_id)) AS kmin
       |  FROM s1 LEFT JOIN final ON s1.doc_id = final.node)
       |  WHERE doc_id = kmin),
       |a AS ($q209Sql),
       |s3 AS (SELECT doc_id FROM (
       |  SELECT a.doc_id, min(a.doc_id) OVER (PARTITION BY a.fp) AS kmin
       |  FROM a JOIN s2 USING (doc_id))
       |  WHERE doc_id = kmin)
       |SELECT CAST((SELECT count(*) FROM t) AS BIGINT) AS n_docs,
       |  CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_after_text,
       |  CAST((SELECT count(*) FROM s2) AS BIGINT) AS n_after_image,
       |  CAST((SELECT count(*) FROM s3) AS BIGINT) AS n_after_audio""".stripMargin

  // ---- video: frame fingerprints + temporal-alignment clip match ----
  // Video DECODE stays behind the Multimodal stub seam (no codecs in
  // this container, SURVEY §S9) — but video DEDUP math is real: a
  // "video" here is its frame-sampled sequence of planes, which is
  // exactly what a production pipeline reduces a video to before
  // fingerprinting (frame-sample → per-frame perceptual hash →
  // temporal alignment). The synthesis makes frame j's plane a
  // deterministic phase-evolution of the doc's q88 plane, so both
  // engines derive identical frames.

  private val VFrames = 8  // frames per synthesized video
  private val ClipLen = 6  // planted clip length
  private val ClipOff = 2  // planted clip starts at this frame
  // alignment threshold + stop-hash cap IMPORTED from the snapshot
  // index (VERDICT r16 #5 — the WidePhash rule: the one-shot query and
  // the materialized index must share one source of truth)
  private val MinMatch = graft.operators.VideoClipIndex.MinMatch
  private val DfCap = graft.operators.VideoClipIndex.DfCap
                           // max distinct videos per frame hash (q168's
                           // df-cap discipline: a frame hash shared by
                           // many videos — a blank frame — matches
                           // everything and identifies nothing; without
                           // the cap the x4 ScaleTrend measured the join
                           // superquadratic off 4.8k-video stop-hashes,
                           // with it the alignment collision mass drops
                           // to ZERO at sf0.01 for the measured price of
                           // 26/500 planted clips whose frames are
                           // themselves stop-hashes — q215 pins that
                           // trade in integers)

  /** Frame j's plane: the q88 rule with the code-point index advanced
    * by 3j — a moving scene, one deterministic step per frame. */
  private def framePlane(text: String, j: Int): Array[Byte] = {
    val cps = text.codePoints().toArray
    val n = math.max(1, cps.length)
    Array.tabulate(512) { i =>
      val c = if (cps.isEmpty) 0 else cps((i * 7 + j * 3) % n)
      (if ((c * (i + 1)) % 17 == 0) 40 else 255).toByte
    }
  }

  private def frameHash(text: String, j: Int): Long =
    graft.functions.ImageOps.dHash63(
      graft.functions.ImageOps.cellSums(
        graft.functions.ImageOps.Gray(W, H, framePlane(text, j)), 8, 8))

  /** q213: per-frame video fingerprints — frame-sample (8 frames) →
    * per-frame 63-bit dHash; the video analog of q206. Scan → one
    * bounded explode → UDF; no shuffle. (The codec round-trip is
    * q206's covered ground; frames here hash the plane directly.) */
  private def q213(s: SparkSession, d: String): DataFrame = {
    val fh = udf((text: String, j: Int) => frameHash(text, j))
    Tables.spreadKernel(textDocs(s, d))
      .select(col("doc_id"), col("text"),
        explode(expr(s"sequence(0, ${VFrames - 1})")).as("fid"))
      .select(col("doc_id"), col("fid").cast("long").as("frame_id"),
        fh(col("text"), col("fid")).as("fhash"))
  }

  /** The q206 cell/dhash SQL over frame j's plane (j in scope). */
  private val framePlaneSql =
    s"""[CASE WHEN (ascii(substr(text, ((i * 7 + j * 3) % nch) + 1, 1))
       |            * (i + 1)) % 17 = 0
       |      THEN 40 ELSE 255 END for i in range(0, ${W * H})]""".stripMargin

  private val frameHashCoreSql =
    s"""SELECT doc_id, j AS frame_id,
       |  CAST(list_reduce(list_transform(range(0, 63), i ->
       |    CASE WHEN cs[i + 1] > cs[i + 2]
       |      THEN (2**i)::BIGINT ELSE 0::BIGINT END),
       |    (a, b) -> a + b) AS BIGINT) AS fhash
       |FROM (
       |  SELECT doc_id, j, $cellsSql AS cs
       |  FROM (
       |    SELECT doc_id, j, $framePlaneSql AS p
       |    FROM (SELECT doc_id, text, length(text) AS nch
       |          FROM documents WHERE length(text) >= 1)
       |      CROSS JOIN (SELECT unnest(range(0, $VFrames)) AS j)))""".stripMargin

  private val q213Sql = frameHashCoreSql

  /** The dual-generator video corpus: every doc's full video
    * (vid = 2·doc_id, frames 0..7) plus a planted CLIP
    * (vid = 2·doc_id+1, frames 0..5 = the original's frames 2..7) —
    * the re-posted-excerpt case video dedup exists for. */
  /** Public accessor for the dual-generator video corpus (the
    * [[imageSignatures]] precedent): RefreshMain's clip-index leg and
    * the VideoClipIndex specs read the same frames q214/q215 band. */
  private[graft] def videoFrameRows(s: SparkSession, d: String): DataFrame =
    videoFrames(s, d)

  private def videoFrames(s: SparkSession, d: String): DataFrame = {
    val fh = udf((text: String, j: Int) => frameHash(text, j))
    val docs = Tables.spreadKernel(textDocs(s, d))
    val full = docs
      .select(col("doc_id"), col("text"),
        explode(expr(s"sequence(0, ${VFrames - 1})")).as("p"))
      .select((col("doc_id") * 2).as("vid"), col("p").cast("long").as("pos"),
        fh(col("text"), col("p")).as("fhash"))
    val clip = docs
      .select(col("doc_id"), col("text"),
        explode(expr(s"sequence(0, ${ClipLen - 1})")).as("p"))
      .select((col("doc_id") * 2 + 1).as("vid"),
        col("p").cast("long").as("pos"),
        fh(col("text"), col("p") + ClipOff).as("fhash"))
    // materialized once (the WidePhash rule): q214/q215 reference the
    // frame relation through the df-cap filter and both join sides —
    // non-unifiable subtrees that re-ran the frame-hash UDF ~4x per
    // query (r17 profile). 3 longs/frame, executor-local
    Materialize.once(full.union(clip), "video.frames")
  }

  private val videoFramesSql =
    s"""SELECT doc_id * 2 AS vid, frame_id AS pos, fhash
       |FROM ($frameHashCoreSql)
       |UNION ALL
       |SELECT doc_id * 2 + 1 AS vid, frame_id - $ClipOff AS pos, fhash
       |FROM ($frameHashCoreSql)
       |WHERE frame_id >= $ClipOff
       |  AND frame_id < ${ClipOff + ClipLen}""".stripMargin

  /** q214: temporal-alignment CLIP matching — the sequence analog of
    * the Hamming-ball join: two videos match when ≥ 4 frames share a
    * fingerprint at one CONSISTENT temporal offset (offset-delta
    * voting, the Shazam/Haitsma block-alignment trick: an equi-join
    * on the frame hash — an inverted frame-hash index at scale, never
    * all-pairs — then a groupBy on (vid_a, vid_b, pos_a − pos_b)
    * counts DISTINCT aligned positions, so a static video whose
    * frames all collide cannot inflate its own vote). Emits the
    * matched span and its alignment offset — the planted clips must
    * surface at offset = +2. */
  private def q214(s: SparkSession, d: String): DataFrame = {
    val f = videoFrames(s, d)
    val keep = f.groupBy(col("fhash"))
      .agg(countDistinct(col("vid")).as("df"))
      .filter(col("df") <= DfCap)
      .select(col("fhash"))
    val fk = f.join(keep, "fhash")
    val x = fk.select(col("vid").as("vid_a"), col("pos").as("pos_a"),
      col("fhash"))
    val y = fk.select(col("vid").as("vid_b"), col("pos").as("pos_b"),
      col("fhash"))
    x.join(y, "fhash")
      .filter(col("vid_a") < col("vid_b"))
      .groupBy(col("vid_a"), col("vid_b"),
        (col("pos_a") - col("pos_b")).as("offset"))
      .agg(countDistinct(col("pos_a")).as("n_matched"))
      .filter(col("n_matched") >= MinMatch)
  }

  private val q214Sql =
    s"""WITH f AS ($videoFramesSql),
       |keep AS (
       |  SELECT fhash FROM (
       |    SELECT fhash, count(DISTINCT vid) AS df FROM f GROUP BY fhash)
       |  WHERE df <= $DfCap),
       |fk AS (SELECT f.* FROM f JOIN keep USING (fhash))
       |SELECT x.vid AS vid_a, y.vid AS vid_b,
       |  CAST(x.pos - y.pos AS BIGINT) AS "offset",
       |  CAST(count(DISTINCT x.pos) AS BIGINT) AS n_matched
       |FROM fk x JOIN fk y ON x.fhash = y.fhash AND x.vid < y.vid
       |GROUP BY x.vid, y.vid, x.pos - y.pos
       |HAVING count(DISTINCT x.pos) >= $MinMatch""".stripMargin

  /** q215: the clip-match rollup — every planted clip must be
    * recovered at its true alignment (vid pair (2k, 2k+1) at
    * offset = +$ClipOff with all $ClipLen frames matched); residual
    * cross-video alignments are counted, not dropped. Integer
    * basis-point recall, the q211 convention — counts coalesced to 0
    * against the empty-relation case, matching the oracle. */
  private def q215(s: SparkSession, d: String): DataFrame = {
    val nDocs = textDocs(s, d).agg(count(lit(1)).as("n_planted"))
    q214(s, d)
      .withColumn("planted",
        (col("vid_b") - col("vid_a") === 1) && (col("vid_a") % 2 === 0) &&
          (col("offset") === ClipOff))
      .agg(
        cnt(col("planted")).as("n_recovered"),
        cnt(col("planted") && col("n_matched") === ClipLen)
          .as("n_full_span"),
        cnt(!col("planted")).as("n_other"))
      .crossJoin(broadcast(nDocs))
      .select(col("n_planted"), col("n_recovered"), col("n_full_span"),
        col("n_other"),
        expr("(10000 * n_recovered) div n_planted").as("recall_bp"))
  }

  private val q215Sql =
    s"""WITH f AS ($videoFramesSql),
       |keep AS (
       |  SELECT fhash FROM (
       |    SELECT fhash, count(DISTINCT vid) AS df FROM f GROUP BY fhash)
       |  WHERE df <= $DfCap),
       |fk AS (SELECT f.* FROM f JOIN keep USING (fhash)),
       |m AS (
       |  SELECT x.vid AS vid_a, y.vid AS vid_b, x.pos - y.pos AS off,
       |    count(DISTINCT x.pos) AS n_matched
       |  FROM fk x JOIN fk y ON x.fhash = y.fhash AND x.vid < y.vid
       |  GROUP BY x.vid, y.vid, x.pos - y.pos
       |  HAVING count(DISTINCT x.pos) >= $MinMatch),
       |agg AS (
       |  SELECT
       |    CAST(coalesce(sum(CASE WHEN planted THEN 1 END), 0) AS BIGINT)
       |      AS n_recovered,
       |    CAST(coalesce(sum(CASE WHEN planted AND n_matched = $ClipLen
       |      THEN 1 END), 0) AS BIGINT) AS n_full_span,
       |    CAST(coalesce(sum(CASE WHEN NOT planted THEN 1 END), 0) AS BIGINT)
       |      AS n_other
       |  FROM (SELECT *,
       |          (vid_b - vid_a = 1 AND vid_a % 2 = 0 AND off = $ClipOff)
       |            AS planted
       |        FROM m)),
       |n AS (SELECT count(*) AS n_planted FROM documents
       |      WHERE length(text) >= 1)
       |SELECT CAST(n.n_planted AS BIGINT) AS n_planted,
       |  agg.n_recovered, agg.n_full_span, agg.n_other,
       |  (10000 * agg.n_recovered) // n.n_planted AS recall_bp
       |FROM agg CROSS JOIN n""".stripMargin

  // ---- q216: hash-width recall — wide vs narrow on one degradation --

  /** The degraded image: ~2% of pixels flip dark↔light (driven by a
    * second code-point stream, the q210 dual-generator discipline)
    * plus a +12 brightness shift clamped at 255 — the re-encoded /
    * re-screenshotted copy image dedup exists for. The shift alone is
    * algebraically invisible to a difference hash; the flips are what
    * both gates must survive. */
  private def degradedPlane(text: String): Array[Byte] = {
    val cps = text.codePoints().toArray
    val n = math.max(1, cps.length)
    val p = textPlane(text)
    Array.tabulate(W * H) { i =>
      val c2 = if (cps.isEmpty) 0 else cps((i * 13) % n)
      val v0 = p(i) & 0xff
      val v = if ((c2 * (i + 3)) % 53 == 0) (if (v0 == 255) 40 else 255)
        else v0
      math.min(255, v + 12).toByte
    }
  }

  /** Per-doc width frame: the original AND degraded plane's narrow
    * hash plus wide lanes in ONE row (h_o/h_d, lo0..lo3/ld0..ld3) —
    * the planted pair is evaluated without ever exploding the corpus
    * into an image relation. */
  private def widthFrame(s: SparkSession, d: String): DataFrame = {
    val probe = udf((text: String) => {
      val io = graft.functions.ImageOps
      def fp(px: Array[Byte]) = {
        val g = io.Gray(W, H, px)
        val wide = io.dHashWide(io.cellSums(g, WidePhash.Grid, WidePhash.Grid))
        (io.dHash63(io.cellSums(g, 8, 8)), wide(0), wide(1), wide(2), wide(3))
      }
      (fp(textPlane(text)), fp(degradedPlane(text)))
    })
    textDocs(s, d).select(col("doc_id"), probe(col("text")).as("t"))
      .select(col("doc_id"),
        col("t._1._1").as("h_o"), col("t._2._1").as("h_d"),
        col("t._1._2").as("lo0"), col("t._1._3").as("lo1"),
        col("t._1._4").as("lo2"), col("t._1._5").as("lo3"),
        col("t._2._2").as("ld0"), col("t._2._3").as("ld1"),
        col("t._2._4").as("ld2"), col("t._2._5").as("ld3"))
  }

  /** q216: WIDE-VS-NARROW detection recall on one planted degradation
    * (the q155/q175 measured-recall discipline, VERDICT r15 #1's
    * "done" criterion): what each production gate — the narrow 63-bit
    * hd ≤ 3 banding ([[hd3Pairs]]) and the wide 252-bit hd ≤ 11
    * df-capped banding ([[WidePhash]]) — recovers of the planted
    * original→degraded pairs, per wide Hamming band, in integer basis
    * points; plus the wide gate's total verified-pair volume and its
    * collision count. Measured at sf0.01: wide 7540 bp vs narrow
    * 3280 bp on ~2% pixel noise — the why-production-widens evidence —
    * with the df cap's price INCLUDED (a planted pair whose every
    * matching block is degenerate-hot is lost).
    *
    * Scale discipline (aggregate WITHOUT expansion): nothing here
    * materializes a member-level pair relation.
    *   - Narrow recall: the narrow banding is pigeonhole-LOSSLESS, so
    *     "the gate recovers the pair" ≡ hd(h_o, h_d) ≤ 3 — one per-doc
    *     expression. Its collision relation is NOT measured: on a
    *     correlated corpus it is the n²/65k candidate blowup that got
    *     the layout deprecated (a first cut of this query materialized
    *     it and measured ×4 exponent 1.88 — the measurement query
    *     itself went quadratic).
    *   - Wide recall: a planted pair is recovered iff its fingerprints
    *     are identical (per-doc expression) or its REP pair survives
    *     the capped banding ([[WidePhash.repPairs]], candidates ≤
    *     12·cap·D) — one join of n planted pairs against the rep-pair
    *     relation.
    *   - Wide pair volume: Σ grp_n·(grp_n−1)/2 over fingerprint groups
    *     plus Σ grp_a·grp_b over rep pairs — group-size arithmetic,
    *     never the expanded clique (the q208 lesson applied to
    *     counting). Collisions = volume − recovered. */
  private def q216(s: SparkSession, d: String): DataFrame = {
    // materialized once (the WidePhash rule): the per-doc width frame
    // feeds the image relation, the rep lookups, and the verdict frame
    // through non-unifiable subtrees — without this the double
    // fingerprint UDF re-evaluates per reference
    val pd = Materialize.once(widthFrame(s, d), "q216.widths")
    val im = pd.select(explode(array(
        struct((col("doc_id") * 2).as("id"), col("lo0").as("l0"),
          col("lo1").as("l1"), col("lo2").as("l2"), col("lo3").as("l3")),
        struct((col("doc_id") * 2 + 1).as("id"), col("ld0").as("l0"),
          col("ld1").as("l1"), col("ld2").as("l2"), col("ld3").as("l3"))))
        .as("c"))
      .select(col("c.id").as("id"), col("c.l0").as("l0"),
        col("c.l1").as("l1"), col("c.l2").as("l2"), col("c.l3").as("l3"))
    val dh = WidePhash.distinctHashes(im)
    val rp = WidePhash.repPairs(dh)
    // total verified-pair volume from group sizes (no expansion)
    val grpSum = dh.agg(coalesce(sum(expr("grp_n * (grp_n - 1) div 2")),
      lit(0L)).as("clique_pairs"))
    val crossSum = rp
      .join(dh.select(col("rep").as("rep_a"), col("grp_n").as("na")), "rep_a")
      .join(dh.select(col("rep").as("rep_b"), col("grp_n").as("nb")), "rep_b")
      .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("cross_pairs"))
    // per-planted-pair verdicts: hds direct, rep pair via two lookups
    val whd = (0 until 4)
      .map(l => bit_count(col(s"lo$l").bitwiseXOR(col(s"ld$l"))))
      .reduce(_ + _)
    val dhO = dh.select(col("rep").as("rep_o"), col("l0").as("lo0"),
      col("l1").as("lo1"), col("l2").as("lo2"), col("l3").as("lo3"))
    val dhD = dh.select(col("rep").as("rep_d"), col("l0").as("ld0"),
      col("l1").as("ld1"), col("l2").as("ld2"), col("l3").as("ld3"))
    val flagged = pd
      .withColumn("nhd", bit_count(col("h_o").bitwiseXOR(col("h_d"))))
      .withColumn("whd", whd)
      .join(dhO, Seq("lo0", "lo1", "lo2", "lo3"))
      .join(dhD, Seq("ld0", "ld1", "ld2", "ld3"))
      .select(col("nhd"), col("whd"),
        least(col("rep_o"), col("rep_d")).as("rep_a"),
        greatest(col("rep_o"), col("rep_d")).as("rep_b"))
      .join(rp.select(col("rep_a"), col("rep_b"), lit(true).as("in_rp")),
        Seq("rep_a", "rep_b"), "left")
      .withColumn("rec",
        col("whd") === 0 || coalesce(col("in_rp"), lit(false)))
    val agg = flagged.agg(
      count(lit(1)).as("n_planted"),
      cnt(col("nhd") <= 3).as("narrow_recovered"),
      cnt(col("rec")).as("wide_recovered"),
      cnt(col("rec") && col("whd") <= 3).as("wide_hd0_3"),
      cnt(col("rec") && col("whd") >= 4 && col("whd") <= 7)
        .as("wide_hd4_7"),
      cnt(col("rec") && col("whd") >= 8).as("wide_hd8_11"))
    agg.crossJoin(broadcast(grpSum)).crossJoin(broadcast(crossSum))
      .select(col("n_planted"),
        col("narrow_recovered"),
        expr("(10000 * narrow_recovered) div n_planted")
          .as("narrow_recall_bp"),
        col("wide_recovered"),
        (col("clique_pairs") + col("cross_pairs")).as("wide_pairs"),
        (col("clique_pairs") + col("cross_pairs") - col("wide_recovered"))
          .as("wide_collisions"),
        col("wide_hd0_3"), col("wide_hd4_7"), col("wide_hd8_11"),
        expr("(10000 * wide_recovered) div n_planted").as("wide_recall_bp"))
  }

  /** Degraded plane as SQL (flip rule + clamped brightness). */
  private val degPlaneSql =
    s"""[ least(255,
       |    (CASE WHEN (ascii(substr(text, ((i * 13) % nch) + 1, 1))
       |                 * (i + 3)) % 53 = 0
       |      THEN (CASE WHEN (ascii(substr(text, ((i * 7) % nch) + 1, 1))
       |                        * (i + 1)) % 17 = 0 THEN 255 ELSE 40 END)
       |      ELSE (CASE WHEN (ascii(substr(text, ((i * 7) % nch) + 1, 1))
       |                        * (i + 1)) % 17 = 0 THEN 40 ELSE 255 END)
       |      END) + 12)
       |  for i in range(0, ${W * H}) ]""".stripMargin

  /** Narrow + wide fingerprints of one plane expression. */
  private def widthFpSql(planeExpr: String, idExpr: String): String =
    s"""SELECT $idExpr AS id,
       |  CAST(list_reduce(list_transform(range(0, 63), i ->
       |    CASE WHEN cs[i + 1] > cs[i + 2]
       |      THEN (2**i)::BIGINT ELSE 0::BIGINT END),
       |    (a, b) -> a + b) AS BIGINT) AS h,
       |  ${laneSql("cw", 0)} AS l0, ${laneSql("cw", 1)} AS l1,
       |  ${laneSql("cw", 2)} AS l2, ${laneSql("cw", 3)} AS l3
       |FROM (
       |  SELECT doc_id, $cellsSql AS cs, $cells16Sql AS cw
       |  FROM (
       |    SELECT doc_id, $planeExpr AS p
       |    FROM (SELECT doc_id, text, length(text) AS nch
       |          FROM documents WHERE length(text) >= 1)))""".stripMargin

  private val q216Sql =
    s"""WITH im AS (
       |  ${widthFpSql(planeSql, "doc_id * 2")}
       |  UNION ALL
       |  ${widthFpSql(degPlaneSql, "doc_id * 2 + 1")}),
       |${widePairCtesSql("im")},
       |pd AS (
       |  SELECT o.id // 2 AS doc_id,
       |    bit_count(xor(o.h, d.h)) AS nhd,
       |    bit_count(xor(o.l0, d.l0)) + bit_count(xor(o.l1, d.l1))
       |      + bit_count(xor(o.l2, d.l2)) + bit_count(xor(o.l3, d.l3))
       |      AS whd,
       |    least(ro.rep, rd.rep) AS rep_a, greatest(ro.rep, rd.rep) AS rep_b
       |  FROM im o JOIN im d ON d.id = o.id + 1 AND o.id % 2 = 0
       |  JOIN dh ro ON ro.l0 = o.l0 AND ro.l1 = o.l1
       |    AND ro.l2 = o.l2 AND ro.l3 = o.l3
       |  JOIN dh rd ON rd.l0 = d.l0 AND rd.l1 = d.l1
       |    AND rd.l2 = d.l2 AND rd.l3 = d.l3),
       |fl AS (
       |  SELECT pd.*, (pd.whd = 0 OR rp.rep_a IS NOT NULL) AS rec
       |  FROM pd LEFT JOIN rp
       |    ON rp.rep_a = pd.rep_a AND rp.rep_b = pd.rep_b),
       |tot AS (
       |  SELECT
       |    (SELECT CAST(coalesce(sum(grp_n * (grp_n - 1) // 2), 0) AS BIGINT)
       |     FROM dh)
       |    + (SELECT CAST(coalesce(sum(a.grp_n * b.grp_n), 0) AS BIGINT)
       |       FROM rp JOIN dh a ON a.rep = rp.rep_a
       |       JOIN dh b ON b.rep = rp.rep_b) AS wide_pairs),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_planted,
       |    CAST(coalesce(sum(CASE WHEN nhd <= 3 THEN 1 END), 0) AS BIGINT)
       |      AS narrow_recovered,
       |    CAST(coalesce(sum(CASE WHEN rec THEN 1 END), 0) AS BIGINT)
       |      AS wide_recovered,
       |    CAST(coalesce(sum(CASE WHEN rec AND whd <= 3 THEN 1 END), 0)
       |      AS BIGINT) AS wide_hd0_3,
       |    CAST(coalesce(sum(CASE WHEN rec AND whd BETWEEN 4 AND 7
       |      THEN 1 END), 0) AS BIGINT) AS wide_hd4_7,
       |    CAST(coalesce(sum(CASE WHEN rec AND whd >= 8 THEN 1 END), 0)
       |      AS BIGINT) AS wide_hd8_11
       |  FROM fl)
       |SELECT agg.n_planted, agg.narrow_recovered,
       |  (10000 * agg.narrow_recovered) // agg.n_planted AS narrow_recall_bp,
       |  agg.wide_recovered, tot.wide_pairs,
       |  tot.wide_pairs - agg.wide_recovered AS wide_collisions,
       |  agg.wide_hd0_3, agg.wide_hd4_7, agg.wide_hd8_11,
       |  (10000 * agg.wide_recovered) // agg.n_planted AS wide_recall_bp
       |FROM agg CROSS JOIN tot""".stripMargin

  /** q218: q213's frame fingerprints through a REAL VIDEO CONTAINER —
    * each doc's 8 synthesized frames are encoded into one animated GIF
    * ([[graft.functions.ImageCodec.encodeGifFrames]]), decoded back
    * frame-by-frame through the JDK's multi-frame reader
    * ([[graft.functions.ImageCodec.decodeFrames]]), and dHashed. The
    * measured path is bytes → frames → fingerprint — what a binary
    * video column runs — and because the gray-palette GIF round trip
    * is the identity per frame (the q145 discipline, extended to the
    * sequence container), the oracle is EXACTLY q213's: any decoder or
    * container deviation breaks the hash. Scan → UDF (encode + decode
    * + 8 hashes per doc) → bounded explode; no shuffle. */
  private def q218(s: SparkSession, d: String): DataFrame = {
    val probe = udf((text: String) => {
      val io = graft.functions.ImageOps
      val frames = (0 until VFrames)
        .map(j => io.Gray(W, H, framePlane(text, j)))
      val bytes = graft.functions.ImageCodec.encodeGifFrames(frames)
      graft.functions.ImageCodec.decodeFrames(bytes)
        .zipWithIndex
        .map { case (g, j) =>
          (j.toLong, io.dHash63(io.cellSums(g, 8, 8)))
        }
    })
    Tables.spreadKernel(textDocs(s, d))
      .select(col("doc_id"), explode(probe(col("text"))).as("f"))
      .select(col("doc_id"), col("f._1").as("frame_id"),
        col("f._2").as("fhash"))
  }

  // identity oracle: the decoded container must reproduce the plane
  // math bit-for-bit, so q218's oracle IS q213's SQL
  private val q218Sql = frameHashCoreSql

  // ---- q217: the MULTIMODAL shipping manifest --------------------

  /** q217: q171's writer work-order extended to the full multimodal
    * funnel (VERDICT r15 #3: a multimodal corpus release previously
    * needed two uncomposed queries — q171's text gates and q212's
    * funnel). ONE plan composes every gate family the engine ships:
    * quality rules (q149) → near-dup drop set (q150's CC) →
    * decontamination (q166's 13-gram gate vs the held-out src0 slice)
    * → perceptual IMAGE dedup (min surviving member per
    * [[WidePhash.clusterLabels]] cluster, the q212 rule) → AUDIO
    * fingerprint dedup (min surviving doc per 63-bit fp) → split
    * (q74's md5-byte rule) and shard (q169's md5-slice mod 32)
    * assignment. Output: per (split, shard, source), the funnel in
    * integers — raw → after-text → after-image → shipped — plus
    * shipped token/byte loads and each row's token share of its
    * split: the auditable work order for a MULTIMODAL release.
    *
    * Scope: docs with non-empty text (the fingerprint gates' domain —
    * an unfingerprintable doc routes to the validation path P5, not
    * the build). Scale shape: `documents` scans once into the flag
    * frame; each gate joins by doc_id (drop set by left join, never
    * broadcast-forced; contam set is small and AQE-broadcast); the
    * image stage is the clique-free df-capped cluster build; every
    * window is PARTITIONED by its dedup key; the group-by is
    * ≤ 2·32·sources rows and split totals ride back as a 2-row
    * broadcast. */
  /** The per-doc gate-flag frame both manifest queries roll up
    * (factored for VERDICT r16 #6): every gate family's verdict as its
    * OWN column — `keep` (quality rules), `dup` (LSH-CC near-dup),
    * `contam` (13-gram decontam), `text_pass` (their conjunction),
    * `img` (survives perceptual image clustering), `ship` (survives
    * audio-fingerprint dedup) — plus split/shard/token assignment, so a
    * rollup can attribute each dropped doc to the FIRST gate that
    * dropped it. */
  private def manifestFlags(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nShards = 32
    val docs = Tables.documents(s, d)
      .filter(col("source") =!= "src0" && length(col("text")) >= 1)
    val keepFlags = TextQueries.q149(s, d).select(col("doc_id"), col("keep"))
    val (labels, _) = graft.operators.ConnectedComponents
      .minLabel(TextQueries.lshStarEdges(s, d))
    val dropped = labels.filter(col("node") =!= col("label"))
      .select(col("node").as("doc_id"), lit(true).as("is_dup"))
    val docsG = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        expr("token_window_hashes(" + TextQueries.wordsExpr + ", 13)")
          .as("grams"))
    val evalGrams = docsG.filter(col("source") === "src0")
      .select(explode(col("grams")).as("h")).distinct()
    val contam = docsG.filter(col("source") =!= "src0")
      .select(col("doc_id"), explode(col("grams")).as("h"))
      .join(broadcast(evalGrams), Seq("h"))
      .select(col("doc_id")).distinct()
      .withColumn("is_contam", lit(true))
    val base = docs
      .join(keepFlags, "doc_id")
      .join(dropped, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .withColumn("dup", coalesce(col("is_dup"), lit(false)))
      .withColumn("contam_hit", coalesce(col("is_contam"), lit(false)))
      .withColumn("text_pass",
        col("keep") && !col("dup") && !col("contam_hit"))
    val clus = WidePhash.clusterLabels(sig(s, d)
      .select(col("doc_id").as("id"),
        col("l0"), col("l1"), col("l2"), col("l3")))
    val tSurv = base.filter(col("text_pass")).select(col("doc_id"))
    val s2 = tSurv.join(clus, tSurv("doc_id") === clus("node"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("grp"))
      .withColumn("kmin",
        min(col("doc_id")).over(Window.partitionBy(col("grp"))))
      .filter(col("doc_id") === col("kmin"))
      .select(col("doc_id"), lit(true).as("img_pass"))
    val s3 = s2.select(col("doc_id")).join(q209(s, d), "doc_id")
      .withColumn("kmin",
        min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .filter(col("doc_id") === col("kmin"))
      .select(col("doc_id"), lit(true).as("shipped"))
    base
      .join(s2, Seq("doc_id"), "left")
      .join(s3, Seq("doc_id"), "left")
      .withColumn("img", coalesce(col("img_pass"), lit(false)))
      .withColumn("ship", coalesce(col("shipped"), lit(false)))
      .withColumn("split",
        when(substring(md5(col("doc_id").cast("string").cast("binary")),
          1, 2) <= "e5", "train").otherwise("holdout"))
      .withColumn("shard",
        expr("cast(conv(substring(md5(cast(cast(doc_id as string) as " +
          "binary)), 1, 8), 16, 10) as bigint)") % nShards)
      .withColumn("toks",
        size(expr(TextQueries.wordsExpr)).cast("long"))
  }

  private def q217(s: SparkSession, d: String): DataFrame = {
    val flags = manifestFlags(s, d)
    val per = flags.groupBy(col("split"), col("shard"), col("source"))
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("text_pass"), 1L).otherwise(0L)).as("n_after_text"),
        sum(when(col("img"), 1L).otherwise(0L)).as("n_after_image"),
        sum(when(col("ship"), 1L).otherwise(0L)).as("n_shipped"),
        sum(when(col("ship"), col("toks")).otherwise(0L)).as("n_tokens"),
        sum(when(col("ship"), col("n_chars")).otherwise(0L)).as("n_bytes"))
    val splitTot = per.groupBy(col("split"))
      .agg(sum(col("n_tokens")).as("split_tokens"))
    per.join(broadcast(splitTot), "split")
      .select(col("split"), col("shard"), col("source"), col("n_raw"),
        col("n_after_text"), col("n_after_image"), col("n_shipped"),
        col("n_tokens"), col("n_bytes"),
        // integer basis points (the QueryDef measured-ratio rule),
        // guarded: a split can ship ZERO tokens (the holdout slice at
        // tiny SF after the quality gate) and a raw division would be
        // an ANSI divide-by-zero
        when(col("split_tokens") > 0,
          expr("(10000 * n_tokens) div split_tokens")).otherwise(lit(0L))
          .as("token_share_bp"))
  }

  /** The shared manifest CTE chain (everything through `flags`) — one
    * source of truth for q217's funnel rollup and q219's per-stage
    * drop attribution. */
  private val manifestCtesSql =
    s"""WITH RECURSIVE sig AS (${TextQueries.q28Sql}),
       |bandt AS (
       |  SELECT doc_id, 1 AS bidx,
       |    (((((1 * 127 + m0) % ${TextQueries.P}) * 127 + m1) % ${TextQueries.P} * 127 + m2) % ${TextQueries.P} * 127 + m3) % ${TextQueries.P} AS band
       |  FROM sig
       |  UNION ALL
       |  SELECT doc_id, 2 AS bidx,
       |    (((((2 * 127 + m4) % ${TextQueries.P}) * 127 + m5) % ${TextQueries.P} * 127 + m6) % ${TextQueries.P} * 127 + m7) % ${TextQueries.P} AS band
       |  FROM sig),
       |tstars AS (
       |  SELECT DISTINCT doc_id,
       |    min(doc_id) OVER (PARTITION BY bidx, band) AS root
       |  FROM bandt),
       |tedges AS (
       |  SELECT doc_id AS src, root AS dst FROM tstars WHERE doc_id <> root
       |  UNION ALL
       |  SELECT root AS src, doc_id AS dst FROM tstars WHERE doc_id <> root),
       |tlab AS (
       |  SELECT doc_id AS node, doc_id AS label FROM documents
       |  UNION
       |  SELECT e.dst AS node, tlab.label AS label
       |  FROM tlab JOIN tedges e ON tlab.node = e.src),
       |tcc AS (SELECT node, min(label) AS label FROM tlab GROUP BY node),
       |dropped AS (SELECT node AS doc_id FROM tcc WHERE label <> node),
       |qual AS (${TextQueries.q149Sql}),
       |cdocs AS (
       |  SELECT doc_id, source, ${TextQueries.wordsSqlExpr} AS w,
       |    CAST(len(${TextQueries.wordsSqlExpr}) AS INT) AS n
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
       |$clusterCteSql,
       |afp AS ($q209Sql),
       |base AS (
       |  SELECT d.doc_id, d.source, d.n_chars,
       |    CAST(len(${TextQueries.wordsSqlExpr}) AS BIGINT) AS toks,
       |    q.keep AS keep,
       |    dr.doc_id IS NOT NULL AS dup,
       |    ct.doc_id IS NOT NULL AS contam_hit,
       |    (q.keep AND dr.doc_id IS NULL AND ct.doc_id IS NULL) AS text_pass,
       |    CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) <= 'e5'
       |      THEN 'train' ELSE 'holdout' END AS split,
       |    CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
       |      AS BIGINT) % 32 AS shard
       |  FROM documents d
       |  JOIN qual q ON q.doc_id = d.doc_id
       |  LEFT JOIN dropped dr ON dr.doc_id = d.doc_id
       |  LEFT JOIN contam ct ON ct.doc_id = d.doc_id
       |  WHERE d.source <> 'src0' AND length(d.text) >= 1),
       |s2 AS (SELECT doc_id FROM (
       |  SELECT b.doc_id,
       |    min(b.doc_id) OVER (
       |      PARTITION BY coalesce(final.label, b.doc_id)) AS kmin
       |  FROM base b LEFT JOIN final ON b.doc_id = final.node
       |  WHERE b.text_pass)
       |  WHERE doc_id = kmin),
       |s3 AS (SELECT doc_id FROM (
       |  SELECT a.doc_id, min(a.doc_id) OVER (PARTITION BY a.fp) AS kmin
       |  FROM afp a JOIN s2 USING (doc_id))
       |  WHERE doc_id = kmin),
       |flags AS (
       |  SELECT b.*, s2.doc_id IS NOT NULL AS img,
       |    s3.doc_id IS NOT NULL AS ship
       |  FROM base b
       |  LEFT JOIN s2 ON s2.doc_id = b.doc_id
       |  LEFT JOIN s3 ON s3.doc_id = b.doc_id)""".stripMargin

  private val q217Sql =
    s"""$manifestCtesSql,
       |per AS (
       |  SELECT split, shard, source,
       |    CAST(count(*) AS BIGINT) AS n_raw,
       |    CAST(coalesce(sum(CASE WHEN text_pass THEN 1 END), 0) AS BIGINT)
       |      AS n_after_text,
       |    CAST(coalesce(sum(CASE WHEN img THEN 1 END), 0) AS BIGINT)
       |      AS n_after_image,
       |    CAST(coalesce(sum(CASE WHEN ship THEN 1 END), 0) AS BIGINT)
       |      AS n_shipped,
       |    CAST(coalesce(sum(CASE WHEN ship THEN toks END), 0) AS BIGINT)
       |      AS n_tokens,
       |    CAST(coalesce(sum(CASE WHEN ship THEN n_chars END), 0) AS BIGINT)
       |      AS n_bytes
       |  FROM flags GROUP BY 1, 2, 3),
       |stot AS (
       |  SELECT split, CAST(sum(n_tokens) AS BIGINT) AS split_tokens
       |  FROM per GROUP BY 1)
       |SELECT p.split, p.shard, p.source, p.n_raw, p.n_after_text,
       |  p.n_after_image, p.n_shipped, p.n_tokens, p.n_bytes,
       |  CAST(CASE WHEN s.split_tokens > 0
       |    THEN (10000 * p.n_tokens) // s.split_tokens
       |    ELSE 0 END AS BIGINT) AS token_share_bp
       |FROM per p JOIN stot s ON s.split = p.split""".stripMargin

  /** q219: per-stage gate ATTRIBUTION for the multimodal release
    * (VERDICT r16 #6 closing r15 #3): q217's funnel shows survivors
    * per stage, but a release auditor asking "WHERE did shard 7's
    * docs go?" needs each dropped doc charged to the FIRST gate that
    * dropped it — including the audio stage q217's consecutive
    * columns collapse. One row per (split, shard, source):
    * n_raw = drop_quality + drop_neardup + drop_contam + drop_image
    * + drop_audio + n_shipped, an integer identity a reconciliation
    * job can assert. Same shared flag frame as q217 (one `documents`
    * scan lineage; the rollup is ≤ 2·32·sources rows). */
  private def q219(s: SparkSession, d: String): DataFrame = {
    val flags = manifestFlags(s, d)
    flags.groupBy(col("split"), col("shard"), col("source"))
      .agg(count(lit(1)).as("n_raw"),
        cnt(!col("keep")).as("drop_quality"),
        cnt(col("keep") && col("dup")).as("drop_neardup"),
        cnt(col("keep") && !col("dup") && col("contam_hit"))
          .as("drop_contam"),
        cnt(col("text_pass") && !col("img")).as("drop_image"),
        cnt(col("img") && !col("ship")).as("drop_audio"),
        cnt(col("ship")).as("n_shipped"))
  }

  private val q219Sql =
    s"""$manifestCtesSql
       |SELECT split, shard, source,
       |  CAST(count(*) AS BIGINT) AS n_raw,
       |  CAST(coalesce(sum(CASE WHEN NOT keep THEN 1 END), 0)
       |    AS BIGINT) AS drop_quality,
       |  CAST(coalesce(sum(CASE WHEN keep AND dup THEN 1 END), 0)
       |    AS BIGINT) AS drop_neardup,
       |  CAST(coalesce(sum(CASE WHEN keep AND NOT dup AND contam_hit
       |    THEN 1 END), 0) AS BIGINT) AS drop_contam,
       |  CAST(coalesce(sum(CASE WHEN text_pass AND NOT img THEN 1 END), 0)
       |    AS BIGINT) AS drop_image,
       |  CAST(coalesce(sum(CASE WHEN img AND NOT ship THEN 1 END), 0)
       |    AS BIGINT) AS drop_audio,
       |  CAST(coalesce(sum(CASE WHEN ship THEN 1 END), 0)
       |    AS BIGINT) AS n_shipped
       |FROM flags GROUP BY 1, 2, 3""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q206_image_phash", q206, Some(q206Sql)),
    QueryDef("q207_image_near_dup", q207, Some(q207Sql)),
    QueryDef("q208_image_dup_clusters", q208, Some(q208Sql)),
    QueryDef("q209_audio_fingerprint", q209, Some(q209Sql)),
    QueryDef("q210_audio_near_dup", q210, Some(q210Sql)),
    QueryDef("q211_audio_fp_recall", q211, Some(q211Sql)),
    QueryDef("q212_multimodal_dedup_funnel", q212, Some(q212Sql)),
    QueryDef("q213_video_fingerprint", q213, Some(q213Sql)),
    QueryDef("q214_video_clip_match", q214, Some(q214Sql)),
    QueryDef("q215_clip_match_recall", q215, Some(q215Sql)),
    QueryDef("q216_phash_width_recall", q216, Some(q216Sql)),
    QueryDef("q217_multimodal_manifest", q217, Some(q217Sql)),
    QueryDef("q218_video_decode_fingerprint", q218, Some(q218Sql)),
    QueryDef("q219_manifest_gate_drops", q219, Some(q219Sql)))
}
