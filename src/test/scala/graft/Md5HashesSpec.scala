package graft

import org.apache.spark.sql.functions._
import graft.expressions.Registration

/** Pins the fused md5-prefix kernels (r18) against the composed
  * builtin forms they replaced — conv(substring(md5(x),1,N),16,10)
  * over transform/concat lambdas — on randomized input including
  * multi-byte UTF-8, empty strings, null elements, and short arrays.
  * Bit-identical values are what keep the Spark side in lockstep with
  * the DuckDB oracle's literal md5-substring SQL. */
class Md5HashesSpec extends SparkSpec {

  private def randWords(rnd: scala.util.Random, n: Int): Array[String] =
    Array.fill(n) {
      val len = rnd.nextInt(9)
      val sb = new StringBuilder
      (0 until len).foreach { _ =>
        rnd.nextInt(5) match {
          case 0 => sb += ('a' + rnd.nextInt(26)).toChar
          case 1 => sb += ('0' + rnd.nextInt(10)).toChar
          case 2 => sb += 'é' // 2-byte UTF-8
          case 3 => sb += '語' // 3-byte UTF-8
          case 4 => sb ++= new String(Character.toChars(0x1F600 + rnd.nextInt(16))) // 4-byte
        }
      }
      sb.toString
    }

  test("md5_prefix_long / md5_prefix_longs equal the conv-substring form") {
    Registration.install(spark)
    val rnd = new scala.util.Random(11)
    import spark.implicits._
    val rows = Seq.tabulate(400) { k =>
      val ws = randWords(rnd, rnd.nextInt(12))
      // null elements at k % 5 == 0 (md5(null) is null elementwise)
      if (k % 5 == 0 && ws.nonEmpty) ws(rnd.nextInt(ws.length)) = null
      (k.toLong, ws)
    }.toDF("id", "ws")
    for (n <- Seq(8, 15)) {
      val bad = rows.select(col("id"),
          expr(s"md5_prefix_longs(ws, $n)").as("a"),
          expr(s"transform(ws, t -> cast(conv(substring(md5(t), 1, $n), " +
            "16, 10) as bigint))").as("b"))
        .filter(not(col("a") <=> col("b"))).count()
      assert(bad == 0L, s"nHex=$n: $bad array rows diverge")
      val badScalar = rows.select(col("id"), explode(col("ws")).as("w"))
        .select(expr(s"md5_prefix_long(w, $n)").as("a"),
          expr(s"cast(conv(substring(md5(w), 1, $n), 16, 10) as bigint)")
            .as("b"))
        .filter(not(col("a") <=> col("b"))).count()
      assert(badScalar == 0L, s"nHex=$n: $badScalar scalar rows diverge")
    }
    // null / empty array totality
    val edge = spark.sql(
      "SELECT md5_prefix_longs(CAST(NULL AS ARRAY<STRING>), 8) AS a, " +
        "md5_prefix_longs(CAST(array() AS ARRAY<STRING>), 8) AS b, " +
        "md5_prefix_long(CAST(NULL AS STRING), 8) AS c, " +
        "md5_prefix_long('', 8) AS d").collect().head
    assert(edge.isNullAt(0) && edge.getSeq[Long](1).isEmpty &&
      edge.isNullAt(2) && !edge.isNullAt(3))
  }

  test("ngram_md5_longs equals the sequence/concat/md5 form (n=2,3; nHex=8,15)") {
    Registration.install(spark)
    val rnd = new scala.util.Random(13)
    import spark.implicits._
    for ((n, nHex) <- Seq((2, 15), (3, 8))) {
      val rows = Seq.tabulate(300) { k =>
        val ws = randWords(rnd, n + rnd.nextInt(10)) // always ≥ n words
        if (k % 5 == 0) ws(rnd.nextInt(ws.length)) = null
        (k.toLong, ws)
      }.toDF("id", "w")
      val joinExpr = (0 until n)
        .map(j => if (j == 0) "w[i]" else s"w[i+$j]")
        .mkString(", ' ', ")
      val bad = rows.select(col("id"),
          expr(s"ngram_md5_longs(w, $n, $nHex)").as("a"),
          expr(s"transform(sequence(0, size(w) - $n), i -> " +
            s"cast(conv(substring(md5(concat($joinExpr)), 1, $nHex), " +
            "16, 10) as bigint))").as("b"))
        .filter(not(col("a") <=> col("b"))).count()
      assert(bad == 0L, s"n=$n nHex=$nHex: $bad rows diverge")
    }
    // fewer than n words → empty (call sites guard ≥ n; this pins the
    // documented total behavior)
    val short = spark.sql(
      "SELECT ngram_md5_longs(array('a'), 3, 8) AS a").collect().head
    assert(short.getSeq[Long](0).isEmpty)
  }

  test("minhash_sig equals explode + hash32 + 8-permutation min groupBy") {
    Registration.install(spark)
    val rnd = new scala.util.Random(17)
    import spark.implicits._
    val rows = Seq.tabulate(300) { k =>
      (k.toLong, randWords(rnd, 1 + rnd.nextInt(14)))
    }.toDF("doc_id", "w")
    val P = graft.expressions.Md5Hashes.MinHashP
    val aggs = graft.expressions.Md5Hashes.MinHashPerms.zipWithIndex.map {
      case ((a, b), i) =>
        min((expr("cast(conv(substring(md5(tok), 1, 8), 16, 10) as bigint)")
          * a + b) % P).as(s"m$i")
    }
    val viaAgg = rows.select(col("doc_id"), explode(col("w")).as("tok"))
      .groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    val viaSig = rows.select(col("doc_id"),
        expr("minhash_sig(w)").as("sig"))
      .select(col("doc_id") +:
        (0 until 8).map(i => col("sig").getItem(i).as(s"m$i")): _*)
    assert(viaAgg.exceptAll(viaSig).count() == 0L &&
      viaSig.exceptAll(viaAgg).count() == 0L)
    // null array → null sig; all-null words → all-null mins
    val edge = spark.sql(
      "SELECT minhash_sig(CAST(NULL AS ARRAY<STRING>)) AS a, " +
        "minhash_sig(array(CAST(NULL AS STRING))) AS b").collect().head
    assert(edge.isNullAt(0))
    assert(edge.getSeq[Any](1).forall(_ == null))
  }
}
