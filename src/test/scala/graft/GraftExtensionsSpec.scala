package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.expressions.Registration

class GraftExtensionsSpec extends SparkSpec {

  test("extensions register the native function for new sessions") {
    withExtensionsSession { s2 =>
      val v = s2.sql(
        "SELECT sorted_long_intersect_count(array(1L,2L,3L), array(2L,3L,9L)) v")
        .head().getLong(0)
      assert(v == 2L)
      val d = s2.sql(
        "SELECT float_vector_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
          "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) d")
        .head().getDouble(0)
      assert(d == 11.0)
    }
  }

  test("every native function on the one list resolves in an extensions-only session") {
    val names = Registration.natives.map(_.name)
    assert(names.toSet == Set("sorted_long_intersect_count",
      "float_vector_dot", "rolling_fingerprint", "token_window_hashes",
      "opt_barrier", "sign_lsh_sig", "md5_prefix_long", "md5_prefix_longs",
      "ngram_md5_longs", "minhash_sig", "nearest_centroid", "mmr_select"))
    assert(names.distinct.size == names.size)
    withExtensionsSession { s2 =>
      val missing = names.filterNot(n =>
        s2.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))
      assert(missing.isEmpty, s"not injected: $missing")
      val r = s2.sql("SELECT opt_barrier(md5_prefix_long('abc', 8)) h, " +
          "size(minhash_sig(array('a', 'b'))) m, " +
          "ngram_md5_longs(array('a', 'b', 'c'), 2, 15) g, " +
          "md5_prefix_longs(array('abc'), 8) p")
        .head()
      assert(r.getLong(0) == java.lang.Long.parseLong("90015098", 16))
      assert(r.getInt(1) == 8)
      assert(r.getSeq[Long](2).size == 2)
      assert(r.getSeq[Long](3) == Seq(r.getLong(0)))
    }
  }
}
