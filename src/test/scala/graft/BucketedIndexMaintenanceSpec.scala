package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

import graft.operators.{BucketedSnapshot, DeltaDedupIndex}

/** Compaction must be a pure FILE-LAYOUT change: after several appends
  * a bucket holds one file per append; compact collapses the table to
  * one file per bucket while preserving the bucket spec and every
  * admit verdict. */
class BucketedIndexMaintenanceSpec extends SparkSpec {

  private def cleanup(tables: String*): Unit =
    GraftSession.dropTables(spark, tables: _*)

  private def parquetFiles(table: String): Long = {
    import scala.jdk.CollectionConverters._
    val dir = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(table)).location
    Files.walk(Paths.get(dir)).iterator().asScala
      .count(p => p.toString.endsWith(".parquet"))
  }

  test("compact collapses appended files to one per bucket and changes no verdict") {
    cleanup("cmp_idx", "cmp_idx_compact_tmp")
    try {
      val docs = Tables.documents(spark, sf0001)
      val snap = docs.filter(col("doc_id") % 10 > 3)
      DeltaDedupIndex.build(snap, "cmp_idx")
      val filesAfterBuild = parquetFiles("cmp_idx")
      // three refresh cycles append three file generations
      (1 to 3).foreach { k =>
        DeltaDedupIndex.append(
          docs.filter(col("doc_id") % 10 === k)
            .select(col("doc_id"), col("text")),
          "cmp_idx")
      }
      val filesAfterAppends = parquetFiles("cmp_idx")
      assert(filesAfterAppends > filesAfterBuild,
        s"appends should add files: $filesAfterBuild -> $filesAfterAppends")

      val batch = docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("source"), col("text"))
      val before = DeltaDedupIndex.admit(batch, "cmp_idx").collect().toSet
      val specBefore = spark.sessionState.catalog
        .getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier("cmp_idx"))
        .bucketSpec.get

      BucketedSnapshot.compact(spark, "cmp_idx")

      val specAfter = spark.sessionState.catalog
        .getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier("cmp_idx"))
        .bucketSpec.get
      assert(specAfter == specBefore,
        s"compact changed the bucket spec: $specBefore -> $specAfter")
      val filesAfterCompact = parquetFiles("cmp_idx")
      assert(filesAfterCompact == specAfter.numBuckets,
        s"expected one file per bucket (${specAfter.numBuckets}), " +
          s"got $filesAfterCompact")
      assert(filesAfterCompact < filesAfterAppends)
      val after = DeltaDedupIndex.admit(batch, "cmp_idx").collect().toSet
      assert(after == before,
        s"compaction changed verdicts: ${before.size} vs ${after.size}")
    } finally cleanup("cmp_idx", "cmp_idx_compact_tmp")
  }
}
