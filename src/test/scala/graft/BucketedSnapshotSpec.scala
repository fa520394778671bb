package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{BucketingUtils, FileScanRDD}
import org.apache.spark.sql.functions._

import graft.operators._

/** The physical layout of every table the nine index families write:
  * bucket count, bucket columns and sort columns, after one build per
  * family and one append per family that has one. The expected literal
  * was recorded before the families' writes moved onto one shared
  * core, so it pins that the move changed no table's layout. Also pins
  * [[BucketedSnapshot.prune]]'s file pruning under default settings,
  * and that no query or operator changes session conf to get it. */
class BucketedSnapshotSpec extends SparkSpec {

  private val prefix = "bsnap_"

  private def cleanup(): Unit =
    GraftSession.dropTables(spark, spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith(prefix)).toSeq: _*)

  /** (name suffix, numBuckets, bucket columns, sort columns) of every
    * `bsnap_` table; unbucketed tables read (0, Nil, Nil). */
  private def layouts(): Seq[(String, Int, Seq[String], Seq[String])] =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(prefix)).sorted.toSeq.map { t =>
        val spec = spark.sessionState.catalog
          .getTableMetadata(TableIdentifier(t)).bucketSpec
        (t.stripPrefix(prefix), spec.map(_.numBuckets).getOrElse(0),
          spec.map(_.bucketColumnNames).getOrElse(Nil),
          spec.map(_.sortColumnNames).getOrElse(Nil))
      }

  // recorded on the parent of the shared-core change; families built
  // with an explicit count pin its propagation to their companions,
  // the rest pin the default sizing rule's floor
  private val expected: Seq[(String, Int, Seq[String], Seq[String])] = Seq(
    ("ann", 16, Seq("cell"), Seq("cell")),
    ("ann_cent", 0, Nil, Nil),
    ("band", 8, Seq("bkey"), Seq("bkey")),
    ("cell", 4, Seq("cell"), Seq("cell")),
    ("fuzzy_keys", 8, Seq("k"), Seq("k")),
    ("fuzzy_vocab", 8, Seq("w"), Seq("w")),
    ("phash", 16, Seq("bkey"), Seq("bkey")),
    ("phash_df", 16, Seq("bkey"), Seq("bkey")),
    ("pq", 8, Seq("cell"), Seq("cell")),
    ("pq_cb", 0, Nil, Nil),
    ("sel", 16, Seq("h"), Seq("h")),
    ("sel_dsir", 8, Seq("b"), Seq("b")),
    ("sel_meta", 0, Nil, Nil),
    ("text", 4, Seq("wh"), Seq("wh")),
    ("text_fwd", 4, Seq("doc_id"), Seq("doc_id")),
    ("text_meta", 0, Nil, Nil),
    ("text_pos", 4, Seq("wh"), Seq("wh")),
    ("vclip", 4, Seq("fhash"), Seq("fhash")),
    ("vclip_df", 4, Seq("fhash"), Seq("fhash")))

  test("every index table keeps its bucket count, bucket and sort columns") {
    cleanup()
    try {
      val docs = Tables.documents(spark, sf0001)
        .filter(col("doc_id") < 60)
        .select(col("doc_id"), col("source"), col("text"))
      val docs0 = docs.filter(col("doc_id") % 3 =!= 0)
      val docs1 = docs.filter(col("doc_id") % 3 === 0)
      val emb = Tables.embeddings(spark, sf0001)
        .filter(col("vec_id") < 60)
        .select(col("vec_id"), col("label"), col("embedding"))
      val emb0 = emb.filter(col("vec_id") % 3 =!= 0)
      val emb1 = emb.filter(col("vec_id") % 3 === 0)
      import spark.implicits._
      val sig: DataFrame = (1L to 12L)
        .map(i => (i, i * 7919L, i * 104729L, i * 1299709L, i * 15485863L))
        .toDF("id", "l0", "l1", "l2", "l3")
      val frames: DataFrame = (for (v <- 1L to 6L; p <- 0L until 6L)
        yield (v, p, v * 1000L + p)).toDF("vid", "pos", "fhash")

      DeltaDedupIndex.build(docs0.select(col("doc_id"), col("text")),
        prefix + "band")
      DeltaSemDedupIndex.build(emb0, prefix + "cell", gridN = 60L,
        buckets = 4)
      PqSemDedupIndex.build(emb0, prefix + "pq", gridN = 60L)
      AnnIvfIndex.build(emb0.select(col("vec_id"),
        (col("vec_id") % 4).as("cell"), col("embedding")), prefix + "ann",
        buckets = 16)
      InvertedTextIndex.build(docs0, prefix + "text", buckets = 4,
        positional = true, forward = true)
      FuzzyVocabIndex.build(docs0, prefix + "fuzzy")
      PerceptualDedupIndex.build(PerceptualDedupIndex.ImageLayout,
        sig.filter(col("id") <= 8), prefix + "phash", buckets = 16)
      VideoClipIndex.build(frames.filter(col("vid") <= 4), prefix + "vclip",
        buckets = 4)
      SelectionModelIndex.build(docs.withColumn("label",
          col("doc_id") % 2 === 0)
        .withColumn("is_train", col("doc_id") % 5 =!= 0), prefix + "sel",
        buckets = 16)
      val built = layouts()

      DeltaDedupIndex.append(docs1.select(col("doc_id"), col("text")),
        prefix + "band")
      DeltaSemDedupIndex.append(emb1, prefix + "cell")
      PqSemDedupIndex.append(emb1, prefix + "pq")
      AnnIvfIndex.append(emb1.select(col("vec_id"), col("embedding")),
        prefix + "ann")
      InvertedTextIndex.append(docs1, prefix + "text")
      FuzzyVocabIndex.append(docs1, prefix + "fuzzy")
      PerceptualDedupIndex.append(PerceptualDedupIndex.ImageLayout,
        sig.filter(col("id") > 8), prefix + "phash")
      VideoClipIndex.append(frames.filter(col("vid") > 4), prefix + "vclip")
      val appended = layouts()

      assert(built == expected, s"layout after build: $built")
      assert(appended == expected, s"layout after append: $appended")
    } finally cleanup()
  }

  test("prune opens only the selected buckets' files, on either side of maxInList") {
    val table = prefix + "prune"
    val buckets = 16
    cleanup()
    try {
      // two writer tasks: every bucket lands as two files
      BucketedSnapshot.write(spark.range(0, 400).repartition(2)
        .select(col("id").as("k"), (col("id") * 7).as("v")), table,
        buckets, "k")
      import spark.implicits._
      val keys = Seq(3L, 77L, 250L)
      val keyFrame = keys.toDF("k")
      val selected = keyFrame
        .select(pmod(hash(col("k")), lit(buckets)).as("b")).as[Int]
        .collect().toSet
      def bucketOf(file: Path): Int = BucketingUtils.getBucketId(file.getName)
        .getOrElse(fail(s"not a bucket file: $file"))
      val all = spark.table(table).inputFiles.toSeq.map(f => bucketOf(new Path(f)))

      // a filter-only lookup under the session's own settings
      val viaIn = BucketedSnapshot.prune(spark.table(table), "k", keys,
        keyFrame, BucketedSnapshot.MaxInList)
      val rows = viaIn.collect().toSet
      val scan = PlanGuards.flatten(viaIn.queryExecution.executedPlan)
        .collectFirst { case f: FileSourceScanExec => f }
        .getOrElse(fail("no file scan in the lookup plan"))
      val opened = scan.inputRDD.asInstanceOf[FileScanRDD].filePartitions
        .flatMap(_.files.map(f => bucketOf(f.filePath.toPath)))
      assert(opened.sorted == all.filter(selected).sorted,
        s"opened buckets $opened, selected $selected")
      assert(opened.size < all.size, s"opened all ${all.size} files")
      assert(rows == keys.map(k => Row(k, k * 7)).toSet, s"rows $rows")

      // the broadcast semi-join side returns the same rows
      val viaSemi = BucketedSnapshot.prune(spark.table(table), "k", keys,
        keyFrame, maxInList = 0)
      assert(viaSemi.collect().toSet == rows)
    } finally cleanup()
  }

  test("no query or operator source changes session conf") {
    val root = Paths.get("src/main/scala/graft")
    val dirs = Seq("operators", "queries").map(root.resolve)
    assert(dirs.forall(Files.isDirectory(_)), s"sources not found under $root")
    val offenders = for {
      dir <- dirs
      file <- Files.walk(dir).iterator().asScala.toSeq
      if file.toString.endsWith(".scala")
      (line, i) <- Files.readAllLines(file).asScala.zipWithIndex
      if Seq("conf.set", "conf.unset", "autoBucketedScan").exists(line.contains)
    } yield s"${root.relativize(file)}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "a lookup must not change session state:\n" + offenders.mkString("\n"))
  }
}
