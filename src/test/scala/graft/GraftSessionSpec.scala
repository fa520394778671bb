package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.TableIdentifier

/** The one session builder, the one table reset and the one query
  * filter: the settings every session starts from, a reset that clears
  * what an in-memory catalog leaves behind, a filter that fails on a
  * typo, and a source scan that keeps session construction in one
  * place. */
class GraftSessionSpec extends SparkSpec {

  test("a GraftSession.local session carries the shared settings") {
    // the context's startup conf: what the builder set, whatever a spec
    // changed at run time since
    val conf = spark.sparkContext.getConf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(conf.get("spark.log.level") == "WARN")
  }

  test("dropTables clears a leftover directory so saveAsTable can write there") {
    val t = "graft_session_leftover"
    val dir = Paths.get(spark.sessionState.catalog
      .defaultTablePath(TableIdentifier(t)))
    GraftSession.dropTables(spark, t)
    // a directory from an earlier JVM: the catalog has no such table
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("part-00000.parquet"), "stale")
    assert(!spark.catalog.tableExists(t))
    val rows = spark.range(5).toDF("id")
    intercept[Exception](rows.write.saveAsTable(t))
    GraftSession.dropTables(spark, t)
    assert(!Files.exists(dir))
    try {
      rows.write.saveAsTable(t)
      assert(spark.table(t).count() == 5)
    } finally GraftSession.dropTables(spark, t)
    assert(!spark.catalog.tableExists(t) && !Files.exists(dir))
  }

  test("select returns sorted matches and fails on an unknown name, naming it") {
    val all = SparkEntry.select(None).map(_._1)
    assert(all == SparkEntry.queries.keys.toSeq.sorted)
    assert(SparkEntry.select(Some("")).map(_._1) == all)
    assert(SparkEntry.select(Some("q15_transcript_assembly,q01_pricing_summary"))
      .map(_._1) == Seq("q01_pricing_summary", "q15_transcript_assembly"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some("q01_pricing_summary,q01_pricing_sumary")))
    assert(e.getMessage.contains("q01_pricing_sumary"), e.getMessage)
    assert(!e.getMessage.contains("q01_pricing_summary"), e.getMessage)
  }

  test("sessions are built only by GraftSession and the extensions helper") {
    val builder = """SparkSession\s*\.\s*builder\b""".r
    def offenders(dir: String, allowed: String): Seq[String] = {
      val root = Paths.get(dir)
      assert(Files.isDirectory(root), s"sources not found under $root")
      for {
        file <- Files.walk(root).iterator().asScala.toSeq
        if file.toString.endsWith(".scala")
        if file.getFileName.toString != allowed
        (line, i) <- Files.readAllLines(file).asScala.zipWithIndex
        if builder.findFirstIn(line).isDefined
      } yield s"$file:${i + 1}: ${line.trim}"
    }
    val found = offenders("src/main/scala", "GraftSession.scala") ++
      offenders("src/test/scala", "SparkSpec.scala")
    assert(found.isEmpty,
      "start a session from GraftSession.local (tests: TestSpark or " +
        "withExtensionsSession):\n" + found.mkString("\n"))
  }
}
