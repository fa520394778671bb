package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.observability.JobWatch

/** Pins [[Materialize]]: a bounded collect returns every row in one
  * labelled job, a frame above its bound fails with the label and the
  * bound in the message (or reads `None` through `upTo`), the label
  * property is restored afterwards, and no query or operator source
  * pins or collects a frame outside it. */
class MaterializeSpec extends SparkSpec {

  /** The labels of the jobs `f` starts ("" for an unlabelled one). */
  private def labelsOf[T](f: => T): (T, Seq[String]) = {
    val (out, jobs) = JobWatch.during(spark)(f)
    (out, jobs.map(_.label))
  }

  /** `n` rows over 4 partitions. */
  private def frame(n: Int) = spark.range(0, n, 1, 4).toDF("id")

  test("a frame within its bound comes back whole, in one labelled job") {
    val (rows, rowJobs) = labelsOf(Materialize.rows(frame(10), "t.rows", 10))
    assert(rows.map(_.getLong(0)) == (0L until 10L))
    assert(rowJobs == Seq("t.rows"))

    val (some, upJobs) = labelsOf(Materialize.upTo(frame(7), "t.upto", 10))
    assert(some.map(_.map(_.getLong(0))) == Some(0L until 7L))
    assert(upJobs == Seq("t.upto"))

    val (local, localJobs) = labelsOf(Materialize.local(frame(10), "t.local", 10))
    assert(localJobs == Seq("t.local"))
    assert(local.rows.map(_.getLong(0)) == (0L until 10L))
    assert(local.df.schema == frame(1).schema)
    // the re-entered frame is a local relation: reading it starts no job
    val (back, backJobs) = labelsOf(local.df.collect().map(_.getLong(0)).toSeq)
    assert(back == (0L until 10L))
    assert(backJobs.isEmpty)
  }

  test("above its bound: upTo reads None, rows and local name the label and the bound") {
    val (none, jobs) = labelsOf(Materialize.upTo(frame(11), "t.over", 10))
    assert(none.isEmpty)
    assert(jobs == Seq("t.over"))
    for (call <- Seq[() => Any](
        () => Materialize.rows(frame(11), "t.over_rows", 10),
        () => Materialize.local(frame(11), "t.over_local", 10))) {
      val e = intercept[Materialize.BoundExceeded](call())
      assert(e.getMessage.contains(e.label) && e.getMessage.contains("10 rows"),
        e.getMessage)
      assert(e.maxRows == 10)
    }
    // over the bound only in total: every partition stays under it
    val spread = spark.range(0, 40, 1, 20).toDF("id")
    val (fallback, spreadJobs) = labelsOf(Materialize.upTo(spread, "t.spread", 10))
    assert(fallback.isEmpty)
    assert(spreadJobs == Seq("t.spread"))
    assert(Materialize.upTo(frame(1), "t.zero", 0).isEmpty)
    assert(Materialize.upTo(frame(0), "t.zero", 0).contains(Seq.empty))
  }

  test("once pins the frame under its label") {
    val (pinned, jobs) = labelsOf(Materialize.once(frame(10), "t.once"))
    assert(jobs.nonEmpty && jobs.forall(_ == "t.once"), jobs.toString)
    val (n, reread) = labelsOf(pinned.count())
    assert(n == 10)
    assert(!reread.contains("t.once"))
  }

  test("the previous label is restored, also after an error") {
    val sc = spark.sparkContext
    sc.setLocalProperty(Materialize.Property, "outer")
    try {
      val (_, jobs) = labelsOf(Materialize.rows(frame(3), "inner", 3))
      assert(jobs == Seq("inner"))
      assert(sc.getLocalProperty(Materialize.Property) == "outer")
      intercept[Materialize.BoundExceeded](
        Materialize.rows(frame(4), "inner", 3))
      assert(sc.getLocalProperty(Materialize.Property) == "outer")
    } finally sc.setLocalProperty(Materialize.Property, null)
    Materialize.rows(frame(3), "unset", 3)
    assert(sc.getLocalProperty(Materialize.Property) == null)
  }

  test("no query, operator or expression source pins or collects a frame itself") {
    val root = Paths.get("src/main/scala/graft")
    val dirs = Seq("queries", "operators", "expressions", "streaming").map(root.resolve)
    assert(dirs.forall(Files.isDirectory(_)), s"sources not found under $root")
    val offenders = for {
      dir <- dirs
      file <- Files.walk(dir).iterator().asScala.toSeq
      if file.toString.endsWith(".scala")
      (line, i) <- Files.readAllLines(file).asScala.zipWithIndex
      if line.contains("localCheckpoint(") || line.contains(".collect()")
    } yield s"${root.relativize(file)}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "use graft.Materialize (once / upTo / rows / local):\n" +
        offenders.mkString("\n"))
  }
}
