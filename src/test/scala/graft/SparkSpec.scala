package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session; sbt forks a
  * single test JVM). */
object TestSpark {
  lazy val spark: SparkSession =
    GraftSession.local(4).appName("graft-test").getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf0001 = "/root/testdata/sf0.001"

  /** Runs `f` on a sibling session of TestSpark's context configured
    * ONLY through the extensions (no `register` helper ever runs on
    * it), then makes TestSpark's session active and default again. */
  protected def withExtensionsSession(f: SparkSession => Unit): Unit = {
    val ctx = spark.sparkContext
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      f(SparkSession.builder()
        .master(ctx.master)
        .withExtensions(new GraftExtensions())
        .getOrCreate())
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }
}
