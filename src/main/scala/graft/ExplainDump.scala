package graft

import org.apache.spark.sql.execution.ExplainMode

/** Reproducible plan evidence: dumps `.explain("formatted")` for every
  * declared query (or a comma-separated subset) to
  * `target/plans/<name>.txt` — the source of PLANS.md's excerpts, so
  * plan claims can be re-derived instead of trusted.
  *
  * Usage: runMain graft.ExplainDump [sfDir] [name,name,...]
  * CC-fixpoint queries (q78/q150/q151/q157) run their iterative build
  * during construction; they are included but cost a few seconds each.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val selected = SparkEntry.select(args.lift(1))
    val spark = GraftSession.local().getOrCreate()
    val outDir = java.nio.file.Path.of("target/plans")
    java.nio.file.Files.createDirectories(outDir)
    var n = 0
    for ((name, fn) <- selected) {
      try {
        val plan = fn(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(outDir.resolve(s"$name.txt"), plan)
        n += 1
      } catch {
        case e: Exception =>
          System.err.println(s"[explain] $name failed: ${e.getMessage}")
      }
    }
    println(s"EXPLAINDUMP wrote $n plans to $outDir")
    spark.stop()
  }
}
