package graft

import org.apache.spark.sql.execution.window.WindowExec

/** Global-window gate: an unpartitioned Window (WindowExec with an empty
  * partition spec) serializes the whole input onto one partition — the
  * round-4 failure class. The only allowed instance is q11's dequeue
  * rank, which runs over the ≤100 survivors of a TakeOrderedAndProject
  * (per-partition heaps), never the raw stream — documented at
  * QueueQueries.scala. Anything new that plans a global window must
  * either partition it or justify itself here. */
class WinScanSpec extends SparkSpec {
  test("no query plans an unpartitioned window (q11's bounded rank excepted)") {
    val allowed = Set("q11_priority_dequeue")
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val globals = PlanGuards.flatten(
        fn(spark, sf0001).queryExecution.executedPlan).collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      if (!allowed(name))
        assert(globals.isEmpty,
          s"$name plans ${globals.size} unpartitioned window(s) — " +
            "single-partition sort of the whole input at scale")
    }
  }
}
