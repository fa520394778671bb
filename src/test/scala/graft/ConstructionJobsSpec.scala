package graft

import graft.observability.JobWatch

/** Bounds the Spark jobs a query's CONSTRUCTION may launch, for queries
  * whose construction runs declared [[Materialize]] calls
  * (NoEagerActionSpec allows those jobs; this says how many), so a fold
  * that regresses shows up as a count, not a wall. Table schemas are
  * cached per session, so a warm construction reads no parquet footer.
  *
  * q197 collects three centroid frames (c0, c1, c2: k·dims rows each)
  * and nothing else — its memberships and probe cells are kernel
  * columns. Each collect is one aggregation: a shuffle-map job plus a
  * result job, 6 jobs. The chain of checkpointed joins it replaced
  * launched 45.
  *
  * q151 pins its LSH star-edge list (`cc.edges`: the banding shuffle's
  * map job plus the checkpoint job), counts it (`cc.edge_count`: a
  * shuffle-map job plus a result job) and, under the local cutoff,
  * collects it for the driver union-find (one result job), 5 jobs.
  */
class ConstructionJobsSpec extends SparkSpec {

  /** Asserts `query`'s construction starts at most `bound` jobs, after
    * one warm-up construction (registration, table schemas). */
  private def constructionJobsAtMost(query: String, bound: Int): Unit = {
    val q = SparkEntry.queries(query)
    q(spark, sf0001).schema
    val (_, jobs) = JobWatch.during(spark)(q(spark, sf0001).schema)
    info(s"$query construction: ${jobs.size} jobs")
    assert(jobs.size <= bound, s"$query construction launched " +
      s"${jobs.size} jobs: ${jobs.map(_.stages).mkString("; ")}")
  }

  test("q197 construction launches at most 6 jobs (three centroid collects)") {
    constructionJobsAtMost("q197_ann_retrain_recall", 6)
  }

  test("q151 construction launches at most 5 jobs (pinned, counted, collected edges)") {
    constructionJobsAtMost("q151_semantic_dedup", 5)
  }
}
