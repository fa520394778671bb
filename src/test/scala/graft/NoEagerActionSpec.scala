package graft

import graft.observability.JobWatch

/** Guard against the q61 regression class: declaring a query must not
  * hide an action behind a lazy-looking API. The rule, for every query
  * in [[SparkEntry.queries]]: construction may start only jobs that
  * carry the `graft.materialize` local property, i.e. the declared,
  * bounded materializations of [[Materialize]] (a frame pinned once, a
  * bounded collect re-entered as a local relation). Any other job (a
  * driver-side `.head()`/`.collect()`/`.count()` in a constructor, a
  * parquet schema inference) is unlabelled and fails the query by name.
  * Scalar thresholds belong in the plan as `crossJoin(broadcast(agg))`
  * (the q13/q108/q61 pattern, whose 1-row build side the BNLJ plan
  * guard proves). The number of queries whose construction runs any
  * labelled job may not grow past the 37 that did when this rule
  * replaced a list of exempt names.
  *
  * Each constructor runs under [[JobWatch]], which sees every job it
  * starts with that job's label. The testdata tables are read once up
  * front: [[Tables]] infers a table's schema once per session and
  * listing, so construction itself reads none.
  */
class NoEagerActionSpec extends SparkSpec {

  test("query construction starts only graft.materialize-labelled jobs") {
    new java.io.File(sf0001).list().filter(_.endsWith(".parquet"))
      .foreach(f => Tables.tbl(spark, sf0001, f.stripSuffix(".parquet")))
    val seen = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // construction + analysis, no execution
      name -> JobWatch.during(spark)(fn(spark, sf0001).schema)._2
    }
    val unlabelled = seen.filter(_._2.exists(_.label.isEmpty))
    assert(unlabelled.isEmpty,
      "construction started jobs outside graft.Materialize — use " +
        "crossJoin(broadcast(agg)) for scalars, Materialize for a " +
        "declared, bounded materialization:\n" +
        unlabelled.map { case (name, jobs) =>
          s"$name: ${jobs.filter(_.label.isEmpty).map(_.stages).mkString("; ")}"
        }.mkString("\n"))
    val labelled = seen.filter(_._2.nonEmpty)
    assert(labelled.size <= 37, s"${labelled.size} queries now run " +
      "construction jobs (37 did when the rule replaced the name list); " +
      "a new materialization must replace an old one")
    info(s"${labelled.size} of ${seen.size} queries run labelled " +
      "construction jobs: " + labelled.map { case (name, jobs) =>
        s"$name[${jobs.map(_.label).distinct.mkString(",")}]"
      }.mkString(" "))
  }
}
