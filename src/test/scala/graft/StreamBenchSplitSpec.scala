package graft

/** StreamBench's trigger decomposition: the p50 of each part of a
  * trigger, read from the progress the run already collects. */
class StreamBenchSplitSpec extends SparkSpec {

  test("stream bench reports where the trigger goes") {
    val r = StreamBench.run(spark, sf0001,
      workDir = "/tmp/graft_stream_bench_split_spec",
      stageFiles = 6, filesPerTrigger = 1)
    assert(r.batches >= 3, s"$r")
    // each part of a trigger is at most the trigger, so each part's p50
    // is at most the trigger's p50
    assert(r.addBatchP50Ms > 0 && r.addBatchP50Ms <= r.p50Ms, s"$r")
    for (part <- Seq(r.latestOffsetP50Ms, r.walCommitP50Ms, r.commitOffsetsP50Ms))
      assert(part >= 0 && part <= r.p50Ms, s"$r")
    // the state commit is summed over the 4 state partitions, each
    // committed inside addBatch
    assert(r.stateCommitP50Ms >= 0 && r.stateCommitP50Ms <= 4 * r.addBatchP50Ms,
      s"$r")
  }
}
