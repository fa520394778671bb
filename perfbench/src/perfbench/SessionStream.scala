package perfbench

import java.io.File
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress,
  Trigger}

import graft.model.{AudioChunk, TranscriptEvent}
import graft.streaming.SessionLogic
import graft.streaming.SessionProcessor

/** `session_stream`: the sessionizer (`SessionProcessor.attach`) on the
  * RocksDB state store with changelog checkpointing, fed by a file
  * source. The chunk streams follow [[Gen.ChunkShape]]: real-time
  * sessions sending 100 ms chunks; 20 sessions in the live phase, as in
  * the reference's streaming benchmark, and 100 in the drain, its
  * concurrent stream limit.
  *
  *  - set-up (timed): the program's query start-up. A fresh query is
  *    attached to a one-file source and runs `AvailableNow` until its
  *    first micro-batch is committed, which opens the RocksDB state
  *    store. `SetupRuns` fresh queries; the median is reported;
  *  - live (open loop): the live stream is staged as one parquet file
  *    per chunk period. One generator thread moves a file into the
  *    source directory every `ReleaseMs`, regardless of how the query
  *    keeps up; `ProcessingTime(TriggerMs)` triggers. A row's latency
  *    runs from its file's *due* release time to the end of the
  *    micro-batch that consumed it. File 0 is released first and waited
  *    for, so query start-up is not charged to the first rows, and rows
  *    of the first `WarmFiles` files are not timed;
  *  - drain (closed loop): a fresh query reads a separate, larger
  *    stream, `DrainTriggers` files of `DrainSteps` chunk periods each,
  *    as `AvailableNow`, one file per trigger. Triggers of this size are
  *    bound by per-row and state work, not by the fixed cost of a
  *    trigger. Its rate is the median over every trigger but the first
  *    (which also opens the state store) of rows over the trigger's
  *    execution time;
  *  - checks: each phase's transcript events equal one batch
  *    `SessionProcessor.attach` over the same chunks, and every input row
  *    is consumed. */
object SessionStream {
  val Shape = Gen.ChunkShape()
  /** The reference's streaming benchmark: 20 sessions (BASELINE.md
    * line 57). */
  val LiveShape = Shape.copy(sessions = 20)
  /** One release per chunk period: a file holds one chunk per session. */
  val ReleaseMs: Long = Shape.chunkMs.toLong
  /** Live trigger interval. Spark starts a `ProcessingTime` trigger on
    * multiples of the interval, and releases are due at fixed offsets
    * within it, so a row's wait for its trigger does not depend on how
    * the previous trigger's length happened to line up with the release
    * schedule. A live trigger costs 0.5–1 s, most of it fixed; at twice
    * that interval a slow trigger still ends before the next one is due,
    * so host load shifts latency by the trigger's own delay instead of
    * pushing every later trigger back. */
  val TriggerMs = 2000L
  val FilesPerTrigger: Int = (TriggerMs / ReleaseMs).toInt
  /** Files released on schedule before latency is recorded, one trigger
    * interval's worth: the first live trigger runs slower while the JIT
    * warms up (the set-up queries have warmed it on the same plan). */
  val WarmFiles: Int = FilesPerTrigger
  val DrainTriggers = 4
  /** Chunk periods per drain file: 6 s of audio from each session. */
  val DrainSteps = 60
  /** Fresh set-up queries; the first of a JVM also pays for Spark's cold
    * start, so the median is that of the warm ones. */
  val SetupRuns = 3
  val LiveStream = 1
  val DrainStream = 2
  val Rocks = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true",
    "spark.sql.streaming.numRecentProgressUpdates" -> "100000")

  /** Files released in the live phase: the warm-up files, then whole
    * trigger intervals for about 60% of the run. */
  def liveFiles(seconds: Int): Int =
    WarmFiles + FilesPerTrigger * math.max(2, (seconds * 600 / TriggerMs).toInt)

  def canon(e: TranscriptEvent): String =
    s"${e.sessionId}|${e.eventType}|${e.text}|" +
      f"${e.confidence}%.6f|${e.resultOffsetMs}|${e.isPartial}"

  /** Parquet schema of the staged chunk files: the columns of
    * `Encoders.product[AudioChunk]`. */
  private val ChunkSchema = MessageTypeParser.parseMessageType(
    """message chunk {
      |  optional binary sessionId (STRING);
      |  optional binary content;
      |  required int64 offsetMs;
      |  required int64 durationMs;
      |  required boolean isFinal;
      |}""".stripMargin)

  /** Write one parquet file per release unit, in the driver (no Spark
    * job, so staging does not pay a task per file). */
  private def stage(files: IndexedSeq[IndexedSeq[AudioChunk]],
      dir: String): IndexedSeq[File] = {
    new File(dir).mkdirs()
    val rows = new SimpleGroupFactory(ChunkSchema)
    val conf = new Configuration()
    val parts = files.zipWithIndex.map { case (chunks, i) =>
      val f = new File(dir, f"chunks-$i%05d.parquet")
      val w = ExampleParquetWriter.builder(new LocalOutputFile(f.toPath))
        .withType(ChunkSchema).withConf(conf)
        .withDictionaryEncoding(false).build()
      try chunks.foreach { c =>
        w.write(rows.newGroup()
          .append("sessionId", c.sessionId)
          .append("content", Binary.fromConstantByteArray(c.content))
          .append("offsetMs", c.offsetMs)
          .append("durationMs", c.durationMs)
          .append("isFinal", c.isFinal))
      } finally w.close()
      f
    }
    // the file source takes files in modification-time order: make that
    // the release order
    val base = System.currentTimeMillis() - 1000L * parts.size
    parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(base + 1000L * i) }
    parts
  }

  private def startQuery(spark: SparkSession, src: String, name: String,
      ckpt: String, trigger: Trigger, maxFiles: Option[Int]): StreamingQuery =
    Trace.span("streaming", s"$name.start") {
      val schema = Encoders.product[AudioChunk].schema
      val r0 = spark.readStream.schema(schema)
      val r = maxFiles.fold(r0)(n => r0.option("maxFilesPerTrigger", n.toLong))
      val chunks: Dataset[AudioChunk] =
        r.parquet(src).as[AudioChunk](Encoders.product[AudioChunk])
      SessionProcessor.attach(chunks, timeoutMs = 0L).toDF()
        .writeStream.queryName(name).format("memory").outputMode("append")
        .option("checkpointLocation", ckpt).trigger(trigger).start()
    }

  private def progressOf(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.sortBy(_.batchId)

  private def rowsIn(q: StreamingQuery): Long =
    progressOf(q).map(_.numInputRows).sum

  private def waitRows(q: StreamingQuery, rows: Long, timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (rowsIn(q) < rows && q.isActive &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    rowsIn(q) >= rows
  }

  private def endMs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.getOrDefault("triggerExecution", 0L).longValue

  private def dur(ps: Seq[StreamingQueryProgress], k: String): Seq[Double] =
    ps.map(p => p.durationMs.getOrDefault(k, 0L).doubleValue)

  /** Release file 0 and wait for its batch, then release the rest on a
    * fixed schedule from a generator thread and wait until every row is
    * consumed. Returns the query, each file's due time and how late the
    * generator released it. */
  private def livePhase(spark: SparkSession, o: Opts, parts: IndexedSeq[File],
      fileRows: IndexedSeq[Long], src: File)
      : (StreamingQuery, IndexedSeq[Long], Array[Long]) = {
    val live = startQuery(spark, src.getPath, "live_out", s"${o.work}/ckpt_live",
      Trigger.ProcessingTime(TriggerMs), None)
    def release(i: Int): Unit = {
      val f = parts(i)
      f.setLastModified(System.currentTimeMillis())
      java.nio.file.Files.move(f.toPath, new File(src, f.getName).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    release(0)
    require(waitRows(live, fileRows(0), 60000L), "live warm-up batch did not run")
    Log.mark("live warm-up batch done")
    val nLive = parts.size - 1
    // the first release is due 50 ms after a trigger boundary
    val t0 = (System.currentTimeMillis() / TriggerMs + 2) * TriggerMs + 50L
    val due = (0 until nLive).map(i => t0 + i * ReleaseMs)
    val late = new Array[Long](nLive)
    val gen = new Thread(() => {
      var i = 0
      while (i < nLive) {
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        late(i) = System.currentTimeMillis() - due(i)
        release(i + 1)
        i += 1
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    gen.join()
    waitRows(live, fileRows.sum, 60000L)
    (live, due, late)
  }

  /** Every event of one batch `SessionProcessor.attach` over `dir`. */
  private def batchEvents(spark: SparkSession, dir: String): Seq[String] =
    Trace.span("streaming", "batch_reference") {
      SessionProcessor.attach(
        spark.read.parquet(dir).as[AudioChunk](Encoders.product[AudioChunk]),
        timeoutMs = 0L)
        .collect().map(canon).sorted.toSeq
    }

  def run(spark: SparkSession, o: Opts): Result = {
    val res = new Result("session_stream")
    // the generated chunks live only until they are staged, so the run's
    // peak memory is the program's, not the generator's
    def staged(stream: Int, shape: Gen.ChunkShape, files: Int, steps: Int,
        dir: String) = {
      val fs = Gen.chunks(o.seed, stream, shape, files, steps)
      (stage(fs, dir), fs.map(_.size.toLong))
    }
    val (liveParts, fileRows) = staged(LiveStream, LiveShape, liveFiles(o.seconds), 1,
      s"${o.work}/stage_live")
    val totalRows = fileRows.sum
    val drainTotal = staged(DrainStream, Shape, DrainTriggers, DrainSteps,
      s"${o.work}/stage_drain")._2.sum
    Log.mark("staged")

    // ---- set-up: query start-up through the first committed batch ----
    val setupSrc = new File(s"${o.work}/setup_src"); setupSrc.mkdirs()
    java.nio.file.Files.copy(liveParts(0).toPath,
      new File(setupSrc, liveParts(0).getName).toPath)
    val setups = (0 until SetupRuns).map { i =>
      val t0 = System.nanoTime()
      val q = startQuery(spark, setupSrc.getPath, s"setup_$i",
        s"${o.work}/ckpt_setup$i", Trigger.AvailableNow(), None)
      q.awaitTermination(60000L)
      val secs = (System.nanoTime() - t0) / 1e9
      res.check(rowsIn(q) == fileRows(0) && q.exception.isEmpty,
        s"set-up query $i consumed ${rowsIn(q)} of ${fileRows(0)} rows")
      secs
    }
    res.metric("setup_s", Stats.median(setups), "s")
    Log.mark("set-up s: " + setups.map(x => f"$x%.3f").mkString(" "))

    // ---- live phase (open loop) ----
    val src = new File(s"${o.work}/live_src"); src.mkdirs()
    val (live, due, late) = Trace.phase("live")(
      livePhase(spark, o, liveParts, fileRows, src))
    Log.mark("live done")
    val nLive = fileRows.size - 1
    val liveDone = rowsIn(live) >= totalRows
    val liveProgress = progressOf(live)
    live.stop()
    res.check(liveDone, s"live phase consumed ${rowsIn(live)} of $totalRows rows")
    res.check(live.exception.isEmpty, s"live query failed: ${live.exception}")

    // map batches to files: files are released in order and a batch
    // takes every file present when it lists the source, so cumulative
    // row counts identify which files each batch consumed
    val cumFiles = fileRows.scanLeft(0L)(_ + _).tail
    val batches = liveProgress.filter(_.numInputRows > 0)
    val cumBatch = batches.map(_.numInputRows).scanLeft(0L)(_ + _).tail
    val fileBatch = cumFiles.map { c =>
      val b = cumBatch.indexWhere(_ >= c)
      res.check(b >= 0 && cumBatch(b) >= c, s"no batch consumed row $c")
      b
    }
    val aligned = cumBatch.forall(c => cumFiles.contains(c))
    res.check(aligned, "a micro-batch ended inside a file")
    val rowLat = (WarmFiles to nLive).filter(fileBatch(_) >= 0).flatMap { i =>
      val lat = (endMs(batches(fileBatch(i))) - due(i - 1)).toDouble
      Iterator.fill(fileRows(i).toInt)(lat)
    }
    val timed = batches.drop(fileBatch(WarmFiles - 1) + 1)
    Log.mark("live trigger ms: " +
      dur(timed, "triggerExecution").map(_.toLong).mkString(" "))
    val filesPerBatch = fileBatch.groupBy(identity).values.map(_.size)

    // ---- drain phase (closed loop) ----
    val drainT0 = System.nanoTime()
    val drain = Trace.phase("drain") {
      val q = startQuery(spark, s"${o.work}/stage_drain", "drain_out",
        s"${o.work}/ckpt_drain", Trigger.AvailableNow(), Some(1))
      q.awaitTermination(120000L)
      q
    }
    val drainS = (System.nanoTime() - drainT0) / 1e9
    Log.mark("drain done")
    val drainProgress = progressOf(drain).filter(_.numInputRows > 0)
    val drainRows = drainProgress.map(_.numInputRows).sum
    val steady = drainProgress.drop(1)
    val steadyMs = dur(steady, "triggerExecution").sum
    val drainEps = Stats.median(steady.map(p => p.numInputRows /
      (p.durationMs.get("triggerExecution").doubleValue / 1e3)))
    Log.mark("drain trigger ms: " +
      dur(drainProgress, "triggerExecution").map(_.toLong).mkString(" ") +
      "; addBatch ms: " + dur(drainProgress, "addBatch").map(_.toLong).mkString(" "))
    res.check(drainRows == drainTotal,
      s"drain phase consumed $drainRows of $drainTotal rows")
    res.check(drain.exception.isEmpty, s"drain query failed: ${drain.exception}")

    // ---- checks (untimed) ----
    val liveRef = batchEvents(spark, src.getPath)
    val drainRef = batchEvents(spark, s"${o.work}/stage_drain")
    Log.mark("references done")
    def events(t: String): Seq[String] =
      spark.table(t).as[TranscriptEvent](Encoders.product[TranscriptEvent])
        .collect().map(canon).sorted.toSeq
    val liveEvents = events("live_out")
    val drainEvents = events("drain_out")
    res.check(liveRef.nonEmpty && drainRef.nonEmpty, "batch reference emitted no events")
    res.check(liveEvents == liveRef,
      s"live events (${liveEvents.size}) differ from batch (${liveRef.size})")
    res.check(drainEvents == drainRef,
      s"drain events (${drainEvents.size}) differ from batch (${drainRef.size})")
    def diff(a: Seq[String], ref: Seq[String]): Long =
      (a.diff(ref).size + ref.diff(a).size).toLong
    res.attempted = totalRows + drainTotal
    res.failed = (totalRows - math.min(totalRows, rowsIn(live))) +
      (drainTotal - math.min(drainTotal, drainRows)) +
      diff(liveEvents, liveRef) + diff(drainEvents, drainRef)

    res.metric("lat_p50_ms", Stats.median(rowLat), "ms")
    res.metric("lat_tail_ms", Stats.pct(rowLat, 0.99), "ms")
    res.metric("throughput_per_s", drainEps, "1/s")

    res.note("stream_lat_p50_ms", Stats.median(rowLat), "ms")
    res.note("stream_lat_p99_ms", Stats.pct(rowLat, 0.99), "ms")
    res.note("stream_lat_samples", rowLat.size.toDouble, "count")
    res.note("stream_drain_eps", drainEps, "1/s")
    res.note("stream_drain_wall_eps", drainRows / drainS, "1/s")
    res.note("stream_drain_rows_per_trigger",
      Stats.median(steady.map(_.numInputRows.toDouble)), "count")
    res.note("stream_drain_add_batch_share",
      dur(steady, "addBatch").sum / steadyMs, "ratio")
    res.note("stream_live_offered_eps",
      fileRows.drop(1).sum * 1000.0 / (nLive * ReleaseMs), "1/s")
    res.note("stream_live_triggers", timed.size.toDouble, "count")
    res.note("stream_rows", (totalRows + drainTotal).toDouble, "count")
    res.note("stream_events", (liveRef.size + drainRef.size).toDouble, "count")

    if (o.trace) {
      // per-trigger decomposition of the live phase, from the query's
      // own progress events
      def p50(k: String) = Stats.median(dur(timed, k))
      def commitMs(ps: Seq[StreamingQueryProgress]) = ps.map(
        _.stateOperators.headOption.map(_.commitTimeMs).getOrElse(0L).toDouble)
      val st = liveProgress.last.stateOperators.headOption
      res.state = (st.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        st.map(_.memoryUsedBytes / 1e6).getOrElse(0.0))
      Trace.jobs.drain()
      val w = Trace.jobs.total(Trace.subtree(_.name == "live"))
      val dw = Trace.jobs.total(Trace.subtree(_.name == "drain"))
      res.note("streaming.latest_offset_ms_p50", p50("latestOffset"), "ms")
      res.note("streaming.get_batch_ms_p50", p50("getBatch"), "ms")
      res.note("streaming.query_planning_ms_p50", p50("queryPlanning"), "ms")
      res.note("streaming.wal_commit_ms_p50", p50("walCommit"), "ms")
      res.note("streaming.commit_offsets_ms_p50", p50("commitOffsets"), "ms")
      res.note("streaming.add_batch_ms_p50", p50("addBatch"), "ms")
      res.note("streaming.trigger_ms_p50", p50("triggerExecution"), "ms")
      res.note("streaming.state_commit_ms_p50", Stats.median(commitMs(timed)), "ms")
      res.note("streaming.rows_per_trigger_p50",
        Stats.median(timed.map(_.numInputRows.toDouble)), "count")
      res.note("streaming.triggers", timed.size.toDouble, "count")
      res.note("streaming.empty_trigger_share",
        liveProgress.count(_.numInputRows == 0).toDouble /
          math.max(1, liveProgress.size), "ratio")
      res.note("streaming.state_rows", res.state._1, "count")
      res.note("streaming.state_mb", res.state._2, "MB")
      res.note("streaming.backlog_files_max", filesPerBatch.max.toDouble, "count")
      res.note("streaming.gen_late_ms_p99", Stats.pct(late.map(_.toDouble).toSeq, 0.99), "ms")
      res.note("streaming.task_s", w.runMs.get / 1e3, "s")
      res.note("streaming.shuffle_mb", w.shuffleBytes.get / 1e6, "MB")
      // the same figures for the drain's steady triggers
      res.note("streaming.drain_add_batch_ms_p50",
        Stats.median(dur(steady, "addBatch")), "ms")
      res.note("streaming.drain_state_commit_ms_p50",
        Stats.median(commitMs(steady)), "ms")
      res.note("streaming.drain_task_s", dw.runMs.get / 1e3, "s")
      res.note("streaming.drain_shuffle_mb", dw.shuffleBytes.get / 1e6, "MB")
      res.ops = timed.size
      res.opSplit = Map(
        "coord" -> timed.map(p => Seq("latestOffset", "getBatch", "walCommit",
          "commitOffsets").map(k => p.durationMs.getOrDefault(k, 0L).doubleValue).sum),
        "plan" -> dur(timed, "queryPlanning"),
        "exec" -> dur(timed, "addBatch"))
    }
    res
  }

  /** Single-threaded, Spark-free `SessionLogic.step` over the first 10 s
    * of the live stream, one step per session per live trigger's worth
    * of files, as a micro-batch would deliver them. Median of three
    * passes, in ns per chunk. */
  def stepNsPerChunk(seed: Long): Double = {
    val files = Gen.chunks(seed, LiveStream, LiveShape, 100, 1)
    val slices = files.grouped(FilesPerTrigger)
      .map(_.flatten.groupBy(_.sessionId).toSeq).toSeq
    val n = files.map(_.size).sum
    val passes = (0 until 3).map { _ =>
      val state = scala.collection.mutable.HashMap.empty[String, SessionLogic.State]
      var events = 0L
      val t0 = System.nanoTime()
      slices.foreach(_.foreach { case (sid, cs) =>
        val (next, out) = SessionLogic.step(sid, cs,
          state.getOrElse(sid, SessionLogic.empty))
        state(sid) = next
        events += out.size
      })
      require(events > 0, "SessionLogic.step emitted no events")
      (System.nanoTime() - t0).toDouble / n
    }
    Stats.median(passes)
  }
}
