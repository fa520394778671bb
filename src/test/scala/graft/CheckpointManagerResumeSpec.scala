package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.model.{AudioChunk, TranscriptEvent}
import graft.streaming.{LocalCheckpointFiles, SessionProcessor}

/** A sessionizer checkpoint resumes across checkpoint file managers, in
  * both directions: run 1 writes it under one manager, run 2 resumes it
  * under the other, and the two runs emit exactly what one uninterrupted
  * run emits. The state store is RocksDB with changelog checkpointing and
  * checkpoint file checksums on. */
class CheckpointManagerResumeSpec extends SparkSpec {

  private val sparks = classOf[FileContextBasedCheckpointFileManager].getName
  private val ours = classOf[LocalCheckpointFiles].getName

  /** Six micro-batches of four sessions' 100 ms chunks: loud bytes, an
    * utterance ended by `isFinal` now and then. */
  private val batches: Seq[Seq[AudioChunk]] = {
    val rnd = new scala.util.Random(12)
    (0 until 6).map { b =>
      (0 until 4).flatMap { s =>
        (0 until 3).map { i =>
          val k = b * 3 + i
          AudioChunk(s"s$s", Array.fill(3200)((40 + rnd.nextInt(200)).toByte),
            1000L + 100L * k, 100L, isFinal = (k + s) % 7 == 6)
        }
      }
    }
  }

  private def canon(e: TranscriptEvent): String =
    s"${e.sessionId}|${e.eventType}|${e.text}|${e.confidence}|" +
      s"${e.resultOffsetMs}|${e.isPartial}"

  /** Feeds `batches`, one micro-batch each, through a query on `ckpt`
    * whose checkpoint files go through `manager`; output to `out`. */
  private def runOn(ckpt: String, out: String, manager: String,
      input: MemoryStream[AudioChunk], batches: Seq[Seq[AudioChunk]]): Unit =
    GraftSession.withConf(spark, LocalCheckpointFiles.ConfKey -> manager) {
      val q = SessionProcessor.attach(input.toDS(), timeoutMs = 0L)
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt).option("path", out)
        .outputMode("append").start()
      try batches.foreach { b => input.addData(b); q.processAllAvailable() }
      finally q.stop()
    }

  private def emitted(out: String): Seq[String] = {
    import spark.implicits._
    spark.read.parquet(out).as[TranscriptEvent].collect().map(canon).sorted.toSeq
  }

  private def resume(first: String, second: String): Unit =
    GraftSession.withConf(spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "true") {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val base = Files.createTempDirectory("ckpt_resume")
      val whole = MemoryStream[AudioChunk]
      runOn(s"$base/whole_ckpt", s"$base/whole", first, whole, batches)
      val split = MemoryStream[AudioChunk]
      runOn(s"$base/ckpt", s"$base/out", first, split, batches.take(3))
      runOn(s"$base/ckpt", s"$base/out", second, split, batches.drop(3))
      val expected = emitted(s"$base/whole")
      assert(expected.nonEmpty, "the input must make the sessionizer emit")
      assert(emitted(s"$base/out") == expected)
      // the resumed checkpoint really holds changelogs and checksums
      val files = Files.walk(base.resolve("ckpt")).iterator.asScala
        .map(_.getFileName.toString).toSeq
      assert(files.exists(_.endsWith(".changelog")), files)
      assert(files.exists(_.endsWith(".crc")), files)
      assert(!files.exists(_.endsWith(".tmp")), files)
    }

  test("a checkpoint written by Spark's manager resumes under LocalCheckpointFiles") {
    resume(sparks, ours)
  }

  test("a checkpoint written by LocalCheckpointFiles resumes under Spark's manager") {
    resume(ours, sparks)
  }
}
