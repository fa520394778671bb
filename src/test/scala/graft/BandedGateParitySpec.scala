package graft

import java.nio.file.Files
import java.security.MessageDigest
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.functions.{ImageCodec, WavCodec}
import graft.functions.ImageOps.Gray
import graft.streaming.{StreamingAudioDedup, StreamingContainment,
  StreamingImageDedup, StreamingNearDup, StreamingSemDedup,
  StreamingSemDedupPq}

/** Behaviour and state of the six banded dedup gates, pinned by digest.
  * Each gate runs through a `MemoryStream` over four seeded batches at
  * per-key caps 1, 2 and its default. The batches redeliver ids both
  * inside one batch and in a later batch, and they carry the rows that
  * only probe (SemDedup/SemDedupPq non-home cells) and the rows that
  * only store (Containment shingles that are not argmin probes), plus
  * undecodable audio and image bytes.
  *
  * Two SHA-256 literals per gate:
  *   - emissions: every batch's emissions, sorted, in batch order;
  *   - state: the state schema (key and value) and the final state
  *     rows, read back with the `statestore` source.
  * The literals were computed on the hand-written per-gate state
  * updates, so they pin that the shared core replays the same
  * emissions into the same state schema and contents (a checkpoint
  * written by either resumes under the other). */
class BandedGateParitySpec extends SparkSpec {

  private def sha256(lines: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Four batches of items made by `mk(id, rnd)`, seeded: fresh ids
    * 1-8, 9-16, 17-24, 25-30; id 10 and id 20 twice in their own batch;
    * ids 3, 1 and 5 redelivered in a later batch. A redelivery repeats
    * the item as first made. */
  private def plan[I](seed: Long)(mk: (Long, Random) => I): Seq[Seq[I]] = {
    val rnd = new Random(seed)
    val made = mutable.Map.empty[Long, I]
    def item(id: Long): I = made.getOrElseUpdate(id, mk(id, rnd))
    Seq(
      (1L to 8L).map(item),
      (9L to 16L).map(item) ++ Seq(item(10), item(3)),
      (17L to 24L).map(item) ++ Seq(item(20), item(1), item(5)),
      (25L to 30L).map(item))
  }

  /** Run one gate over `batches`; returns the emission lines (batch
    * headers, then that batch's rows sorted) and the state lines
    * (state schema, then the final state rows sorted). */
  private def runGate[I: Encoder](tag: String, batches: Seq[Seq[I]])(
      gate: Dataset[I] => Dataset[_]): (Seq[String], Seq[String]) = {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("banded_parity").toString
    val input = MemoryStream[I]
    val got = new ConcurrentLinkedQueue[String]
    val q = gate(input.toDS()).toDF().writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.collect().foreach(r => got.add(r.toString))
      }
      .start()
    val emitted = try batches.zipWithIndex.flatMap { case (b, k) =>
      input.addData(b)
      q.processAllAvailable()
      val rows = Iterator.continually(got.poll()).takeWhile(_ != null).toSeq
      s"$tag batch $k" +: rows.sorted
    } finally q.stop()
    val state = spark.read.format("statestore").load(ckpt)
    val stateLines = s"$tag ${state.schema.json}" +:
      state.select("key", "value").collect().map(_.toString).sorted.toSeq
    (emitted, stateLines)
  }

  /** The gate at caps 1, 2 and its default (`None`); both digests. */
  private def digests[I: Encoder](name: String, batches: Seq[Seq[I]])(
      gate: (Dataset[I], Option[Int]) => Dataset[_]): (String, String, Int) = {
    val runs = Seq(Some(1), Some(2), None).map(cap =>
      runGate(s"$name cap=${cap.getOrElse("default")}", batches)(gate(_, cap)))
    val emissions = runs.flatMap(_._1)
    (sha256(emissions), sha256(runs.flatMap(_._2)),
      emissions.count(!_.contains(" batch ")))
  }

  private def check(name: String, got: (String, String, Int),
      emissionsDigest: String, stateDigest: String): Unit = {
    val (e, s, n) = got
    assert(n > 0, s"$name: the fixture must produce emissions")
    assert(e == emissionsDigest, s"$name emissions digest moved ($n rows): $e")
    assert(s == stateDigest, s"$name state digest moved: $s")
  }

  // ---- per-gate seeded fixtures ------------------------------------

  /** 16 words from a 40-word vocabulary around one of 5 bases, with 0-2
    * substituted words. */
  private def nearText(rnd: Random, bases: IndexedSeq[Array[String]]): String = {
    val w = bases(rnd.nextInt(bases.length)).clone()
    (0 until rnd.nextInt(3)).foreach(_ => w(rnd.nextInt(w.length)) = s"w${rnd.nextInt(40)}")
    w.mkString(" ")
  }

  private def synth(seed: Int): Array[Short] =
    Array.tabulate(256) { i =>
      val v = (((i * 37 + seed * 101 + 11) % 97) / 97.0 - 0.5) * 8192
      (v.toInt & ~1).toShort
    }

  private def plane(base: Int): Array[Byte] =
    Array.tabulate(512) { i =>
      val x = i % 32; val y = i / 32
      (40 + (x / 4) * (20 + 5 * base) + (y / 2) * (3 + base)).toByte
    }

  private def vector(rnd: Random, bases: IndexedSeq[Array[Float]]): Array[Float] = {
    val b = bases(rnd.nextInt(bases.length))
    val noise = if (rnd.nextInt(4) == 0) 0.6f else 0.05f
    b.map(x => x + noise * rnd.nextGaussian().toFloat)
  }

  private def vecPlan(seed: Long): Seq[Seq[(Long, Array[Float])]] = {
    val r0 = new Random(seed)
    val bases = IndexedSeq.fill(4)(Array.fill(64)(r0.nextGaussian().toFloat))
    plan(seed + 1)((id, rnd) => id -> vector(rnd, bases))
  }

  test("StreamingNearDup: emissions and state match the pinned digests") {
    import spark.implicits._
    val r0 = new Random(11)
    val bases = IndexedSeq.fill(5)(Array.fill(16)(s"w${r0.nextInt(40)}"))
    val batches = plan(12)((id, rnd) => StreamingNearDup.Doc(id, nearText(rnd, bases)))
    check("NearDup", digests("neardup", batches) { (ds, cap) =>
      cap.fold(StreamingNearDup.attach(ds))(c => StreamingNearDup.attach(ds, maxPerBand = c))
    },
      "6d1bf55fbaafe02bfea42d633321f2daf9e694b163decd952ba57b0e8eb399ac",
      "3dc9fc1ab60877318f60a60505dc685f4fdb63d469ac7716f15eea8292a34a52")
  }

  test("StreamingAudioDedup: emissions and state match the pinned digests") {
    import spark.implicits._
    val batches = plan(21) { (id, rnd) =>
      val bytes =
        if (rnd.nextInt(10) == 0) Array[Byte](1, 2, 3)
        else {
          val s = synth(rnd.nextInt(3))
          (0 until rnd.nextInt(3)).foreach { _ =>
            val i = rnd.nextInt(s.length)
            s(i) = (s(i) + 96).toShort
          }
          WavCodec.encode(if (rnd.nextInt(5) == 0) s.map(v => (v / 2).toShort) else s)
        }
      StreamingAudioDedup.Clip(id, bytes)
    }
    check("AudioDedup", digests("audio", batches) { (ds, cap) =>
      cap.fold(StreamingAudioDedup.attach(ds))(c => StreamingAudioDedup.attach(ds, maxPerBand = c))
    },
      "2c3519d1bfb908b5a3fd5457fb8c3c6bedd0d0f1c9ce22b86566204fb9795bc1",
      "0ef8924034cf55803ec93f96cf0f0c364b6ddd0cc48f44b82f553aa5a80e81e3")
  }

  test("StreamingImageDedup: emissions and state match the pinned digests") {
    import spark.implicits._
    val batches = plan(31) { (id, rnd) =>
      val bytes =
        if (rnd.nextInt(10) == 0) Array[Byte](9, 9, 9)
        else {
          val px = plane(rnd.nextInt(3))
          (0 until rnd.nextInt(3)).foreach { _ =>
            val c = rnd.nextInt(32)
            val x0 = (c % 8) * 4; val y0 = (c / 8) * 2
            val delta = if (rnd.nextBoolean()) 120 else 10
            for (dy <- 0 until 2; dx <- 0 until 4) {
              val i = (y0 + dy) * 32 + x0 + dx
              px(i) = math.min(255, (px(i) & 0xff) + delta).toByte
            }
          }
          ImageCodec.encode(Gray(32, 16, px), "png")
        }
      StreamingImageDedup.Img(id, bytes)
    }
    check("ImageDedup", digests("image", batches) { (ds, cap) =>
      cap.fold(StreamingImageDedup.attach(ds))(c => StreamingImageDedup.attach(ds, maxPerBand = c))
    },
      "b814b654d155df1348172c8a14f9d82b72a0808950eaf7550173f0c345d5dc55",
      "5265c3b10ba1452b2af6e31e5d3063feea2c218c06f3a1a5bb61179733c32308")
  }

  test("StreamingSemDedup: emissions and state match the pinned digests") {
    import spark.implicits._
    val batches = vecPlan(41).map(_.map { case (id, e) => StreamingSemDedup.Vec(id, e) })
    check("SemDedup", digests("sem", batches) { (ds, cap) =>
      cap.fold(StreamingSemDedup.attach(ds, nbits = 3))(c =>
        StreamingSemDedup.attach(ds, nbits = 3, maxPerCell = c))
    },
      "8a6204679822806c6266ce5d2d80f98e051d540e1a57cb6731b12bd9725b31f9",
      "9bba849db3d6dd05b597ef6b17655434cd7da9a52bc571b941a0ac9e100d4bad")
  }

  test("StreamingSemDedupPq: emissions and state match the pinned digests") {
    import spark.implicits._
    val vecs = vecPlan(51)
    val cb = StreamingSemDedupPq.Codebook.train(vecs.flatten.map(_._2))
    val batches = vecs.map(_.map { case (id, e) => StreamingSemDedupPq.Vec(id, e) })
    check("SemDedupPq", digests("pq", batches) { (ds, cap) =>
      cap.fold(StreamingSemDedupPq.attach(ds, nbits = 3, codebook = cb))(c =>
        StreamingSemDedupPq.attach(ds, nbits = 3, codebook = cb, maxPerCell = c))
    },
      "7df80170e4221eb46387de9a338342c2042948c54fa6c36b4ac9e0950571fdfb",
      "8f7548715dd4dc9c5fa9b119a2c8e6c8d77bca84aaac7d21b3866eb59a4ab181")
  }

  test("StreamingContainment: emissions and state match the pinned digests") {
    import spark.implicits._
    val containers = IndexedSeq.tabulate(4)(b => (0 until 30).map(i => s"w${b}x$i"))
    val batches = plan(61) { (id, rnd) =>
      val c = containers(rnd.nextInt(containers.length))
      val text = rnd.nextInt(3) match {
        case 0 => c.mkString(" ")
        case 1 => val s = rnd.nextInt(18); c.slice(s, s + 12).mkString(" ")
        case _ => (c ++ (0 until 10).map(i => s"e${id}x$i")).mkString(" ")
      }
      StreamingContainment.Doc(id, text)
    }
    check("Containment", digests("contain", batches) { (ds, cap) =>
      cap.fold(StreamingContainment.attach(ds))(c =>
        StreamingContainment.attach(ds, maxPerShingle = c))
    },
      "f48a5f8faf9c4d5cc28144e44d0de5b0ea9eeba9ec5a6e587999cc1e7b510093",
      "916cc7bd2f79c755ed8f80a24086937b8cd12a501e3b1c4b37562af9ff678927")
  }
}
