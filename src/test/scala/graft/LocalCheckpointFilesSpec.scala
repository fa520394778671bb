package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path,
  PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.model.AudioChunk
import graft.streaming.{LocalCheckpointFiles, SessionProcessor}

/** A `RawLocalFileSystem` under the `mock:` scheme: a non-`file:` path
  * that FileContext has no implementation for. */
class MockSchemeFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("mock:///")
  override def getScheme: String = "mock"
}

/** The checkpoint file manager's contract on a temp dir: atomic publish,
  * no-overwrite as one atomic "exists", hidden temps, delegation of
  * other schemes; and where it is installed. */
class LocalCheckpointFilesSpec extends SparkSpec {

  private val conf = new Configuration()
  private def tempDir(): JPath = Files.createTempDirectory("lcf")
  private def fm(dir: JPath) = new LocalCheckpointFiles(new Path(dir.toUri), conf)
  private def hp(f: JPath) = new Path(f.toUri)
  private def names(dir: JPath): Set[String] =
    Files.list(dir).iterator.asScala.map(_.getFileName.toString).toSet
  private def read(m: CheckpointFileManager, f: JPath): String = {
    val in = m.open(hp(f))
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }
  private def write(m: CheckpointFileManager, f: JPath, s: String,
      overwrite: Boolean): Unit = {
    val out = m.createAtomic(hp(f), overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }
  private val numeric: PathFilter = p => Try(p.getName.toLong).isSuccess

  test("a file is invisible until close, then readable whole") {
    val dir = tempDir()
    val m = fm(dir)
    val f = dir.resolve("0")
    val out = m.createAtomic(hp(f), overwriteIfPossible = true)
    out.write("hello".getBytes(UTF_8))
    out.hsync()
    assert(!m.exists(hp(f)) && !Files.exists(f))
    assert(m.list(hp(dir), numeric).isEmpty)
    out.close()
    assert(m.exists(hp(f)) && read(m, f) == "hello")
    assert(names(dir) == Set("0", ".0.crc"),
      "the temp must be gone after close, the Hadoop sidecar there")
    val Array(st) = m.list(hp(dir), numeric)
    assert(st.getPath.getName == "0" && st.getLen == 5 && !st.isDirectory)
    assert(st.getPath.toUri.getScheme == "file")
    // overwriting is allowed when asked for
    write(m, f, "again", overwrite = true)
    assert(read(m, f) == "again" && names(dir) == Set("0", ".0.crc"))
  }

  test("cancel leaves neither the file nor a temp") {
    val dir = tempDir()
    val m = fm(dir)
    val out = m.createAtomic(hp(dir.resolve("1")), overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    out.close() // a no-op once cancelled
    assert(names(dir).isEmpty)
  }

  test("no-overwrite onto an existing file throws and keeps the old bytes") {
    val dir = tempDir()
    val m = fm(dir)
    val f = dir.resolve("2")
    write(m, f, "old", overwrite = false)
    intercept[FileAlreadyExistsException](write(m, f, "new", overwrite = false))
    assert(read(m, f) == "old")
    assert(names(dir) == Set("2", ".2.crc"), "a failed close must remove its temp")
  }

  test("of two writers racing a no-overwrite write to one path, exactly one wins") {
    val dir = tempDir()
    val m = fm(dir)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try for (round <- 0 until 300) {
      val f = dir.resolve(round.toString)
      val barrier = new CyclicBarrier(2)
      val writers = Seq("a", "b").map { who =>
        Future {
          val out = m.createAtomic(hp(f), overwriteIfPossible = false)
          out.write(who.getBytes(UTF_8))
          barrier.await(10, TimeUnit.SECONDS)
          Try(out.close()).map(_ => who)
        }
      }
      val results = Await.result(Future.sequence(writers), 30.seconds)
      val won = results.flatMap(_.toOption)
      assert(won.size == 1, s"round $round: winners $won")
      assert(results.flatMap(_.failed.toOption)
        .forall(_.isInstanceOf[FileAlreadyExistsException]), s"$results")
      assert(read(m, f) == won.head, s"round $round: the winner's bytes")
    } finally pool.shutdownNow()
    assert(names(dir) == (0 until 300).flatMap(i => Seq(s"$i", s".$i.crc")).toSet,
      "no temp may survive a lost race")
  }

  test("temps are dot-hidden, so a numeric-name listing never sees them") {
    val dir = tempDir()
    val m = fm(dir)
    val outs = (0 until 3).map(i =>
      m.createAtomic(hp(dir.resolve(i.toString)), overwriteIfPossible = false))
    val temps = names(dir)
    assert(temps.size == 3 &&
      temps.forall(n => n.startsWith(".") && n.endsWith(".tmp")), s"$temps")
    assert(m.list(hp(dir), numeric).isEmpty)
    outs.foreach(_.close())
    assert(m.list(hp(dir), numeric).map(_.getPath.getName).sorted.toSeq ==
      Seq("0", "1", "2"))
    m.delete(hp(dir.resolve("1")))
    m.delete(hp(dir.resolve("missing"))) // deleting nothing is not an error
    assert(names(dir) == Set("0", ".0.crc", "2", ".2.crc"),
      "delete removes the sidecar too")
  }

  test("each file gets the Hadoop .crc sidecar Spark's manager writes") {
    val dir = tempDir()
    val m = fm(dir)
    val sparks = new FileContextBasedCheckpointFileManager(hp(dir), conf)
    val rnd = new scala.util.Random(5)
    // three 512-byte chunks, the last partial
    val body = Array.fill(1500)((rnd.nextInt(26) + 'a').toByte)
    val out = m.createAtomic(hp(dir.resolve("4")), overwriteIfPossible = false)
    out.write(body(0).toInt) // single bytes and slices both feed the sums
    out.write(body, 1, 700)
    body.drop(701).foreach(b => out.write(b.toInt))
    out.close()
    val theirs =
      sparks.createAtomic(hp(dir.resolve("5")), overwriteIfPossible = false)
    theirs.write(body)
    theirs.close()
    assert(Files.readAllBytes(dir.resolve(".4.crc")).sameElements(
      Files.readAllBytes(dir.resolve(".5.crc"))))
    // a checksum-verifying Hadoop reader accepts ours
    val verifying = FileSystem.getLocal(conf)
    def verified(name: String): String = {
      val in = verifying.open(hp(dir.resolve(name)))
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
    assert(verified("4") == new String(body, UTF_8))
    assert(read(sparks, dir.resolve("4")) == verified("4"))
    // overwriting Spark's file leaves no stale sidecar behind
    write(m, dir.resolve("5"), "ours now", overwrite = true)
    assert(verified("5") == "ours now")
    // sidecars never reach a listing
    assert(m.list(hp(dir)).map(_.getPath.getName).sorted.toSeq == Seq("4", "5"))
  }

  test("a file: root is served locally; another scheme by Spark's managers") {
    assert(fm(tempDir()).impl.getClass.getName.endsWith("NioFiles"))
    assert(new LocalCheckpointFiles(new Path(tempDir().toString), conf)
      .impl.getClass.getName.endsWith("NioFiles"), "a scheme-less local path")
    val mock = new Configuration()
    mock.set("fs.mock.impl", classOf[MockSchemeFileSystem].getName)
    mock.setBoolean("fs.mock.impl.disable.cache", true)
    val dir = tempDir()
    val root = new Path(s"mock://${dir.toUri.getPath}")
    val m = new LocalCheckpointFiles(root, mock)
    // FileContext has no `mock:` implementation: Spark's fallback
    assert(m.impl.isInstanceOf[FileSystemBasedCheckpointFileManager], m.impl)
    val out = m.createAtomic(new Path(root, "3"), overwriteIfPossible = false)
    out.write("via delegate".getBytes(UTF_8))
    out.close()
    assert(new String(Files.readAllBytes(dir.resolve("3")), UTF_8) == "via delegate")
    assert(m.list(root, numeric).map(_.getPath.getName).toSeq == Seq("3"))
  }

  test("GraftSession.local sessions carry the manager; a caller's choice stays") {
    val key = LocalCheckpointFiles.ConfKey
    val ours = classOf[LocalCheckpointFiles].getName
    assert(spark.conf.get(key) == ours)
    val s = spark.newSession()
    s.conf.unset(key)
    assert(s.conf.getOption(key).isEmpty)
    LocalCheckpointFiles.install(s)
    assert(s.conf.get(key) == ours)
    val spark0 = classOf[FileContextBasedCheckpointFileManager].getName
    s.conf.set(key, spark0)
    LocalCheckpointFiles.install(s)
    assert(s.conf.get(key) == spark0, "install must not override an explicit value")
  }

  test("a fresh builder session gets the manager from attach, before start") {
    val key = LocalCheckpointFiles.ConfKey
    withExtensionsSession { fresh =>
      // a plain builder's session: nothing names a manager
      fresh.conf.unset(key)
      assert(fresh.conf.getOption(key).isEmpty)
      implicit val sqlCtx = fresh.sqlContext
      import fresh.implicits._
      val dir = tempDir()
      val input = MemoryStream[AudioChunk]
      val q = SessionProcessor.attach(input.toDS(), timeoutMs = 0L).toDF()
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", s"$dir/ckpt").start()
      try {
        input.addData(AudioChunk("s", Array.fill(640)(90.toByte), 1000L, 320L,
          isFinal = true))
        q.processAllAvailable()
        val resolved = CheckpointFileManager.create(new Path(s"$dir/ckpt"),
          q.sparkSession.sessionState.newHadoopConf())
        assert(resolved.isInstanceOf[LocalCheckpointFiles], resolved)
      } finally q.stop()
      assert(fresh.conf.get(key) == classOf[LocalCheckpointFiles].getName)
    }
  }
}
