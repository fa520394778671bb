package perfbench

import java.security.MessageDigest
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{AnnIvfIndex, FuzzyVocabIndex, HybridRetrieval,
  InvertedTextIndex}

/** `serve`: the read path of the index operators under a closed loop of
  * `Clients` clients, each in its own FAIR pool.
  *
  *  - set-up: build the serving indexes (`InvertedTextIndex` with its
  *    positional and forward companions, `AnnIvfIndex`, `FuzzyVocabIndex`)
  *    over the corpus documents and embeddings;
  *  - fresh phase: every request of the seeded mix (one per leg: search,
  *    phrase, snippet, hybrid, prf, mmr, fuzzy) is constructed, planned
  *    and executed from scratch;
  *  - prepared phase: for half of `seconds`, clients re-execute the
  *    prepared plans in a seeded order;
  *  - checks: every fresh response is non-empty, and every prepared
  *    execution of a request returns exactly the rows its fresh
  *    execution returned. */
object Serve {
  val Clients = 4
  val DocsPerRequest = 16
  val Text = "serve_text_idx"
  val Ann = "serve_ann_idx"
  val Fuzzy = "serve_fuzzy"
  val Tables = Seq(Text, s"${Text}_meta", s"${Text}_pos", s"${Text}_fwd",
    Ann, s"${Ann}_cent", s"${Fuzzy}_vocab", s"${Fuzzy}_keys")

  /** Order-free digest of a response: sorted per-row digests. */
  def digest(rows: Array[InternalRow], schema: StructType): String = {
    val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(schema)
    val md = MessageDigest.getInstance("MD5")
    rows.map {
      case u: UnsafeRow => u.getBytes.map("%02x".format(_)).mkString
      case r => conv(r).toString
    }.sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString + s"/${rows.length}"
  }

  private def fetch(rdd: RDD[InternalRow]): Array[InternalRow] =
    rdd.map(_.copy()).collect()

  final class Prepared(val req: Gen.Request, val rdd: RDD[InternalRow],
      val schema: StructType, val expect: String, val rows: Int)

  def run(spark: SparkSession, o: Opts): Result = {
    val res = new Result("serve")
    val docs = spark.read.parquet(s"${o.corpus}/documents.parquet")
    val emb = spark.read.parquet(s"${o.corpus}/embeddings.parquet")

    // ---- set-up: index builds ----
    Session.dropTables(spark, o.work, Tables)
    def timed(name: String)(f: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      Trace.span("operators", s"$name.build")(f)
      name -> (System.nanoTime() - t0) / 1e9
    }
    val builds = Seq(
      timed("text_index")(InvertedTextIndex.build(docs, Text,
        positional = true, forward = true)),
      timed("ann_index")(AnnIvfIndex.build(emb.select(col("vec_id"),
        col("label").cast("long").as("cell"), col("embedding")), Ann)),
      timed("fuzzy_index")(FuzzyVocabIndex.build(docs, Fuzzy)))
    res.metric("setup_s", builds.map(_._2).sum, "s")
    Log.mark("indexes built")

    // ---- requests ----
    val text: Map[Long, String] = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val vecIds = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    val vecOf: Map[Long, AnyRef] = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.get(1).asInstanceOf[AnyRef]).toMap
    val requests = Gen.serveRequests(o.seed, text.keys.toIndexedSeq.sorted,
      text.keys.filter(vecIds).toIndexedSeq.sorted, DocsPerRequest)
    val embType = emb.schema("embedding").dataType

    def frame(rows: Seq[Row], fields: (String, DataType)*): DataFrame =
      spark.createDataFrame(rows.asJava,
        StructType(fields.map { case (n, t) => StructField(n, t) }))
    def words(d: Long): Array[String] = text(d).split(" ")
    def build(r: Gen.Request): DataFrame = {
      val queries = frame(r.docs.map(d => Row(d, text(d))),
        "q_doc" -> LongType, "text" -> StringType)
      r.leg match {
        case "search" => InvertedTextIndex.search(queries, Text)
        case "phrase" =>
          InvertedTextIndex.phraseSearch(frame(r.docs.map(d =>
            Row(d, words(d).slice(2, 5).mkString(" "))),
            "q_doc" -> LongType, "phrase" -> StringType), Text)
        case "snippet" => InvertedTextIndex.snippets(queries, docs, Text)
        case "hybrid" =>
          HybridRetrieval.search(queries, frame(r.docs.map(d => Row(d, vecOf(d))),
            "q_doc" -> LongType, "embedding" -> embType), Text, Ann)
        case "prf" => InvertedTextIndex.prfSearch(queries, Text)
        case "mmr" => InvertedTextIndex.mmrSearch(queries, Text)
        case "fuzzy" =>
          // a mid-length word of the query doc with one letter dropped
          FuzzyVocabIndex.search(frame(r.docs.map { d =>
            val w = words(d).filter(_.length >= 4).sorted.headOption
              .getOrElse(words(d).maxBy(_.length))
            Row(d, w.take(1) + w.drop(2))
          }, "q_doc" -> LongType, "probe" -> StringType), Fuzzy)
      }
    }

    /** Run `work` on `Clients` threads, each taking request indexes from
      * `next` until it returns None; returns (request, latency ns, ok) per
      * completed request and the phase wall. */
    def clients(next: () => Option[Int], work: Int => Boolean)
        : (Seq[(Int, Long, Boolean)], Long) = {
      val done = new ConcurrentLinkedQueue[(Int, Long, Boolean)]()
      val t0 = System.nanoTime()
      val ts = (0 until Clients).map { c =>
        val t = new Thread(() => {
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"client-$c")
          var n = next()
          while (n.isDefined) {
            val s0 = System.nanoTime()
            val ok = try work(n.get) catch {
              case e: Throwable =>
                System.err.println(s"[serve] request ${n.get} failed: $e")
                false
            }
            done.add((n.get, System.nanoTime() - s0, ok))
            n = next()
          }
        }, s"perfbench-client-$c")
        t.start(); t
      }
      ts.foreach(_.join())
      (done.asScala.toSeq, System.nanoTime() - t0)
    }

    // ---- fresh phase ----
    val prepared = new java.util.concurrent.ConcurrentHashMap[Int, Prepared]()
    val freshSplit = new ConcurrentLinkedQueue[(String, Double, Double, Double)]()
    val freshQueue = new AtomicInteger(0)
    val (fresh, freshNs) = Trace.phase("fresh")(clients(
      () => Some(freshQueue.getAndIncrement()).filter(_ < requests.size),
      { i =>
        val r = requests(i)
        val id = s"fresh-${r.id}"
        Trace.span("serve", s"${r.leg}.fresh", id) {
          val c0 = System.nanoTime()
          val df = Trace.span("operators", s"${r.leg}.construct", id)(build(r))
          val c1 = System.nanoTime()
          Trace.span("catalyst", s"${r.leg}.plan", id)(df.queryExecution.executedPlan)
          val c2 = System.nanoTime()
          val rdd = df.queryExecution.toRdd
          val rows = Trace.span("executor", s"${r.leg}.exec", id)(fetch(rdd))
          val c3 = System.nanoTime()
          freshSplit.add((r.leg, Stats.ms(c1 - c0), Stats.ms(c2 - c1), Stats.ms(c3 - c2)))
          prepared.put(i, new Prepared(r, rdd, df.schema, digest(rows, df.schema),
            rows.length))
          true
        }
      }))

    Log.mark("fresh phase done")
    // ---- prepared phase ----
    val mix = Gen.preparedMix(o.seed, requests.size)
    val stopAt = System.nanoTime() + o.seconds * 500000000L
    val seq = new AtomicInteger(0)
    val (prep, prepNs) = Trace.phase("prepared")(clients(
      () => mix.synchronized {
        if (System.nanoTime() < stopAt) Some(mix.next()) else None
      },
      { i =>
        val p = prepared.get(i)
        val id = s"prepared-${seq.getAndIncrement()}"
        Trace.span("serve", s"${p.req.leg}.prepared", id) {
          val rows = Trace.span("executor", s"${p.req.leg}.exec", id)(fetch(p.rdd))
          digest(rows, p.schema) == p.expect
        }
      }))

    val all = fresh ++ prep
    res.attempted = all.size
    res.failed = all.count(!_._3)
    res.check(res.failed == 0, s"${res.failed} of ${all.size} responses differ from the reference")
    res.check(prepared.size == requests.size, "a fresh request did not complete")
    val answered = prepared.values.asScala.count(_.rows > 0)
    res.check(answered == requests.size,
      s"${requests.size - answered} of ${requests.size} fresh responses are empty")

    val lat = prep.map(x => Stats.ms(x._2))
    val qps = prep.size / (prepNs / 1e9)
    val freshLat = fresh.map(x => Stats.ms(x._2))
    res.metric("lat_p50_ms", Stats.median(lat), "ms")
    // p95: about 200 prepared requests leave 10 samples beyond it
    res.metric("lat_tail_ms", Stats.pct(lat, 0.95), "ms")
    res.metric("throughput_per_s", qps, "1/s")

    res.note("serve_prepared_qps", qps, "1/s")
    res.note("serve_prepared_p50_ms", Stats.median(lat), "ms")
    res.note("serve_prepared_p95_ms", Stats.pct(lat, 0.95), "ms")
    res.note("serve_prepared_p99_ms", Stats.pct(lat, 0.99), "ms")
    res.note("serve_prepared_samples", lat.size.toDouble, "count")
    res.note("serve_fresh_p50_ms", Stats.median(freshLat), "ms")
    res.note("serve_fresh_max_ms", freshLat.max, "ms")
    res.note("serve_fresh_samples", freshLat.size.toDouble, "count")
    res.note("serve_fresh_wall_s", freshNs / 1e9, "s")
    res.note("serve_response_rows", prepared.values.asScala.map(_.rows).sum.toDouble,
      "count")

    if (o.trace) {
      Trace.jobs.drain()
      val split = freshSplit.asScala.toSeq
      val freshW = Trace.jobs.total(Trace.subtree(_.name == "fresh"))
      val prepIds = Trace.subtree(_.name == "prepared")
      val prepW = Trace.jobs.total(prepIds)
      val delays = Trace.jobs.schedDelayMs.asScala.toSeq
        .collect { case (s, d) if prepIds(s) => d.toDouble }
      res.note("serve.jobs_per_fresh", freshW.jobs.get.toDouble / fresh.size, "count")
      res.note("serve.jobs_per_prepared", prepW.jobs.get.toDouble / prep.size, "count")
      res.note("serve.tasks_per_prepared", prepW.tasks.get.toDouble / prep.size, "count")
      if (delays.nonEmpty)
        res.note("serve.sched_delay_ms_p99", Stats.pct(delays, 0.99), "ms")
      Gen.Legs.foreach { leg =>
        split.filter(_._1 == leg).foreach { case (_, c, p, e) =>
          res.note(s"operators.$leg.construct_ms_p50", c, "ms")
          res.note(s"operators.$leg.plan_ms_p50", p, "ms")
          res.note(s"operators.$leg.exec_ms_p50", e, "ms")
        }
        val pl = prep.filter(x => requests(x._1).leg == leg).map(x => Stats.ms(x._2))
        if (pl.nonEmpty) res.note(s"operators.$leg.prepared_ms_p50", Stats.median(pl), "ms")
      }
      builds.foreach { case (n, secs) => res.note(s"operators.$n.build_s", secs, "s") }
      res.ops = prep.size + fresh.size
      res.opSplit = Map(
        "coord" -> split.map(_._2), "plan" -> split.map(_._3),
        "exec" -> lat)
    }
    res
  }
}
