package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer of the program. `parent` is 0 for a root
  * span; spans of one request share `req`. */
final class Span(val id: Long, val parent: Long, val layer: String,
    val name: String, val req: String, val startNs: Long) {
  @volatile var endNs: Long = 0L
  def durNs: Long = endNs - startNs
}

/** Executor-side work attributed to one span through the job property
  * the span sets on its thread. */
final class Work {
  val jobs = new AtomicInteger
  val stages = new AtomicInteger
  val tasks = new AtomicInteger
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val inputBytes = new AtomicLong
}

/** Span recorder for the traced run. With tracing off every `span` call
  * is just the wrapped expression: the untraced run records nothing and
  * installs no listener.
  *
  * Spans live in memory until [[dump]]. Each open span sets the
  * `perfbench.span` local property on its thread, so every job the call
  * submits carries the span id; [[JobListener]] reads it back and
  * charges jobs, stages, tasks, task time, shuffle and spill to that
  * span. Threads started inside a span (the streaming query's runner)
  * inherit the property, so micro-batch jobs land on the span that
  * started the query. */
object Trace {
  val SpanProp = "perfbench.span"

  @volatile private var on = false
  private var sc: SparkContext = _
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  /** Caller-thread time spent inside span bookkeeping. */
  private val bookNs = new AtomicLong
  val jobs = new JobListener

  def install(context: SparkContext, traced: Boolean): Unit = {
    sc = context
    on = traced
    if (traced) sc.addSparkListener(jobs)
  }

  def span[A](layer: String, name: String, req: String = "")(f: => A): A =
    if (!on) f
    else {
      val b0 = System.nanoTime()
      val outer = stack.get
      // a thread's first span hangs under the span its creator had open
      // (Spark local properties are inherited by child threads)
      val parent = outer.headOption.map(_.id).getOrElse(
        Option(sc.getLocalProperty(SpanProp)).map(_.toLong).getOrElse(0L))
      val s = new Span(ids.incrementAndGet(), parent, layer, name, req, b0)
      stack.set(s :: outer)
      val prevProp = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, s.id.toString)
      bookNs.addAndGet(System.nanoTime() - b0)
      try f
      finally {
        val e0 = System.nanoTime()
        s.endNs = e0
        sc.setLocalProperty(SpanProp, prevProp)
        stack.set(outer)
        spans.add(s)
        bookNs.addAndGet(System.nanoTime() - e0)
      }
    }

  /** A measured phase: a root span whose subtree is what the per-layer
    * totals cover, plus the codegen compile time spent inside it. */
  def phase[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val c0 = Stats.codegenMs
      try span("phase", name)(f)
      finally codegenInPhases += Stats.codegenMs - c0
    }

  @volatile var codegenInPhases = 0.0

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Ids of the spans under (and including) spans matching `root`. */
  def subtree(root: Span => Boolean): Set[Long] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    def walk(ids: Seq[Long]): Seq[Long] =
      ids ++ ids.flatMap(i => walk(kids.getOrElse(i, Nil).map(_.id)))
    walk(ss.filter(root).map(_.id)).toSet
  }

  /** Caller-thread span bookkeeping plus listener callback time. */
  def overheadMs: Double = (bookNs.get + jobs.callbackNs.get) / 1e6

  /** Self time per span: its duration minus the part of it covered by
    * its children (children of one parent may overlap when they run on
    * several threads, so the covered part is the union of intervals). */
  def selfNs(all: Seq[Span]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Spans as JSON lines, with self time and the work charged to each. */
  def dump(path: java.nio.file.Path): Unit = {
    val ss = all
    val self = selfNs(ss)
    val lines = ss.map { s =>
      val w = jobs.workOf(s.id)
      Json.obj(Seq(
        "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "req" -> s.req, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "self_ns" -> self(s.id),
        "jobs" -> w.jobs.get, "stages" -> w.stages.get,
        "tasks" -> w.tasks.get, "task_ms" -> w.runMs.get,
        "shuffle_bytes" -> w.shuffleBytes.get,
        "spill_bytes" -> w.spillBytes.get))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** Charges Spark scheduler events to the span named by each job's
  * `perfbench.span` property (0 = outside any span), and keeps the
  * run-wide scheduling delay (job submitted → its first task launched). */
final class JobListener extends SparkListener {
  private val byspan = new ConcurrentHashMap[Long, Work]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobSubmitMs = new ConcurrentHashMap[Int, Long]()
  private val started = ConcurrentHashMap.newKeySet[Int]()
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  /** (span, job submitted → first task launched, ms) per job. */
  val schedDelayMs = new ConcurrentLinkedQueue[(Long, Long)]()
  val events = new AtomicLong
  val callbackNs = new AtomicLong
  private val open = new AtomicInteger

  def workOf(span: Long): Work = byspan.computeIfAbsent(span, _ => new Work)

  /** Work summed over the given spans. */
  def total(spans: Set[Long]): Work = {
    val t = new Work
    byspan.asScala.filter { case (k, _) => spans(k) }.values.foreach { w =>
      t.jobs.addAndGet(w.jobs.get); t.stages.addAndGet(w.stages.get)
      t.tasks.addAndGet(w.tasks.get); t.runMs.addAndGet(w.runMs.get)
      t.cpuNs.addAndGet(w.cpuNs.get); t.gcMs.addAndGet(w.gcMs.get)
      t.shuffleBytes.addAndGet(w.shuffleBytes.get)
      t.spillBytes.addAndGet(w.spillBytes.get)
      t.inputBytes.addAndGet(w.inputBytes.get)
    }
    t
  }

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    events.incrementAndGet()
    try f finally callbackNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    open.incrementAndGet()
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Trace.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    workOf(span).jobs.incrementAndGet()
    jobSubmitMs.put(e.jobId, e.time)
    jobSpan.put(e.jobId, span)
    e.stageInfos.foreach { si =>
      stageSpan.put(si.stageId, span)
      stageJob.putIfAbsent(si.stageId, e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    open.decrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    workOf(stageSpan.getOrDefault(e.stageInfo.stageId, 0L))
      .stages.incrementAndGet()
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = timed {
    val job = stageJob.get(e.stageId)
    if (job != null && started.add(job)) {
      val sub = jobSubmitMs.get(job)
      if (sub != null)
        schedDelayMs.add((jobSpan.getOrDefault(job, 0L), e.taskInfo.launchTime - sub))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val span = stageSpan.getOrDefault(e.stageId, 0L)
    val w = workOf(span)
    w.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      w.runMs.addAndGet(m.executorRunTime)
      w.cpuNs.addAndGet(m.executorCpuTime)
      w.gcMs.addAndGet(m.jvmGCTime)
      w.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
      w.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      w.inputBytes.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  /** Listener events arrive asynchronously: wait until no job is open
    * and the event count has been still for a moment. */
  def drain(timeoutMs: Long = 5000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
        (open.get > 0 || events.get != last)) {
      last = events.get
      Thread.sleep(100)
    }
  }
}
