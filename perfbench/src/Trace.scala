package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Counters the Spark listener accumulates for one span (or one trigger). */
final class Counters {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val waitMs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val inputBytes = new AtomicLong
  val inputRecords = new AtomicLong
  val spill = new AtomicLong
  val resultBytes = new AtomicLong
  val gcMs = new AtomicLong
  val retries = new AtomicLong

  def add(o: Counters): Unit = {
    jobs.addAndGet(o.jobs.get); stages.addAndGet(o.stages.get); tasks.addAndGet(o.tasks.get)
    runMs.addAndGet(o.runMs.get); waitMs.addAndGet(o.waitMs.get)
    shuffleWrite.addAndGet(o.shuffleWrite.get); inputBytes.addAndGet(o.inputBytes.get)
    inputRecords.addAndGet(o.inputRecords.get); spill.addAndGet(o.spill.get)
    resultBytes.addAndGet(o.resultBytes.get); gcMs.addAndGet(o.gcMs.get)
    retries.addAndGet(o.retries.get)
  }
}

final case class Span(id: Int, parent: Int, iter: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder plus the listeners that attribute Spark work to
  * spans. The current span id travels to Spark as a thread-local job
  * property, so every job, stage, task and byte lands on the span whose
  * call submitted it; jobs of a streaming trigger are also keyed by the
  * trigger's batch id. Nothing is written until [[dump]]. */
final class Tracer(sc: SparkContext, var enabled: Boolean) {
  private val SpanKey = "perfbench.span"
  private val BatchKey = "streaming.sql.batchId"
  private val nextId = new AtomicInteger(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  val perSpan = new ConcurrentHashMap[Int, Counters]()
  val perBatch = new ConcurrentHashMap[Long, Counters]()
  val total = new Counters
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  private val stageSpan = new ConcurrentHashMap[Int, (Int, Long, Long)]() // span, batch, submit ms
  private val jobsStarted = new AtomicLong
  private val jobsEnded = new AtomicLong
  private val lastEventNs = new AtomicLong(System.nanoTime())

  private def counters(span: Int): Counters = perSpan.computeIfAbsent(span, _ => new Counters)
  private def batchCounters(b: Long): Counters = perBatch.computeIfAbsent(b, _ => new Counters)

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEventNs.set(System.nanoTime()); jobsStarted.incrementAndGet()
      val p = Option(e.properties)
      val span = p.flatMap(x => Option(x.getProperty(SpanKey))).map(_.toInt).getOrElse(0)
      val batch = p.flatMap(x => Option(x.getProperty(BatchKey))).map(_.toLong).getOrElse(-1L)
      total.jobs.incrementAndGet(); counters(span).jobs.incrementAndGet()
      if (batch >= 0) batchCounters(batch).jobs.incrementAndGet()
      e.stageInfos.foreach(s => stageSpan.put(s.stageId, (span, batch, 0L)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEventNs.set(System.nanoTime()); jobsEnded.incrementAndGet()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      lastEventNs.set(System.nanoTime())
      val p = Option(e.properties)
      val span = p.flatMap(x => Option(x.getProperty(SpanKey))).map(_.toInt).getOrElse(0)
      val batch = p.flatMap(x => Option(x.getProperty(BatchKey))).map(_.toLong).getOrElse(-1L)
      val submit = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      stageSpan.put(e.stageInfo.stageId, (span, batch, submit))
      total.stages.incrementAndGet(); counters(span).stages.incrementAndGet()
      if (batch >= 0) batchCounters(batch).stages.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEventNs.set(System.nanoTime())
      val (span, batch, submit) = stageSpan.getOrDefault(e.stageId, (0, -1L, 0L))
      val targets = Seq(total, counters(span)) ++
        (if (batch >= 0) Seq(batchCounters(batch)) else Nil)
      val info = e.taskInfo
      val m = Option(e.taskMetrics)
      targets.foreach { c =>
        c.tasks.incrementAndGet()
        if (info.attemptNumber > 0 || info.failed || info.killed) c.retries.incrementAndGet()
        if (submit > 0) c.waitMs.addAndGet(math.max(0L, info.launchTime - submit))
        m.foreach { t =>
          c.runMs.addAndGet(t.executorRunTime)
          c.shuffleWrite.addAndGet(t.shuffleWriteMetrics.bytesWritten)
          c.inputBytes.addAndGet(t.inputMetrics.bytesRead)
          c.inputRecords.addAndGet(t.inputMetrics.recordsRead)
          c.spill.addAndGet(t.memoryBytesSpilled + t.diskBytesSpilled)
          c.resultBytes.addAndGet(t.resultSize)
          c.gcMs.addAndGet(t.jvmGCTime)
        }
      }
    }
  }

  val queryListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Runs `body` inside a new span of the current iteration. */
  def span[A](name: String, iter: Int)(body: => A): A = if (!enabled) body else {
    val id = nextId.getAndIncrement()
    val parent = stack.headOption.getOrElse(0)
    val prevProp = sc.getLocalProperty(SpanKey)
    stack = id :: stack
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(SpanKey, prevProp)
      spans.synchronized { spans += Span(id, parent, iter, name, t0, t1) }
    }
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Self time: the span minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = allSpans.filter(_.parent == s.id)
    s.seconds - kids.map(_.seconds).sum
  }

  /** Sum of the counters of the matching spans, their descendants included. */
  def countersOf(pred: Span => Boolean): Counters = {
    val ids = allSpans.filter(pred).map(_.id).toSet
    def under(id: Int): Set[Int] = {
      val kids = allSpans.filter(_.parent == id).map(_.id)
      Set(id) ++ kids.flatMap(under)
    }
    val all = ids.flatMap(under)
    val c = new Counters
    all.foreach(i => Option(perSpan.get(i)).foreach(c.add))
    c
  }

  /** Listener events are delivered asynchronously; wait until every started
    * job has ended and the bus has been quiet for a moment. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() < deadline &&
      (jobsEnded.get < jobsStarted.get || System.nanoTime() - lastEventNs.get < 300000000L))
      Thread.sleep(50)
  }

  /** Writes the spans as JSON lines, with their self time and counters. */
  def dump(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try allSpans.sortBy(_.id).foreach { s =>
      val c = Option(perSpan.get(s.id)).getOrElse(new Counters)
      w.println(s"""{"id":${s.id},"parent":${s.parent},"iter":${s.iter},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)},""" +
        s""""jobs":${c.jobs.get},"tasks":${c.tasks.get},"input_bytes":${c.inputBytes.get},""" +
        s""""shuffle_write_bytes":${c.shuffleWrite.get}}""")
    } finally w.close()
  }
}
