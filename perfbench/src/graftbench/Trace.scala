package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spark work attributed to one span (or a set of spans). */
final case class SparkWork(
    jobs: Int = 0,
    tasks: Int = 0,
    failedTasks: Int = 0,
    taskMs: Long = 0L,
    gcMs: Long = 0L,
    inputBytes: Long = 0L,
    shuffleReadBytes: Long = 0L,
    shuffleWriteBytes: Long = 0L,
    spillBytes: Long = 0L) {
  def +(o: SparkWork): SparkWork = SparkWork(jobs + o.jobs, tasks + o.tasks,
    failedTasks + o.failedTasks, taskMs + o.taskMs, gcMs + o.gcMs,
    inputBytes + o.inputBytes, shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes)
}

/** One timed region of the benchmark around a call into the engine. */
final case class Span(id: Int, name: String, parent: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def millis: Double = (endNs - startNs) / 1e6
}

/** Spans around public engine calls, plus (when `enabled`) a SparkListener
  * that assigns every job, stage and task to the innermost span open on
  * the submitting thread. Attribution rides a SparkContext local property,
  * which Spark copies onto each job it starts and which threads started
  * inside a span inherit. Spans are kept in memory until the run ends.
  *
  * With `enabled` false no listener is registered: spans still time the
  * calls, so the end-to-end metrics of an untraced run come from the same
  * timers.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val Key = "graftbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var current = 0

  private val listener = new SpanListener(Key)
  if (enabled) sc.addSparkListener(listener)

  /** Time `f` as a child of the currently open span. */
  def span[A](name: String)(f: => A): (A, Span) = {
    val id = nextId
    nextId += 1
    val parent = current
    current = id
    if (enabled) sc.setLocalProperty(Key, id.toString)
    val (s0, m0) = (System.nanoTime(), System.currentTimeMillis())
    try {
      val a = f
      val s = Span(id, name, parent, s0, System.nanoTime(), m0, System.currentTimeMillis())
      spans += s
      (a, s)
    } finally {
      current = parent
      if (enabled) sc.setLocalProperty(Key, if (parent == 0) null else parent.toString)
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** The span and every span nested inside it. */
  def subtree(root: Span): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def walk(id: Int): Set[Int] =
      Set(id) ++ kids.getOrElse(id, Nil).flatMap(c => walk(c.id))
    walk(root.id)
  }

  /** Wait until the listener bus has delivered every job end, so the
    * per-span figures are complete. Events arrive asynchronously; this
    * waits for a quiet period with no job left open.
    */
  def settle(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10000000000L
    var lastCount = -1L
    var quietSince = System.nanoTime()
    while (System.nanoTime() < deadline &&
        (listener.openJobs > 0 || System.nanoTime() - quietSince < 300000000L)) {
      val c = listener.events
      if (c != lastCount) { lastCount = c; quietSince = System.nanoTime() }
      Thread.sleep(20)
    }
  }

  /** Spark work done inside the given spans (and nothing else). */
  def work(ids: Set[Int]): SparkWork = listener.work(ids)

  def work(s: Span): SparkWork = work(subtree(s))

  /** Milliseconds of the span during which no job of its subtree ran: time
    * the driver spent planning, collecting and waiting outside Spark jobs.
    */
  def driverMs(s: Span): Double = {
    val ivs = listener.jobIntervals(subtree(s))
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    ivs.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    math.max(0.0, (s.endMs - s.startMs) - covered.toDouble)
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}

private final class SpanListener(key: String) extends SparkListener {
  private val jobSpan = mutable.HashMap.empty[Int, Int]
  private val jobTimes = mutable.HashMap.empty[Int, (Long, Long)]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val perSpan = mutable.HashMap.empty[Int, SparkWork]
  @volatile var events: Long = 0L
  @volatile var openJobs: Int = 0

  private def add(span: Int, w: SparkWork): Unit =
    perSpan(span) = perSpan.getOrElse(span, SparkWork()) + w

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(key)))
      .map(_.toInt).getOrElse(0)
    jobSpan(e.jobId) = span
    jobTimes(e.jobId) = (e.time, Long.MaxValue)
    e.stageIds.foreach(stageSpan(_) = span)
    add(span, SparkWork(jobs = 1))
    openJobs += 1
    events += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTimes.get(e.jobId).foreach { case (a, _) => jobTimes(e.jobId) = (a, e.time) }
    openJobs -= 1
    events += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val span = stageSpan.getOrElse(e.stageId, 0)
    val failed = e.reason != org.apache.spark.Success
    val m = Option(e.taskMetrics)
    add(span, SparkWork(
      tasks = 1,
      failedTasks = if (failed) 1 else 0,
      taskMs = m.map(_.executorRunTime).getOrElse(0L),
      gcMs = m.map(_.jvmGCTime).getOrElse(0L),
      inputBytes = m.map(_.inputMetrics.bytesRead).getOrElse(0L),
      shuffleReadBytes = m.map(x => x.shuffleReadMetrics.remoteBytesRead +
        x.shuffleReadMetrics.localBytesRead).getOrElse(0L),
      shuffleWriteBytes = m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      spillBytes = m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L)))
    events += 1
  }

  def work(ids: Set[Int]): SparkWork = synchronized {
    ids.iterator.flatMap(perSpan.get).foldLeft(SparkWork())(_ + _)
  }

  def jobIntervals(ids: Set[Int]): Seq[(Long, Long)] = synchronized {
    jobSpan.collect { case (j, s) if ids(s) => jobTimes(j) }.toSeq
  }
}
