package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-side work counts between two points of a run. */
final case class Counts(jobs: Long, tasks: Long, taskMs: Long,
                        shuffleBytes: Long, spillBytes: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, tasks - o.tasks,
    taskMs - o.taskMs, shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes)
}

object Counts { val Zero: Counts = Counts(0, 0, 0, 0, 0) }

/** A listener the benchmark registers itself: job, task, shuffle and
  * spill counts, plus per-stage task times for the skew ratio. Listener
  * events arrive asynchronously, so [[snapshot]] first waits until every
  * started job has reported its end (task ends precede their job's end
  * on the bus). */
final class SparkCounters extends SparkListener {
  private val jobsStarted = new AtomicLong
  private val jobsEnded = new AtomicLong
  private val tasks = new AtomicLong
  private val taskMs = new AtomicLong
  private val shuffle = new AtomicLong
  private val spill = new AtomicLong
  private val stageTaskMs =
    new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = jobsStarted.incrementAndGet()
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    tasks.incrementAndGet()
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      shuffle.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      stageTaskMs.computeIfAbsent(e.stageId, _ => new java.util.concurrent.ConcurrentLinkedQueue[Long])
        .add(m.executorRunTime)
    }
  }

  def snapshot(): Counts = {
    val deadline = System.nanoTime() + 10_000_000_000L
    while (jobsEnded.get < jobsStarted.get && System.nanoTime() < deadline) Thread.sleep(2)
    Counts(jobsStarted.get, tasks.get, taskMs.get, shuffle.get, spill.get)
  }

  /** the largest ratio of a stage's slowest task to its median task,
    * over every stage with at least two tasks and a slowest task of
    * 100 ms or more (shorter stages are scheduling noise). */
  def taskSkewMax(): Double = {
    import scala.jdk.CollectionConverters._
    stageTaskMs.values.asScala.map(_.asScala.toVector.sorted).filter(ts => ts.size >= 2 && ts.last >= 100)
      .map(ts => ts.last.toDouble / math.max(1L, ts(ts.size / 2)))
      .foldLeft(1.0)(math.max)
  }

  def resetSkew(): Unit = stageTaskMs.clear()
}

object SparkCounters {
  def install(sc: SparkContext): SparkCounters = {
    val c = new SparkCounters
    sc.addSparkListener(c)
    c
  }
}

/** One timed interval of the traced run: a layer's call, with the
  * Spark work done inside it. `parent` is the index of the enclosing
  * span, -1 for the root. */
final case class Span(name: String, parent: Int, startNs: Long, endNs: Long,
                      counts: Counts) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records nested spans around calls into the program, kept in memory
  * until the run ends. */
final class Tracer(counters: Option[SparkCounters]) {
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var bookkeepingNs = 0L

  private def now(): Counts = {
    val t = System.nanoTime()
    try counters.map(_.snapshot()).getOrElse(Counts.Zero)
    finally bookkeepingNs += System.nanoTime() - t
  }

  /** time spent inside the tracer itself, waiting for listener events. */
  def overheadNs: Long = bookkeepingNs

  def span[T](name: String)(f: => T): T = {
    val idx = spans.size
    val c0 = now()
    spans += Span(name, open.headOption.getOrElse(-1), System.nanoTime(), 0L, Counts.Zero)
    open = idx :: open
    try f
    finally {
      open = open.tail
      val c1 = now()
      spans(idx) = spans(idx).copy(endNs = System.nanoTime(), counts = c1 - c0)
    }
  }

  def result: Vector[Span] = spans.toVector
}

object Spans {
  /** self time of every span, in ns: its duration minus the part of its
    * interval covered by the union of its children's intervals. */
  def selfNs(spans: IndexedSeq[Span]): IndexedSeq[Long] = spans.indices.map { i =>
    val s = spans(i)
    val kids = spans.filter(_.parent == i)
      .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- kids) {
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    (s.endNs - s.startNs) - covered
  }

  /** the part of span `root`'s wall time that no span below it accounts
    * for: its duration minus the self times of all its descendants. */
  def unattributedNs(spans: IndexedSeq[Span], root: Int): Long = {
    val self = selfNs(spans)
    def under(i: Int): Boolean = spans(i).parent == root || (spans(i).parent >= 0 && under(spans(i).parent))
    (spans(root).endNs - spans(root).startNs) - spans.indices.filter(under).map(self).sum
  }
}
