package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution

/** Task-metric totals of the jobs run under one job group. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, schedDelayMs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var inBytes, inRecords, outBytes, outRecords = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; schedDelayMs += o.schedDelayMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; inBytes += o.inBytes; inRecords += o.inRecords
    outBytes += o.outBytes; outRecords += o.outRecords
  }
}

/** Sums task metrics per job group (`spark.jobGroup.id`). Callbacks
  * run on the listener-bus thread; readers drain the bus first and
  * then read under the same lock. */
final class GroupListener extends SparkListener {
  private val groups = mutable.HashMap.empty[String, Counters]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  private def at(g: String): Counters = groups.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      at(g).jobs += 1
      e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stageGroup.get(e.stageInfo.stageId).foreach(at(_).stages += 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = at(g)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        // the Spark UI's scheduler delay: task wall time not spent
        // deserializing, running or serializing the result
        val d = e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime
        c.schedDelayMs += math.max(0L, d)
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inBytes += m.inputMetrics.bytesRead
        c.inRecords += m.inputMetrics.recordsRead
        c.outBytes += m.outputMetrics.bytesWritten
        c.outRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  def of(g: String): Counters = synchronized {
    val c = new Counters
    groups.get(g).foreach(c += _)
    c
  }
}

/** Outside-in tracer: spans around the benchmark's calls into the
  * program's public functions, each span running under its own job
  * group so the listener's counters land on it. Spans live in memory
  * and are written out when the run ends. When `on` is false every
  * call is a pass-through: the timed run carries no tracing cost. */
final class Tracer(spark: SparkSession, val on: Boolean) {

  final class Span(val id: Int, val name: String, val parent: Int,
                   val start: Long, var end: Long) {
    def seconds: Double = (end - start) / 1e9
  }

  private val sc = spark.sparkContext
  private val nano0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  val spans = new ArrayBuffer[Span]
  private var stack: List[Int] = Nil
  private val listener = new GroupListener
  if (on) sc.addSparkListener(listener)

  private def group(id: Int): String = s"perfbench-$id"

  /** Runs `body` inside a span named `name`; returns its result and the
    * span id (-1 when tracing is off). */
  def span[A](name: String)(body: => A): (A, Int) =
    if (!on) (body, -1)
    else {
      val s = new Span(spans.length, name, stack.headOption.getOrElse(-1),
        System.nanoTime(), 0L)
      spans += s
      stack = s.id :: stack
      sc.setJobGroup(group(s.id), name)
      try (body, s.id)
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p), spans(p).name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Records `qe`'s planning phases (analysis, optimization, planning)
    * as `query.plan` spans, each under the deepest span of `root`'s
    * subtree that contains it, clipped to that span. */
  def phases(qe: QueryExecution, root: Int): Unit = if (on && root >= 0) {
    val tree = subtree(root)
    qe.tracker.phases.values.toSeq.sortBy(_.startTimeMs).foreach { p =>
      val a = nano0 + (p.startTimeMs - epochMs0) * 1000000L
      val b = nano0 + (p.endTimeMs - epochMs0) * 1000000L
      val mid = (a + b) / 2
      val holders = tree.filter(s => s.name != "query.plan" &&
        s.start <= mid && mid <= s.end)
      if (holders.nonEmpty) {
        val h = holders.maxBy(depth)
        val s = new Span(spans.length, "query.plan", h.id,
          math.max(a, h.start), math.min(b, h.end))
        if (s.end > s.start) spans += s
      }
    }
  }

  private def depth(s: Span): Int =
    if (s.parent < 0) 0 else 1 + depth(spans(s.parent))

  def subtree(root: Int): Seq[Span] =
    if (root < 0) Nil
    else spans.toSeq.filter { s =>
      var p = s.id
      while (p > root) p = spans(p).parent
      p == root
    }

  def children(id: Int): Seq[Span] = spans.toSeq.filter(_.parent == id)

  /** Span duration minus the part its children cover. */
  def self(id: Int): Double =
    spans(id).seconds - children(id).map(_.seconds).sum

  /** Counters of one span's own job group. */
  def counters(id: Int): Counters =
    if (id < 0) new Counters else listener.of(group(id))

  /** Counters of a span and everything under it. */
  def total(id: Int): Counters = {
    val c = new Counters
    subtree(id).foreach(s => c += counters(s.id))
    c
  }

  /** Waits for the listener bus so every counter is complete. */
  def settle(): Unit = if (on) BenchBus.drain(sc)

  def close(): Unit = if (on) { settle(); sc.removeSparkListener(listener) }

  /** Spans as JSON-ready rows, with self time. */
  def dump(): Seq[ListMap[String, Any]] = spans.toSeq.map { s =>
    ListMap("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_s" -> (s.start - nano0) / 1e9, "end_s" -> (s.end - nano0) / 1e9,
      "self_s" -> self(s.id))
  }
}
