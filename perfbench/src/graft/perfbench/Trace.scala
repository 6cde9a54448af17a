package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Spark work counters of one attribution key (a span id, or a whole
  * iteration). Every field except the CPU and GC times depends only on
  * the data and the plan, so it repeats exactly between runs of a seed. */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  /** Shuffle records written by jobs of SQL executions started from
    * `DedupStore.commitDay` — the store commit's own exchange. */
  var commitShuffleRecords = 0L

  def +=(o: Work): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleRecords += o.shuffleRecords
    spillBytes += o.spillBytes; inputBytes += o.inputBytes
    commitShuffleRecords += o.commitShuffleRecords
  }
}

/** The benchmark's own listener: attributes every job, and every task's
  * metrics, to the job group that was set when the job was submitted.
  * [[Tracer]] sets one group per span, so counters land on the innermost
  * span that caused the work. */
final class CounterListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val commitStages = mutable.Set.empty[Int]
  private val commitExecutions = mutable.Set.empty[String]
  val byGroup = mutable.Map.empty[String, Work]

  private def work(g: String) = byGroup.getOrElseUpdate(g, new Work)

  /** A SQL execution's start event carries the driver call stack that
    * started it (`spark.callstack.depth` frames). */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
        if s.details.contains("DedupStore$.commitDay(") =>
      synchronized(commitExecutions += s.executionId.toString)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val g = prop("spark.jobGroup.id").getOrElse("")
    val commit = prop("spark.sql.execution.id").exists(commitExecutions)
    work(g).jobs += 1
    e.stageInfos.foreach { s =>
      stageGroup.getOrElseUpdate(s.stageId, g)
      if (commit) commitStages += s.stageId
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val w = work(stageGroup.getOrElse(e.stageId, ""))
      w.tasks += 1
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      w.spillBytes += m.diskBytesSpilled
      w.inputBytes += m.inputMetrics.bytesRead
      if (commitStages(e.stageId))
        w.commitShuffleRecords += m.shuffleWriteMetrics.recordsWritten
    }
  }
}

/** One traced interval. `iter` is the measured iteration it belongs to;
  * `parent` is the enclosing span's id, or -1. */
final case class Span(id: Int, name: String, parent: Int, iter: Int,
    t0: Long, var t1: Long = 0L)

/** Spans around the benchmark's calls into the engine's modules, and the
  * counter listener's attachment. Spans are kept in memory and written
  * out once, at the end of the run. A counted iteration has the listener
  * attached but records no span: its jobs carry no job group, and their
  * counters are the whole iteration's ([[iterWork]]). A spanned
  * iteration also records spans and sets one job group per span. While
  * neither is on, [[span]] runs its body untouched. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val listener = new CounterListener
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Spark work of each counted iteration, by iteration index. */
  val iterWork = mutable.Map.empty[Int, Work]
  private var stack = List.empty[Span]
  private var counting = false
  private var _on = false
  var iter = 0

  /** Whether spans are being recorded. */
  def on: Boolean = _on

  /** Starts iteration `i`: plain (no listener), counted, or spanned. */
  def begin(i: Int, count: Boolean, spans: Boolean): Unit = {
    iter = i
    if (count || spans) { sc.addSparkListener(listener); counting = true }
    _on = spans
  }

  /** Ends the iteration: waits for the listener bus, files a counted
    * iteration's ungrouped work under its index, detaches the listener. */
  def end(): Unit = if (counting) {
    org.apache.spark.BenchBus.drain(sc)
    sc.removeSparkListener(listener)
    listener.synchronized(listener.byGroup.remove("")).foreach { w =>
      if (!_on) iterWork(iter) = w
    }
    counting = false
    _on = false
  }

  def span[T](name: String)(body: => T): T =
    if (!_on) body
    else {
      val s = Span(spans.length, name, stack.headOption.fold(-1)(_.id), iter, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s"span-${s.id}", name)
      try body
      finally {
        s.t1 = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  def seconds(s: Span): Double = (s.t1 - s.t0) / 1e9

  /** Self time: the span's duration minus the time its children cover
    * (children run on the same thread, so they never overlap). */
  def selfSeconds(s: Span): Double =
    seconds(s) - spans.iterator.filter(_.parent == s.id).map(seconds).sum

  def work(s: Span): Work =
    listener.synchronized(listener.byGroup.getOrElse(s"span-${s.id}", new Work))

  /** Work of a span and every span under it. */
  def totalWork(s: Span): Work = {
    val w = new Work
    w += work(s)
    spans.iterator.filter(_.parent == s.id).foreach(c => w += totalWork(c))
    w
  }

  /** The span tree as JSON lines, one span each, with self times and
    * counters. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.iterator.map { s =>
      val w = work(s)
      f"""{"id":${s.id},"parent":${s.parent},"iter":${s.iter},"name":"${s.name}",""" +
        f""""s":${seconds(s)}%.6f,"self_s":${selfSeconds(s)}%.6f,"jobs":${w.jobs},""" +
        f""""tasks":${w.tasks},"task_cpu_s":${w.cpuNs / 1e9}%.6f,"gc_s":${w.gcMs / 1e3}%.3f,""" +
        f""""shuffle_write_bytes":${w.shuffleWriteBytes},"shuffle_records":${w.shuffleRecords},""" +
        f""""commit_shuffle_records":${w.commitShuffleRecords},"spill_bytes":${w.spillBytes},""" +
        f""""input_bytes":${w.inputBytes}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
