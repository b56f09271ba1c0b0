package lakebench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spans and counters recorded by the benchmark around its own calls into
  * each engine layer. While disabled it records nothing and adds no work.
  * Spans live in memory until [[writeSpans]] at the end of the run; the
  * client is a single thread, so the parent stack needs no locking. */
final class Tracer {
  import Tracer.Span

  var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Long = -1L
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def count(name: String, v: Double): Unit =
    if (enabled) counters(name) = counters.getOrElse(name, 0.0) + v

  def writeSpans(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, op: Long, name: String,
      startNs: Long, endNs: Long)
}

/** Executor-side totals for every job the benchmark tags with its own job
  * group ("lakebench-<t|u>-<kind>-<op>", traced or untraced), kept per
  * (t|u, op kind); jobs outside those groups are ignored.
  * Listener events arrive asynchronously, so callers [[drain]] before
  * reading. */
final class ExecListener extends SparkListener {
  final class Totals {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
    var inputBytes, inputRecords = 0L
  }
  private val stageGroup = new ConcurrentHashMap[Int, String]
  private val totals = new ConcurrentHashMap[String, Totals]
  @volatile private var lastEventNs = System.nanoTime()

  /** "<t|u>-<kind>" of a harness job group; None for other jobs. */
  private def keyOf(group: String): Option[String] =
    Option(group).filter(_.startsWith("lakebench-"))
      .map(g => g.stripPrefix("lakebench-").split("-").take(2).mkString("-"))

  private def totalsFor(key: String): Totals =
    totals.computeIfAbsent(key, _ => new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    lastEventNs = System.nanoTime()
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    keyOf(group).foreach { w =>
      e.stageIds.foreach(stageGroup.put(_, w))
      totalsFor(w).synchronized { totalsFor(w).jobs += 1 }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    lastEventNs = System.nanoTime()
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { w =>
      totalsFor(w).synchronized { totalsFor(w).stages += 1 }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEventNs = System.nanoTime()
    Option(stageGroup.get(e.stageId)).foreach { w =>
      val t = totalsFor(w)
      val m = e.taskMetrics
      t.synchronized {
        t.tasks += 1
        if (m != null) {
          t.runMs += m.executorRunTime
          t.cpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          t.inputBytes += m.inputMetrics.bytesRead
          t.inputRecords += m.inputMetrics.recordsRead
        }
      }
    }
  }

  /** Wait until no listener event has arrived for `quietMs`. */
  def drain(quietMs: Long = 300L): Unit =
    while ((System.nanoTime() - lastEventNs) / 1000000L < quietMs) Thread.sleep(50)

  /** Totals of the traced ("t") or untraced ("u") ops of the given kinds
    * (all kinds when empty). */
  def of(window: String, kinds: Set[String] = Set.empty): Totals = {
    val sum = new Totals
    totals.forEach { (key, t) =>
      val Array(w, kind) = key.split("-", 2)
      if (w == window && (kinds.isEmpty || kinds(kind))) t.synchronized {
        sum.jobs += t.jobs; sum.stages += t.stages; sum.tasks += t.tasks
        sum.runMs += t.runMs; sum.cpuNs += t.cpuNs; sum.gcMs += t.gcMs
        sum.shuffleRead += t.shuffleRead; sum.shuffleWrite += t.shuffleWrite
        sum.spill += t.spill; sum.inputBytes += t.inputBytes
        sum.inputRecords += t.inputRecords
      }
    }
    sum
  }
}
