package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task and job counters of one attribution key (a Spark job group). */
final class SparkCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakExecMem = 0L
  var inputBytes = 0L
  var inputRecords = 0L

  def add(o: SparkCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    runMs += o.runMs; gcMs += o.gcMs; schedDelayMs += o.schedDelayMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; inputBytes += o.inputBytes; inputRecords += o.inputRecords
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }

  def copy(): SparkCounters = { val c = new SparkCounters; c.add(this); c }
}

/** Spark's own task, stage and job metrics, attributed to the job group
  * the benchmark set on the calling thread before each call into a
  * layer. Jobs without a group fall under "". Also keeps one span per
  * job, so the trace shows where each call's Spark work ran.
  */
final class SparkMetrics extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, SparkCounters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()

  private def counters(group: String): SparkCounters =
    byGroup.computeIfAbsent(group, _ => new SparkCounters)

  // job events carry epoch-ms times; spans use the nanoTime clock
  private val epochToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(s => stageGroup.putIfAbsent(s, g))
    jobStart.put(e.jobId, (g, e.time * 1000000L + epochToNano))
    val c = counters(g)
    c.synchronized { c.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0) =>
      jobSpans.add((g, t0, math.max(t0, e.time * 1000000L + epochToNano)))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = counters(stageGroup.getOrDefault(e.stageInfo.stageId, ""))
    c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val info = e.taskInfo
    val c = counters(stageGroup.getOrDefault(e.stageId, ""))
    val duration = if (info.finishTime > 0) info.finishTime - info.launchTime else 0L
    val gettingResult =
      if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
    c.synchronized {
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.schedDelayMs += math.max(0L, duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
    }
  }

  /** Counters per group, read after the listener bus has drained. */
  def snapshot(sc: SparkContext): Map[String, SparkCounters] = {
    org.apache.spark.GraftBenchBus.drain(sc)
    byGroup.asScala.map { case (g, c) => g -> c.synchronized(c.copy()) }.toMap
  }

  def reset(sc: SparkContext): Unit = {
    org.apache.spark.GraftBenchBus.drain(sc)
    byGroup.clear()
    jobSpans.clear()
  }
}

object SparkCounters {
  /** Sum of the counters of every group. */
  def total(m: Map[String, SparkCounters]): SparkCounters = {
    val t = new SparkCounters
    m.values.foreach(t.add)
    t
  }
}

/** One span: a named interval with the span that caused it. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long,
                      endNs: Long)

/** In-memory span buffer, written out when the benchmark ends. Spans are
  * recorded only while `enabled` (the traced passes of a traced run).
  */
final class Trace {
  @volatile var enabled = false
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  def newId(): Long = nextId.incrementAndGet()

  def record(id: Long, parent: Long, name: String, startNs: Long,
             endNs: Long): Unit =
    if (enabled) spans.add(Span(id, parent, name, startNs, endNs))

  def add(parent: Long, name: String, startNs: Long, endNs: Long): Long = {
    val id = newId()
    record(id, parent, name, startNs, endNs)
    id
  }

  def span[T](parent: Long, name: String)(body: Long => T): T = {
    val id = newId()
    val t0 = System.nanoTime()
    try body(id) finally record(id, parent, name, t0, System.nanoTime())
  }

  /** Records `inner` spans under `root`, each beneath the smallest span
    * already placed whose interval contains it.
    */
  def nest(root: Long, rootStart: Long, rootEnd: Long,
           inner: Seq[(String, Long, Long)]): Unit = {
    val placed = mutable.ArrayBuffer((root, rootStart, rootEnd))
    inner.sortBy(s => (s._2, s._2 - s._3)).foreach { case (name, s, e) =>
      val parent = placed.filter(p => p._2 <= s && e <= p._3)
        .minByOption(p => p._3 - p._2).map(_._1).getOrElse(root)
      placed += ((add(parent, name, s, e), s, e))
    }
  }

  /** Self time per layer (the span name's first segment), in ms: each
    * span's duration minus the part of it that its children cover.
    */
  def selfMsByLayer(): Map[String, Double] = {
    val all = spans.asScala.toSeq
    val children = all.groupBy(_.parent)
    all.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = Stats.unionLength(children.getOrElse(s.id, Nil).map(c =>
          (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  def toJson: String = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Stats {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** Total length covered by a set of intervals (overlaps counted once). */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Per-pass samples of named metrics; a run reports each sample's median. */
final class Samples {
  private val m = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  def add(name: String, v: Double): Unit =
    m.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def median(name: String): Double = Stats.median(m.getOrElse(name, Nil))
  def values(name: String): Seq[Double] = m.getOrElse(name, Nil).toSeq
}
