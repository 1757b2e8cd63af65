package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Ctx(spark: SparkSession, seed: Long, dir: Path)

trait Workload {
  /** Generates the inputs; the program sees only the files written here. */
  def setup(): Unit
  /** One pass: the timed part runs between `out.start()` and `out.stop()`;
    * outputs are checked afterwards.
    */
  def runPass(pass: Int, out: PassOut): Unit
  /** Errors found by the output checks, over every pass and at the end. */
  def check(): Seq[String]
  def close(): Unit
}

/** One half of the analytics workload. `work` runs inside the pass's timed
  * window; the step it returns checks the outputs and records per-layer
  * samples after the window closes.
  */
trait AnalyticsPart {
  def setup(): Unit
  def work(pass: Int, out: PassOut): () => Unit
  def check(): Seq[String]
}

/** analytics: the graph loops, then the training-data chain, in one pass
  * on one Spark session.
  */
final class Analytics(parts: Seq[AnalyticsPart]) extends Workload {
  def setup(): Unit = parts.foreach(_.setup())
  def runPass(pass: Int, out: PassOut): Unit = {
    out.start()
    val after = parts.map(_.work(pass, out))
    out.stop()
    after.foreach(_())
    out.flushSums()
  }
  def check(): Seq[String] = parts.flatMap(_.check())
  def close(): Unit = ()
}

/** What one pass reports: its timing, operation counts, per-pass samples
  * of end-to-end and per-layer metrics, and (in traced passes) spans.
  */
final class PassOut(val trace: Trace, val traced: Boolean, val passSpan: Long,
                    metrics: SparkMetrics, session: SparkSession) {
  var attempted = 0L
  var failed = 0L
  var startNs = 0L
  var endNs = 0L
  /** Wall seconds of each operation the pass completed. */
  val opSeconds = mutable.ArrayBuffer[Double]()
  /** Input rows the pass consumed. */
  var rows = 0L
  val layerSamples = mutable.LinkedHashMap[String, Double]()
  private val sums = mutable.LinkedHashMap[String, Double]()

  def start(): Unit = startNs = System.nanoTime()
  def stop(): Unit = endNs = System.nanoTime()
  def seconds: Double = (endNs - startNs) / 1e9

  def op(seconds: Double): Unit = opSeconds += seconds
  def layer(name: String, v: Double): Unit = layerSamples(name) = v
  /** Adds to a per-pass sum, reported by `flushSums`. */
  def add(name: String, v: Double): Unit = sums(name) = sums.getOrElse(name, 0.0) + v
  def flushSums(): Unit = sums.foreach { case (k, v) => layer(k, v) }

  /** Spark counters per job group for this pass (drains the listener bus). */
  lazy val spark: Map[String, SparkCounters] = metrics.snapshot(session.sparkContext)

  def jobSpans(group: String): Seq[(Long, Long)] = {
    spark // drained
    metrics.jobSpans.asScala.filter(_._1 == group).map(j => (j._2, j._3)).toSeq
  }
}

object Main {
  val PerLayerNames: Seq[String] = {
    val graphOps = Seq("louvainTwoLevel", "pageRank")
    val trainOps = Seq("qualityFilter", "exact", "minHashLsh", "mixtureResample",
      "packSequences")
    Seq("orchestrate.queue_wait_ms", "orchestrate.handoff_ms", "orchestrate.switch_ms",
      "orchestrate.statements", "pipeline.load_ms", "pipeline.jobs_per_load",
      "sources.prep_ms", "sources.input_bytes", "sources.input_records", "sinks.put_ms", "sinks.puts",
      "sinks.rows_per_put", "sinks.write_skew", "sinks.action_ms") ++
      graphOps.flatMap(op => Seq("ms", "jobs", "stages", "shuffle_bytes", "spill_bytes")
        .map(m => s"graph.$op.$m")) ++
      trainOps.flatMap(op => Seq("ms", "jobs", "shuffle_bytes").map(m => s"train.$op.$m")) ++
      Seq("spark.jobs", "spark.sched_delay_ms", "spark.shuffle_write_bytes",
        "spark.shuffle_read_bytes", "spark.spill_bytes", "spark.peak_exec_mem_bytes",
        "spark.gc_ms", "spark.stages", "spark.tasks", "spark.run_ms") ++
      Seq("orchestrate", "pipeline", "sources", "sinks", "graph", "train", "spark")
        .map(l => s"$l.self_ms") ++
      Seq("trace.overhead_s")
  }

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf("--" + name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    val launchMs = arg(args, "launch-ms").map(_.toLong).getOrElse(System.currentTimeMillis())
    val workload = arg(args, "workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "trace").contains("1")
    val dir = Path.of(arg(args, "dir").getOrElse(sys.error("--dir is required")))
    val traceOut = arg(args, "trace-out")
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the program's own log lines go to a file, keeping stdout for the result
    graft.util.Log.setup(logFile = Some(dir.resolve("graft.log")), console = false)
    def since(): String = f"${(System.currentTimeMillis() - launchMs) / 1000.0}%.1f s"
    System.err.println(s"[perfbench] session ready at ${since()}")
    val metrics = new SparkMetrics
    spark.sparkContext.addSparkListener(metrics)
    val ctx = Ctx(spark, seed, dir.resolve("inputs"))
    Files.createDirectories(ctx.dir)

    // Warm-up passes per workload: JIT and codegen keep shortening passes
    // for several passes; cheap passes need more of them to settle.
    val (wl: Workload, warmUpPasses) = workload match {
      case "deploy_bulk" => new Deploy(ctx, Seq("acme", "globex"),
        SnapshotSpec(nodes = 250000L, edges = 1000000L,
          labels = Seq("Person", "Company", "Product", "Address"),
          types = Seq("WORKS_AT", "BOUGHT", "LIVES_AT"),
          nodeFragments = 4, edgeFragments = 6), workers = 1) -> 6
      case "analytics" => new Analytics(Seq(
        new GraphLoops(ctx, orders = 4000, parts = 600, customers = 400),
        new TrainingData(ctx, families = 700))) -> 4
      case other => sys.error(s"unknown workload $other")
    }

    val trace = new Trace
    val samples = new Samples
    val layers = new Samples
    var attempted = 0L
    var failed = 0L
    val tracedPassS = mutable.ArrayBuffer[Double]()
    val plainPassS = mutable.ArrayBuffer[Double]()
    var result = ""
    try {
      wl.setup()
      System.err.println(s"[perfbench] inputs ready at ${since()}")
      // warm-up passes: JIT, codegen and first-touch costs land in set-up
      (1 to warmUpPasses).foreach { w =>
        metrics.reset(spark.sparkContext)
        val out = new PassOut(trace, false, 0L, metrics, spark)
        wl.runPass(-w, out)
        System.err.println(f"[perfbench] warm-up pass $w: ${out.seconds}%.3f s")
      }
      val setupS = (System.currentTimeMillis() - launchMs) / 1000.0
      System.err.println(s"[perfbench] warm-up done at ${since()}")

      val t0 = System.nanoTime()
      var pass = 1
      // whole passes until the measuring time is spent, and at least three
      // so the median is not a mean of two; a traced run alternates traced
      // and untraced passes to measure the overhead
      val minPasses = if (traced) 4 else 3
      while (pass <= minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
        val on = traced && pass % 2 == 1
        metrics.reset(spark.sparkContext)
        trace.enabled = on
        val passSpan = trace.newId()
        val out = new PassOut(trace, on, passSpan, metrics, spark)
        wl.runPass(pass, out)
        trace.enabled = false
        attempted += out.attempted
        failed += out.failed
        val total = SparkCounters.total(out.spark)
        samples.add("pass_s", out.seconds)
        samples.add("task_cpu_s", total.cpuNs / 1e9)
        samples.add("op_s", out.opSeconds.sum / math.max(1, out.opSeconds.size))
        samples.add("rows_per_s", out.rows / out.seconds)
        (if (on) tracedPassS else plainPassS) += out.seconds
        System.err.println(f"[perfbench] pass $pass: ${out.seconds}%.3f s " +
          out.layerSamples.map { case (k, v) => f"$k=$v%.1f" }.mkString(" "))
        if (on || !traced) {
          out.layerSamples.foreach { case (k, v) => layers.add(k, v) }
          layers.add("spark.jobs", total.jobs.toDouble)
          layers.add("spark.stages", total.stages.toDouble)
          layers.add("spark.tasks", total.tasks.toDouble)
          layers.add("spark.run_ms", total.runMs.toDouble)
          layers.add("spark.sched_delay_ms", total.schedDelayMs.toDouble)
          layers.add("spark.shuffle_write_bytes", total.shuffleWrite.toDouble)
          layers.add("spark.shuffle_read_bytes", total.shuffleRead.toDouble)
          layers.add("spark.spill_bytes", total.spill.toDouble)
          layers.add("spark.peak_exec_mem_bytes", total.peakExecMem.toDouble)
          layers.add("spark.gc_ms", total.gcMs.toDouble)
        }
        if (on) {
          trace.enabled = true
          trace.record(passSpan, 0L, "pass", out.startNs, out.endNs)
          addJobSpans(trace, metrics, passSpan, out)
          trace.enabled = false
        }
        pass += 1
      }
      val errors = wl.check()
      errors.take(20).foreach(e => System.err.println(s"[perfbench] check failed: $e"))

      val metricsJson: Seq[(String, Double, String)] =
        if (!traced) {
          Seq(("setup_s", setupS, "s"), ("pass_s", samples.median("pass_s"), "s"),
            ("task_cpu_s", samples.median("task_cpu_s"), "s"),
            ("op_s", samples.median("op_s"), "s"),
            ("rows_per_s", samples.median("rows_per_s"), "rows/s"))
        } else {
          val tracedPasses = math.max(1, tracedPassS.size)
          val self = trace.selfMsByLayer()
          PerLayerNames.map { n =>
            val v =
              if (n == "trace.overhead_s") Stats.median(tracedPassS) - Stats.median(plainPassS)
              else if (n.endsWith(".self_ms")) self.getOrElse(n.stripSuffix(".self_ms"), 0.0) / tracedPasses
              else layers.median(n)
            (n, v, unitOf(n))
          }
        }
      traceOut.foreach { p =>
        val (shaMbps, loopS) = canary()
        System.err.println(f"[perfbench] canary: sha256 $shaMbps%.0f MB/s, loop $loopS%.3f s")
        Files.writeString(Path.of(p),
          s"""{"canary": {"sha256_mbps": $shaMbps, "loop_s": $loopS}, "spans": ${trace.toJson}}""")
      }
      System.err.println(s"[perfbench] passes=${pass - 1} pass_s=" +
        samples.values("pass_s").map(v => f"$v%.3f").mkString(","))
      val ms = metricsJson.map { case (n, v, u) =>
        s""""$n": {"value": ${jsonNum(v)}, "unit": "$u"}"""
      }.mkString("{", ", ", "}")
      result = s"""{"correct": ${errors.isEmpty}, "attempted": $attempted, "failed": $failed, "metrics": $ms}"""
    } finally {
      wl.close()
      spark.stop()
    }
    println(result)
  }

  /** Host-speed reading taken the way graft.Bench takes it: single-thread
    * SHA-256 throughput over a fixed buffer and a fixed xorshift loop.
    */
  private def canary(): (Double, Double) = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](1 << 20)
    java.util.Arrays.fill(buf, 0x5a.toByte)
    md.digest(buf)
    val t0 = System.nanoTime()
    (1 to 512).foreach(_ => md.update(buf))
    md.digest()
    val shaMbps = 512 / ((System.nanoTime() - t0) / 1e9)
    var x = 88172645463325252L
    val t1 = System.nanoTime()
    var j = 0L
    while (j < 200000000L) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; j += 1 }
    val loopS = (System.nanoTime() - t1) / 1e9
    if (x == 0) System.err.println("[perfbench] canary loop degenerate")
    (shaMbps, loopS)
  }

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def unitOf(n: String): String =
    if (n.endsWith("_ms")) "ms"
    else if (n.endsWith("_s")) "s"
    else if (n.endsWith("bytes")) "bytes"
    else if (n.endsWith(".ms")) "ms"
    else if (n.endsWith("skew")) "ratio"
    else if (n.endsWith("rows_per_put")) "rows"
    else "count"

  /** Spark job spans whose group names a span of this pass (one call into
    * the graph or train layer) become that span's children.
    */
  private def addJobSpans(trace: Trace, metrics: SparkMetrics, passSpan: Long,
                          out: PassOut): Unit = {
    out.spark
    val calls = trace.spans.asScala.filter(_.parent == passSpan).groupBy(_.name)
    metrics.jobSpans.asScala.foreach { case (g, s, e) =>
      calls.get(g).foreach { cs =>
        cs.find(c => c.startNs - 1000000L <= s && s <= c.endNs)
          .foreach(c => trace.add(c.id, "spark.job", s, e))
      }
    }
  }
}
