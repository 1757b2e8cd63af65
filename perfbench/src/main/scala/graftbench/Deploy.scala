package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.SparkSession

import graft.LoadPipeline
import graft.orchestrate.{BlueGreen, Health, Orchestrator, OrchestratorRunner}

/** Shape of one customer's snapshot. Nodes of label k take a contiguous
  * id range; edges of type k take a contiguous index range.
  */
final case class SnapshotSpec(nodes: Long, edges: Long, labels: Seq[String],
                              types: Seq[String], nodeFragments: Int,
                              edgeFragments: Int)

/** Seeded snapshot rows. The same functions write the parquet fragments
  * and compute the counts and checksums the import service must report.
  */
final case class SnapshotGen(seed: Long, spec: SnapshotSpec) {
  private val salt = Checksum.mix(seed * 0x9e3779b97f4a7c15L)

  def nodeId(i: Long): String = "n" + i
  def labelOf(i: Long): String =
    spec.labels((i * spec.labels.size / spec.nodes).toInt)
  /** The raw comma-separated label string stored in the fragment. */
  def rawLabels(i: Long): String = {
    val h = Checksum.mix(salt + i)
    if ((h & 3L) == 0L) labelOf(i) + ",Tagged"
    else if ((h & 15L) == 1L) labelOf(i) + ",Tagged,Hot"
    else labelOf(i)
  }
  def nodeRow(i: Long): (String, String, String, Long) =
    (nodeId(i), rawLabels(i), "name-" + (Checksum.mix(salt ^ i) >>> 40), i % 1000)

  def typeOf(j: Long): String = spec.types((j * spec.types.size / spec.edges).toInt)
  def edgeRow(j: Long): (String, String, String, Long) = {
    val h = Checksum.mix(salt + spec.nodes + j)
    (nodeId((h >>> 1) % spec.nodes), nodeId((Checksum.mix(h) >>> 1) % spec.nodes),
      typeOf(j), j % 100)
  }

  def range(n: Long, parts: Int, k: Int): (Long, Long) =
    (k.toLong * n / parts, (k + 1).toLong * n / parts)

  /** (nodeSum, edgeSum) as the import service should fold them. */
  def expectedSums(): (Long, Long) = {
    val ns = java.util.stream.LongStream.range(0, spec.nodes).parallel()
      .map(i => Checksum.node(nodeId(i), rawLabels(i).split(",", -1))).sum()
    val es = java.util.stream.LongStream.range(0, spec.edges).parallel()
      .map { j => val (s, d, t, _) = edgeRow(j); Checksum.edge(s, d, t) }.sum()
    (ns, es)
  }

  /** Write the snapshot's fragments under `dir/nodes/{Label}` and
    * `dir/relationships/{TYPE}`.
    */
  def write(spark: SparkSession, dir: Path): Unit = {
    import spark.implicits._
    val g = this
    spec.labels.indices.foreach { k =>
      val (lo, hi) = range(spec.nodes, spec.labels.size, k)
      spark.range(lo, hi, 1, spec.nodeFragments).as[Long].map(i => g.nodeRow(i))
        .toDF("id", "labels", "name", "score")
        .write.parquet(dir.resolve("nodes").resolve(spec.labels(k)).toString)
    }
    spec.types.indices.foreach { k =>
      val (lo, hi) = range(spec.edges, spec.types.size, k)
      spark.range(lo, hi, 1, spec.edgeFragments).as[Long].map(j => g.edgeRow(j))
        .toDF("src", "dst", "type", "weight")
        .write.parquet(dir.resolve("relationships").resolve(spec.types(k)).toString)
    }
  }
}

/** Timeline of one deployed snapshot, filled in by the orchestrator's
  * callbacks (all times System.nanoTime).
  */
final class SnapshotRec(val customer: String, val ts: Long, val landNs: Long) {
  val db: String = BlueGreen.dbName(customer, ts)
  @volatile var healthNs = 0L
  @volatile var loadStartNs = 0L
  @volatile var loadEndNs = 0L
  @volatile var lastStmtNs = 0L
  @volatile var nodeCount = -1L
  @volatile var edgeCount = -1L
  @volatile var error: Option[String] = None
}

/** deploy_bulk: snapshots land in a watched directory and
  * the program's OrchestratorRunner deploys them through LoadPipeline into
  * the benchmark's import service and catalog.
  */
final class Deploy(ctx: Ctx, customers: Seq[String], spec: SnapshotSpec,
                   workers: Int) extends Workload {
  private val spark = ctx.spark
  private val sc = spark.sparkContext
  private val templates = ctx.dir.resolve("templates")
  private val landing = ctx.dir.resolve("landing")
  private val staging = ctx.dir.resolve("staging")
  private val gen = SnapshotGen(ctx.seed, spec)
  private var expected = (0L, 0L)
  private val catalog = new Catalog
  private val recs = new ConcurrentHashMap[String, SnapshotRec]()
  private val toDelete = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val lastTaskEnd = new ConcurrentHashMap[Thread, java.lang.Long]()
  private val handoffs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
  private val healthAt = new ThreadLocal[java.lang.Long]
  private val current = new ThreadLocal[SnapshotRec]
  @volatile private var passStartNs = 0L
  private var runner: OrchestratorRunner = _
  private var landed = 0L
  private var deployed = 0
  private val baseTs = 1700000000000L
  private val errors = mutable.ArrayBuffer[String]()

  private def group(db: String) = "load:" + db

  def setup(): Unit = {
    // one seeded snapshot; every customer lands its own copy of it
    gen.write(spark, templates)
    expected = gen.expectedSums()
    customers.foreach { c =>
      Files.createDirectories(landing.resolve(c))
      // the catalog carries two earlier deployments per customer, so every
      // pass switches the alias and keep-2 drops one database
      catalog.seed(BlueGreen.dbName(c, baseTs - 2), None)
      catalog.seed(BlueGreen.dbName(c, baseTs - 1), Some(c))
    }
    Files.createDirectories(staging)
    ImportService.onDatabaseCreated = catalog.create
    catalog.onDrop = db => toDelete.add(db)
    val maxDbs = customers.size * 3L + 1L
    runner = new OrchestratorRunner(
      base = landing,
      healthCheck = () => {
        val now = System.nanoTime()
        val t = Thread.currentThread()
        val prev = lastTaskEnd.get(t)
        if (prev != null && prev >= passStartNs) handoffs.add((now - prev) / 1e6)
        healthAt.set(now)
        Health.combine(Seq(Health.checkDbCount(catalog.databases.size, maxDbs)))
      },
      load = task => load(task),
      existingDbs = () => catalog.databases,
      currentAliases = () => catalog.aliasMap,
      execute = stmt => {
        catalog.execute(stmt)
        val now = System.nanoTime()
        Option(current.get).foreach(_.lastStmtNs = now)
        lastTaskEnd.put(Thread.currentThread(), now)
      },
      numWorkers = workers,
      scanIntervalMs = 50L,
      statusIntervalMs = 60000L,
      maxRetries = 0)
    runner.start()
  }

  private def load(task: Orchestrator.SnapshotTask): Either[String, String] = {
    val rec = recs.get(BlueGreen.dbName(task.customerId, task.timestamp))
    rec.healthNs = healthAt.get
    rec.loadStartNs = System.nanoTime()
    current.set(rec)
    sc.setJobGroup(group(rec.db), rec.db, interruptOnCancel = false)
    try {
      val r = LoadPipeline.loadDatabase(spark, task.customerId, task.timestamp,
        Path.of(task.dataPath), () => new BenchTransport, concurrency = 4)
      rec.nodeCount = r.nodeCount
      rec.edgeCount = r.relationshipCount
      Right(r.database)
    } catch {
      case e: Throwable =>
        rec.error = Some(e.toString)
        Left(e.toString)
    } finally {
      rec.loadEndNs = System.nanoTime()
      sc.clearJobGroup()
    }
  }

  private def listDir(p: Path): List[Path] =
    Using.resource(Files.list(p))(_.iterator().asScala.toList)

  /** A customer's copy of the snapshot, as hard links, ready to land. */
  private def stage(c: String, ts: Long): Path = {
    val stage = staging.resolve(s"$c-$ts")
    Seq("nodes", "relationships").foreach { kind =>
      listDir(templates.resolve(kind)).foreach { sub =>
        val dst = Files.createDirectories(stage.resolve(kind).resolve(sub.getFileName))
        listDir(sub).filter(_.getFileName.toString.endsWith(".parquet"))
          .foreach(f => Files.createLink(dst.resolve(f.getFileName), f))
      }
    }
    stage
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    Using.resource(Files.walk(p))(_.iterator().asScala.toList).reverse.foreach(Files.delete)
  }

  def runPass(pass: Int, out: PassOut): Unit = {
    // retention: snapshot dirs of dropped databases leave the landing zone
    while (!toDelete.isEmpty) BlueGreen.parseDb(toDelete.poll()).foreach {
      case (c, ts) => deleteTree(landing.resolve(c).resolve(ts.toString))
    }
    deployed += 1
    val ts = baseTs + deployed
    val staged = customers.map(c => c -> stage(c, ts))
    val stmts0 = catalog.statements.get
    handoffs.clear()
    passStartNs = System.nanoTime()
    out.start()
    val passRecs = staged.map { case (c, stage) =>
      val rec = new SnapshotRec(c, ts, System.nanoTime())
      recs.put(rec.db, rec)
      Files.move(stage, landing.resolve(c).resolve(ts.toString),
        StandardCopyOption.ATOMIC_MOVE)
      rec
    }
    landed += passRecs.size
    // a pass is complete when every landed snapshot completed or failed
    // (stopAndDrain is not a completion signal: see README)
    val deadline = System.nanoTime() + 60000000000L
    def done: Long = {
      val s = runner.stats.snapshot()
      s("tasks_completed").asInstanceOf[Long] + s("tasks_failed").asInstanceOf[Long]
    }
    while (done < landed && System.nanoTime() < deadline) Thread.sleep(1L)
    out.stop()
    val lost = landed - done
    if (lost > 0) {
      errors += s"pass $pass: $lost snapshot(s) neither completed nor failed"
      landed -= lost
    }
    out.attempted += passRecs.size
    out.failed += passRecs.count(r => r.error.isDefined || r.lastStmtNs == 0L)
    checkPass(pass, passRecs)
    measure(passRecs, catalog.statements.get - stmts0, out)
  }

  private def checkPass(pass: Int, rs: Seq[SnapshotRec]): Unit = rs.foreach { r =>
    val st = ImportService.state(r.db)
    val (ns, es) = expected
    def fail(msg: String): Unit = errors += s"pass $pass ${r.db}: $msg"
    r.error.foreach(e => fail(s"load failed: $e"))
    if (st.nodeRows.get != spec.nodes || r.nodeCount != spec.nodes)
      fail(s"nodes ${st.nodeRows.get}/${r.nodeCount}, expected ${spec.nodes}")
    if (st.edgeRows.get != spec.edges || r.edgeCount != spec.edges)
      fail(s"edges ${st.edgeRows.get}/${r.edgeCount}, expected ${spec.edges}")
    if (st.nodeSum.get != ns) fail("node id/label checksum differs")
    if (st.edgeSum.get != es) fail("edge checksum differs")
    val order = Seq("ABORT", "CREATE_DATABASE", "NODE_LOAD_DONE", "RELATIONSHIP_LOAD_DONE")
    if (st.actionNames != order) fail(s"actions ${st.actionNames.mkString(",")}")
  }

  private def measure(rs: Seq[SnapshotRec], stmts: Long, out: PassOut): Unit = {
    val groups = out.spark
    val ok = rs.filter(r => r.error.isEmpty && r.lastStmtNs > 0)
    val states = rs.map(r => ImportService.state(r.db))
    val rows = states.map(s => s.nodeRows.get + s.edgeRows.get).sum
    ok.foreach(r => out.op((r.lastStmtNs - r.healthNs) / 1e9))
    out.rows += rows
    def ms(ns: Long) = ns / 1e6
    out.layer("orchestrate.queue_wait_ms", Stats.median(ok.map(r => ms(r.healthNs - r.landNs))))
    out.layer("orchestrate.handoff_ms",
      if (handoffs.isEmpty) 0.0 else Stats.median(handoffs.asScala.map(_.doubleValue)))
    out.layer("orchestrate.switch_ms", Stats.median(ok.map(r => ms(r.lastStmtNs - r.loadEndNs))))
    out.layer("orchestrate.statements", stmts.toDouble)
    out.layer("pipeline.load_ms", Stats.median(ok.map(r => ms(r.loadEndNs - r.loadStartNs))))
    out.layer("pipeline.jobs_per_load", Stats.median(rs.map(r =>
      groups.get(group(r.db)).map(_.jobs.toDouble).getOrElse(0.0))))
    out.layer("sources.prep_ms", Stats.median(states.flatMap { s =>
      val created = s.actions.asScala.find(_._1 == "CREATE_DATABASE").map(_._3)
      val firstPut = s.putLog.asScala.filter(_._1 == "node").map(_._2).minOption
      for (c <- created; p <- firstPut) yield ms(p - c)
    }))
    out.layer("sources.input_bytes", rs.map(r =>
      groups.get(group(r.db)).map(_.inputBytes).getOrElse(0L)).sum.toDouble)
    val puts = states.flatMap(_.putLog.asScala)
    out.layer("sources.input_records", rs.map(r =>
      groups.get(group(r.db)).map(_.inputRecords).getOrElse(0L)).sum.toDouble)
    out.layer("sinks.put_ms", puts.map(p => ms(p._3 - p._2)).sum)
    out.layer("sinks.puts", puts.size.toDouble)
    out.layer("sinks.rows_per_put", if (puts.isEmpty) 0.0 else rows.toDouble / puts.size)
    out.layer("sinks.write_skew", Stats.median(states.flatMap { s =>
      s.putLog.asScala.groupBy(_._1).values.map { ps =>
        val d = ps.map(p => (p._3 - p._2).toDouble)
        d.max / math.max(Stats.median(d), 1.0)
      }
    }))
    out.layer("sinks.action_ms", states.flatMap(_.actions.asScala)
      .map(a => ms(a._3 - a._2)).sum)
    if (out.traced) rs.foreach(r => traceSnapshot(r, out))
  }

  /** Spans of one snapshot, nested by interval containment: task →
    * load/switch → Spark jobs and import-service calls.
    */
  private def traceSnapshot(r: SnapshotRec, out: PassOut): Unit = {
    val tr = out.trace
    if (r.lastStmtNs == 0L) return
    val task = tr.add(out.passSpan, "orchestrate.task", r.healthNs, r.lastStmtNs)
    val loadSpan = tr.add(task, "pipeline.load", r.loadStartNs, r.loadEndNs)
    tr.add(task, "orchestrate.switch", r.loadEndNs, r.lastStmtNs)
    val st = ImportService.state(r.db)
    val inner = mutable.ArrayBuffer[(String, Long, Long)]()
    out.jobSpans(group(r.db)).foreach(j => inner += (("spark.job", j._1, j._2)))
    for (c <- st.actions.asScala.find(_._1 == "CREATE_DATABASE");
         p <- st.putLog.asScala.filter(_._1 == "node").map(_._2).minOption)
      inner += (("sources.prep", c._3, p))
    st.actions.asScala.foreach(a => inner += (("sinks.action", a._2, a._3)))
    st.putLog.asScala.foreach(p => inner += (("sinks.put", p._2, p._3)))
    tr.nest(loadSpan, r.loadStartNs, r.loadEndNs, inner.toSeq)
  }

  def check(): Seq[String] = {
    val dbs = catalog.databases
    val aliases = catalog.aliasMap
    val end = customers.flatMap { c =>
      val mine = dbs.flatMap(BlueGreen.parseDb).filter(_._1 == c).map(_._2)
      val newest = if (mine.isEmpty) None else Some(BlueGreen.dbName(c, mine.max))
      (if (mine.size > 2) Seq(s"$c keeps ${mine.size} databases") else Nil) ++
        (if (newest.isEmpty || aliases.get(c) != newest)
          Seq(s"$c alias ${aliases.get(c)} is not its newest database $newest") else Nil)
    }
    errors.toSeq ++ catalog.violations.asScala ++ end
  }

  def close(): Unit = if (runner != null) runner.stopAndDrain(1000L)
}
