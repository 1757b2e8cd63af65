package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.ops.Graph

/** The graph half of the analytics workload: the iterative graph
  * operators on two seeded TPC-H-shaped
  * bipartite graphs, orders–parts (one edge per lineitem, 1–7 per order)
  * and orders–customers (one edge per order). Each op's output is checked
  * against a driver-side computation over the same edge list.
  */
final class GraphLoops(ctx: Ctx, orders: Int, parts: Int, customers: Int)
    extends AnalyticsPart {
  private val spark = ctx.spark
  private val sc = spark.sparkContext
  private val graphs = mutable.LinkedHashMap[String, Array[(Long, Long)]]()
  private val errors = mutable.ArrayBuffer[String]()
  private val ops = Seq("louvainTwoLevel", "pageRank")
  // One op per graph at few rounds: each op costs mostly per-Spark-job
  // overhead, and a pass must stay a few seconds long; coreness and
  // labelPropagation are left out for the same reason (see README).
  private val PageRankIters = 2
  private val plan = Seq("lineitem" -> "louvainTwoLevel", "orders" -> "pageRank")

  def setup(): Unit = {
    val rnd = new scala.util.Random(ctx.seed)
    val partBase = orders.toLong
    val custBase = orders.toLong + parts
    val lineitems = mutable.ArrayBuffer[(Long, Long)]()
    val placed = mutable.ArrayBuffer[(Long, Long)]()
    (0 until orders).foreach { o =>
      (1 to 1 + rnd.nextInt(7)).foreach(_ =>
        lineitems += ((o.toLong, partBase + rnd.nextInt(parts))))
      placed += ((o.toLong, custBase + rnd.nextInt(customers)))
    }
    graphs("lineitem") = lineitems.toArray
    graphs("orders") = placed.toArray
    import spark.implicits._
    graphs.foreach { case (name, es) =>
      es.toSeq.toDF("src", "dst").repartition(4)
        .write.parquet(ctx.dir.resolve(name).toString)
    }
  }

  private def call(g: String, op: String, edges: DataFrame, out: PassOut): Array[Row] = {
    sc.setJobGroup("graph." + op, g, interruptOnCancel = false)
    try out.trace.span(out.passSpan, "graph." + op) { _ =>
      val t0 = System.nanoTime()
      val rows = (op match {
        case "louvainTwoLevel" => Graph.louvainTwoLevel(edges, rounds1 = 1, rounds2 = 1)
        case "pageRank" => Graph.pageRank(edges, iters = PageRankIters)
      }).collect()
      val dt = System.nanoTime() - t0
      out.add("graph." + op + ".ms", dt / 1e6)
      out.op(dt / 1e9)
      rows
    } finally sc.clearJobGroup()
  }

  def work(pass: Int, out: PassOut): () => Unit = {
    val results = plan.map { case (g, op) =>
      val edges = spark.read.parquet(ctx.dir.resolve(g).toString)
      (g, op, call(g, op, edges, out))
    }
    out.attempted += results.size
    out.rows += plan.map(p => graphs(p._1).length).sum
    () => after(pass, results, out)
  }

  private def after(pass: Int, results: Seq[(String, String, Array[Row])],
                    out: PassOut): Unit = {
    results.foreach { case (g, op, rows) =>
      val es = graphs(g)
      val bad = op match {
        case "louvainTwoLevel" => GraphCheck.louvain(es, rows)
        case "pageRank" => GraphCheck.pageRank(es, rows, PageRankIters)
      }
      bad.foreach(b => errors += s"pass $pass $g.$op: $b")
    }
    val groups = out.spark
    ops.foreach { op =>
      val c = groups.getOrElse("graph." + op, new SparkCounters)
      out.layer(s"graph.$op.jobs", c.jobs.toDouble)
      out.layer(s"graph.$op.stages", c.stages.toDouble)
      out.layer(s"graph.$op.shuffle_bytes", (c.shuffleWrite + c.shuffleRead).toDouble)
      out.layer(s"graph.$op.spill_bytes", c.spill.toDouble)
    }
  }

  def check(): Seq[String] = errors.toSeq
}

/** Driver-side references for the graph operators' outputs. */
object GraphCheck {
  private def undirected(es: Array[(Long, Long)]): Map[Long, Set[Long]] = {
    val adj = mutable.HashMap[Long, mutable.Set[Long]]()
    es.foreach { case (a, b) =>
      if (a != b) {
        adj.getOrElseUpdate(a, mutable.HashSet[Long]()) += b
        adj.getOrElseUpdate(b, mutable.HashSet[Long]()) += a
      }
    }
    adj.map { case (k, v) => k -> v.toSet }.toMap
  }

  /** Exact integer power iteration of the program's fixed-point PageRank
    * recurrence: r'(v) = 15·S/100 + (85 · Σ_{(u,v)} r(u) div outdeg(u)) div 100.
    */
  def pageRank(es: Array[(Long, Long)], rows: Array[Row], iters: Int): Seq[String] = {
    val scale = Graph.Scale
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    val outdeg = es.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    var r = nodes.map(_ -> scale).toMap
    (0 until iters).foreach { _ =>
      val cin = mutable.HashMap[Long, Long]().withDefaultValue(0L)
      es.foreach { case (u, v) => cin(v) += r(u) / outdeg(u) }
      r = nodes.map(v => v -> (15L * scale / 100L + (85L * cin(v)) / 100L)).toMap
    }
    val got = rows.map(x => x.getLong(0) -> x.getLong(1)).toMap
    val wrong = nodes.count(v => !got.get(v).contains(r(v)))
    (if (got.size != nodes.length) Seq(s"${got.size} ranks for ${nodes.length} nodes") else Nil) ++
      (if (wrong > 0) Seq(s"$wrong ranks differ from the power iteration") else Nil)
  }

  /** Labelling property plus modularity no lower than the singleton
    * partition's, compared exactly as Σ_c (4m·e_c − d_c²) over 4m².
    */
  def louvain(es: Array[(Long, Long)], rows: Array[Row]): Seq[String] = {
    val adj = undirected(es)
    val ids = rows.map(_.getLong(0))
    val lbl = rows.map(x => x.getLong(0) -> x.getLong(1)).toMap
    val base = (if (ids.length != ids.distinct.length) Seq("a node is labelled twice") else Nil) ++
      (if (ids.toSet != adj.keySet) Seq(s"${ids.toSet.size} labelled nodes, graph has ${adj.size}") else Nil)
    if (base.nonEmpty) return base
    val m = BigInt(adj.values.map(_.size.toLong).sum / 2)
    val intra = mutable.HashMap[Long, Long]().withDefaultValue(0L)
    val mass = mutable.HashMap[Long, Long]().withDefaultValue(0L)
    adj.foreach { case (v, ns) =>
      mass(lbl(v)) += ns.size
      ns.foreach(u => if (u > v && lbl(u) == lbl(v)) intra(lbl(v)) += 1)
    }
    val q = mass.keys.map(c => 4 * m * intra(c) - BigInt(mass(c)) * mass(c)).sum
    val qSingle = adj.values.map(ns => -BigInt(ns.size) * ns.size).sum
    if (q < qSingle) Seq("modularity below the singleton partition's") else Nil
  }
}
