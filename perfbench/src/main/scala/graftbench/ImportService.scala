package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.sinks.FlightTransport

/** Order-independent row checksums shared by the generator (over the rows
  * it wrote) and the import service (over the rows it received): a sum of
  * 64-bit mixes, so partitioning and put order do not matter.
  */
object Checksum {
  def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  def str(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
    mix(h)
  }

  def node(id: String, labels: Iterable[String]): Long = {
    var h = str(id)
    labels.foreach(l => h = mix(h * 31 + str(l)))
    mix(h + labels.size)
  }

  def edge(src: String, dst: String, tpe: String): Long =
    mix(mix(str(src) * 31 + str(dst)) * 31 + str(tpe))
}

/** What the import service saw for one import name. */
final class ImportState(val name: String) {
  val nodeRows = new AtomicLong(0)
  val edgeRows = new AtomicLong(0)
  val nodeSum = new AtomicLong(0)
  val edgeSum = new AtomicLong(0)
  val puts = new AtomicLong(0)
  /** (action, startNs, endNs) in arrival order. */
  val actions = new ConcurrentLinkedQueue[(String, Long, Long)]()
  /** (entity, startNs, endNs, rows). */
  val putLog = new ConcurrentLinkedQueue[(String, Long, Long, Long)]()
  @volatile var active = false

  def actionNames: Seq[String] = actions.asScala.map(_._1).toSeq
}

/** The benchmark's stand-in for the Neo4j Arrow import service and the
  * system database it feeds. One JVM-wide instance: executor tasks reach
  * it through the object reference (local mode), like the program's own
  * local transports. Counters are kept per import name, so imports that
  * run at the same time never mix.
  */
object ImportService {
  val imports = new ConcurrentHashMap[String, ImportState]()
  /** Called when RELATIONSHIP_LOAD_DONE completes an import. */
  @volatile var onDatabaseCreated: String => Unit = _ => ()

  def state(name: String): ImportState =
    imports.computeIfAbsent(name, n => new ImportState(n))

  private val NameRe = "\"name\"\\s*:\\s*\"([^\"]*)\"".r

  def nameOf(json: String): String =
    NameRe.findFirstMatchIn(json).map(_.group(1)).getOrElse("")

  def doAction(action: String, body: String): String = {
    val t0 = System.nanoTime()
    val st = state(nameOf(body))
    try action match {
      case "ABORT" =>
        if (!st.active)
          throw new RuntimeException(s"NOT_FOUND: no import named ${st.name}")
        st.active = false
        s"""{"name": "${st.name}"}"""
      case "CREATE_DATABASE" =>
        st.active = true
        s"""{"name": "${st.name}"}"""
      case "NODE_LOAD_DONE" =>
        s"""{"name": "${st.name}", "node_count": ${st.nodeRows.get}}"""
      case "RELATIONSHIP_LOAD_DONE" =>
        st.active = false
        onDatabaseCreated(st.name)
        s"""{"name": "${st.name}", "relationship_count": ${st.edgeRows.get}}"""
      case other =>
        throw new RuntimeException(s"INVALID_ARGUMENT: unsupported action $other")
    } finally st.actions.add((action, t0, System.nanoTime()))
  }

  def doPut(descriptor: String, rows: Iterator[Row]): (Long, Long) = {
    val t0 = System.nanoTime()
    val st = state(nameOf(descriptor))
    val edges = descriptor.contains("\"entity_type\": \"relationship\"")
    var n = 0L
    var sum = 0L
    if (edges) rows.foreach { r =>
      sum += Checksum.edge(r.getString(0), r.getString(1), r.getString(2)); n += 1
    } else rows.foreach { r =>
      sum += Checksum.node(r.getString(0), r.getSeq[String](1)); n += 1
    }
    if (edges) { st.edgeRows.addAndGet(n); st.edgeSum.addAndGet(sum) }
    else { st.nodeRows.addAndGet(n); st.nodeSum.addAndGet(sum) }
    st.puts.incrementAndGet()
    st.putLog.add((if (edges) "relationship" else "node", t0, System.nanoTime(), n))
    (n, 0L)
  }
}

/** Serializable handle the program's client opens per task. */
final class BenchTransport extends FlightTransport {
  override def doAction(action: String, bodyJson: String): String =
    ImportService.doAction(action, bodyJson)
  override def doPut(descriptorJson: String, schema: StructType,
                     rows: Iterator[Row]): (Long, Long) =
    ImportService.doPut(descriptorJson, rows)
}

/** The system database: databases, aliases, and the statements the
  * orchestrator runs against them. Statements are checked the way Neo4j
  * would refuse them; a DROP of an aliased database is refused and
  * recorded as a violation.
  */
final class Catalog {
  private val dbs = scala.collection.mutable.LinkedHashSet[String]()
  private val aliases = scala.collection.mutable.Map[String, String]()
  val violations = new ConcurrentLinkedQueue[String]()
  val statements = new AtomicLong(0)
  @volatile var onDrop: String => Unit = _ => ()

  def databases: Seq[String] = synchronized(dbs.toSeq)
  def aliasMap: Map[String, String] = synchronized(aliases.toMap)
  def create(db: String): Unit = synchronized(dbs += db)
  def seed(db: String, alias: Option[String]): Unit = synchronized {
    dbs += db; alias.foreach(a => aliases(a) = db)
  }

  private val DropAlias = "DROP ALIAS (\\S+) FOR DATABASE".r
  private val CreateAlias = "CREATE ALIAS (\\S+) FOR DATABASE `([^`]+)`".r
  private val DropDb = "DROP DATABASE `([^`]+)` IF EXISTS".r

  def execute(stmt: String): Unit = {
    statements.incrementAndGet()
    val dropped = synchronized {
      stmt match {
        case DropAlias(a) =>
          if (aliases.remove(a).isEmpty)
            throw new IllegalStateException(s"alias $a does not exist")
          None
        case CreateAlias(a, db) =>
          if (aliases.contains(a))
            throw new IllegalStateException(s"alias $a already exists")
          if (!dbs.contains(db))
            throw new IllegalStateException(s"database $db does not exist")
          aliases(a) = db
          None
        case DropDb(db) =>
          if (aliases.values.exists(_ == db)) {
            violations.add(s"drop of aliased database $db")
            None
          } else if (dbs.remove(db)) Some(db) else None
        case other =>
          throw new IllegalArgumentException(s"unknown statement: $other")
      }
    }
    dropped.foreach(onDrop)
  }
}
