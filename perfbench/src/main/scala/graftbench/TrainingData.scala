package graftbench

import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Sampling, TextAnalysis}

/** The training-data half of the analytics workload: the prep chain over
  * a seeded corpus of
  * document families. A family is a base text plus exact copies and
  * near-duplicates (a few tokens substituted), so exact and near-duplicate
  * removal both have real work; a share of short and repetitive documents
  * gives the quality filter rows to drop.
  */
final class TrainingData(ctx: Ctx, families: Int) extends AnalyticsPart {
  private val spark = ctx.spark
  private val sc = spark.sparkContext
  private val errors = mutable.ArrayBuffer[String]()
  private val texts = mutable.HashMap[Long, String]()
  private val sources = mutable.HashMap[Long, String]()
  private val Tau = 0.5
  private val SeqLen = 512L
  private val Rates = Seq("src0" -> 0.5, "src1" -> 0.8, "src2" -> 1.0)
  // resolveClusters, keepRepresentative and semanticDedup are left out of
  // the pass: their ~90 Spark jobs would double its length (see README)
  private val ops = Seq("qualityFilter", "exact", "minHashLsh", "mixtureResample",
    "packSequences")

  def setup(): Unit = {
    val rnd = new scala.util.Random(ctx.seed)
    val vocab = (0 until 4000).map { i =>
      val syl = Seq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "qu", "de")
      (0 to 1 + i % 3).map(k => syl((i / math.pow(12, k).toInt + k * 7) % 12)).mkString + i
    }
    val stop = TextAnalysis.EnglishStopwords
    def word(): String = if (rnd.nextDouble() < 0.25) stop(rnd.nextInt(stop.size))
      else vocab(rnd.nextInt(vocab.size))
    val docs = mutable.ArrayBuffer[String]()
    (0 until families).foreach { _ =>
      val len = 40 + rnd.nextInt(200)
      val base = Array.fill(len)(word())
      docs += base.mkString(" ")
      val kind = rnd.nextInt(10)
      if (kind < 3) docs += base.mkString(" ") // exact copy
      if (kind >= 3 && kind < 6) (0 until 1 + rnd.nextInt(3)).foreach { _ =>
        // near-duplicate: 3% of tokens substituted keeps Jaccard near 0.8
        val t = base.clone()
        (0 until math.max(1, len * 3 / 100)).foreach(_ => t(rnd.nextInt(len)) = word())
        docs += t.mkString(" ")
      }
      if (kind == 6) docs += Seq.fill(4)(word()).mkString(" ") // too short
      if (kind == 7) docs += Seq.fill(30)(base.take(2).mkString(" ")).mkString(" ") // repetitive
    }
    // doc ids are a seeded permutation, so families are not contiguous
    val ids = rnd.shuffle(docs.indices.map(_.toLong).toVector)
    val rows = docs.zip(ids).map { case (t, id) =>
      texts(id) = t
      sources(id) = "src" + (Checksum.mix(id + ctx.seed) & 3L).min(2L)
      (id, t, sources(id))
    }
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text", "source")
      .repartition(4).write.parquet(ctx.dir.resolve("documents").toString)
  }

  /** Runs one op inside its job group and span; its output is
    * materialized there, so each op is charged its own work.
    */
  private def step(op: String, out: PassOut)(body: => DataFrame): DataFrame = {
    sc.setJobGroup("train." + op, op, interruptOnCancel = false)
    try out.trace.span(out.passSpan, "train." + op) { _ =>
      val t0 = System.nanoTime()
      val df = body.localCheckpoint(true)
      val dt = System.nanoTime() - t0
      out.add("train." + op + ".ms", dt / 1e6)
      out.op(dt / 1e9)
      df
    } finally sc.clearJobGroup()
  }

  def work(pass: Int, out: PassOut): () => Unit = {
    val docs = spark.read.parquet(ctx.dir.resolve("documents").toString)
    val quality = step("qualityFilter", out)(TextAnalysis.qualityFilter(docs))
    val kept = docs.join(quality.filter(col("keep")).select("doc_id"), "doc_id")
    val exact = step("exact", out)(Dedup.exact(kept))
    val uniq = kept.join(exact.select("doc_id"), "doc_id")
    val pairs = step("minHashLsh", out)(Dedup.minHashLsh(uniq, tau = Tau))
    val mixed = step("mixtureResample", out)(Sampling.mixtureResample(uniq, Rates))
    val packed = step("packSequences", out)(Sampling.packSequences(mixed, SeqLen))
    out.attempted += ops.size
    out.rows += texts.size
    () => after(pass, out, quality, exact, pairs, uniq, mixed, packed)
  }

  private def after(pass: Int, out: PassOut, quality: DataFrame, exact: DataFrame,
                    pairs: DataFrame, survivors: DataFrame, mixed: DataFrame,
                    packed: DataFrame): Unit = {
    checkPass(pass, quality.filter(col("keep")).select("doc_id").collect().map(_.getLong(0)),
      exact.collect(), pairs.collect(), survivors.select("doc_id").collect().map(_.getLong(0)),
      mixed.select("doc_id").collect().map(_.getLong(0)), packed.collect())
    val groups = out.spark
    ops.foreach { op =>
      val c = groups.getOrElse("train." + op, new SparkCounters)
      out.layer(s"train.$op.jobs", c.jobs.toDouble)
      out.layer(s"train.$op.shuffle_bytes", (c.shuffleWrite + c.shuffleRead).toDouble)
    }
  }

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  private def shingles(t: String): Set[String] = {
    val toks = t.trim.split("\\s+")
    if (toks.length < 3) Set.empty
    else toks.sliding(3).map(_.mkString(" ")).toSet
  }

  private def tokens(t: String): Long = t.trim.split("\\s+").length.toLong

  private def checkPass(pass: Int, keptIds: Array[Long], exact: Array[Row],
                        pairs: Array[Row], survivorIds: Array[Long],
                        mixedIds: Array[Long], packed: Array[Row]): Unit = {
    def fail(msg: String): Unit = errors += s"pass $pass: $msg"
    // exact dedup: one survivor per distinct checksum, the lowest doc_id
    val want = keptIds.groupBy(id => sha256(texts(id))).map { case (h, ids) =>
      (ids.min, h, ids.length.toLong)
    }.toSet
    val got = exact.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    if (got != want) fail(s"exact dedup: ${got.size} survivors, expected ${want.size}")
    // near-duplicate pairs: exact Jaccard of word 3-shingles meets tau
    val below = pairs.count { r =>
      val a = shingles(texts(r.getLong(0)))
      val b = shingles(texts(r.getLong(1)))
      (a intersect b).size.toDouble < Tau * (a union b).size
    }
    if (below > 0) fail(s"$below near-duplicate pairs below Jaccard $Tau")
    // mixture: md5(doc_id) prefix under the source's rate threshold
    val rate = Rates.toMap
    val md5 = MessageDigest.getInstance("MD5")
    val wantMixed = survivorIds.filter { id =>
      val r = rate.getOrElse(sources(id), 1.0)
      r >= 1.0 || md5.digest(id.toString.getBytes("UTF-8")).take(4)
        .map(b => f"${b & 0xff}%02x").mkString <
        f"${math.min((r * 4294967296.0).toLong, 4294967295L)}%08x"
    }.toSet
    if (mixedIds.toSet != wantMixed)
      fail(s"mixture kept ${mixedIds.length} docs, expected ${wantMixed.size}")
    // packing: per shard in doc_id order, offsets run on without gaps, so
    // every token lands in exactly one sequence of at most SeqLen tokens
    val rows = packed.map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("shard"),
      r.getAs[Long]("n_toks"), r.getAs[Long]("seq_id"), r.getAs[Long]("seq_offset"),
      r.getAs[Boolean]("crosses_boundary")))
    if (rows.map(_._1).toSet != mixedIds.toSet) fail("packed docs differ from the mixture")
    if (rows.map(_._3).sum != mixedIds.map(id => tokens(texts(id))).sum)
      fail("packing does not conserve tokens")
    rows.groupBy(_._2).foreach { case (shard, rs) =>
      var off = 0L
      rs.sortBy(_._1).foreach { case (id, _, n, seq, o, crosses) =>
        if (n != tokens(texts(id))) fail(s"doc $id packed with $n tokens")
        if (o < 0 || o >= SeqLen || seq * SeqLen + o != off)
          fail(s"shard $shard doc $id at ($seq, $o), expected offset $off")
        if (crosses != (n > 0 && off / SeqLen != (off + n - 1) / SeqLen))
          fail(s"doc $id boundary flag is wrong")
        off += n
      }
    }
  }

  def check(): Seq[String] = errors.toSeq
}
