package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

import graft.ops.{CorpusOps, Similarity}
import graft.streaming.EventsStream

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** doc_ingest: open loop. A generator thread lands one drop per period
  * by atomic rename into watched directories: a file of documents and
  * a file of their embeddings. The main thread drains what has landed
  * on a fixed trigger: the streaming ingest gate (canon dedup → span
  * cut → Gopher gate → contamination → curriculum fold) against state
  * written in set-up, then the ANN alignment of the new embeddings
  * against the base corpus, once with the IVF assignment inline
  * (`annJoin`) and once against the index written in set-up
  * (`annJoinWithIndex`).
  *
  * Every drop carries five clean documents and one planted reject per
  * gate stage, so its admitted set is known in advance. Freshness is
  * timed from a drop's scheduled landing to the end of the drain that
  * admitted its documents and aligned its embeddings, so a stall counts
  * against every later drop.
  */
final class DocIngest(deleteSinkPartition: Boolean = false) extends Workload {
  import DocIngest._

  private var nDrops   = 0
  private var nextDrop = 0
  private var expected: Map[Int, Set[Long]] = Map.empty
  private var base: Array[Array[Float]] = Array.empty
  private var incVecs: Map[Long, Array[Float]] = Map.empty
  private val drops   = scala.collection.mutable.ArrayBuffer.empty[Drop]
  private val drains  = scala.collection.mutable.ArrayBuffer.empty[Drain]
  private var batchEnd = Map.empty[Long, Long]
  private var recallValue = Double.NaN

  private def state(ctx: Ctx)     = ctx.dir("ingest/state")
  private def staging(ctx: Ctx)   = ctx.dir("ingest/staging")
  private def watched(ctx: Ctx)   = ctx.dir("ingest/watched")
  private def vecStaging(ctx: Ctx) = ctx.dir("ingest/staging-vectors")
  private def vecWatched(ctx: Ctx) = ctx.dir("ingest/watched-vectors")
  private def sink(ctx: Ctx)      = ctx.dir("ingest/sink")
  private def ckpt(ctx: Ctx)      = ctx.dir("ingest/checkpoint")
  private def baseDir(ctx: Ctx)   = ctx.dir("ingest/base")
  private def index(ctx: Ctx)     = ctx.dir("ingest/ivf-index")

  /** The gate state build costs ~10 s even warm, so this workload sets
    * up once a run.
    */
  override def setupReps: Int = 1

  def setup(spark: SparkSession, ctx: Ctx, phase: Phase): Unit = {
    import spark.implicits._
    val w = new Words(ctx.seed)
    nDrops = (Rate * ctx.seconds).ceil.toInt + 4
    val (ref, bench) = phase("gen") {
      Files2.fresh(ctx.dir("ingest"))
      val ref   = (1 to NRef).map(i => (i.toLong, w.sentences(5, 8)))
      val bench = (1 to NBench).map(i => (i.toLong, w.sentences(2, 14)))
      val docs = (0 until nDrops).flatMap { d =>
        def id(j: Int) = DropBase + d * 100L + j
        val (_, canonOf) = ref(w.rnd.nextInt(NRef))
        val (_, spanOf)  = ref(w.rnd.nextInt(NRef))
        val (_, benchOf) = bench(w.rnd.nextInt(NBench))
        val clean = (0 until 5).map(j => (d, id(j), w.sentences(4 + w.rnd.nextInt(2), 8).mkString(" ")))
        clean ++ Seq(
          // canonical variant of an indexed document: case + zero-width
          (d, id(5), canonOf.head.toUpperCase.replaceFirst(" ", " \u200b") + " " + canonOf.tail.mkString(" ")),
          // the first three sentences of an indexed document: one span, cut
          (d, id(6), spanOf.take(3).mkString(" ")),
          // a benchmark sentence inside otherwise clean text
          (d, id(7), (w.sentences(3, 8) :+ benchOf.head).mkString(" ")),
          // outside the Gopher token band, both ways
          (d, id(8), w.sentences(12, 8).mkString(" ")),
          (d, id(9), w.sentences(2, 8).mkString(" ")))
      }
      expected = docs.groupBy(_._1).map { case (d, ds) => d -> ds.map(_._2).filter(i => (i - DropBase) % 100 < 5).toSet }
      val conf = new Configuration()
      docs.groupBy(_._1).foreach { case (d, ds) =>
        writeParquet(dropFile(staging(ctx), d), DocType, conf, ds) { case (g, (_, id, text)) =>
          g.append("doc_id", id).append("text", text)
        }
      }
      // embeddings drawn around seeded cluster centres. Base ids
      // 0 until Clusters hold one member of each cluster, so the
      // index's sampled centroids (the lowest ids) are one per cluster;
      // the rest, and every drop's increment, follow a fixed skewed
      // size profile, so every seed does the same join work on the same
      // cell-size skew
      val centers = Array.fill(Clusters, Dim)(w.rnd.nextGaussian())
      def point(c: Int): Array[Float] =
        Array.tabulate(Dim)(i => (centers(c)(i) + Spread * w.rnd.nextGaussian()).toFloat)
      base = (0 until Clusters).map(point).toArray ++
        w.rnd.shuffle(clusterOf(NBase - Clusters).toSeq).map(point)
      writeParquet(new File(baseDir(ctx), "base.parquet"), VecType, conf,
        base.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v) })(fillVec)
      val inc = w.rnd.shuffle(clusterOf(nDrops * VecsPerDrop).toSeq).map(point)
      incVecs = inc.zipWithIndex.map { case (v, i) => vecId(i / VecsPerDrop, i % VecsPerDrop) -> v }.toMap
      inc.grouped(VecsPerDrop).zipWithIndex.foreach { case (vs, d) =>
        writeParquet(dropFile(vecStaging(ctx), d), VecType, conf,
          vs.zipWithIndex.map { case (v, j) => (vecId(d, j), v) })(fillVec)
      }
      (ref.map { case (i, s) => (i, s.mkString(" ")) }.toDF("doc_id", "text"),
        bench.map { case (i, s) => (i, s.mkString(" ")) }.toDF("bench_id", "btext"))
    }
    phase("index") {
      CorpusOps.writeIngestGateState(ref, "doc_id", "text", bench, "bench_id", "btext", state(ctx).toString)
      Similarity.writeIvfIndex(spark.read.parquet(baseDir(ctx).toString), "id", "v", index(ctx).toString,
        nCells = NCells)
    }
    Files2.fresh(watched(ctx))
    Files2.fresh(vecWatched(ctx))
    Files2.rm(sink(ctx))
    Files2.rm(ckpt(ctx))
    nextDrop = 0
    drops.clear()
    drains.clear()
    batchEnd = Map.empty
  }

  def run(spark: SparkSession, ctx: Ctx, tr: Tracer, untilNs: Long): Seq[Op] = {
    val t0     = System.nanoTime()
    val period = (1e9 / Rate).toLong
    val mine   = Iterator.from(0).map(i => (nextDrop + i, t0 + i * period))
      .takeWhile { case (d, at) => d == nextDrop || (at < untilNs && d < nDrops) }
      .map { case (d, at) => Drop(d, at, 0L, tr.enabled) }.toSeq
    nextDrop += mine.size
    drops ++= mine
    val landed = new AtomicInteger(0)
    // embeddings land first, so a drain that sees a drop's documents
    // also finds its embeddings
    val gen = new Thread(() => mine.foreach { d =>
      val wait = d.schedNs - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      Files.move(dropFile(vecStaging(ctx), d.id).toPath, dropFile(vecWatched(ctx), d.id).toPath,
        StandardCopyOption.ATOMIC_MOVE)
      Files.move(dropFile(staging(ctx), d.id).toPath, dropFile(watched(ctx), d.id).toPath,
        StandardCopyOption.ATOMIC_MOVE)
      d.landedNs = System.nanoTime()
      landed.incrementAndGet()
    }, "perfbench-drop-generator")
    gen.setDaemon(true)
    gen.start()

    // the trigger: a drain starts once the segment's drops have all
    // landed, or one segment length after the last drain started
    val triggerNs = math.max(untilNs - t0, 0L)
    var lastStart = t0
    var drained = 0
    while (drained < mine.size) {
      val seen = landed.get()
      val now  = System.nanoTime()
      if (seen > drained && (seen == mine.size || now - lastStart >= triggerNs)) {
        lastStart = now
        // a drain is this workload's traced operation: its query thread
        // inherits the span tag, so the gate's jobs land on the span
        val (q, aligned) = tr.span("op") {
          val q = tr.span("streaming.drain") {
            val q = EventsStream.streamIngestGate(spark, state(ctx).toString, watched(ctx).toString,
              Schema, sink(ctx).toString, ckpt(ctx).toString)
            q.awaitTermination()
            q
          }
          (q, align(spark, ctx, tr))
        }
        val e = System.nanoTime()
        val batches = q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
          p.batchId -> p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
        }
        drains += Drain(now, e, seen - drained, tr.enabled, batches, aligned)
        batchEnd ++= batches.map(_._1 -> e)
        drained = seen
      } else Thread.sleep(2)
    }
    gen.join()

    // freshness: scheduled landing → end of the drain that admitted the
    // drop's documents and aligned its embeddings
    val batchOf = admitted(spark, ctx).groupBy(d => dropOf(d._1)).map { case (d, ds) => d -> ds.map(_._2).min }
    val endNs = System.nanoTime()
    def gatedBy(d: Drop) = drains.find(dr => batchOf.get(d.id).exists(b => dr.batches.exists(_._1 == b)))
    mine.map { d =>
      val gated   = batchOf.get(d.id).flatMap(batchEnd.get).getOrElse(endNs)
      val aligned = drains.find(_.aligned.drops.contains(d.id)).map(_.endNs).getOrElse(endNs)
      // busy share: the admitting drain's time split over the drops it admitted
      val busy = gatedBy(d).map(dr => (dr.endNs - dr.startNs) / 1e6 / mine.count(o => gatedBy(o).contains(dr)))
        .getOrElse(0.0)
      Op((math.max(gated, aligned) - d.schedNs) / 1e6, DocsPerDrop.toDouble, d.traced, busy)
    }
  }

  /** Align every embedding file that has landed and is not aligned yet. */
  private def align(spark: SparkSession, ctx: Ctx, tr: Tracer): Aligned = {
    val done  = drains.flatMap(_.aligned.drops).toSet
    val files = vecWatched(ctx).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName.stripPrefix("drop-").stripSuffix(".parquet").toInt, f))
      .filterNot(x => done(x._1)).sortBy(_._1).toSeq
    val inc  = spark.read.parquet(files.map(_._2.toString): _*)
    val base = spark.read.parquet(baseDir(ctx).toString)
    val inline = tr.span("ops.Similarity.inline_join") {
      Similarity.annJoin(inc, base, "id", "v", K, nCells = NCells, nProbe = NProbe).collect().toSeq
    }
    val indexed = tr.span("ops.Similarity.index_join") {
      Similarity.annJoinWithIndex(spark, index(ctx).toString, inc, "id", "v", K, nProbe = NProbe).collect().toSeq
    }
    Aligned(files.map(_._1), inline, indexed)
  }

  private def dropOf(docId: Long): Int = ((docId - DropBase) / 100).toInt

  /** (doc_id, batch id) of every admitted document in the sink. */
  private def admitted(spark: SparkSession, ctx: Ctx): Seq[(Long, Long)] =
    if (Files2.du(sink(ctx))._2 == 0) Nil
    else spark.read.parquet(sink(ctx).toString).select(col("doc_id"), col("inc")).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1).stripPrefix("b").toLong))

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var d, na, nb = 0.0
    var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / math.sqrt(na * nb)
  }

  def check(spark: SparkSession, ctx: Ctx, ops: Seq[Op]): Int = {
    if (deleteSinkPartition)
      Option(sink(ctx).listFiles()).getOrElse(Array.empty).filter(_.getName.startsWith("inc=")).take(1).foreach(Files2.rm)
    // documents: each drop's admitted set is exactly its clean documents
    val got = admitted(spark, ctx).map(_._1)
    val byDrop = got.groupBy(dropOf)
    val badDocs = drops.filter { d =>
      val ids = byDrop.getOrElse(d.id, Nil)
      ids.size != ids.distinct.size || ids.toSet != expected(d.id)
    }.map(_.id).toSet
    val stray = byDrop.keySet.exists(d => !drops.exists(_.id == d))
    // embeddings: every drop aligned once; in each drain both flavors
    // return the same rows, with k neighbors for every increment row
    def norm(rows: Seq[Row]) = rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    val alignedOnce = drains.flatMap(_.aligned.drops).sorted == drops.map(_.id).sorted
    val badVecs = drains.filterNot { dr =>
      val (a, b) = (norm(dr.aligned.inline), norm(dr.aligned.indexed))
      val byLeft = a.groupBy(_._1)
      a == b && byLeft.size == dr.aligned.drops.size * VecsPerDrop && byLeft.values.forall(_.size == K)
    }.flatMap(_.aligned.drops).toSet
    // recall of both flavors against exact cosine top-k on a fixed
    // sample of the aligned rows
    val results = drains.toSeq.flatMap(dr => Seq(dr.aligned.inline, dr.aligned.indexed).zipWithIndex)
      .flatMap { case (rows, flavor) => rows.map(r => (flavor, r.getLong(0)) -> r.getLong(2)) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val ran    = drops.map(_.id).toSet
    val ids    = incVecs.keys.toSeq.sorted.filter(id => ran(dropOfVec(id)))
    val sample = ids.indices.filter(_ % math.max(1, ids.size / RecallSample) == 0).take(RecallSample).map(ids)
    val hits = for (id <- sample; flavor <- 0 to 1) yield {
      val sims = base.map(cos(incVecs(id), _))
      val top  = sims.indices.sortBy(j => -sims(j)).take(K).map(_.toLong).toSet
      (results.getOrElse((flavor, id), Set.empty[Long]) intersect top).size.toDouble / K
    }
    recallValue = hits.sum / hits.size
    val bad = drops.count(d => badDocs(d.id) || badVecs(d.id))
    val ok  = !stray && alignedOnce && recallValue >= MinRecall
    if (bad > 0 || !ok) System.err.println(s"[perfbench] doc_ingest check: ${badDocs.size} of ${drops.size} drops " +
      s"admitted wrongly, ${badVecs.size} aligned wrongly, stray=$stray aligned_once=$alignedOnce recall=$recallValue")
    if (ok) bad else ops.size
  }

  def recall: Double = recallValue

  def layerMetrics(spark: SparkSession, ctx: Ctx, tr: Tracer): Map[String, Double] = {
    val td = drains.filter(_.traced).toSeq
    val phases = td.flatMap(_.batches.map(_._2))
    def phase(k: String) = Stats.median(phases.map(_.getOrElse(k, 0.0)))
    def med(span: String) = Stats.median(tr.named(span).map(_.ms))
    def medTotal(span: String, k: String) = Stats.median(tr.named(span).map(tr.total(_, k)))
    val tracedDrops = drops.filter(_.traced).toSeq
    val nAdmitted = admitted(spark, ctx).size
    val pops = spark.read.parquet(index(ctx).toString + "/assigned")
      .groupBy("cell_id").count().agg(max("count"), avg("count")).head()
    Map(
      "streaming.drain_ms" -> med("streaming.drain"),
      "streaming.phase_ms.latestOffset" -> phase("latestOffset"),
      "streaming.phase_ms.queryPlanning" -> phase("queryPlanning"),
      "streaming.phase_ms.addBatch" -> phase("addBatch"),
      "streaming.phase_ms.walCommit" -> phase("walCommit"),
      "streaming.drops_per_drain" -> tracedDrops.size.toDouble / td.size,
      "streaming.backlog_max" -> td.map(_.backlog).max.toDouble,
      "generator.late_ms_max" -> tracedDrops.map(d => (d.landedNs - d.schedNs) / 1e6).max,
      "ops.CorpusOps.admitted_frac" -> nAdmitted.toDouble / (drops.size * DocsPerDrop),
      "state.bytes_per_doc" -> Files2.du(state(ctx))._1.toDouble / (NRef + nAdmitted),
      "ops.Similarity.inline_join_ms" -> med("ops.Similarity.inline_join"),
      "ops.Similarity.index_join_ms" -> med("ops.Similarity.index_join"),
      "ops.Similarity.shuffle_bytes" -> (medTotal("ops.Similarity.inline_join", "shuffle_bytes") +
        medTotal("ops.Similarity.index_join", "shuffle_bytes")),
      "ops.Similarity.spill_bytes" -> (medTotal("ops.Similarity.inline_join", "spill_bytes") +
        medTotal("ops.Similarity.index_join", "spill_bytes")),
      "index.cell_pop_max_over_mean" -> pops.getLong(0) / pops.getDouble(1))
  }
}

object DocIngest {
  final case class Drop(id: Int, schedNs: Long, var landedNs: Long, traced: Boolean)
  /** The drops whose embeddings a drain aligned, and both flavors' rows. */
  final case class Aligned(drops: Seq[Int], inline: Seq[Row], indexed: Seq[Row])
  final case class Drain(startNs: Long, endNs: Long, backlog: Int, traced: Boolean,
      batches: Seq[(Long, Map[String, Double])], aligned: Aligned)

  val NRef        = 80
  val NBench      = 12
  val Rate        = 5.0 // drops per second
  val DocsPerDrop = 10
  val DropBase    = 100000L
  val Schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))

  val VecsPerDrop  = 10
  val NBase        = 10000
  val Dim          = 32
  val Clusters     = 32
  val Spread       = 0.35
  val NCells       = 32
  val NProbe       = 4
  val K            = 10
  val VecBase      = 10000000L
  val RecallSample = 100
  val MinRecall    = 0.8

  def vecId(drop: Int, j: Int): Long = VecBase + drop * 100L + j
  def dropOfVec(id: Long): Int = ((id - VecBase) / 100).toInt

  /** Cluster ids of `n` points under the fixed profile size(c) ∝ 1 / (1 + c / 8). */
  def clusterOf(n: Int): Array[Int] = {
    val wts = (0 until Clusters).map(c => 1.0 / (1.0 + c / 8.0))
    val cum = wts.scanLeft(0.0)(_ + _).map(_ / wts.sum * n).map(math.round(_).toInt)
    (0 until Clusters).flatMap(c => Array.fill(cum(c + 1) - cum(c))(c)).toArray
  }

  private val DocType = MessageTypeParser.parseMessageType(
    "message drop { required int64 doc_id; required binary text (UTF8); }")
  private val VecType = MessageTypeParser.parseMessageType(
    "message vectors { required int64 id; optional group v (LIST) { repeated group list { optional float element; } } }")

  private def fillVec(g: Group, row: (Long, Array[Float])): Unit = {
    val list = g.append("id", row._1).addGroup("v")
    row._2.foreach(x => list.addGroup("list").append("element", x))
  }

  def dropFile(dir: File, d: Int): File = new File(dir, f"drop-$d%05d.parquet")

  /** One parquet file, written without Spark so that generating the
    * inputs costs no Spark jobs.
    */
  def writeParquet[T](f: File, schema: MessageType, conf: Configuration, rows: Seq[T])(fill: (Group, T) => Unit): Unit = {
    f.getParentFile.mkdirs()
    val out = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(f.toURI), conf))
      .withType(schema).withConf(conf).build()
    val g = new SimpleGroupFactory(schema)
    try rows.foreach { r => val row = g.newGroup(); fill(row, r); out.write(row) }
    finally out.close()
  }
}
