package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.ops.{KpiPost, MlPipelines, Pipeline, Relevance}
import graft.scorer.{LogisticQaScorer, LogisticRelevanceScorer}
import graft.sources.{ExtractionJson, PdfSource, SimplePdfExtractor}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** esg_batch: the paper's inference DAG, closed loop, one job at a time.
  *
  * PDFs → paragraphs → extraction JSON → `Pipeline.runInference`
  * (question × paragraph pairs → relevance head → KPI QA chain → ORC
  * publish → the demo2 answer-distribution aggregate).
  */
final class EsgBatch(drop: Boolean = false) extends Workload {
  import EsgBatch._

  private var pdfDir: File                       = _
  private var truth: Seq[(String, Int, Int, String)] = Nil
  private var questions: Seq[(String, Double)]   = Nil
  private var relInner: LogisticRelevanceScorer  = _
  private var rel: CountingRelevanceScorer       = _
  private var qa: CountingQaScorer               = _
  private var counters: ScorerCounters           = _
  private val jobs  = scala.collection.mutable.ArrayBuffer.empty[Job]
  private val probe = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var recallValue = Double.NaN

  def setup(spark: SparkSession, ctx: Ctx, phase: Phase): Unit = {
    import spark.implicits._
    val w = new Words(ctx.seed)
    pdfDir = ctx.dir("pdfs")
    val (relTrain, qaTrain) = phase("gen") {
      Files2.fresh(pdfDir)
      questions = Kpis.zipWithIndex.map { case ((phrase, _), i) => (s"what is the total $phrase reported", (i + 1).toDouble) }
      val pages = w.rnd.shuffle(PageCounts)
      // the planted bank's statements go to seed-chosen paragraphs
      val plantedAt = w.rnd.shuffle((0 until TotalPages * ParasPerPage).toVector).take(PlantedBank.size).sorted
      val plantedBy = plantedAt.zip(PlantedBank).toMap
      var slot      = 0
      def next(): String = {
        val t = plantedBy.getOrElse(slot, filler(w))
        slot += 1
        t
      }
      val rows = Seq.newBuilder[(String, Int, Int, String)]
      pages.zipWithIndex.foreach { case (nPages, d) =>
        val name = f"report_$d%02d"
        val doc = (0 until nPages).map { p =>
          val paras = s"section ${p + 1}" +: (1 to ParasPerPage).map(_ => next())
          paras.zipWithIndex.drop(1).foreach { case (t, i) => rows += ((name, p, i, t)) }
          val enc = if (p % 5 == 0) PdfWriter.Cid else if (p % 2 == 1) PdfWriter.Flate else PdfWriter.Raw
          (enc, paras)
        }
        Files2.write(new File(pdfDir, s"$name.pdf"), PdfWriter.document(doc))
      }
      truth = rows.result()
      val h = new Words(HeadSeed)
      val relRows = questions.indices.flatMap { k =>
        val q = questions(k)._1
        (1 to 12).map(_ => (s"$q ${planted(h, k)}", 1.0)) ++
          (1 to 6).map(_ => (s"$q ${filler(h)}", 0.0)) ++
          (1 to 6).map(_ => (s"$q ${planted(h, (k + 1 + h.rnd.nextInt(Kpis.size - 1)) % Kpis.size)}", 0.0))
      }
      val qaRows = (1 to 60).flatMap { _ =>
        val k    = h.rnd.nextInt(Kpis.size)
        val toks = planted(h, k).split(" ")
        toks.indices.dropRight(2).map { i =>
          val span = toks.slice(i, i + 3).mkString(" ")
          (s"${questions(k)._1} $span", if (span.contains(Kpis(k)._2)) 1.0 else 0.0)
        }
      }
      (relRows, qaRows)
    }
    phase("train") {
      relInner = LogisticRelevanceScorer.fromModel(
        MlPipelines.trainRelevanceClassifier(relTrain.toDF("text", "label"), maxIter = TrainIters))
      val qaInner = new LogisticQaScorer(LogisticRelevanceScorer.fromModel(
        MlPipelines.trainRelevanceClassifier(qaTrain.toDF("text", "label"), maxIter = TrainIters)), nBest = 2)
      counters = new ScorerCounters(spark.sparkContext)
      val d = if (drop) droppedPair() else None
      rel = new CountingRelevanceScorer(relInner, Threshold, counters, isPlanted, d)
      qa = new CountingQaScorer(qaInner, counters)
    }
    jobs.clear()
    probe.clear()
  }

  /** The self-test fault: one pair the pure scorer marks relevant. */
  private def droppedPair(): Option[(String, String)] =
    truth.iterator.flatMap(t => questions.map(q => (q._1, t._4)))
      .find { case (q, p) => relInner.score(q, p) >= Threshold }

  private def questionsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    questions.toDF("question", "kpi_id")
  }

  /** The extraction hand-off: the library writes one JSON record per
    * PDF into part files, while the inference entry point reads one
    * `<pdf_name>.json` file per PDF. Returns the records by PDF name.
    */
  private def splitPerPdf(records: File, out: File): Map[String, String] = {
    Files2.fresh(out)
    val lines = records.listFiles().filter(_.getName.endsWith(".json")).toSeq
      .flatMap(f => Files.readAllLines(f.toPath).asScala).filter(_.nonEmpty)
    lines.map { l =>
      val name = JsonMapper.readTree(l).get("pdf_name").asText()
      Files2.write(new File(out, s"$name.json"), l.getBytes(UTF_8))
      name -> l
    }.toMap
  }

  /** (pdf, page) → paragraphs in order, as the extraction records hold them. */
  private def pagesOf(records: Map[String, String]): Map[(String, Int), Seq[String]] =
    records.toSeq.flatMap { case (name, l) =>
      JsonMapper.readTree(l).get("pages").fields().asScala.map { e =>
        (name, e.getKey.toInt) -> e.getValue.elements().asScala.map(_.asText()).toSeq
      }
    }.toMap

  def run(spark: SparkSession, ctx: Ctx, tr: Tracer, untilNs: Long): Seq[Op] = {
    val nPairs = truth.size.toDouble * questions.size
    val ops = Seq.newBuilder[Op]
    var n = 0
    while (n == 0 || System.nanoTime() < untilNs) {
      val before = counters.snapshot
      val t0 = System.nanoTime()
      // inputs on disk → extraction hand-off → the library's inference
      // entry point (relevance → KPI chain → ORC publish → demo2 answer
      // distribution), collected
      val (records, rows) = tr.span("op") {
        val records = tr.span("sources.extract") {
          PdfSource.writeExtractionJson(
            PdfSource.readPdfParagraphs(spark, pdfDir.toString, new SimplePdfExtractor()),
            ctx.dir("extraction-records").toString)
          splitPerPdf(ctx.dir("extraction-records"), ctx.dir("extraction"))
        }
        val rows = tr.span("ops.Pipeline.runInference") {
          Pipeline.runInference(spark, ctx.dir("extraction").toString, questionsDf(spark), rel, qa,
            Table, Threshold, TopK).collect().toSeq
        }
        (records, rows)
      }
      val ms = (System.nanoTime() - t0) / 1e6
      val after = counters.snapshot
      ops += Op(ms, nPairs, tr.enabled, ms)
      jobs += Job(pagesOf(records), after.map { case (k, v) => k -> (v - before(k)) }, rows, tr.enabled)
      // the chain's scored stage stays cached by design; the caller owns it
      spark.catalog.clearCache()
      if (tr.enabled) layerProbe(spark, ctx, tr)
      n += 1
    }
    ops.result()
  }

  /** Traced runs only, outside the timed job: the KPI chain on its own,
    * over the same extraction, with its input materialized first so
    * its span holds the chain's work alone.
    */
  private def layerProbe(spark: SparkSession, ctx: Ctx, tr: Tracer): Unit = {
    val qs = questionsDf(spark)
    val relevant = tr.span("probe.relevantPairs") {
      val p = Relevance.relevantPairs(
        Relevance.questionParagraphPairs(ExtractionJson.readExtraction(spark, ctx.dir("extraction").toString), qs)
          .withColumn("key", xxhash64(col("pdf_name"), col("page"), col("text"), col("text_b"))),
        rel, "key", Threshold).persist()
      p.count()
      p
    }
    val storedBefore = stored(spark)
    tr.span("ops.KpiPost.chain") {
      val c = KpiPost.kpiChain(relevant, qa, qs, "key", TopK).persist()
      c.count()
    }
    probe += (stored(spark) - storedBefore).toDouble
    spark.catalog.clearCache()
  }

  private def stored(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def check(spark: SparkSession, ctx: Ctx, ops: Seq[Op]): Int = {
    val nPairs = truth.size.toLong * questions.size
    val truthPages = truth.groupBy(t => (t._1, t._2)).map { case (k, ts) => k -> ts.sortBy(_._3).map(_._4) }
    // the pure scorer, without Spark
    val recount = truth.map(t => questions.count(q => relInner.score(q._1, t._4) >= Threshold)).sum.toLong
    val t = spark.table(Table)
    val published = t.count()
    val topKOk = t.groupBy("pdf_name", "kpi").count().filter(col("count") > TopK).isEmpty
    val tableOk = topKOk && published > 0 && jobs.last.demo2.map(_.getLong(1)).sum == published
    // each timed job: what it extracted, how many pairs its relevance
    // step passed (one scoring pass per pair, or whole passes), and
    // its demo2 answer distribution
    val bad = jobs.count { j =>
      val parasOk = j.pages == truthPages
      val relevantOk = j.delta("relCalls") > 0 && j.delta("relRelevant") * nPairs == recount * j.delta("relCalls")
      val demo2Ok = j.demo2 == jobs.last.demo2
      if (!(parasOk && relevantOk && demo2Ok))
        System.err.println(s"[perfbench] esg_batch job check: paragraphs=$parasOk relevant=$relevantOk " +
          s"(${j.delta("relRelevant")} of ${j.delta("relCalls")} scored, recount $recount of $nPairs) demo2=$demo2Ok")
      !(parasOk && relevantOk && demo2Ok)
    }
    // recall: planted (KPI question, paragraph) pairs the last job's
    // relevance step passed, per scoring pass
    val nPlanted = truth.count(t => questions.exists(q => isPlanted(q._1, t._4)))
    val last = jobs.last
    recallValue = last.delta("relPlanted").toDouble * nPairs / (last.delta("relCalls").toDouble * nPlanted)
    System.err.println(s"[perfbench] esg_batch relevant pairs: $recount of $nPairs, published rows: $published, " +
      f"planted pairs passed: $recallValue%.3f of $nPlanted")
    if (!tableOk) System.err.println(s"[perfbench] esg_batch table check: topk=$topKOk demo2 sum vs $published rows")
    if (tableOk) bad else ops.size
  }

  def recall: Double = recallValue

  def layerMetrics(spark: SparkSession, ctx: Ctx, tr: Tracer): Map[String, Double] = {
    def med(span: String) = Stats.median(tr.named(span).map(_.ms))
    def medTotal(span: String, k: String) = Stats.median(tr.named(span).map(tr.total(_, k)))
    val traced = jobs.filter(_.traced).toSeq
    def medJob(f: Job => Double) = Stats.median(traced.map(f))
    Map(
      "sources.extract_ms" -> med("sources.extract"),
      "sources.pages" -> medJob(_.pages.size.toDouble),
      "sources.paragraphs" -> medJob(_.pages.values.map(_.size).sum.toDouble),
      "scorer.relevance_ms" -> medJob(_.delta("relNanos") / 1e6),
      "scorer.relevance_pairs" -> medJob(_.delta("relCalls").toDouble),
      "scorer.qa_ms" -> medJob(_.delta("qaNanos") / 1e6),
      "scorer.qa_calls_per_relevant" -> medJob(j => j.delta("qaCalls").toDouble / j.delta("relRelevant")),
      "ops.KpiPost.chain_ms" -> med("ops.KpiPost.chain"),
      "ops.KpiPost.shuffle_bytes" -> medTotal("ops.KpiPost.chain", "shuffle_bytes"),
      "ops.KpiPost.spill_bytes" -> medTotal("ops.KpiPost.chain", "spill_bytes"),
      "ops.KpiPost.cached_bytes_peak" -> probe.max,
      "ops.Pipeline.run_inference_ms" -> med("ops.Pipeline.runInference"),
      "ops.Pipeline.bytes_written" -> medTotal("ops.Pipeline.runInference", "bytes_written"),
      "ops.Pipeline.files_written" -> Files2.du(new File(ctx.dir("warehouse"), Table))._2.toDouble)
  }
}

object EsgBatch {
  val NPdfs         = 12
  val MinPages      = 4
  val TotalPages    = 160
  val ParasPerPage  = 6
  val PlantedShare  = 0.08
  val Threshold     = 0.5
  val TrainIters    = 5
  /** The heads train on a fixed set, like a shipped model: only the
    * documents they score depend on the workload seed.
    */
  val HeadSeed      = 20240101L

  /** Skewed page counts (lognormal), normalized to a fixed total. The
    * profile is fixed and the seed only decides which report gets which
    * count, so every seed does the same work with the same straggler:
    * the file source packs the PDFs into tasks by size.
    */
  val PageCounts: Seq[Int] = {
    val r     = new scala.util.Random(HeadSeed)
    val wts   = (0 until NPdfs).map(_ => math.exp(1.3 * r.nextGaussian()))
    val spare = TotalPages - MinPages * NPdfs
    val p0    = wts.map(x => MinPages + (spare * x / wts.sum).toInt)
    p0.updated(p0.indexOf(p0.max), p0.max + TotalPages - p0.sum)
  }
  val TopK          = 4
  val Table         = "esg_kpi_results"

  /** One timed job's outputs: its extraction records, the scorer
    * counter deltas over it, and its demo2 answer distribution.
    */
  final case class Job(pages: Map[(String, Int), Seq[String]], delta: Map[String, Long], demo2: Seq[Row],
      traced: Boolean)

  val JsonMapper = new ObjectMapper()

  /** ~20 KPI questions, the size of the reference's kpi_mapping:
    * (phrase, unit word).
    */
  val Kpis: Seq[(String, String)] = Seq(
    "scope one emissions" -> "tonnes", "scope two emissions" -> "tonnes",
    "scope three emissions" -> "tonnes", "water withdrawal" -> "megalitres",
    "waste recycled" -> "kilotonnes", "renewable energy share" -> "percent",
    "energy consumption" -> "gigajoules", "methane intensity" -> "ratio",
    "flaring volume" -> "cubicmetres", "hydrocarbon spills" -> "barrels",
    "lost time injuries" -> "cases", "employee turnover" -> "percent",
    "board gender diversity" -> "percent", "training hours" -> "hours",
    "community investment" -> "dollars", "green capital expenditure" -> "dollars",
    "supplier audits" -> "audits", "biodiversity sites" -> "sites",
    "internal carbon price" -> "dollars", "net zero target year" -> "year")

  /** A question and the paragraph planted for its KPI. */
  def isPlanted(question: String, paragraph: String): Boolean =
    paragraph.contains(s"the ${question.stripPrefix("what is the total ").stripSuffix(" reported")} reported for ")

  def filler(w: Words): String = w.sentences(3, 8).mkString(" ")

  /** Exactly PlantedShare of all paragraphs carry a KPI statement, the
    * KPIs in turn. The statements are a fixed bank, like the heads'
    * training set, so the relevance step's recall on them depends on
    * the code and not on the seed.
    */
  lazy val PlantedBank: Seq[String] = {
    val b = new Words(HeadSeed + 1)
    (0 until (TotalPages * ParasPerPage * PlantedShare).round.toInt).map(i => planted(b, i % Kpis.size))
  }

  def planted(w: Words, k: Int): String =
    s"${w.sentence(6)} the ${Kpis(k)._1} reported for ${2015 + w.rnd.nextInt(9)} was " +
      s"${1000 + w.rnd.nextInt(900000)} ${Kpis(k)._2} ${w.sentence(6)}"
}
