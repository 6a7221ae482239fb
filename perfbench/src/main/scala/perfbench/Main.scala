package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import graft.{GraftExtensions, GraftSession}

import org.apache.spark.sql.SparkSession

/** Run settings shared by every workload. */
final case class Ctx(work: File, cores: Int, seed: Long, seconds: Double, trace: Boolean) {
  def dir(name: String): File = new File(work, name)
}

/** One user-visible operation: a batch job or a document drop.
  * `ms` is its latency as the user sees it, `busyMs` the system time
  * spent on it (the same except for the open-loop workload), and
  * `items` the work units it carried.
  */
final case class Op(ms: Double, items: Double, traced: Boolean, busyMs: Double)

/** A workload: seeded set-up, a measured loop, and output checks. */
trait Workload {
  /** Generate inputs, train and build state. `phase` times a named
    * set-up step ("gen", "train", "index").
    */
  def setup(spark: SparkSession, ctx: Ctx, phase: Phase): Unit

  /** How many times a run sets up, each time from a fresh session;
    * `setup_s` is the median.
    */
  def setupReps: Int = 3

  /** Run operations until `untilNs` (at least one). */
  def run(spark: SparkSession, ctx: Ctx, tr: Tracer, untilNs: Long): Seq[Op]

  /** Check the outputs after the timed window; returns how many of
    * `ops` failed their check.
    */
  def check(spark: SparkSession, ctx: Ctx, ops: Seq[Op]): Int

  /** Share of the outputs the run should find that it found, set by
    * [[check]]: planted KPI pairs passed by the relevance step, or the
    * exact top-k neighbors the ANN joins returned.
    */
  def recall: Double

  /** Layer metrics of the traced operations. */
  def layerMetrics(spark: SparkSession, ctx: Ctx, tr: Tracer): Map[String, Double]
}

final class Phase {
  val ms = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def apply[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally ms(name) = ms.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e6
  }
}

object Main {

  val Workloads: Map[String, () => Workload] = Map(
    "esg_batch"    -> (() => new EsgBatch()),
    "doc_ingest"   -> (() => new DocIngest()))

  /** Per-layer metrics printed by a traced run, with units. A layer a
    * workload does not exercise reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.extract_ms" -> "ms", "sources.pages" -> "count", "sources.paragraphs" -> "count",
    "scorer.relevance_ms" -> "ms", "scorer.relevance_pairs" -> "count",
    "scorer.qa_ms" -> "ms", "scorer.qa_calls_per_relevant" -> "ratio",
    "ops.KpiPost.chain_ms" -> "ms", "ops.KpiPost.shuffle_bytes" -> "bytes",
    "ops.KpiPost.spill_bytes" -> "bytes", "ops.KpiPost.cached_bytes_peak" -> "bytes",
    "ops.Pipeline.run_inference_ms" -> "ms", "ops.Pipeline.bytes_written" -> "bytes",
    "ops.Pipeline.files_written" -> "count",
    "spark.plan_ms" -> "ms", "spark.exec_ms" -> "ms", "spark.jobs" -> "count",
    "spark.tasks" -> "count", "scan.bytes_read" -> "bytes", "scan.files_read" -> "count",
    "jvm.gc_ms" -> "ms",
    "streaming.drain_ms" -> "ms", "streaming.phase_ms.latestOffset" -> "ms",
    "streaming.phase_ms.queryPlanning" -> "ms", "streaming.phase_ms.addBatch" -> "ms",
    "streaming.phase_ms.walCommit" -> "ms", "streaming.drops_per_drain" -> "count",
    "streaming.backlog_max" -> "count", "generator.late_ms_max" -> "ms",
    "ops.CorpusOps.admitted_frac" -> "ratio", "state.bytes_per_doc" -> "bytes",
    "ops.Similarity.inline_join_ms" -> "ms", "ops.Similarity.index_join_ms" -> "ms",
    "ops.Similarity.shuffle_bytes" -> "bytes", "ops.Similarity.spill_bytes" -> "bytes",
    "index.cell_pop_max_over_mean" -> "ratio",
    "setup.session_ms" -> "ms", "setup.gen_ms" -> "ms", "setup.train_ms" -> "ms",
"setup.index_ms" -> "ms",
    "op.samples" -> "count", "op.tail_pct" -> "%",
    "trace.overhead_frac" -> "ratio", "failed_frac" -> "ratio")

  def main(args: Array[String]): Unit = {
    val code =
      try run(args)
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(k, v) if k == s"--$name" => v }

  def startSession(ctx: Ctx): SparkSession = {
    // the library's session factory pins its warehouse outside the run
    // directory; a session built first with the same master and
    // extensions keeps every write inside the run directory, and
    // GraftSession.local then applies its settings to that session
    SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[${ctx.cores}]")
      .appName("perfbench")
      .config("spark.sql.warehouse.dir", ctx.dir("warehouse").toURI.toString)
      .config("spark.local.dir", ctx.dir("spark-local").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftSession.local(ctx.cores, "perfbench")
  }

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  private def rssPeakMb: Double = {
    val status = new File("/proc/self/status")
    if (status.exists())
      scala.io.Source.fromFile(status).getLines()
        .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
        .getOrElse(Double.NaN)
    else Runtime.getRuntime.totalMemory() / 1048576.0
  }

  def run(args: Array[String]): Int = {
    val name = arg(args, "workload").getOrElse("")
    val mk = Workloads.getOrElse(name, {
      System.err.println(s"unknown workload '$name'; expected one of ${Workloads.keys.toSeq.sorted.mkString(", ")}")
      return 2
    })
    val ctx = Ctx(
      work = new File(arg(args, "work").getOrElse(sys.error("--work is required"))),
      cores = Runtime.getRuntime.availableProcessors(),
      seed = arg(args, "seed").map(_.toLong).getOrElse(1L),
      seconds = arg(args, "seconds").map(_.toDouble).getOrElse(10.0),
      trace = arg(args, "trace").contains("1"))
    val out = new File(arg(args, "out").getOrElse(sys.error("--out is required")))
    Files2.fresh(ctx.work)
    val w = mk()

    // set-up, repeated from a fresh session each time; setup_s and the
    // setup.* layer times are medians over the repetitions
    var spark: SparkSession = null
    val phases = (1 to w.setupReps).map { _ =>
      if (spark != null) stopSession(spark)
      val ph = new Phase
      val t0 = System.nanoTime()
      spark = ph("session")(startSession(ctx))
      w.setup(spark, ctx, ph)
      ph.ms("total") = (System.nanoTime() - t0) / 1e6
      ph.ms.toMap
    }
    def setupMs(k: String) = Stats.median(phases.map(_.getOrElse(k, 0.0)))
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def mark(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1fs $what")
    phases.foreach(p => mark("set-up " + p.map { case (k, v) => f"$k=$v%.0fms" }.mkString(" ")))

    // one untimed operation first, so code generation and the JIT are
    // warm when timing starts (its output is still checked)
    val tr   = new Tracer(spark)
    val warm = w.run(spark, ctx, tr, System.nanoTime())
    val gc0  = gcMs
    mark("warm-up done")
    val ops =
      if (!ctx.trace) w.run(spark, ctx, tr, System.nanoTime() + (ctx.seconds * 1e9).toLong)
      else {
        val half  = (ctx.seconds * 0.5e9).toLong
        val plain = w.run(spark, ctx, tr, System.nanoTime() + half)
        tr.enable()
        val traced = w.run(spark, ctx, tr, System.nanoTime() + half)
        tr.settle()
        plain ++ traced
      }
    val gc = gcMs - gc0
    tr.disable()
    mark("measured window done")
    val failed = w.check(spark, ctx, warm ++ ops)
    mark("checks done")
    val layers = if (ctx.trace) w.layerMetrics(spark, ctx, tr) else Map.empty[String, Double]
    val rss = rssPeakMb
    stopSession(spark)

    val measured = if (ctx.trace) ops.filter(_.traced) else ops
    val lat      = measured.map(_.ms)
    val (tail, tailPct) = Stats.tail(lat)
    val busyS    = measured.map(_.busyMs).sum / 1000.0
    val attempted = warm.size + ops.size
    System.err.println(f"[perfbench] $name seed=${ctx.seed} ops=$attempted failed=$failed " +
      f"p50=${Stats.median(lat)}%.1fms tail(p$tailPct%.1f of ${lat.size})=$tail%.1fms " +
      f"setup=${setupMs("total")}%.0fms")

    val metrics: Seq[(String, Double, String)] =
      if (!ctx.trace) Seq(
        ("setup_s", setupMs("total") / 1000.0, "s"),
        ("op_p50_ms", Stats.median(lat), "ms"),
        ("op_tail_ms", tail, "ms"),
        ("items_per_s", measured.map(_.items).sum / busyS, "1/s"),
        ("rss_peak_mb", rss, "MB"),
        ("ok_frac", 1.0 - failed.toDouble / attempted, "ratio"),
        ("recall", w.recall, "ratio"))
      else {
        val plainMed = Stats.median(ops.filterNot(_.traced).map(_.ms))
        val opSpans  = tr.named("op")
        def perOp(k: String) = Stats.median(opSpans.map(s => tr.total(s, k)))
        val common = Map(
          "spark.plan_ms" -> perOp("spark.plan_ms"), "spark.exec_ms" -> perOp("spark.exec_ms"),
          "spark.jobs" -> perOp("spark.jobs"), "spark.tasks" -> perOp("spark.tasks"),
          "scan.bytes_read" -> perOp("scan.bytes_read"), "scan.files_read" -> perOp("scan.files_read"),
          "jvm.gc_ms" -> gc,
          "setup.session_ms" -> setupMs("session"), "setup.gen_ms" -> setupMs("gen"),
          "setup.train_ms" -> setupMs("train"),
          "setup.index_ms" -> setupMs("index"),
          "op.samples" -> lat.size.toDouble, "op.tail_pct" -> tailPct,
          "trace.overhead_frac" -> (Stats.median(lat) / plainMed - 1.0),
          "failed_frac" -> failed.toDouble / attempted)
        val all = common ++ layers
        PerLayer.map { case (n, u) => (n, all.getOrElse(n, 0.0), u) }
      }

    if (ctx.trace) {
      val spansFile = new File(out.getParentFile, s"spans-$name-${ctx.seed}.jsonl")
      Files2.write(spansFile, tr.toJsonLines.mkString("", "\n", "\n").getBytes("UTF-8"))
      System.err.println(s"[perfbench] span tree: $spansFile")
    }
    val json = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.metrics(metrics)))
    Files2.write(out, (json + "\n").getBytes("UTF-8"))
    0
  }
}
