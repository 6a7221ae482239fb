package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{PerfbenchSql, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Counters are the Spark work attributed
  * to this span alone; [[Tracer.total]] adds the descendants.
  */
final class Span(val id: Int, val name: String, val parent: Span) {
  val startNs: Long = System.nanoTime()
  var endNs: Long   = startNs
  private val c     = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = synchronized { c(k) = c.getOrElse(k, 0.0) + v }
  def get(k: String): Double = synchronized(c.getOrElse(k, 0.0))
  def counters: Map[String, Double] = synchronized(c.toMap)
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder plus the observers that fill the spans' counters.
  *
  * Spans are kept in memory and written out once, when the run ends.
  * Each span runs its Spark jobs under a job group of its own and tags
  * them with a `perfbench.span` local property. The `SparkListener`
  * maps job → stages → span from that tag, and the
  * `QueryExecutionListener` maps an action to a span through the SQL
  * execution id its jobs carry. A streaming query's thread inherits
  * the tag from the span that started it (its job group is the
  * query's own), so drains are attributed too. Nothing is registered
  * until [[enable]] is called, so untraced runs carry no observer.
  */
final class Tracer(spark: SparkSession) {
  private val SpanProperty = "perfbench.span"
  private val sc         = spark.sparkContext
  private val all        = mutable.ArrayBuffer.empty[Span]
  private var current: Span = null
  private val byId       = new ConcurrentHashMap[Int, Span]()
  private val byStage    = new ConcurrentHashMap[Int, Span]()
  private val byExec     = new ConcurrentHashMap[Long, Span]()
  private val execOfQuery = new ConcurrentHashMap[Long, Long]()
  // (query execution id, plan ms, exec ms, files read), resolved in settle()
  private val actions    = new ConcurrentLinkedQueue[(Long, Double, Double, Double)]()
  var enabled = false

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(SpanProperty)))
        .flatMap(id => Option(byId.get(id.toInt))).foreach { s =>
          s.add("spark.jobs", 1)
          e.stageIds.foreach(id => byStage.putIfAbsent(id, s))
          props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .foreach(x => byExec.putIfAbsent(x.toLong, s))
        }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        PerfbenchSql.queryId(end).foreach(q => execOfQuery.put(q, end.executionId))
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = byStage.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) {
        s.add("spark.tasks", 1)
        s.add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("spill_bytes", m.diskBytesSpilled.toDouble)
        s.add("scan.bytes_read", m.inputMetrics.bytesRead.toDouble)
        s.add("bytes_written", m.outputMetrics.bytesWritten.toDouble)
        s.add("task_gc_ms", m.jvmGCTime.toDouble)
      }
    }
  }

  private val queryListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph   = qe.tracker.phases
      val plan = Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs).sum
      val files = collectWithSubqueries(qe.executedPlan) {
        case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      actions.add((qe.id, plan.toDouble, durationNs / 1e6, files.toDouble))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Register the observers and start recording spans. */
  def enable(): Unit = if (!enabled) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    enabled = true
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(all.size, name, current)
      all += s
      val prev = current
      current = s
      byId.put(s.id, s)
      enter(s)
      try body
      finally {
        s.endNs = System.nanoTime()
        current = prev
        if (prev == null) {
          sc.clearJobGroup()
          sc.setLocalProperty(SpanProperty, null)
        } else enter(prev)
      }
    }

  private def enter(s: Span): Unit = {
    sc.setJobGroup(s"perfbench-span-${s.id}", s.name, interruptOnCancel = false)
    sc.setLocalProperty(SpanProperty, s.id.toString)
  }

  /** Wait for the listener bus, then attribute finished actions. */
  def settle(): Unit = if (enabled) {
    PerfbenchBus.drain(sc)
    var a = actions.poll()
    while (a != null) {
      val (query, plan, run, files) = a
      Option(execOfQuery.get(query)).flatMap(x => Option(byExec.get(x))).foreach { s =>
        s.add("spark.actions", 1)
        s.add("spark.plan_ms", plan)
        s.add("spark.exec_ms", run)
        s.add("scan.files_read", files)
      }
      a = actions.poll()
    }
  }

  def named(name: String): Seq[Span] = all.filter(_.name == name).toSeq
  private def children(s: Span): Seq[Span] = all.filter(_.parent eq s).toSeq

  /** Counter `k` of `s` including all descendants. */
  def total(s: Span, k: String): Double = s.get(k) + children(s).map(total(_, k)).sum

  /** Span duration minus the part its children cover. */
  def selfMs(s: Span): Double = s.ms - children(s).map(_.ms).sum

  /** The span tree as JSON lines: one object per span. */
  def toJsonLines: Seq[String] = all.toSeq.map { s =>
    val cs = s.counters.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }
    s"""{"id": ${s.id}, "name": ${Json.str(s.name)}, "parent": ${Option(s.parent).map(_.id.toString).getOrElse("null")}, """ +
      s""""ms": ${Json.num(s.ms)}, "self_ms": ${Json.num(selfMs(s))}, "counters": {${cs.mkString(", ")}}}"""
  }

  def disable(): Unit = if (enabled) {
    settle()
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
    enabled = false
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def metrics(m: Seq[(String, Double, String)]): String =
    obj(m.map { case (n, v, u) => n -> obj(Seq("value" -> num(v), "unit" -> str(u))) })
}
