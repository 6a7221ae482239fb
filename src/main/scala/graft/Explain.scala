package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev tool: print the formatted physical plan and timing for one or
  * more registered queries, and under each timed run every Spark job
  * it ran (start offset, duration, call site) and every streaming
  * micro-batch's phase durations, so driver-side gaps between jobs
  * (planning, file listing, FS metadata work) show as missing wall
  * time and a trigger's fixed cost decomposes. Usage:
  *   runMain graft.Explain <sfDir> <query> [query...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    // measure like Bench: persisted-index gate rows reuse the per-JVM
    // build memo so the timed window is the probe, not the build
    System.setProperty("graft.gate.memo", "1")
    val sfDir = args.head
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-explain")

    @volatile var t0 = System.nanoTime()
    def offset = f"+${(System.nanoTime() - t0) / 1e9}%6.2fs"
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val lines  = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val p = Option(js.properties)
        val site = p.flatMap(x => Option(x.getProperty("callSite.short")))
          .orElse(p.flatMap(x => Option(x.getProperty("spark.job.description"))))
          .orElse(p.flatMap(x => Option(x.getProperty("spark.sql.execution.root.id")).map("sqlRoot=" + _)))
          .getOrElse("?")
        starts.put(js.jobId, (System.nanoTime(), site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(starts.remove(je.jobId)).foreach { case (s, site) =>
          val now = System.nanoTime()
          lines.add(f"  job ${je.jobId}%3d  +${(s - t0) / 1e9}%6.2fs  ${(now - s) / 1e9}%6.3fs  $site")
        }
    })
    spark.streams.addListener(new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        lines.add(s"  stream start $offset ${e.name}")
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        lines.add(s"  batch ${e.progress.batchId}  $offset  " +
          s"durations=${e.progress.durationMs} rows=${e.progress.numInputRows}")
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        lines.add(s"  stream end   $offset")
    })

    args.tail.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"==== $name ====")
      df.explain("formatted")
      // time like Bench does — construction INCLUDED (eager driver
      // actions inside a query body are part of its cost; the old
      // timer started after fn() and undercounted exactly the rows
      // whose cost is construction-side), best-of-2 over fresh
      // invocations
      val times = (1 to 2).map { run =>
        lines.clear()
        t0 = System.nanoTime()
        val n  = SparkEntry.queries(name)(spark, sfDir).count()
        val s  = (System.nanoTime() - t0) / 1e9
        // drain listener events before printing (private bus — a
        // short sleep is fine for a dev tool)
        Thread.sleep(300)
        println(f"==== $name run $run: $n rows in $s%.2f s")
        lines.forEach(l => println(l))
        (n, s)
      }
      val n = times.head._1
      // run-to-run row-count drift is exactly the nondeterminism this
      // tool exists to surface (r19 ADVICE) — print it loudly instead
      // of silently reporting run 1's count
      if (times.map(_._1).distinct.size != 1)
        println(s"==== $name: ROW-COUNT DRIFT across runs: ${times.map(_._1).mkString(", ")}")
      println(f"==== $name: $n rows in ${times.map(_._2).min}%.2f s " +
        f"(runs: ${times.map(t => f"${t._2}%.2f").mkString(", ")})")
    }
    spark.stop()
  }
}
