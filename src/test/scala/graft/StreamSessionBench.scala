package graft

import graft.streaming.EventsStream

import org.apache.spark.sql.functions._

/** Dev tool (test scope): micro-batch cost breakdown for the streaming
  * session query — splits fixed trigger/startup overhead from the
  * per-batch state work so SCALING.md's numbers are measured, not
  * guessed. Usage:
  *   sbt "Test/runMain graft.StreamSessionBench /root/repo/benchdata/sf1"
  */
object StreamSessionBench {
  def main(args: Array[String]): Unit = {
    val dir   = args.headOption.getOrElse("/root/repo/benchdata/sf1")
    val spark = GraftSession.local(32, "stream-session-bench")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema

    val t0 = System.nanoTime()
    val q = EventsStream.streamSessionCounts(spark, dir, schema, EventsStream.Sink.Memory("sess_bench"),
      prep = GraftSession.tsAsTimestamp,
      globFilter = Some("events.parquet"))
    q.awaitTermination()
    val total = (System.nanoTime() - t0) / 1e9

    var inTriggers = 0L
    q.recentProgress.foreach { p =>
      def d(k: String) = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      inTriggers += d("triggerExecution")
      val st = p.stateOperators.headOption
      println(f"[batch] id=${p.batchId}%2d rows=${p.numInputRows}%7d " +
        f"trigger=${d("triggerExecution")}%6d ms addBatch=${d("addBatch")}%6d ms " +
        f"stateRows=${st.map(_.numRowsTotal).getOrElse(-1L)}%7d " +
        f"stateMem=${st.map(_.memoryUsedBytes).getOrElse(-1L)}%9d B")
    }
    println(f"[stream] total ${total}%.3f s; inside triggers ${inTriggers / 1000.0}%.3f s; " +
      f"startup/teardown ${total - inTriggers / 1000.0}%.3f s over ${q.recentProgress.length} batches")
    spark.stop()
  }
}
