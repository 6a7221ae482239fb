package graft

import graft.streaming.{EventRow, EventsStream}
import graft.streaming.EventsStream.Sink

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** The production file-sink streaming paths against their batch
  * oracles: append-mode parquet for the windowed rollup (only
  * finalized windows emitted), foreachBatch + latest-per-user for the
  * custom-state stats.
  */
class StreamFileSinkSpec extends SparkSpecBase {
  import spark.implicits._

  private val BaseNs  = 1700000000L * 1000000000L
  private val StepNs  = 120L * 1000000000L
  private val N       = 200
  private val HourMs  = 3600000L

  private def writeEvents(dir: String): Unit =
    (0 until N).map { i =>
      EventRow(i.toLong, BaseNs + i.toLong * StepNs, (i % 7).toLong,
        s"type${i % 3}", (i % 13) * 1.25, "{}")
    }.toDF().write.mode("overwrite").parquet(dir)

  test("parquet append sink emits exactly the finalized windows of the batch oracle") {
    val src = Files.createTempDirectory("evsrc").toString
    val out = Files.createTempDirectory("evout").toString
    val ckp = Files.createTempDirectory("evckp").toString
    writeEvents(src)
    val schema = spark.read.parquet(src).schema
    val q = EventsStream.streamWindowedCounts(
      spark, src, schema, Sink.Files(out, ckp), windowExpr = "1 hour", watermark = "1 hour",
      prep = df => df.withColumn("ts", GraftSession.nanosToTs(col("ts"))))
    q.awaitTermination()

    // final watermark = max event time - 1h; append emits windows with end <= watermark
    val maxMs = (BaseNs + (N - 1).toLong * StepNs) / 1000000L
    val wmMs  = maxMs - HourMs
    val batch = EventsStream.windowedCounts(
        spark.read.parquet(src).withColumn("ts", GraftSession.nanosToTs(col("ts"))))
      .withColumn("end_ms",
        (unix_timestamp(to_timestamp(col("window_start"))) * 1000 + HourMs))
    val expected = batch.filter(col("end_ms") <= wmMs).drop("end_ms")
    val open     = batch.filter(col("end_ms") > wmMs).count()
    assert(open > 0, "test must leave at least one unfinalized window")

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("window_start", "event_type", "n_events", "sum_value")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2))
    assert(rows(spark.read.parquet(out)) === rows(expected))
  }

  test("restart with the same checkpoint is incremental and exactly-once") {
    val src = Files.createTempDirectory("evsrc3").toString
    val out = Files.createTempDirectory("evout3").toString
    val ckp = Files.createTempDirectory("evckp3").toString
    // first run: events 0..99
    (0 until 100).map { i =>
      EventRow(i.toLong, BaseNs + i.toLong * StepNs, (i % 7).toLong,
        s"type${i % 3}", (i % 13) * 1.25, "{}")
    }.toDF().write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    def run(): Unit = {
      val q = EventsStream.streamWindowedCounts(
        spark, src, schema, Sink.Files(out, ckp), windowExpr = "1 hour", watermark = "1 hour",
        prep = df => df.withColumn("ts", GraftSession.nanosToTs(col("ts"))))
      q.awaitTermination()
    }
    run()
    val afterFirst = spark.read.parquet(out).count()
    // second run: append events 100..199 (later timestamps) as a NEW file
    (100 until 200).map { i =>
      EventRow(i.toLong, BaseNs + i.toLong * StepNs, (i % 7).toLong,
        s"type${i % 3}", (i % 13) * 1.25, "{}")
    }.toDF().write.mode("append").parquet(src)
    run()

    // the second run advanced the watermark: windows open after run 1
    // are now emitted, nothing is emitted twice
    val maxMs = (BaseNs + (N - 1).toLong * StepNs) / 1000000L
    val wmMs  = maxMs - HourMs
    val expected = EventsStream.windowedCounts(
        spark.read.parquet(src).withColumn("ts", GraftSession.nanosToTs(col("ts"))))
      .withColumn("end_ms",
        (unix_timestamp(to_timestamp(col("window_start"))) * 1000 + HourMs))
      .filter(col("end_ms") <= wmMs).drop("end_ms")
    val got = spark.read.parquet(out)
    assert(got.count() > afterFirst, "second run must emit the newly finalized windows")
    assert(got.groupBy("window_start", "event_type").count()
      .filter(col("count") > 1).count() === 0, "no window may be emitted twice")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("window_start", "event_type", "n_events", "sum_value")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2))
    assert(rows(got) === rows(expected))
  }

  test("windowed counts per sink: Memory reports every window, Files only the finalized ones") {
    val src = Files.createTempDirectory("evsrc4").toString
    val out = Files.createTempDirectory("evout4").toString
    val ckp = Files.createTempDirectory("evckp4").toString
    writeEvents(src)
    val schema = spark.read.parquet(src).schema
    val prep = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("ts", GraftSession.nanosToTs(col("ts")))
    for (sink <- Seq(Sink.Memory("win_per_sink"), Sink.Files(out, ckp)))
      EventsStream.streamWindowedCounts(spark, src, schema, sink,
        watermark = "1 hour", prep = prep).awaitTermination()

    val maxMs = (BaseNs + (N - 1).toLong * StepNs) / 1000000L
    val wmMs  = maxMs - HourMs
    val batch = EventsStream.windowedCounts(prep(spark.read.parquet(src)))
      .withColumn("end_ms",
        (unix_timestamp(to_timestamp(col("window_start"))) * 1000 + HourMs))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("window_start", "event_type", "n_events", "sum_value")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2)).toSeq
    val all       = rows(batch)
    val finalized = rows(batch.filter(col("end_ms") <= wmMs))
    assert(finalized.nonEmpty && finalized.length < all.length,
      "fixture must hold both finalized and open windows")
    assert(rows(spark.table("win_per_sink")) === all)
    assert(rows(spark.read.parquet(out)) === finalized)
  }

  test("stageFresh stages one file, which streamTwin delivers as one micro-batch") {
    // the rule the union-batch oracles rest on (s9_stream_ingest,
    // s9_stream_canon): a many-partition increment lands as ONE
    // parquet file and reaches the sink as batch 0 alone
    val dir = Files.createTempDirectory("stagedir").toString
    val inc = spark.range(0L, 64L, 1L, 4).toDF("id")
    assert(inc.rdd.getNumPartitions >= 4)
    val staged = QueriesScale.stageFresh(inc, "stagespec", dir)
    val parts = new java.io.File(staged).list()
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(parts.length === 1, parts.mkString(", "))
    val got = QueriesScale.streamTwin(spark, dir, "stagespec", staged, inc.schema) {
      (b, _) => b
    }
    assert(got.count() === 64L)
    val incs = new java.io.File(GraftSession.gatePath("stagespecout", dir)).list()
      .filter(_.startsWith("inc="))
    assert(incs.toSeq === Seq("inc=b0"))
  }

  test("foreachBatch sink + latestUserStats equals the batch per-user aggregation") {
    val src = Files.createTempDirectory("evsrc2").toString
    val out = Files.createTempDirectory("evout2").toString
    val ckp = Files.createTempDirectory("evckp2").toString
    writeEvents(src)
    val schema = spark.read.parquet(src).schema
    val q = EventsStream.streamUserStats(spark, src, schema, Sink.Files(out, ckp))
    q.awaitTermination()

    val got = EventsStream.latestUserStats(spark, out)
      .select("user_id", "n_events", "sum_cents", "first_ts_us", "last_ts_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    val exp = spark.read.parquet(src)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"),
        min(col("ts") / 1000).cast("long").as("first_ts_us"),
        max(col("ts") / 1000).cast("long").as("last_ts_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(got === exp)
  }
}

class StreamFunnelSpec extends SparkSpecBase {
  import spark.implicits._

  test("funnel chain state carries ACROSS micro-batches") {
    // chains split over two files + maxFilesPerTrigger=1: depth-3
    // completion is only reachable if t1/tp survive the batch boundary
    val Us = 1000000L
    def ev(id: Long, uid: Long, tUs: Long, tp: String) =
      EventRow(id, tUs * 1000L, uid, tp, 0.0, "{}")
    val early = Seq(
      ev(1, 1, 10 * Us, "view"),
      ev(2, 2, 10 * Us, "view"), ev(3, 2, 20 * Us, "click"),
      ev(4, 3, 10 * Us, "view"), ev(5, 3, 500 * Us, "click")) // out of window
    val late = Seq(
      ev(6, 1, 40 * Us, "click"), ev(7, 1, 60 * Us, "purchase"),
      ev(8, 2, 50 * Us, "purchase"))
    val src = Files.createTempDirectory("funnelsrc").toString
    // ONE part file per dir: same-mtime siblings would make the
    // trigger order among them arbitrary
    early.toDF().coalesce(1).write.parquet(s"$src/f1")
    late.toDF().coalesce(1).write.parquet(s"$src/f2")
    // deterministic trigger order: file source processes oldest first
    new java.io.File(s"$src/f1").listFiles().foreach(_.setLastModified(1000000L))
    new java.io.File(s"$src/f2").listFiles().foreach(_.setLastModified(2000000L))

    val schema = spark.read.parquet(s"$src/f1").schema
    val q = EventsStream.streamFunnelDepth(
      spark, s"$src/*", schema, "funnel_xbatch",
      Seq("view", "click", "purchase"), windowUs = 100 * Us,
      maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    val got = spark.table("funnel_xbatch")
      .groupBy(col("user_id")).agg(max(col("funnel_depth")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 3, 2L -> 3, 3L -> 1))

    // and the stream's final state equals the batch operator on the union
    val batch = graft.ops.EventAnalytics.funnelDepth(
      (early ++ late).toDF().withColumn("us", expr("ts div 1000")),
      "user_id", "event_type", "us", Seq("view", "click", "purchase"), 100 * Us)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === batch)
  }
}

class StreamSketchSpec extends SparkSpecBase {
  import spark.implicits._

  test("windowed kmv_quantile state survives micro-batch boundaries (restore + merge)") {
    // split the events across two single-file batches: the second
    // batch must deserialize the first's synopsis from the state
    // store and merge — the path a single-batch gate never exercises
    val HourNs = 3600L * 1000000000L
    val base   = 1700000000L * 1000000000L
    def ev(id: Long, tNs: Long, v: Double) = EventRow(id, tNs, id % 5, "view", v, "{}")
    // split at 45 so the file boundary falls INSIDE an hour window —
    // that window's synopsis must restore from batch 1 and merge
    // batch 2's contributions
    val early = (0 until 45).map(i => ev(i.toLong, base + i * 60L * 1000000000L, (i % 13) * 1.25))
    val late  = (45 until 120).map(i => ev(i.toLong, base + i * 60L * 1000000000L, (i % 17) * 0.75))
    val src = Files.createTempDirectory("sketchsrc").toString
    early.toDF().coalesce(1).write.parquet(s"$src/f1")
    late.toDF().coalesce(1).write.parquet(s"$src/f2")
    new java.io.File(s"$src/f1").listFiles().foreach(_.setLastModified(1000000L))
    new java.io.File(s"$src/f2").listFiles().foreach(_.setLastModified(2000000L))

    val schema = spark.read.parquet(s"$src/f1").schema
    val q = EventsStream.streamWindowedQuantiles(
      spark, s"$src/*", schema, "sketch_xbatch",
      prep = df => df.withColumn("ts", GraftSession.nanosToTs(col("ts"))),
      maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    val got = spark.table("sketch_xbatch")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

    val batch = EventsStream.windowedQuantiles(
      (early ++ late).toDF().withColumn("ts", GraftSession.nanosToTs(col("ts"))))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === batch)
    assert(batch.size >= 2, s"fixture must span 2+ hour windows, got ${batch.keySet}")
  }
}

class StreamSessionSinkSpec extends SparkSpecBase {
  import org.apache.spark.sql.functions._

  test("session parquet sink writes exactly the finalized sessions of the memory harness") {
    // deliberately sf0.1 (not the spec-default sf0.001): the round-4
    // verdict asked for the PRODUCTION sink gated at real scale —
    // 100k events through watermarked session state into parquet
    val dir    = "/root/testdata/sf0.1"
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val out  = java.nio.file.Files.createTempDirectory("sess-sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("sess-ckpt").toString
    val q = graft.streaming.EventsStream.streamSessionCounts(
      spark, dir, schema, Sink.Files(out, ckpt),
      prep = GraftSession.tsAsTimestamp,
      globFilter = Some("events.parquet"))
    q.awaitTermination()
    val fromSink = spark.read.parquet(out)
      .orderBy("user_id", "session_start_us").collect().toSeq
    val qm = graft.streaming.EventsStream.streamSessionCounts(
      spark, dir, schema, Sink.Memory("sess_sink_ref"),
      prep = GraftSession.tsAsTimestamp,
      globFilter = Some("events.parquet"))
    qm.awaitTermination()
    val fromMemory = spark.table("sess_sink_ref")
      .orderBy("user_id", "session_start_us").collect().toSeq
    assert(fromSink.nonEmpty)
    assert(fromSink === fromMemory)
  }
}

class StreamSessionSpec extends SparkSpecBase {
  import org.apache.spark.sql.functions._

  test("append-mode session windows equal the batch sessions the watermark finalized") {
    val dir    = sf
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val q = graft.streaming.EventsStream.streamSessionCounts(
      spark, dir, schema, Sink.Memory("sess_spec"),
      prep = GraftSession.tsAsTimestamp,
      globFilter = Some("events.parquet"))
    q.awaitTermination()
    val streamed = spark.table("sess_spec")
      .orderBy("user_id", "session_start_us").collect().toSeq
    // batch form on the same static frame, minus sessions the final
    // watermark (max event time - 2h) had not yet closed
    val batchAll = graft.streaming.EventsStream.sessionCounts(
      GraftSession.tsAsTimestamp(spark.read.parquet(s"$dir/events.parquet")))
    val mx = batchAll.agg(max(col("session_end_us"))).head().getLong(0)
    val maxEvent = GraftSession.tsToNanos(spark.read.parquet(s"$dir/events.parquet"))
      .select(max(call_function("div", col("ts"), lit(1000L)))).head().getLong(0)
    val finalized = batchAll
      .filter(col("session_end_us") <= maxEvent - 7200000000L)
      .orderBy("user_id", "session_start_us").collect().toSeq
    assert(streamed.nonEmpty && streamed.size < batchAll.count())
    assert(streamed === finalized)
  }

  test("probe/eval stream sinks are exactly-once under checkpoint-wipe replay " +
      "(batch-id keyed dynamic overwrite)") {
    // the round-9 advice bug: plain mode("append") in foreachBatch
    // duplicates rows when a checkpoint-recovered micro-batch
    // replays. EventsStream.ingest keys every op's output by
    // inc=b<batchId> and dynamic-overwrites, so a replay rewrites its
    // own partition. Proven per op: wipe the checkpoint, rerun, the
    // output must be identical. The substring probe was the last sink
    // on plain append.
    import graft.ops.{CorpusOps, TextAnalysis}
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val docs = GraftSession.table(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val tmp = Files.createTempDirectory("evalreplay").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", s"$tmp/bm25", buckets = 8)
    CorpusOps.writeSubstringIndex(docs, "doc_id", "text", s"$tmp/sub", window = 8)
    val qs = Seq((1L, "spark window agg"), (2L, "customer query data"))
      .toDF("query_id", "qtext")
    val fresh = docs.filter(col("doc_id") < 10)
      .select((col("doc_id") + 30000).as("doc_id"), col("text"))
    val cases: Seq[(String, DataFrame, (DataFrame, Long) => DataFrame)] = Seq(
      ("retrieval metrics", qs, { (b, _) =>
        val top = TextAnalysis.probeBm25Index(spark, s"$tmp/bm25", b, "query_id", "qtext", k = 10)
          .select(col("query_id"), col("doc_id"), col("rank"))
        TextAnalysis.retrievalMetrics(top, docs, "doc_id", "text", b, "query_id", "qtext")
      }),
      ("substring dedup", fresh, { (b, _) =>
        CorpusOps.probeSubstringIndex(spark, s"$tmp/sub", b, "doc_id", "text", window = 8)
      }))
    for ((name, input, op) <- cases) {
      val dir = s"$tmp/${name.replace(' ', '_')}"
      input.coalesce(1).write.mode("overwrite").parquet(s"$dir/in")
      def run(): Unit =
        EventsStream.ingest(spark, s"$dir/in", input.schema, s"$dir/out", s"$dir/ckpt")(op)
          .awaitTermination()
      def state() = spark.read.parquet(s"$dir/out")
        .orderBy(input.columns.head).collect().map(_.toSeq).toSeq
      run()
      val once = state()
      assert(once.nonEmpty, name)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/ckpt"))
      run()
      assert(state() === once,
        s"$name: checkpoint-wipe replay duplicated rows — sink not exactly-once")
    }
  }

  test("ingest: an op that emits zero rows terminates, writes no inc= partition, " +
      "and a schema'd read-back is empty") {
    // the r18 read-back lesson: a probe whose every batch matches
    // nothing leaves the partitioned sink without parquet files, so
    // only a read with an explicit schema yields the empty frame the
    // oracle can fail cleanly on
    import org.apache.spark.sql.types.StructType
    import spark.implicits._
    val tmp = Files.createTempDirectory("emptyinc").toString
    val input = (1L to 50L).toDF("event_id")
    input.coalesce(1).write.parquet(s"$tmp/in")
    val q = EventsStream.ingest(spark, s"$tmp/in", input.schema, s"$tmp/out", s"$tmp/ckpt") {
      (b, _) => b.filter(col("event_id") < 0)
    }
    q.awaitTermination()
    assert(q.exception.isEmpty && !q.isActive)
    assert(q.recentProgress.map(_.numInputRows).sum === 50L,
      "the stream must still consume its input")
    val parts = Option(new java.io.File(s"$tmp/out").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("inc="))
    assert(parts.isEmpty, s"empty op wrote partitions: ${parts.map(_.getName).mkString(",")}")
    val back = spark.read.schema(new StructType().add("event_id", "long"))
      .parquet(s"$tmp/out").drop("inc")
    assert(back.columns.toSeq === Seq("event_id"))
    assert(back.count() === 0L)
  }
}
