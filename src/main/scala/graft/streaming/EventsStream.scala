package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Raw events row (ts = epoch nanos, see GraftSession nanosAsLong). */
case class EventRow(
    event_id: Long, ts: Long, user_id: Long,
    event_type: String, value: Double, props: String)

/** Per-user running stats carried as custom stream state. Money in
  * exact integer cents so state accumulation is order-independent.
  */
case class UserStats(
    user_id: Long, n_events: Long, sum_cents: Long,
    first_ts_us: Long, last_ts_us: Long)

/** Funnel chain state: reached depth, chain anchor t₁ and the last
  * matched step's timestamp (µs) — constant-size per user.
  */
case class FunnelState(depth: Int, t1: Long, tp: Long)

/** Streaming funnel output row. */
case class UserFunnel(user_id: Long, funnel_depth: Int)

/** Structured Streaming extension (SURVEY §2.9: the reference is
  * batch-only; its "incremental" behavior is skip-processed-file
  * memoization). The engine runs the same tumbling-window aggregation
  * in batch and streaming — identical frames, so the batch query IS
  * the oracle for the stream.
  *
  * Every stream here is one [[source]] read, the batch operator, and
  * one [[run]] into a [[Sink]].
  */
object EventsStream {

  /** Where a stream's rows go.
    *
    * [[Sink.Memory]] is the synchronous local harness: an in-memory
    * table named `queryName` that gates and specs read back. It holds
    * the result on the driver, and in complete mode re-materializes
    * the whole table every trigger — a driver bottleneck the moment
    * the key cardinality grows.
    *
    * [[Sink.Files]] is the production path: parquet under `outDir`,
    * exactly-once through the commit log under `checkpointDir` (a
    * re-run with the same checkpoint writes nothing twice), and the
    * result never passes through the driver. A file sink only appends,
    * so a windowed stream writes a window once the watermark passes its
    * end; windows still open at end-of-stream stay in state until a
    * later run's data advances the watermark — that is the exactly-once
    * contract, not data loss.
    *
    * Each stream that takes a `Sink` picks its output mode per sink.
    */
  sealed trait Sink
  object Sink {
    final case class Memory(queryName: String) extends Sink
    final case class Files(outDir: String, checkpointDir: String) extends Sink
    /** `foreachBatch` under `checkpointDir`: each micro-batch reaches
      * `fold` as a static frame with its batch id. Built only here, by
      * [[foreachIncrement]] and the user-stats file sink.
      */
    private[streaming] final case class Batches(
        checkpointDir: String, fold: (DataFrame, Long) => Unit) extends Sink
  }

  /** THE stream source: the parquet files under `dir` with a fixed
    * `schema` (a file stream cannot infer one), only names matching
    * `globFilter` if given, at most `maxFilesPerTrigger` files per
    * micro-batch (`None` takes every pending file in one batch), and
    * `prep` adapting raw columns (e.g. epoch-nanos long → timestamp)
    * before any watermark is applied.
    */
  private[graft] def source(
      spark: SparkSession,
      dir: String,
      schema: StructType,
      prep: DataFrame => DataFrame = identity,
      globFilter: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None
  ): DataFrame = {
    val reader0 = spark.readStream.schema(schema)
    val reader1 = globFilter.fold(reader0)(g => reader0.option("pathGlobFilter", g))
    val reader  = maxFilesPerTrigger.fold(reader1)(n => reader1.option("maxFilesPerTrigger", n.toLong))
    prep(reader.parquet(dir))
  }

  /** THE sink step: `rows` in output `mode` into `sink`, as one
    * `AvailableNow` run that drains what is pending and stops.
    */
  private[graft] def run(rows: DataFrame, mode: String, sink: Sink): StreamingQuery = {
    val writer = rows.writeStream.outputMode(mode)
    (sink match {
      case Sink.Memory(queryName) => writer.format("memory").queryName(queryName)
      case Sink.Files(outDir, checkpointDir) =>
        writer.format("parquet").option("path", outDir)
          .option("checkpointLocation", checkpointDir)
      case Sink.Batches(checkpointDir, fold) =>
        writer.foreachBatch(fold).option("checkpointLocation", checkpointDir)
    }).trigger(Trigger.AvailableNow()).start()
  }

  /** Tumbling-window event rollup (batch form, oracle-checkable).
    * value sums go through decimal so the partial-agg sum is exact
    * and order-independent (same convention as the money queries).
    */
  def windowedCounts(events: DataFrame, windowExpr: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), windowExpr).as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2).as("sum_value")
      )
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value")
      )

  /** Stream-static dim enrichment + rollup (batch form): events join
    * a STATIC dim on a derived key, then aggregate per dim attribute.
    * The join is explicitly broadcast — in a stream every micro-batch
    * re-executes the join subtree, so a shuffled dim would pay an
    * exchange per trigger; a broadcast dim ships once per executor.
    */
  def enrichedCounts(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .join(broadcast(dim), pmod(col("user_id"), lit(25)) === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2).as("sum_value"))

  /** The same enrichment as a file-source stream (stream-static inner
    * join, supported without watermark state: the static side is
    * fixed per batch), complete mode into a memory sink.
    */
  def streamEnrichedCounts(
      spark: SparkSession,
      dir: String,
      schema: StructType,
      queryName: String,
      dim: DataFrame,
      prep: DataFrame => DataFrame = identity,
      globFilter: Option[String] = None
  ): StreamingQuery =
    run(enrichedCounts(source(spark, dir, schema, prep, globFilter), dim),
      "complete", Sink.Memory(queryName))

  /** THE increment stream: graft's one Structured Streaming form of
    * the reference pipeline's incremental contract, "skip the files
    * already processed". A parquet file source over `dir` records in
    * `checkpointDir` which files it has delivered; `AvailableNow`
    * drains what is pending and stops. Every micro-batch reaches
    * `fold` as a static frame with its batch id.
    *
    * Oracle argument. `fold` runs the BATCH operator on the
    * increment, so one implementation serves batch and stream and the
    * batch operator's oracle SQL gates the stream surface too. Stream
    * ≡ batch holds when the operator is batch-local (per-row probes,
    * scores and assignments: a row's whole result lives in its
    * batch), or when the staged increment is one file and therefore
    * one micro-batch (the folds whose oracle is the union-batch rule).
    * Because the batch operator runs per micro-batch, an operator
    * that reads a persisted index re-resolves its grace-aware listing
    * ([[graft.ops.Scale.readLive]]) and materializes under its
    * missing-file retry on every batch: the stream is compaction-safe
    * for any lifetime, unlike a stream-static join, which pins one
    * listing at definition (r17).
    *
    * Exactly-once argument. Delivery is at-least-once: a crash
    * between the fold's write and the checkpoint commit, or a wiped
    * checkpoint, replays the batch under the same batch id (a wiped
    * checkpoint restarts the ids at 0). Exactly-once therefore comes
    * from the fold being idempotent per increment: either the
    * [[ingest]] sink, or a fold whose own ledger is keyed by an id
    * derived from the batch id (the drift-reference and shard-manifest
    * partitions, the BM25 index's applied ledger, versioned k-means
    * models), or an idempotent upsert (the CDC merge). A fold that is
    * none of these, like the stats-table merge, is at-least-once.
    *
    * `maxFilesPerTrigger = Some(1)` makes each arriving file its own
    * micro-batch, for folds whose gate must exercise repeated folding;
    * `None` takes every pending file in one batch.
    */
  def foreachIncrement(
      spark: SparkSession,
      dir: String,
      schema: StructType,
      checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None
  )(fold: (DataFrame, Long) => Unit): StreamingQuery =
    run(source(spark, dir, schema, maxFilesPerTrigger = maxFilesPerTrigger),
      "append", Sink.Batches(checkpointDir, fold))

  /** [[foreachIncrement]] plus the one increment sink: `op`'s rows for
    * batch `bid` land under `outDir/inc=b<bid>` by dynamic partition
    * overwrite, so a replayed batch rewrites its own partition instead
    * of appending duplicate rows. Readers drop `inc`. A batch whose op
    * emits zero rows writes no partition; a reader that must survive
    * an all-empty run reads with an explicit schema (r18).
    */
  def ingest(
      spark: SparkSession,
      dir: String,
      schema: StructType,
      outDir: String,
      checkpointDir: String
  )(op: (DataFrame, Long) => DataFrame): StreamingQuery =
    foreachIncrement(spark, dir, schema, checkpointDir) { (batch, bid) =>
      op(batch, bid)
        .withColumn("inc", lit(s"b$bid"))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("inc").parquet(outDir)
    }

  /** The whole deployed admission chain
    * ([[graft.ops.CorpusOps.ingestGateWithState]]) as an [[ingest]]
    * stream over the persisted
    * [[graft.ops.CorpusOps.writeIngestGateState]] state, with the
    * batch id as the curriculum fold's idempotency key.
    */
  def streamIngestGate(
      spark: SparkSession,
      statePath: String,
      newDocsDir: String,
      schema: StructType,
      outDir: String,
      checkpointDir: String
  ): StreamingQuery =
    ingest(spark, newDocsDir, schema, outDir, checkpointDir) { (batch, bid) =>
      graft.ops.CorpusOps
        .ingestGateWithState(spark, statePath, batch, "doc_id", "text", s"b$bid")
    }

  /** Stream-stream time-bounded join: every view event pairs with the
    * same user's purchases in the trailing hour. Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * state is provably evictable (Spark buffers each side only within
    * watermark + bound — without the time bound, stream-stream join
    * state grows forever). Inner join in append mode emits exactly
    * the batch-join rows, which is what the oracle checks.
    */
  def streamViewPurchaseJoin(
      spark: SparkSession,
      dir: String,
      schema: StructType,
      queryName: String,
      prep: DataFrame => DataFrame = identity,
      globFilter: Option[String] = None
  ): StreamingQuery = {
    def src: DataFrame = source(spark, dir, schema, prep, globFilter)
    val views = src.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"), col("ts").as("vts"))
      .withWatermark("vts", "2 hours")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("pts"), col("value"))
      .withWatermark("pts", "2 hours")
    run(views.join(purchases,
        col("v_user") === col("p_user") &&
          col("pts") >= col("vts") - expr("interval 1 hour") &&
          col("pts") <= col("vts"))
      .select(col("view_id"), col("v_user").as("user_id"),
        unix_micros(col("vts")).as("vts_us"),
        unix_micros(col("pts")).as("pts_us"), col("value")),
      "append", Sink.Memory(queryName))
  }

  /** Same rollup as a file-source stream with a watermark for late
    * data. [[Sink.Memory]] runs in complete mode and reports every
    * window, open ones included; [[Sink.Files]] runs in append mode and
    * writes each window once the watermark finalizes it.
    */
  def streamWindowedCounts(
      spark: SparkSession,
      dir: String,
      schema: StructType,
      sink: Sink,
      windowExpr: String = "1 hour",
      watermark: String = "2 hours",
      prep: DataFrame => DataFrame = identity,
      globFilter: Option[String] = None
  ): StreamingQuery =
    // the batch form IS the oracle — share the aggregation body so the
    // two can't desynchronize
    run(windowedCounts(source(spark, dir, schema, prep, globFilter)
        .withWatermark("ts", watermark), windowExpr),
      sink match {
        case _: Sink.Memory => "complete"
        case _              => "append"
      }, sink)

  /** Windowed quantile SKETCH on the stream (batch form): per
    * (hour, event_type) median of the value in integer cents via the
    * `kmv_quantile` distinct-sampling synopsis. The point: the sketch
    * is a `TypedImperativeAggregate`, so its ≤ k-entry buffer is what
    * the state store carries per open window — constant-size windowed
    * quantiles at any stream rate, and the same semilattice merge
    * that makes it partition-proof makes it micro-batch-proof.
    */
  def windowedQuantiles(events: DataFrame, windowExpr: String = "1 hour"): DataFrame =
    events
      .withColumn("cents", expr("cast(round(value * 100) as bigint)"))
      .groupBy(window(col("ts"), windowExpr).as("w"), col("event_type"))
      .agg(expr("kmv_quantile(cents, 16, 50)").as("p50_cents_est"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("p50_cents_est"))

  /** [[windowedQuantiles]] as a stream with watermarked event time —
    * the batch form over the same data is the oracle.
    */
  def streamWindowedQuantiles(
      spark: SparkSession,
      dir: String,
      schema: StructType,
      queryName: String,
      watermark: String = "2 hours",
      prep: DataFrame => DataFrame = identity,
      globFilter: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None // spec hook: multi-batch state restore
  ): StreamingQuery =
    run(windowedQuantiles(source(spark, dir, schema, prep, globFilter, maxFilesPerTrigger)
        .withWatermark("ts", watermark)),
      "complete", Sink.Memory(queryName))

  /** Session-window rollup (batch form): per-user events within `gap`
    * of each other coalesce into one session
    * (`functions.session_window` — window end = last event + gap).
    * Bounds in epoch-µs longs so the oracle needs no timestamp
    * formatting. Works identically on a static frame, which is what
    * the spec compares the stream against.
    */
  def sessionCounts(events: DataFrame, gap: String = "1 hour"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2).as("sum_value"))
      .select(
        col("user_id"),
        unix_micros(col("w.start")).as("session_start_us"),
        unix_micros(col("w.end")).as("session_end_us"),
        col("n_events"), col("sum_value"))

  /** Session windows as a stream: append mode into either sink
    * (session windows do not support complete), so the sink receives
    * exactly the sessions the advanced watermark finalized — sessions
    * whose end is at or before max(event time) − `watermark` when the
    * source is exhausted (AvailableNow). The trailing per-user sessions
    * stay in state; a longer-running stream emits them when later data
    * advances the watermark. The oracle replicates the finalization
    * cut.
    */
  def streamSessionCounts(
      spark: SparkSession,
      dir: String,
      schema: StructType,
      sink: Sink,
      gap: String = "1 hour",
      watermark: String = "2 hours",
      prep: DataFrame => DataFrame = identity,
      globFilter: Option[String] = None
  ): StreamingQuery =
    run(sessionCounts(source(spark, dir, schema, prep, globFilter)
        .withWatermark("ts", watermark), gap),
      "append", sink)

  /** Streaming funnel: the per-user earliest-chain state machine of
    * [[graft.ops.EventAnalytics.funnelDepth]] carried as stream state
    * — (depth, t1, tprev) per user, a few dozen bytes regardless of
    * history length, advanced by each micro-batch.
    *
    * Order contract: rows are time-sorted WITHIN each batch (micro-
    * batch iterators are unordered); ACROSS batches the fold assumes
    * time-ordered arrival (the replayable-log convention every
    * append-only event source satisfies) — a late event older than
    * the chain head is skipped, because a monotone state machine
    * cannot rewind. An AvailableNow run over a static source is a
    * single sorted batch, so the final state per key equals the batch
    * operator, which is the oracle.
    */
  def streamFunnelDepth(
      spark: SparkSession,
      dir: String,
      schema: StructType,
      queryName: String,
      steps: Seq[String],
      windowUs: Long,
      globFilter: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None // spec hook: forces multi-batch runs
  ): StreamingQuery = {
    import spark.implicits._
    val stepIdx = steps.zipWithIndex.toMap
    // EventRow needs epoch-nanos Long; the driver's events layout may
    // carry ts as a µs timestamp instead (round-7 regeneration), so
    // normalize at the stream boundary — identity on the long layout
    val funnels = source(spark, dir, schema, graft.GraftSession.tsToNanos, globFilter,
        maxFilesPerTrigger)
      .as[EventRow]
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, UserFunnel](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[EventRow], state: GroupState[FunnelState]) =>
          val init = state.getOption.getOrElse(FunnelState(0, -1L, -1L))
          val evts = rows
            .flatMap(e => stepIdx.get(e.event_type).map(st => (e.ts / 1000, st)))
            .toVector.sorted
          val s = evts.foldLeft(init) { case (acc, (us, step)) =>
            if (acc.depth == 0 && step == 0) FunnelState(1, us, us)
            else if (acc.depth > 0 && acc.depth < steps.length && step == acc.depth &&
              us > acc.tp && us - acc.t1 <= windowUs)
              FunnelState(acc.depth + 1, acc.t1, us)
            else acc
          }
          state.update(s)
          UserFunnel(uid, s.depth)
      }
    run(funnels.toDF(), "update", Sink.Memory(queryName))
  }

  /** Custom-state streaming: per-user running stats via
    * `mapGroupsWithState` (the KeyValueGroupedDataset face of the
    * engine — arbitrary state the built-in aggs can't express).
    * With an AvailableNow run the final state per key equals the batch
    * group-by, which is the oracle.
    *
    * Update mode into either sink. [[Sink.Files]] appends each
    * micro-batch's updated rows tagged with its `batch_id`: the sink
    * is append-only (a retried batch writes the same rows under the
    * same batch_id again, never corrupting earlier output), and
    * [[latestUserStats]] resolves each user to their highest-batch
    * row, making the pair idempotent at read time without a
    * transactional store.
    */
  def streamUserStats(
      spark: SparkSession,
      dir: String,
      schema: StructType,
      sink: Sink,
      globFilter: Option[String] = None
  ): StreamingQuery = {
    import spark.implicits._
    // same ts-layout normalization as streamFunnelDepth
    val stats = source(spark, dir, schema, graft.GraftSession.tsToNanos, globFilter)
      .as[EventRow]
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserStats, UserStats](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[EventRow], state: GroupState[UserStats]) =>
          val init = state.getOption.getOrElse(
            UserStats(uid, 0L, 0L, Long.MaxValue, Long.MinValue))
          val s = rows.foldLeft(init) { (acc, e) =>
            UserStats(uid,
              acc.n_events + 1,
              acc.sum_cents + math.round(e.value * 100),
              math.min(acc.first_ts_us, e.ts / 1000),
              math.max(acc.last_ts_us, e.ts / 1000))
          }
          state.update(s)
          s
      }
    run(stats.toDF(), "update", sink match {
      case Sink.Files(outDir, checkpointDir) =>
        Sink.Batches(checkpointDir, (batch, batchId) =>
          batch.withColumn("batch_id", lit(batchId)).write.mode("append").parquet(outDir))
      case other => other
    })
  }

  /** Resolve the [[streamUserStats]] file sink to the latest state per
    * user: within a batch each user appears at most once, so the
    * highest batch_id row IS the final state.
    */
  def latestUserStats(spark: SparkSession, outDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("batch_id").desc)
    spark.read.parquet(outDir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn", "batch_id")
  }

  /** Streaming dedup-within-watermark: drop events whose
    * (user_id, event_type, value) repeats inside the state window —
    * the streaming face of the Dedup family.
    */
  def streamDedup(
      spark: SparkSession,
      dir: String,
      schema: StructType,
      queryName: String,
      watermark: String = "2 hours",
      prep: DataFrame => DataFrame = identity,
      globFilter: Option[String] = None
  ): StreamingQuery =
    run(source(spark, dir, schema, prep, globFilter)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark("user_id", "event_type", "value"),
      "append", Sink.Memory(queryName))
}
