package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Event-sequence analytics: windowed funnels and retention cohorts —
  * the two standard product-analytics operators over an event log
  * (ClickHouse's `windowFunnel` / every analytics warehouse's cohort
  * matrix), here with deterministic, cross-engine-checkable
  * semantics.
  *
  * Funnel semantics (earliest-chain): per user, t₁ = first step-1
  * event; tᵢ = first step-i event STRICTLY after tᵢ₋₁; the reached
  * depth counts the chain while tᵢ − t₁ ≤ window. The greedy fold
  * and the min-ts chain are depth-equivalent (once a candidate
  * overruns the window every later one does too), which is what lets
  * a per-user single-pass fold be replayed by the oracle as K
  * unrolled min-chains.
  *
  * Scale shape: ONE shuffle (groupBy user) + a codegen'd higher-order
  * `aggregate` fold over the user's time-sorted events — no UDF, no
  * per-step re-join. Timestamps run in the µs integer domain.
  * Retention is two map-side-combinable aggregations (first event per
  * user, then distinct users per cohort×offset cell) joined on user —
  * broadcastable when the user dimension is small, shuffle-keyed
  * otherwise.
  *
  * ==Skew guard==
  *
  * The per-key fold materializes one in-heap array per key, so a
  * pathological hot key (a bot account with 10⁸ events) is an
  * executor OOM, not a slow task. Every fold therefore caps each key
  * at its `maxEventsPerKey` EARLIEST events (deterministic integer
  * order) and emits a `truncated` boolean: an overflowing key
  * degrades LOUDLY — result computed from the first `cap` events,
  * flag raised for the caller to alert on — instead of killing the
  * executor. The cap rides the fold's own key partitioning (a
  * `row_number` window over the same key — no extra shuffle) and the
  * window sort SPILLS a hot key to disk where `collect_list` cannot.
  * `maxEventsPerKey = Int.MaxValue` disables the guard (and its
  * sort) entirely.
  */
object EventAnalytics {

  /** Default per-key event cap: 2²⁰ events ≈ 16 MB of fold array per
    * key — far above any human user, far below executor heap.
    */
  val DefaultMaxEventsPerKey: Int = 1 << 20

  /** Per-user funnel depth over `steps`, timestamps in `usCol` (µs
    * longs), chain window `windowUs`. Returns `(user, funnel_depth)`
    * with depth 0 = step 1 never fired.
    */
  def funnelDepth(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      usCol: String,
      steps: Seq[String],
      windowUs: Long,
      maxEventsPerKey: Int = DefaultMaxEventsPerKey
  ): DataFrame =
    foldedState(events, userCol, typeCol, usCol, steps, windowUs, maxEventsPerKey)
      .select(col("user"), col("st.depth").as("funnel_depth"), col("truncated"))

  /** Per-user funnel state incl. conversion timing: `(user,
    * funnel_depth, convert_us)` where `convert_us` = chain-completion
    * time minus anchor time, null unless the full chain fired. Same
    * fold as [[funnelDepth]] — the final state's tp IS the matched
    * last-step time (≡ the min-chain's t_K), so the duration is
    * oracle-replayable as t_K − t₁.
    */
  def funnelTiming(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      usCol: String,
      steps: Seq[String],
      windowUs: Long,
      maxEventsPerKey: Int = DefaultMaxEventsPerKey
  ): DataFrame =
    foldedState(events, userCol, typeCol, usCol, steps, windowUs, maxEventsPerKey)
      .select(col("user"), col("st.depth").as("funnel_depth"),
        when(col("st.depth") === steps.length, col("st.tp") - col("st.t1")).as("convert_us"),
        col("truncated"))

  /** Per-key EWMA with α = 1/2 in FIXED-POINT integers: acc₁ =
    * v₁·scale; accₜ = (accₜ₋₁ + vₜ·scale) div 2, folded over the
    * key's time-ordered values — the time-decayed score every
    * recency-weighted ranking uses. Fixed-point with truncation at
    * each step exists for checkability: float `pow` weights aren't
    * correctly rounded cross-engine and float sums don't commute,
    * while this recurrence replays exactly as a recursive CTE. One
    * user-keyed shuffle + a codegen'd fold, same shape as the funnel.
    */
  def ewmaByKey(
      events: DataFrame,
      keyCol: String,
      usCol: String,
      valCol: String,
      scale: Long = 1000L,
      maxEventsPerKey: Int = DefaultMaxEventsPerKey
  ): DataFrame = {
    val fold =
      s"""aggregate(
         |  array_sort(evts),
         |  CAST(-1 AS BIGINT),
         |  (acc, e) -> CASE WHEN acc < 0 THEN e.v * ${scale}L
         |                   ELSE (acc + e.v * ${scale}L) div 2 END,
         |  acc -> acc)""".stripMargin
    val rows = events
      .select(col(keyCol).as("key"), col(usCol).as("us"), col(valCol).as("v"))
      // (v >= 0 already rejects null v; the us check is load-bearing)
      .filter(col("us").isNotNull && col("v") >= 0)
    cappedCollect(rows, "key", Seq(col("us"), col("v")), maxEventsPerKey)
      .select(col("key"), expr(fold).as("ewma"), col("truncated"))
  }

  /** The skew guard: collect each key's events into `evts`, keeping
    * only the `cap` earliest under the deterministic `order` (all
    * integer columns — ties are identical structs, interchangeable
    * for every fold here), and emit `truncated` = this key overflowed.
    * The `row_number` window partitions by the SAME key the aggregate
    * groups by, so Catalyst plans one exchange; with
    * `cap = Int.MaxValue` the window (and its sort) is skipped
    * entirely and the plan is the original collect_list.
    */
  private def cappedCollect(
      rows: DataFrame,
      keyCol: String,
      order: Seq[Column],
      cap: Int
  ): DataFrame =
    if (cap == Int.MaxValue)
      rows.groupBy(col(keyCol))
        .agg(collect_list(struct(order: _*)).as("evts"), lit(false).as("truncated"))
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(keyCol)).orderBy(order: _*)
      rows
        .withColumn("__rn", row_number().over(w))
        .groupBy(col(keyCol))
        .agg(
          // when() without otherwise is null past the cap and
          // collect_list drops nulls — the array stays cap-bounded
          collect_list(when(col("__rn") <= cap, struct(order: _*))).as("evts"),
          (max(col("__rn")) > cap).as("truncated"))
    }

  // (ts, step) pairs for funnel-relevant events only, folded in
  // (ts, step) order: state = (depth, t1, tprev)
  private def foldedState(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      usCol: String,
      steps: Seq[String],
      windowUs: Long,
      maxEventsPerKey: Int
  ): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val nSteps = steps.length
    val stepIdx = (c: Column) =>
      steps.zipWithIndex.foldLeft(lit(-1)) { case (acc, (s, i)) =>
        when(c === s, lit(i)).otherwise(acc)
      }
    val fold =
      s"""aggregate(
         |  array_sort(evts),
         |  struct(0 AS depth, CAST(-1 AS BIGINT) AS t1, CAST(-1 AS BIGINT) AS tp),
         |  (acc, e) -> CASE
         |    WHEN acc.depth = 0 AND e.step = 0
         |      THEN struct(1 AS depth, e.us AS t1, e.us AS tp)
         |    WHEN acc.depth > 0 AND acc.depth < $nSteps
         |         AND e.step = acc.depth AND e.us > acc.tp
         |         AND e.us - acc.t1 <= ${windowUs}L
         |      THEN struct(acc.depth + 1 AS depth, acc.t1 AS t1, e.us AS tp)
         |    ELSE acc END,
         |  acc -> acc)""".stripMargin
    val rows = events
      .select(col(userCol).as("user"), col(usCol).as("us"),
        stepIdx(col(typeCol)).as("step"))
      // null timestamps would wedge the fold state (null t1/tp makes
      // every later comparison null); SQL's min() skips them, so drop
      // them here to keep the two populations identical
      .filter(col("step") >= 0 && col("us").isNotNull)
    cappedCollect(rows, "user", Seq(col("us"), col("step")), maxEventsPerKey)
      .select(col("user"), expr(fold).as("st"), col("truncated"))
  }

  /** Cohort retention matrix: cohort = the user's FIRST `anchorType`
    * event's week (µs integer weeks since epoch), one output row per
    * (cohort_week, week_offset ≥ 0) cell with the distinct returning
    * users. Users without an anchor event are absent by definition.
    */
  def retentionCohorts(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      usCol: String,
      anchorType: String
  ): DataFrame = {
    val WeekUs = 7L * 86400L * 1000000L
    // integral div (`/` on longs is DOUBLE division in Spark)
    val weekOf = (c: Column) => call_function("div", c.cast("long"), lit(WeekUs))
    val anchors = events
      .filter(col(typeCol) === anchorType)
      .groupBy(col(userCol).as("user"))
      .agg(min(col(usCol)).as("anchor_us"))
      .select(col("user"), weekOf(col("anchor_us")).as("cohort_week"))
    events
      .select(col(userCol).as("user"), weekOf(col(usCol)).as("week"))
      .join(anchors, Seq("user"))
      .filter(col("week") >= col("cohort_week"))
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct(col("user")).as("n_users"))
  }
}
