package graft

import graft.GraftSession.table
import graft.ops.Temporal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Temporal-join and multidimensional-aggregate queries: the as-of
  * join / range join / moving-window family (operators the DataFrame
  * API has no single verb for — see [[graft.ops.Temporal]] for the
  * scale formulations) plus ROLLUP, PIVOT and exact group percentiles.
  *
  * Timestamps run in the epoch-µs integer domain on both engines
  * (events.ts is TIMESTAMP(NANOS) → `ts div 1000`; o_orderdate /
  * l_shipdate are µs-precision timestamps → `unix_micros`), matching
  * DuckDB's `epoch_us` exactly — same contract as `x_sessionize`.
  */
object QueriesTemporal {

  private val DayUs = 86400L * 1000000L

  /** Deterministic CDC snapshot pair derived from orders: the "old"
    * snapshot is missing every 7th key, the "new" one every 11th, and
    * every 5th key's price moved — so the diff carries all three
    * change types with no temp state.
    */
  private def cdcOld(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus").as("status"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))

  private def cdcNew(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .filter(col("o_orderkey") % 11 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus").as("status"),
        (expr("cast(round(o_totalprice * 100) as bigint)") +
          when(col("o_orderkey") % 5 === 0, lit(500L)).otherwise(lit(0L))).as("cents"))

  /** Recompute-from-scratch stats-table replay shared by the batch
    * (`x_stats_incremental`) and streaming (`s9_stream_stats`)
    * maintenance gates.
    */
  /** Recompute-from-the-new-snapshot rollup shared by the batch
    * (`x_cdc_apply`) and streaming (`s9_stream_cdc`) MERGE gates —
    * both must land exactly the rows of the new snapshot.
    */
  private val CdcApplySql: String =
    """WITH n AS (SELECT o_orderstatus AS status,
      |  CAST(round(o_totalprice * 100) AS BIGINT) +
      |    CASE WHEN o_orderkey % 5 = 0 THEN 500 ELSE 0 END AS cents
      | FROM orders WHERE o_orderkey % 11 <> 0)
      |SELECT status, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM n GROUP BY 1 ORDER BY 1""".stripMargin

  private val StatsRecomputeSql: String =
    """WITH v AS (SELECT l_returnflag,
      |  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem),
      |sc AS (SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents,
      |  min(cents) AS min_cents, max(cents) AS max_cents
      | FROM v GROUP BY 1),
      |d AS (SELECT l_returnflag, cents AS x, count(*) AS c FROM v GROUP BY 1, 2),
      |r AS (SELECT l_returnflag, x, c, row_number() OVER (
      |  PARTITION BY l_returnflag ORDER BY md5(CAST(x AS VARCHAR))) AS rk FROM d),
      |w AS (SELECT l_returnflag, x,
      |  sum(c) OVER (PARTITION BY l_returnflag ORDER BY x) AS cum,
      |  sum(c) OVER (PARTITION BY l_returnflag) AS tot
      | FROM r WHERE rk <= 64),
      |q AS (SELECT l_returnflag,
      |  min(x) FILTER (WHERE 100 * cum >= 50 * tot) AS p50_est FROM w GROUP BY 1)
      |SELECT sc.l_returnflag, n, sum_cents, min_cents, max_cents, p50_est
      |FROM sc JOIN q USING (l_returnflag) ORDER BY sc.l_returnflag""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- as-of join: each 'view' event picks up the latest preceding
    // 'purchase' (value) of the same user. Right side pre-aggregated
    // unique per (user, ts) as the operator contract requires; matched
    // rows only (inner as-of), so no cross-engine null columns.
    "x_asof_join" -> ((s, dir) => {
      val e = table(s, dir, "events").withColumn("us", expr("ts div 1000"))
      val views = e.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("us"))
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("us"))
        .agg(max(col("value")).as("p_value"))
      Temporal.asofJoin(views, purchases, "user_id", "us")
        .filter(col("asof_us").isNotNull)
        .select(col("event_id"), col("user_id"), col("us"),
          col("asof_us"), col("asof_p_value").as("p_value"))
        .orderBy(col("event_id"))
    }),

    // ---- forward as-of with tolerance: each view's NEXT purchase at
    // or after it, only within 2h — the other half of the merge_asof
    // surface (carry over the negated time axis, same one exchange)
    "x_asof_forward" -> ((s, dir) => {
      val e = table(s, dir, "events").withColumn("us", expr("ts div 1000"))
      val views = e.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("us"))
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("us"))
        .agg(max(col("value")).as("p_value"))
      Temporal.asofJoin(views, purchases, "user_id", "us",
          direction = "forward", tolerance = Some(7200000000L))
        .filter(col("asof_us").isNotNull)
        .select(col("event_id"), col("user_id"), col("us"),
          col("asof_us"), col("asof_p_value").as("p_value"))
        .orderBy(col("event_id"))
    }),

    // ---- range join with NO equi key: sparse order "promotion
    // windows" [orderdate, orderdate + 1..5 days] × every lineitem
    // shipped inside the window, blocked on 7-day buckets (one
    // equi-join, never a nested loop). Aggregated per interval.
    "x_range_join" -> ((s, dir) => {
      // parquet ms-timestamps read as TIMESTAMP_NTZ; the session is
      // pinned UTC so the cast to TIMESTAMP is the identity mapping
      val odUs = unix_micros(col("o_orderdate").cast("timestamp"))
      val iv = table(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(200)) === 0)
        .select(col("o_orderkey"),
          odUs.as("start_us"),
          (odUs + (expr("(o_orderkey div 200) % 5") + 1) * DayUs).as("end_us"))
      val pts = table(s, dir, "lineitem")
        .select(unix_micros(col("l_shipdate").cast("timestamp")).as("ship_us"), col("l_quantity"))
      Temporal.rangeJoin(iv, pts, "start_us", "end_us", "ship_us", bucketWidth = 7 * DayUs)
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_pts"),
          round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2).as("sum_qty"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- interval × interval OVERLAP join: two sparse order-window
    // families paired where they overlap, blocked on 7-day buckets
    // with the emit-once owner-bucket rule (no distinct over the
    // output; never a nested loop). The oracle is the all-pairs
    // overlap predicate.
    "x_overlap_join" -> ((s, dir) => {
      val odUs = unix_micros(col("o_orderdate").cast("timestamp"))
      val a = table(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(200)) === 0)
        .select(col("o_orderkey").as("a_key"), odUs.as("a_start"),
          (odUs + (expr("(o_orderkey div 200) % 5") + 1) * DayUs).as("a_end"))
      val b = table(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(170)) === 0)
        .select(col("o_orderkey").as("b_key"), odUs.as("b_start"),
          (odUs + (expr("(o_orderkey div 170) % 7") + 1) * DayUs).as("b_end"))
      Temporal.overlapJoin(a, b, "a_start", "a_end", "b_start", "b_end",
          bucketWidth = 7 * DayUs)
        .select(col("a_key"), col("b_key"),
          (least(col("a_end"), col("b_end")) - greatest(col("a_start"), col("b_start")))
            .as("overlap_us"))
        .orderBy(col("a_key"), col("b_key"))
    }),

    // ---- trailing-hour moving aggregates + inter-event gap per user.
    // RANGE frame includes timestamp peers on both engines; the gap
    // lag is tie-broken by event_id so equal-timestamp rows order
    // deterministically.
    "x_window_moving" -> ((s, dir) => {
      val e = table(s, dir, "events").withColumn("us", expr("ts div 1000"))
        .select(col("event_id"), col("user_id"), col("us"), col("value"))
      Temporal.movingWindow(e, "user_id", "us", "event_id", "value", rangeBack = 3600L * 1000000L)
        .select(col("event_id"), col("user_id"), col("us"),
          coalesce(col("gap"), lit(-1L)).as("gap_us"),
          col("n_window"), col("sum_window"))
        .orderBy(col("event_id"))
    }),

    // ---- ROLLUP: hierarchical subtotals in one pass (Spark expands
    // grouping sets inside a single Expand + one exchange — no
    // re-scan per level). Keys coalesced to 'ALL' so the subtotal
    // rows carry no cross-engine nulls; grouping flags disambiguate.
    "x_rollup" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2).as("sum_qty"),
          grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("g_flag"), col("g_status"), col("n"), col("sum_qty"))
        .orderBy(col("g_flag"), col("g_status"), col("returnflag"), col("linestatus"))),

    // ---- CUBE: all 2ⁿ grouping combinations in the same single
    // Expand + one exchange (the ROLLUP sibling — together the full
    // grouping-sets surface)
    "x_cube" -> ((s, dir) =>
      table(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2).as("sum_price"),
          grouping(col("o_orderstatus")).cast("int").as("g_status"),
          grouping(col("o_orderpriority")).cast("int").as("g_priority"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("g_status"), col("g_priority"), col("n"), col("sum_price"))
        .orderBy(col("g_status"), col("g_priority"), col("status"), col("priority"))),

    // ---- ARBITRARY GROUPING SETS (the combination ROLLUP/CUBE can't
    // express: two disjoint single-dimension summaries in ONE pass —
    // one Expand, one exchange, where two separate groupBys would
    // scan the fact table twice)
    "x_grouping_sets" -> ((s, dir) =>
      table(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2).as("sum_price"),
          grouping(col("o_orderstatus")).cast("int").as("g_status"),
          grouping(col("o_orderpriority")).cast("int").as("g_priority"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("g_status"), col("g_priority"), col("n"), col("sum_price"))
        .orderBy(col("g_status"), col("g_priority"), col("status"), col("priority"))),

    // ---- PIVOT (reverse of r4_unpivot): order counts by priority ×
    // status. Explicit value list — with values known up front Spark
    // plans a single pivot aggregate, no distinct-values pre-scan.
    "x_pivot" -> ((s, dir) =>
      table(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("o_orderpriority"))),

    // ---- SCD2 historization: each (user, event) becomes a validity
    // interval [ts, next event's ts) via lead over one keyed
    // exchange+sort; the open current row is sentineled (-1), the
    // standard change-capture shape for slowly-changing attributes.
    "x_scd2_intervals" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("valid_from").asc, col("event_id").asc)
      table(s, dir, "events").withColumn("us", expr("ts div 1000"))
        .filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id"), col("us").as("valid_from"), col("value"))
        .withColumn("valid_to", coalesce(lead(col("valid_from"), 1).over(w), lit(-1L)))
        .withColumn("is_current", (col("valid_to") === -1L).cast("int"))
        .orderBy(col("user_id"), col("valid_from"), col("event_id"))
    }),

    // ---- snapshot CDC: diff two keyed snapshots into an
    // increment-sized change set — ONE full-outer key join, null-safe
    // column compare in the projection, no row-hash pre-pass. The
    // incremental-processing front door: the change set is what the
    // dedup/ANN/stats incremental-maintenance paths take as input.
    "x_snapshot_diff" -> ((s, dir) =>
      graft.ops.ChangeCapture.snapshotDiff(
          cdcOld(s, dir), cdcNew(s, dir), Seq("o_orderkey"), Seq("status", "cents"))
        .select(col("o_orderkey"), col("change_type"),
          coalesce(col("old_status"), lit("NA")).as("old_status"),
          coalesce(col("new_status"), lit("NA")).as("new_status"),
          coalesce(col("old_cents"), lit(-1L)).as("old_cents"),
          coalesce(col("new_cents"), lit(-1L)).as("new_cents"))
        .orderBy(col("o_orderkey"))),

    // ---- CDC apply round-trip LAW: applyChanges(old, snapshotDiff
    // (old, new)) must hold exactly the rows of new — the oracle
    // recomputes the rollup from the new-snapshot definition alone,
    // so the hash proves the law, not just row counts. Apply = one
    // left-anti join (change set broadcast at increment size) + union.
    "x_cdc_apply" -> ((s, dir) => {
      val diff = graft.ops.ChangeCapture.snapshotDiff(
        cdcOld(s, dir), cdcNew(s, dir), Seq("o_orderkey"), Seq("status", "cents"))
      graft.ops.ChangeCapture.applyChanges(
          cdcOld(s, dir), diff, Seq("o_orderkey"), Seq("status", "cents"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
          sum(col("cents")).cast("long").as("sum_cents"))
        .orderBy(col("status"))
    }),

    // ---- the same MERGE law ONLINE: the change set arrives as a
    // STREAM (key-disjoint chunks, one merge fold per file via
    // maxFilesPerTrigger=1) and folds into a persistent snapshot per
    // micro-batch. A snapshotDiff has one row per key, so chunk order
    // can't move the final snapshot — batch x_cdc_apply IS the oracle
    // semantics and the same SQL gates both.
    "s9_stream_cdc" -> ((s, dir) => {
      import graft.streaming.EventsStream
      val old  = cdcOld(s, dir)
      val diff = graft.ops.ChangeCapture.snapshotDiff(
        old, cdcNew(s, dir), Seq("o_orderkey"), Seq("status", "cents"))
      val snap = GraftSession.freshGatePath("cdcsnap", dir)
      old.write.mode("overwrite").parquet(snap)
      val feed = GraftSession.freshGatePath("cdcfeed", dir)
      diff.filter(pmod(col("o_orderkey"), lit(3)) === 0)
        .coalesce(1).write.mode("append").parquet(feed)
      diff.filter(pmod(col("o_orderkey"), lit(3)) =!= 0)
        .coalesce(1).write.mode("append").parquet(feed)
      val ckpt = GraftSession.freshGatePath("cdcckpt", dir)
      EventsStream.foreachIncrement(s, feed, diff.schema, ckpt, maxFilesPerTrigger = Some(1)) {
        (b, _) =>
          // EAGER checkpoint, deliberately (r20 lazy sweep skipped
          // this one): the fold below OVERWRITES snap — base's blocks
          // must be fully materialized BEFORE the write deletes the
          // files they came from, or the job would scan a directory
          // it is truncating
          val base = s.read.parquet(snap).localCheckpoint()
          graft.ops.ChangeCapture.applyChanges(base, b, Seq("o_orderkey"), Seq("status", "cents"))
            .write.mode("overwrite").parquet(snap)
      }.awaitTermination()
      s.read.parquet(snap)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
          sum(col("cents")).cast("long").as("sum_cents"))
        .orderBy(col("status"))
    }),

    // ---- time-series regularization: 6-hour grid per user between
    // first and last observation, missing buckets materialized and
    // forward-filled — the prep step before training on regularly
    // sampled sequences.
    "x_gap_fill" -> ((s, dir) => {
      val e = table(s, dir, "events").withColumn("us", expr("ts div 1000"))
        .select(col("user_id"), col("us"), col("value"))
      Temporal.gapFill(e, "user_id", "us", "value", step = 6L * 3600L * 1000000L)
        .orderBy(col("user_id"), col("bucket_ts"))
    }),

    // ---- time-weighted average (TWAP): each signup value holds until
    // the user's next signup (the SCD2 intervals); the average weights
    // each value by its holding duration. Open intervals close at the
    // user's last event time. Decimal accumulation start-to-finish so
    // partial aggregation order can't move the result.
    "x_time_weighted_avg" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = table(s, dir, "events").withColumn("us", expr("ts div 1000"))
      val cut = e.groupBy(col("user_id")).agg(max(col("us")).as("end_us"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("valid_from").asc, col("event_id").asc)
      e.filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id"), col("us").as("valid_from"), col("value"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
        .join(cut, Seq("user_id"))
        .withColumn("dur", coalesce(col("valid_to"), col("end_us")) - col("valid_from"))
        .filter(col("dur") > 0)
        .groupBy(col("user_id"))
        .agg(round((sum(col("value").cast("decimal(18,2)") * col("dur")).cast("double") /
          sum(col("dur")).cast("double")), 4).as("twa"),
          count(lit(1)).as("n_intervals"))
        .orderBy(col("user_id"))
    }),

    // ---- histogram binning: fixed-width value buckets per group (the
    // profiling histogram every quality dashboard draws); pure integer
    // bucket arithmetic, map-side-combinable counts
    "x_histogram" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .select(col("l_returnflag"),
          floor(col("l_extendedprice") / 10000.0).cast("int").as("bucket"))
        .groupBy(col("l_returnflag"), col("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("bucket"))),

    // ---- KMV distinct-count sketch (native TypedImperativeAggregate,
    // map-side partials, k·32-byte synopsis per group on the shuffle
    // instead of every distinct value). Deterministic md5 estimator →
    // the oracle replays it in SQL, hash-exact — the reason this
    // sketch is gateable where HLL byte layouts are not. Exact
    // countDistinct rides along so the error is driver-visible.
    "x_sketch_distinct" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("kmv_distinct(cast(l_partkey as string), 256)"), 4).as("kmv_est"),
          countDistinct(col("l_partkey")).as("exact_nd"))
        .orderBy(col("l_returnflag"))),

    // ---- Misra-Gries heavy hitters (native mergeable aggregate,
    // Agarwal et al. PODS'12 merge rule): per-group top partkeys from
    // a bounded synopsis — ≤ k (item, count) pairs per group on the
    // shuffle where groupBy(item).count() would shuffle the whole
    // domain. k=4096 exceeds the gate corpus's per-group distinct
    // count, so counts are EXACT here and the oracle hash-checks them;
    // the lossy-path ε ≤ N/(k+1) contract is spec-checked
    // (FreqTopKSpec) because MG's decrement path is order-dependent —
    // no SQL replay exists (same gate split as the SimHash fast
    // flavor).
    "x_freq_topk" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("freq_topk(cast(l_partkey as string), 4096)").as("tops"))
        .select(col("l_returnflag"), posexplode(expr("slice(tops, 1, 10)")).as(Seq("r0", "t")))
        .select(col("l_returnflag"), (col("r0") + 1).as("rank"),
          col("t.item").as("partkey"), col("t.cnt").as("n"))
        .orderBy(col("l_returnflag"), col("rank"))),

    // ---- Bloom filter membership: the anti-join/semi-join PRUNE
    // synopsis (m bits ↞ n keys; no false negatives, bounded false
    // positives). The "has ordered" custkey set is built as TWO
    // half-filters (urgent-ish vs rest priorities) OR-merged — the
    // per-partition-build / merge-at-coordinator shape a 100 TB build
    // uses — then every customer probes the merged filter with a
    // broadcast map lookup (zero probe-side shuffle). Exact membership
    // rides along so the false-positive count is driver-visible; md5
    // positions make the bit array SQL-replayable, so the oracle
    // checks the filter bit-for-bit, not just statistically.
    "x_sketch_bloom" -> ((s, dir) => {
      import graft.ops.Sketches
      val (m, kh) = (32768, 3)
      val orders = table(s, dir, "orders")
      val bloomA = Sketches.bloomBuild(
        orders.filter(col("o_orderpriority") < "3").select(col("o_custkey")), "o_custkey", m, kh)
      val bloomB = Sketches.bloomBuild(
        orders.filter(col("o_orderpriority") >= "3").select(col("o_custkey")), "o_custkey", m, kh)
      val merged = Sketches.bloomMerge(bloomA, bloomB)
      val buyers = orders.select(col("o_custkey").as("c_custkey")).distinct()
        .withColumn("has_order", lit(true))
      val probed = Sketches.bloomMaybeContains(merged,
        table(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
        "c_custkey", m, kh)
      probed.join(buyers, Seq("c_custkey"), "left")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_probed"),
          count(when(col("maybe"), 1)).as("n_maybe"),
          count(when(col("has_order"), 1)).as("n_true"))
        .orderBy(col("c_mktsegment"))
    }),

    // ---- the same membership screen ONLINE: the filter persists as
    // word rows, customers arrive as a stream and probe it per
    // micro-batch (seen-before? at crawler ingest). The batch query is
    // the oracle semantics, so one SQL gates both flavors.
    "s9_stream_bloom" -> ((s, dir) => {
      import graft.ops.Sketches
      val (m, kh) = (32768, 3)
      val orders = table(s, dir, "orders")
      val sketchPath = GraftSession.freshGatePath("bloomidx", dir)
      Sketches.bloomBuild(orders.select(col("o_custkey")), "o_custkey", m, kh)
        .write.mode("overwrite").parquet(sketchPath)
      val probe = table(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      val probeDir = GraftSession.freshGatePath("bloomstream", dir)
      probe.coalesce(2).write.mode("overwrite").parquet(probeDir)
      val probed = QueriesScale.streamTwin(s, dir, "bloom", probeDir, probe.schema) { (b, _) =>
        Sketches.bloomMaybeContains(s.read.parquet(sketchPath), b, "c_custkey", m, kh)
      }
      val buyers = orders.select(col("o_custkey").as("c_custkey")).distinct()
        .withColumn("has_order", lit(true))
      probed.join(buyers, Seq("c_custkey"), "left")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_probed"),
          count(when(col("maybe"), 1)).as("n_maybe"),
          count(when(col("has_order"), 1)).as("n_true"))
        .orderBy(col("c_mktsegment"))
    }),

    // ---- KMV sketch ALGEBRA: per-group synopses answer pairwise
    // overlap (Jaccard / intersection size) without re-scanning the
    // corpus — union sketch = k smallest of the merged synopses,
    // jaccard = share of the union synopsis present in both sides,
    // intersection = jaccard × union estimate. Exact counts ride
    // along so the sketch error is driver-visible.
    "x_sketch_overlap" -> ((s, dir) => {
      import graft.ops.Sketches
      val k = 256
      // carve PARTIALLY overlapping per-flag key sets (every flag
      // covers every partkey at these SFs, which would make jaccard
      // degenerately 1.0 and leave the estimator untested)
      val li = table(s, dir, "lineitem").filter(
        (col("l_returnflag") === "A" && col("l_partkey") < 1400) ||
          (col("l_returnflag") === "N" && col("l_partkey") >= 600) ||
          (col("l_returnflag") === "R" && pmod(col("l_partkey"), lit(2)) === 0))
      val sk = li.groupBy(col("l_returnflag").as("flag"))
        .agg(expr(s"kmv_sketch(cast(l_partkey as string), $k)").as("sk"))
      val pairs = sk.select(col("flag").as("flag_a"), col("sk").as("sk_a"))
        .join(sk.select(col("flag").as("flag_b"), col("sk").as("sk_b")),
          col("flag_a") < col("flag_b"))
      val d = li.select(col("l_returnflag").as("flag"), col("l_partkey").as("pk")).distinct()
      val exact = d.select(col("flag").as("flag_a"), col("pk"))
        .join(d.select(col("flag").as("flag_b"), col("pk")), Seq("pk"))
        .filter(col("flag_a") < col("flag_b"))
        .groupBy(col("flag_a"), col("flag_b")).agg(count(lit(1)).as("n_exact"))
      pairs
        .select(col("flag_a"), col("flag_b"),
          round(Sketches.jaccardEst(col("sk_a"), col("sk_b"), k), 4).as("jaccard_est"),
          round(Sketches.intersectEst(col("sk_a"), col("sk_b"), k), 4).as("inter_est"))
        .join(exact, Seq("flag_a", "flag_b"))
        .orderBy(col("flag_a"), col("flag_b"))
    }),

    // ---- windowed funnel (view → click → purchase within 3 days):
    // per-user earliest-chain depth via ONE groupBy + a codegen'd
    // higher-order fold over the time-sorted events — no UDF, no
    // per-step re-join. The oracle replays the equivalent min-ts
    // chain (greedy fold ≡ min-chain on depth: once a candidate
    // overruns the window, every later one does). Depth-0 users
    // (funnel events but no step-1) are operator output, filtered
    // here so both engines count the same population.
    "x_funnel_steps" -> ((s, dir) => {
      import graft.ops.EventAnalytics
      val e = table(s, dir, "events").withColumn("us", expr("ts div 1000"))
      EventAnalytics.funnelDepth(e, "user_id", "event_type", "us",
          Seq("view", "click", "purchase"), windowUs = 3L * 86400L * 1000000L)
        .filter(col("funnel_depth") >= 1)
        .groupBy(col("funnel_depth")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("funnel_depth"))
    }),

    // ---- conversion timing: duration stats over COMPLETED chains —
    // the fold's final tp is the matched last-step time (≡ min-chain
    // t₃), so convert_us = tp − t₁ replays exactly; integer µs sums,
    // one rounded division at the end
    "x_funnel_timing" -> ((s, dir) => {
      import graft.ops.EventAnalytics
      val e = table(s, dir, "events").withColumn("us", expr("ts div 1000"))
      EventAnalytics.funnelTiming(e, "user_id", "event_type", "us",
          Seq("view", "click", "purchase"), windowUs = 3L * 86400L * 1000000L)
        .filter(col("convert_us").isNotNull)
        .agg(count(lit(1)).as("n_converted"),
          min(col("convert_us")).as("min_us"), max(col("convert_us")).as("max_us"),
          sum(col("convert_us")).as("sum_us"))
        .select(col("n_converted"), col("min_us"), col("max_us"), col("sum_us"),
          round(col("sum_us").cast("double") / col("n_converted").cast("double"), 4).as("avg_us"))
    }),

    // ---- recency-weighted (EWMA α=1/2) per-user value score in
    // fixed-point integers — time-decayed scoring with a truncating
    // recurrence instead of float pow/sums (which can't hash-match),
    // replayed by the oracle as a recursive CTE. Fold shape = funnel.
    "x_ewma_decay" -> ((s, dir) => {
      import graft.ops.EventAnalytics
      val e = table(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("us"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
      EventAnalytics.ewmaByKey(e, "user_id", "us", "cents")
        .select(col("key").as("user_id"), col("ewma").as("ewma_millicents"))
        .orderBy(col("user_id"))
    }),

    // ---- retention cohorts: signup-week cohort × week offset,
    // distinct returning users — two map-side-combinable aggregations
    // and one user-keyed join, µs-integer week buckets shared with
    // the oracle's `//`.
    "x_retention_cohorts" -> ((s, dir) => {
      import graft.ops.EventAnalytics
      val e = table(s, dir, "events").withColumn("us", expr("ts div 1000"))
      EventAnalytics.retentionCohorts(e, "user_id", "event_type", "us", "signup")
        .orderBy(col("cohort_week"), col("week_offset"))
    }),

    // ---- distinct-sampling quantile sketch (native mergeable
    // aggregate, Gibbons VLDB'01): per-group percentile estimates from
    // a ≤k-entry (value, count) synopsis on the shuffle where exact
    // percentile shuffles every row. Unlike GK/KLL/t-digest, the k-min
    // selection is a semilattice — merge-tree-independent — so the
    // WHOLE estimator (sampling step included) replays in the oracle's
    // SQL and hash-checks even in the LOSSY regime: k=16 is below the
    // ~50 distinct quantities per flag, so this gate row exercises the
    // estimate path, with the exact median riding along so the sketch
    // error stays driver-visible.
    "x_sketch_quantiles" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val li = table(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity").cast("long").as("v"))
      val est = li.groupBy(col("l_returnflag"))
        .agg(
          expr("kmv_quantile(v, 16, 25)").as("q25_est"),
          expr("kmv_quantile(v, 16, 50)").as("q50_est"),
          expr("kmv_quantile(v, 16, 75)").as("q75_est"))
      val cum = li.groupBy(col("l_returnflag"), col("v")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(
          Window.partitionBy("l_returnflag").orderBy("v")))
        .withColumn("tot", sum(col("c")).over(Window.partitionBy("l_returnflag")))
      val exact = cum.filter(col("cum") * 2 >= col("tot"))
        .groupBy(col("l_returnflag")).agg(min(col("v")).as("q50_exact"))
      est.join(exact, Seq("l_returnflag")).orderBy(col("l_returnflag"))
    }),

    // ---- incremental ROLLUP maintenance: a per-group stats table
    // (count/sum/min/max/quantile synopsis) built from a base slice,
    // then an increment FOLDED IN without re-reading the base —
    // sums/counts add, min/max lattice, the synopsis merges exactly
    // by the semilattice law. The oracle recomputes everything from
    // the FULL table directly, so the hash verifies maintained ≡
    // recomputed end to end.
    "x_stats_incremental" -> ((s, dir) => {
      import graft.ops.StatsTable
      val li = table(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"),
          expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"))
      val path = GraftSession.gatePath("stats", dir)
      StatsTable.write(li.filter(pmod(col("l_orderkey"), lit(4)) =!= 0),
        "l_returnflag", "cents", path)
      StatsTable.append(li.filter(pmod(col("l_orderkey"), lit(4)) === 0),
        "l_returnflag", "cents", path)
      StatsTable.read(s, path)
        .select(col("key").as("l_returnflag"), col("n"), col("s").as("sum_cents"),
          col("mn").as("min_cents"), col("mx").as("max_cents"), col("p50_est"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- the same rollup maintenance ONLINE: the increment arrives
    // as a STREAM in two mtime-separate files and each micro-batch
    // folds into the persistent stats table
    // ([[graft.streaming.EventsStream.foreachIncrement]] over
    // StatsTable.append, maxFilesPerTrigger=1 → the fold runs once PER
    // FILE). The fold is the semilattice merge, so maintained ≡
    // recomputed regardless of batch order — batch x_stats_incremental
    // is the oracle semantics and the same SQL gates both.
    "s9_stream_stats" -> ((s, dir) => {
      import graft.ops.StatsTable
      import graft.streaming.EventsStream
      val li = table(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"),
          expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"))
      val path = GraftSession.freshGatePath("sstats", dir)
      StatsTable.write(li.filter(pmod(col("l_orderkey"), lit(4)) =!= 0),
        "l_returnflag", "cents", path)
      val inc    = li.filter(pmod(col("l_orderkey"), lit(4)) === 0)
      val incDir = GraftSession.freshGatePath("sstatsinc", dir)
      inc.filter(pmod(col("l_orderkey"), lit(8)) === 0)
        .coalesce(1).write.mode("append").parquet(incDir)
      inc.filter(pmod(col("l_orderkey"), lit(8)) =!= 0)
        .coalesce(1).write.mode("append").parquet(incDir)
      val ckpt = GraftSession.freshGatePath("sstatsckpt", dir)
      EventsStream.foreachIncrement(s, incDir, inc.schema, ckpt, maxFilesPerTrigger = Some(1)) {
        (b, _) => StatsTable.append(b, "l_returnflag", "cents", path)
      }.awaitTermination()
      StatsTable.read(s, path)
        .select(col("key").as("l_returnflag"), col("n"), col("s").as("sum_cents"),
          col("mn").as("min_cents"), col("mx").as("max_cents"), col("p50_est"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- quantile-sketch ALGEBRA: per-group synopses (string
    // arrays) re-aggregate to the GLOBAL quantile without touching
    // the rows again — and because the summary is a semilattice,
    // merge(per-flag sketches) must equal the direct global sketch.
    // The oracle computes the direct estimator once; the query
    // emits BOTH the merged path and the direct path, so the law
    // itself is what the hash verifies.
    "x_sketch_quantile_merge" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity").cast("long").as("v"))
      val entries = li.groupBy(col("l_returnflag"))
        .agg(expr("kmv_quantile_sketch(v, 16)").as("sk"))
        .select(explode(col("sk")).as("entry"))
      val merged = entries.agg(
        expr("kmv_quantile_merge(entry, 16, 25)").as("q25_merged"),
        expr("kmv_quantile_merge(entry, 16, 50)").as("q50_merged"),
        expr("kmv_quantile_merge(entry, 16, 75)").as("q75_merged"))
      val direct = li.agg(expr("kmv_quantile(v, 16, 50)").as("q50_direct"))
      merged.crossJoin(direct)
    }),

    // ---- range-partition SPLIT POINTS from the quantile synopsis —
    // the operational use of the sketch at warehouse scale: one
    // synopsis pass picks near-balanced repartitionByRange boundaries
    // without a sort, and the bucket counts audit the balance. The
    // breakpoint frame is one broadcast row; the whole derivation is
    // deterministic, so the oracle replays it end to end.
    "x_sketch_splits" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
        .select(expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"))
      val bp = li.agg(
        expr("kmv_quantile(cents, 64, 25)").as("b1"),
        expr("kmv_quantile(cents, 64, 50)").as("b2"),
        expr("kmv_quantile(cents, 64, 75)").as("b3"))
      li.crossJoin(broadcast(bp))
        .select(when(col("cents") <= col("b1"), 0)
          .when(col("cents") <= col("b2"), 1)
          .when(col("cents") <= col("b3"), 2)
          .otherwise(3).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_rows"))
        .orderBy(col("bucket"))
    }),

    // ---- exact group percentiles (linear interpolation, the R-7 /
    // quantile_cont convention both engines share). Exact percentile
    // sorts each group; the 100 TB path is approx_percentile (t-digest
    // sketch, map-side combinable) — parity bounds spec'd in
    // TemporalSpec, not oracle-gated (sketches are engine-specific).
    // ---- per-group OLS regression (price-vs-quantity trend per
    // returnflag): closed-form slope/intercept from EXACT integer
    // sums — x is the integral quantity, y is the price in cents
    // (round(·100), the w2 convention), so Σx/Σy/Σxy/Σx² are all
    // overflow-safe BIGINTs (bounded by the l_partkey < 200 slice)
    // and both engines divide the same exact numbers in double. One
    // map-side-combinable aggregation; regr_slope/regr_covar would
    // float-drift across engines.
    "x_regr_group" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .filter(col("l_partkey") < 200)
        .select(col("l_returnflag"),
          col("l_quantity").cast("long").as("x"),
          round(col("l_extendedprice") * 100).cast("long").as("y"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
        .select(col("l_returnflag"), col("n"),
          round(((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")) /
            ((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")), 6).as("slope_cents"),
          round((col("sy").cast("double") -
            ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")) /
              ((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
              col("sx").cast("double")) / col("n").cast("double"), 6).as("intercept_cents"))
        .orderBy(col("l_returnflag"))),

    "x_percentiles" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_extendedprice, 0.25)"), 2).as("p25"),
          round(expr("percentile(l_extendedprice, 0.5)"), 2).as("p50"),
          round(expr("percentile(l_extendedprice, 0.9)"), 2).as("p90"))
        .orderBy(col("l_returnflag")))
  )

  /** Bit-for-bit Bloom replay shared by the batch gate and its
    * streaming twin (the stream runs the identical batch probe per
    * micro-batch): md5-nibble positions -> sparse 32-bit words via
    * bit_or -> per-customer k-bit probe. The two-half merge collapses
    * to one build over ALL orders (bit_or is associative - the merge
    * law the Scala side exercises), so the SQL stays flat.
    */
  private val BloomOracleSql: String =
    """WITH j AS (SELECT unnest(range(0, 3)) AS j),
            |seen AS (SELECT DISTINCT o_custkey AS v FROM orders),
            |pos AS (SELECT CAST(list_sum(list_transform(range(1, 9), i ->
            |    (strpos('0123456789abcdef',
            |      substr(md5(CAST(v AS VARCHAR) || ':' || CAST(j AS VARCHAR)), CAST(i AS INT), 1)) - 1)
            |      * power(16, CAST(8 - i AS INT)))) AS BIGINT) % 32768 AS p
            |  FROM seen CROSS JOIN j),
            |words AS (SELECT p // 32 AS word,
            |   bit_or(CAST(power(2, p % 32) AS BIGINT)) AS bits FROM pos GROUP BY 1),
            |pp AS (SELECT c.c_custkey, c.c_mktsegment,
            |   CAST(list_sum(list_transform(range(1, 9), i ->
            |    (strpos('0123456789abcdef',
            |      substr(md5(CAST(c.c_custkey AS VARCHAR) || ':' || CAST(j.j AS VARCHAR)), CAST(i AS INT), 1)) - 1)
            |      * power(16, CAST(8 - i AS INT)))) AS BIGINT) % 32768 AS p
            |  FROM customer c CROSS JOIN j),
            |probed AS (SELECT c_custkey, c_mktsegment,
            |   bool_and((COALESCE(w.bits, 0) & CAST(power(2, pp.p % 32) AS BIGINT))
            |     = CAST(power(2, pp.p % 32) AS BIGINT)) AS maybe
            |  FROM pp LEFT JOIN words w ON w.word = pp.p // 32 GROUP BY 1, 2)
            |SELECT pr.c_mktsegment, count(*) AS n_probed,
            | count(CASE WHEN pr.maybe THEN 1 END) AS n_maybe,
            | count(CASE WHEN s.v IS NOT NULL THEN 1 END) AS n_true
            |FROM probed pr LEFT JOIN seen s ON s.v = pr.c_custkey
            |GROUP BY 1 ORDER BY 1""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "x_asof_join" ->
      """WITH v AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events
        | WHERE event_type = 'view'),
        |p AS (SELECT user_id, epoch_us(ts) AS us, max(value) AS p_value FROM events
        | WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT v.event_id, v.user_id, v.us, p.us AS asof_us, p.p_value
        |FROM v ASOF JOIN p ON v.user_id = p.user_id AND v.us >= p.us
        |ORDER BY v.event_id""".stripMargin,
    "x_asof_forward" ->
      """WITH v AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events
        | WHERE event_type = 'view'),
        |p AS (SELECT user_id, epoch_us(ts) AS us, max(value) AS p_value FROM events
        | WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT v.event_id, v.user_id, v.us, p.us AS asof_us, p.p_value
        |FROM v ASOF JOIN p ON v.user_id = p.user_id AND v.us <= p.us
        |WHERE p.us - v.us <= 7200000000
        |ORDER BY v.event_id""".stripMargin,
    "x_range_join" ->
      """WITH iv AS (SELECT o_orderkey, epoch_us(o_orderdate) AS start_us,
        |  epoch_us(o_orderdate) + ((o_orderkey // 200) % 5 + 1) * 86400000000 AS end_us
        | FROM orders WHERE o_orderkey % 200 = 0),
        |j AS (SELECT iv.o_orderkey, l.l_quantity FROM iv JOIN lineitem l
        |  ON epoch_us(l.l_shipdate) BETWEEN iv.start_us AND iv.end_us)
        |SELECT o_orderkey, count(*) AS n_pts,
        | round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_overlap_join" ->
      """WITH a AS (SELECT o_orderkey AS a_key, epoch_us(o_orderdate) AS a_start,
        |  epoch_us(o_orderdate) + ((o_orderkey // 200) % 5 + 1) * 86400000000 AS a_end
        | FROM orders WHERE o_orderkey % 200 = 0),
        |b AS (SELECT o_orderkey AS b_key, epoch_us(o_orderdate) AS b_start,
        |  epoch_us(o_orderdate) + ((o_orderkey // 170) % 7 + 1) * 86400000000 AS b_end
        | FROM orders WHERE o_orderkey % 170 = 0)
        |SELECT a_key, b_key,
        | least(a_end, b_end) - greatest(a_start, b_start) AS overlap_us
        |FROM a JOIN b ON greatest(a_start, b_start) <= least(a_end, b_end)
        |ORDER BY a_key, b_key""".stripMargin,
    "x_window_moving" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, value FROM events)
        |SELECT event_id, user_id, us,
        | coalesce(us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id), -1) AS gap_us,
        | count(*) OVER w AS n_window,
        | round(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE), 2) AS sum_window
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY us
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "x_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        | coalesce(l_linestatus, 'ALL') AS linestatus,
        | CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
        | CAST(GROUPING(l_linestatus) AS INT) AS g_status,
        | count(*) AS n,
        | round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status, returnflag, linestatus""".stripMargin,
    "x_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        | coalesce(o_orderpriority, 'ALL') AS priority,
        | CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        | CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
        | count(*) AS n,
        | round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY g_status, g_priority, status, priority""".stripMargin,
    "x_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        | coalesce(o_orderpriority, 'ALL') AS priority,
        | CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        | CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
        | count(*) AS n,
        | round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY g_status, g_priority, status, priority""".stripMargin,
    "x_pivot" ->
      """SELECT o_orderpriority,
        | count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
        | count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
        | count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_scd2_intervals" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS valid_from, value
        | FROM events WHERE event_type = 'signup')
        |SELECT user_id, event_id, valid_from, value,
        | coalesce(lead(valid_from) OVER (PARTITION BY user_id
        |   ORDER BY valid_from, event_id), -1) AS valid_to,
        | CAST(coalesce(lead(valid_from) OVER (PARTITION BY user_id
        |   ORDER BY valid_from, event_id), -1) = -1 AS INT) AS is_current
        |FROM e ORDER BY user_id, valid_from, event_id""".stripMargin,
    "x_snapshot_diff" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        | FROM orders WHERE o_orderkey % 7 <> 0),
        |n AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |  CAST(round(o_totalprice * 100) AS BIGINT) +
        |    CASE WHEN o_orderkey % 5 = 0 THEN 500 ELSE 0 END AS cents
        | FROM orders WHERE o_orderkey % 11 <> 0),
        |j AS (SELECT coalesce(o.k, n.k) AS o_orderkey,
        |  CASE WHEN o.k IS NULL THEN 'insert'
        |       WHEN n.k IS NULL THEN 'delete' ELSE 'update' END AS change_type,
        |  o.st AS old_st, n.st AS new_st, o.cents AS old_cents, n.cents AS new_cents
        | FROM o FULL OUTER JOIN n ON o.k = n.k
        | WHERE o.k IS NULL OR n.k IS NULL
        |    OR o.st IS DISTINCT FROM n.st OR o.cents IS DISTINCT FROM n.cents)
        |SELECT o_orderkey, change_type,
        | coalesce(old_st, 'NA') AS old_status, coalesce(new_st, 'NA') AS new_status,
        | coalesce(old_cents, -1) AS old_cents, coalesce(new_cents, -1) AS new_cents
        |FROM j ORDER BY o_orderkey""".stripMargin,
    "x_cdc_apply" -> CdcApplySql,
    "s9_stream_cdc" -> CdcApplySql,
    "x_gap_fill" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
        |obs AS (SELECT user_id, (us // 21600000000) * 21600000000 AS b, max(value) AS v
        | FROM e GROUP BY 1, 2),
        |spans AS (SELECT user_id, min(b) AS lo, max(b) AS hi FROM obs GROUP BY 1),
        |grid AS (SELECT user_id, t.b AS b
        | FROM spans, unnest(range(lo, hi + 1, 21600000000)) AS t(b)),
        |j AS (SELECT g.user_id, g.b, o.v FROM grid g
        | LEFT JOIN obs o ON g.user_id = o.user_id AND g.b = o.b)
        |SELECT user_id, b AS bucket_ts,
        | last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY b
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
        | CAST(v IS NOT NULL AS INT) AS observed
        |FROM j ORDER BY user_id, bucket_ts""".stripMargin,
    "x_time_weighted_avg" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, value, event_type
        | FROM events),
        |cut AS (SELECT user_id, max(us) AS end_us FROM e GROUP BY 1),
        |s AS (SELECT user_id, event_id, us AS valid_from, value FROM e
        | WHERE event_type = 'signup'),
        |iv AS (SELECT s.user_id, s.value,
        |  coalesce(lead(s.valid_from) OVER (PARTITION BY s.user_id
        |    ORDER BY s.valid_from, s.event_id), c.end_us) - s.valid_from AS dur
        | FROM s JOIN cut c ON s.user_id = c.user_id)
        |SELECT user_id,
        | round(CAST(sum(CAST(value AS DECIMAL(18,2)) * dur) AS DOUBLE)
        |   / CAST(sum(dur) AS DOUBLE), 4) AS twa,
        | count(*) AS n_intervals
        |FROM iv WHERE dur > 0 GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_histogram" ->
      """SELECT l_returnflag, CAST(floor(l_extendedprice / 10000.0) AS INT) AS bucket,
        | count(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // KMV algebra replay: per-flag k-min synopses → merged-and-ranked
    // union synopsis → membership counts → the same double arithmetic
    "x_sketch_overlap" ->
      """WITH d AS (SELECT DISTINCT l_returnflag AS flag, l_partkey AS pk FROM lineitem
        | WHERE (l_returnflag = 'A' AND l_partkey < 1400)
        |    OR (l_returnflag = 'N' AND l_partkey >= 600)
        |    OR (l_returnflag = 'R' AND l_partkey % 2 = 0)),
        |dh AS (SELECT flag, md5(CAST(pk AS VARCHAR)) AS h FROM d),
        |r AS (SELECT flag, h, row_number() OVER (PARTITION BY flag ORDER BY h) AS rn FROM dh),
        |sk AS (SELECT flag, h FROM r WHERE rn <= 256),
        |fl AS (SELECT DISTINCT flag FROM d),
        |pr AS (SELECT a.flag AS flag_a, b.flag AS flag_b FROM fl a JOIN fl b ON a.flag < b.flag),
        |uh AS (SELECT p.flag_a, p.flag_b, s.h FROM pr p
        |  JOIN sk s ON s.flag = p.flag_a OR s.flag = p.flag_b GROUP BY 1, 2, 3),
        |ur AS (SELECT flag_a, flag_b, h,
        |  row_number() OVER (PARTITION BY flag_a, flag_b ORDER BY h) AS rn FROM uh),
        |ku AS (SELECT * FROM ur WHERE rn <= 256),
        |kz AS (SELECT flag_a, flag_b, count(*) AS usz,
        |  max(CASE WHEN rn = 256 THEN h END) AS kth FROM ku GROUP BY 1, 2),
        |nb AS (SELECT k.flag_a, k.flag_b, count(*) AS nboth FROM ku k
        | WHERE EXISTS (SELECT 1 FROM sk sa WHERE sa.flag = k.flag_a AND sa.h = k.h)
        |   AND EXISTS (SELECT 1 FROM sk sb WHERE sb.flag = k.flag_b AND sb.h = k.h)
        | GROUP BY 1, 2),
        |ex AS (SELECT a.flag AS flag_a, b.flag AS flag_b, count(*) AS n_exact
        | FROM d a JOIN d b ON a.pk = b.pk AND a.flag < b.flag GROUP BY 1, 2)
        |SELECT z.flag_a, z.flag_b,
        | round(CAST(coalesce(n.nboth, 0) AS DOUBLE) / CAST(z.usz AS DOUBLE), 4) AS jaccard_est,
        | round((CAST(coalesce(n.nboth, 0) AS DOUBLE) / CAST(z.usz AS DOUBLE)) *
        |  (CASE WHEN z.usz < 256 THEN CAST(z.usz AS DOUBLE)
        |        ELSE 255.0 / (list_sum(list_transform(range(1, 13), i ->
        |          (strpos('0123456789abcdef', substr(z.kth, CAST(i AS INT), 1)) - 1)
        |            * power(16, CAST(12 - i AS INT)))) / 281474976710656.0) END), 4) AS inter_est,
        | e.n_exact
        |FROM kz z
        |LEFT JOIN nb n ON n.flag_a = z.flag_a AND n.flag_b = z.flag_b
        |JOIN ex e ON e.flag_a = z.flag_a AND e.flag_b = z.flag_b
        |ORDER BY z.flag_a, z.flag_b""".stripMargin,
    // KMV replay: distinct md5s → k-th smallest per group → hex
    // fraction of its first 12 nibbles (exact in double: every term
    // < 2^48) → (k−1)/u_k; groups under k distinct report exactly
    "x_sketch_distinct" ->
      """WITH h AS (SELECT DISTINCT l_returnflag, md5(CAST(l_partkey AS VARCHAR)) AS hh
        | FROM lineitem),
        |r AS (SELECT l_returnflag, hh,
        |  row_number() OVER (PARTITION BY l_returnflag ORDER BY hh) AS rn FROM h),
        |nd AS (SELECT l_returnflag, count(*) AS exact_nd FROM h GROUP BY 1),
        |kth AS (SELECT l_returnflag,
        |  list_sum(list_transform(range(1, 13), i ->
        |    (strpos('0123456789abcdef', substr(hh, CAST(i AS INT), 1)) - 1)
        |      * power(16, CAST(12 - i AS INT)))) AS v
        | FROM r WHERE rn = 256)
        |SELECT n.l_returnflag,
        | round(CASE WHEN k.v IS NULL THEN CAST(n.exact_nd AS DOUBLE)
        |       ELSE 255.0 / (CAST(k.v AS DOUBLE) / 281474976710656.0) END, 4) AS kmv_est,
        | n.exact_nd
        |FROM nd n LEFT JOIN kth k USING (l_returnflag)
        |ORDER BY n.l_returnflag""".stripMargin,
    // exact replay inside the MG exactness envelope (k > per-group
    // distinct): per-group counts ranked (n desc, item asc) — the
    // same total order FreqTopKAgg.eval emits
    "x_freq_topk" ->
      """WITH c AS (SELECT l_returnflag, CAST(l_partkey AS VARCHAR) AS partkey,
        |  count(*) AS n FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT l_returnflag, partkey, n,
        |  row_number() OVER (PARTITION BY l_returnflag ORDER BY n DESC, partkey ASC) AS rn
        | FROM c)
        |SELECT l_returnflag, CAST(rn AS INT) AS rank, partkey, n
        |FROM r WHERE rn <= 10 ORDER BY l_returnflag, rank""".stripMargin,
    // bit-for-bit Bloom replay: md5-nibble positions → sparse 32-bit
    // words via bit_or → per-customer k-bit probe. The two-half merge
    // collapses to one build over ALL orders (bit_or is associative —
    // the merge law the Scala side exercises), so the SQL stays flat.
    "x_sketch_bloom" -> BloomOracleSql,
    // the streamed flavor runs the identical batch probe per
    // micro-batch - one SQL gates both
    "s9_stream_bloom" -> BloomOracleSql,
    // identical exact-integer closed form: same sums, same double ops
    "x_regr_group" ->
      """WITH b AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        | FROM lineitem WHERE l_partkey < 200),
        |s AS (SELECT l_returnflag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |  sum(x * x) AS sxx, sum(x * y) AS sxy FROM b GROUP BY 1)
        |SELECT l_returnflag, n,
        | round(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 6)
        |  AS slope_cents,
        | round((CAST(sy AS DOUBLE) -
        |   CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
        |    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept_cents
        |FROM s ORDER BY l_returnflag""".stripMargin,
    "x_percentiles" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.25), 2) AS p25,
        | round(quantile_cont(l_extendedprice, 0.5), 2) AS p50,
        | round(quantile_cont(l_extendedprice, 0.9), 2) AS p90
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // min-ts chain replay of the earliest-chain funnel (t₁ = first
    // view; tᵢ = first step-i strictly after tᵢ₋₁; window gates the
    // depth — a within-window t₃ implies a within-window t₂)
    "x_funnel_steps" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |t1 AS (SELECT user_id, min(us) AS t1 FROM e
        | WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(us) AS t2 FROM e JOIN t1 USING (user_id)
        | WHERE event_type = 'click' AND us > t1 GROUP BY 1),
        |t3 AS (SELECT e.user_id, min(us) AS t3 FROM e JOIN t2 USING (user_id)
        | WHERE event_type = 'purchase' AND us > t2 GROUP BY 1),
        |d AS (SELECT t1.user_id,
        |  CASE WHEN t3.t3 IS NOT NULL AND t3.t3 - t1.t1 <= 259200000000 THEN 3
        |       WHEN t2.t2 IS NOT NULL AND t2.t2 - t1.t1 <= 259200000000 THEN 2
        |       ELSE 1 END AS funnel_depth
        | FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id))
        |SELECT funnel_depth, count(*) AS n_users
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    // the truncating recurrence replayed step-by-step: rn-ordered
    // recursive CTE, integer floor-div each round — bit-identical to
    // the fold's fixed-point algebra
    "x_ewma_decay" ->
      """WITH RECURSIVE e AS (SELECT user_id, epoch_us(ts) AS us,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |o AS (SELECT user_id, cents,
        |  row_number() OVER (PARTITION BY user_id ORDER BY us, cents) AS rn
        | FROM e WHERE cents >= 0 AND us IS NOT NULL),
        |m AS (SELECT user_id, max(rn) AS mx FROM o GROUP BY 1),
        |s AS (
        | SELECT user_id, rn, cents * 1000 AS acc FROM o WHERE rn = 1
        | UNION ALL
        | SELECT o.user_id, o.rn, (s.acc + o.cents * 1000) // 2
        | FROM s JOIN o ON o.user_id = s.user_id AND o.rn = s.rn + 1)
        |SELECT s.user_id, CAST(s.acc AS BIGINT) AS ewma_millicents
        |FROM s JOIN m ON m.user_id = s.user_id AND s.rn = m.mx
        |ORDER BY s.user_id""".stripMargin,
    "x_funnel_timing" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |t1 AS (SELECT user_id, min(us) AS t1 FROM e
        | WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(us) AS t2 FROM e JOIN t1 USING (user_id)
        | WHERE event_type = 'click' AND us > t1 GROUP BY 1),
        |t3 AS (SELECT e.user_id, min(us) AS t3 FROM e JOIN t2 USING (user_id)
        | WHERE event_type = 'purchase' AND us > t2 GROUP BY 1),
        |conv AS (SELECT t1.user_id, t3.t3 - t1.t1 AS dur
        | FROM t1 JOIN t3 USING (user_id) WHERE t3.t3 - t1.t1 <= 259200000000)
        |SELECT count(*) AS n_converted, min(dur) AS min_us, max(dur) AS max_us,
        | CAST(sum(dur) AS BIGINT) AS sum_us,
        | round(CAST(sum(dur) AS DOUBLE) / count(*), 4) AS avg_us
        |FROM conv""".stripMargin,
    "x_retention_cohorts" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |a AS (SELECT user_id, min(us) // 604800000000 AS cohort_week FROM e
        | WHERE event_type = 'signup' GROUP BY 1),
        |w AS (SELECT e.user_id, us // 604800000000 AS week, cohort_week
        | FROM e JOIN a USING (user_id))
        |SELECT cohort_week, week - cohort_week AS week_offset,
        | count(DISTINCT user_id) AS n_users
        |FROM w WHERE week >= cohort_week
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // recompute-from-scratch replay: scalar stats + the estimator over
    // the FULL table — equality proves the incremental fold lost
    // nothing
    "x_stats_incremental" -> StatsRecomputeSql,
    // the streaming fold maintains the SAME table the batch append
    // does (semilattice merge per micro-batch), so one recompute
    // oracle gates both paths
    "s9_stream_stats" -> StatsRecomputeSql,
    // estimator replay for the three breakpoints, then the same CASE
    // bucketing and counts
    "x_sketch_splits" ->
      """WITH v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        | FROM lineitem),
        |d AS (SELECT cents AS x, count(*) AS c FROM v GROUP BY 1),
        |r AS (SELECT x, c, row_number() OVER (ORDER BY md5(CAST(x AS VARCHAR))) AS rk
        | FROM d),
        |w AS (SELECT x, sum(c) OVER (ORDER BY x) AS cum, sum(c) OVER () AS tot
        | FROM r WHERE rk <= 64),
        |bp AS (SELECT
        |  min(x) FILTER (WHERE 100 * cum >= 25 * tot) AS b1,
        |  min(x) FILTER (WHERE 100 * cum >= 50 * tot) AS b2,
        |  min(x) FILTER (WHERE 100 * cum >= 75 * tot) AS b3
        | FROM w)
        |SELECT CASE WHEN cents <= b1 THEN 0 WHEN cents <= b2 THEN 1
        |            WHEN cents <= b3 THEN 2 ELSE 3 END AS bucket,
        | count(*) AS n_rows
        |FROM v CROSS JOIN bp
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // ONE direct global replay serves all four columns: the
    // semilattice law says merge(per-flag sketches) ≡ direct global
    // sketch, so a law violation shows as a hash mismatch
    "x_sketch_quantile_merge" ->
      """WITH d AS (SELECT CAST(l_quantity AS BIGINT) AS v, count(*) AS c
        | FROM lineitem GROUP BY 1),
        |r AS (SELECT v, c, row_number() OVER (ORDER BY md5(CAST(v AS VARCHAR))) AS rk
        | FROM d),
        |w AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum, sum(c) OVER () AS tot
        | FROM r WHERE rk <= 16)
        |SELECT min(v) FILTER (WHERE 100 * cum >= 25 * tot) AS q25_merged,
        | min(v) FILTER (WHERE 100 * cum >= 50 * tot) AS q50_merged,
        | min(v) FILTER (WHERE 100 * cum >= 75 * tot) AS q75_merged,
        | min(v) FILTER (WHERE 100 * cum >= 50 * tot) AS q50_direct
        |FROM w""".stripMargin,
    // full estimator replay: k-min md5 sample of distinct values WITH
    // their multiset counts, then the lower weighted quantile
    // (smallest v with 100·cum ≥ p·total) — all-integer, so the hash
    // must match even where the sketch is lossy
    "x_sketch_quantiles" ->
      """WITH d AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS v, count(*) AS c
        | FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT l_returnflag, v, c,
        |  row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY md5(CAST(v AS VARCHAR))) AS rk
        | FROM d),
        |w AS (SELECT l_returnflag, v,
        |  sum(c) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum,
        |  sum(c) OVER (PARTITION BY l_returnflag) AS tot
        | FROM r WHERE rk <= 16),
        |est AS (SELECT l_returnflag,
        |  min(v) FILTER (WHERE 100 * cum >= 25 * tot) AS q25_est,
        |  min(v) FILTER (WHERE 100 * cum >= 50 * tot) AS q50_est,
        |  min(v) FILTER (WHERE 100 * cum >= 75 * tot) AS q75_est
        | FROM w GROUP BY 1),
        |fw AS (SELECT l_returnflag, v,
        |  sum(c) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum,
        |  sum(c) OVER (PARTITION BY l_returnflag) AS tot
        | FROM d),
        |ex AS (SELECT l_returnflag, min(v) FILTER (WHERE 2 * cum >= tot) AS q50_exact
        | FROM fw GROUP BY 1)
        |SELECT est.l_returnflag, q25_est, q50_est, q75_est, q50_exact
        |FROM est JOIN ex USING (l_returnflag)
        |ORDER BY est.l_returnflag""".stripMargin
  )
}
