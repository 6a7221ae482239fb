package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table helpers shared by Verify/Bench/tests.
  *
  * Tuned for the local[32] harness but with cluster-scale defaults in
  * mind: AQE on (runtime re-plan, skew-join splitting, coalesced
  * shuffle partitions), shuffle partitions sized to cores rather than
  * the 200 default, and UTC session time so results hash-match the
  * DuckDB oracle.
  */
object GraftSession {

  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      // events.parquet carries TIMESTAMP(NANOS): read as epoch-nanos
      // long (full precision for ordering; convert explicitly where a
      // timestamp is needed — see GraftSession.nanosToTs).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the persistent-index probes pin envelope-sized IN-lists on
      // index columns (Dedup.probeMinhashIndexMd5Plan, and
      // Dedup.probeSignPlaneIndexPlan for either SignPlaneLayout);
      // above the default threshold of 10
      // Spark collapses the parquet In predicate to a [min,max] range,
      // which is vacuous for hash-valued cells — keep the point
      // checks so row-group stats on bucket-sorted files actually
      // skip (a per-row-group stat evaluation of ≤1k literals is
      // noise next to reading the group)
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Read one of the driver-provided testdata tables under `dir`.
    * Frames carrying a `ts` column (events) are normalized to the
    * epoch-nanos BIGINT layout via [[tsToNanos]].
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (df.schema.fieldNames.contains("ts")) tsToNanos(df) else df
  }

  /** The driver's events.ts layout changed across rounds:
    * TIMESTAMP(NANOS) parquet (read as epoch-nanos long under
    * nanosAsLong) through round 6, plain µs-precision timestamp since
    * round 7. Every operator in the engine is written against the
    * epoch-nanos BIGINT form, so normalize BOTH layouts to it at the
    * read boundary: a timestamp ts becomes `unix_micros(ts) * 1000`
    * (the NTZ→LTZ cast is value-preserving in this UTC-pinned
    * session, and epoch-µs × 1000 ≈ 1.7e18 fits a long).
    */
  def tsToNanos(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ => df.withColumn("ts",
        unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType)) * lit(1000L))
    }
  }

  /** The same layout normalization landing on a Spark TimestampType
    * column — what the watermarked streams consume. Long (nanos) goes
    * through [[nanosToTs]]'s truncating divide; a timestamp column
    * just casts (value-preserving under the UTC session).
    */
  def tsAsTimestamp(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", nanosToTs(col("ts")))
      case _ => df.withColumn("ts",
        col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }

  /** A fixed scratch path for gate queries that write a layout before
    * reading it back: keyed by sf dir (overwritten per run, so
    * repeated invocations don't leak a copy each) AND by a per-JVM
    * random nonce (so two JVMs gating concurrently — Verify next to
    * Bench — never overwrite each other mid-read).
    *
    * The nonce replaced pid keying in round 11: under container PID
    * namespaces every gate container can see the SAME small pid, so
    * on a shared/persistent tmpfs a pid-keyed path could collide
    * across concurrent containers — or resolve to a STALE tree left
    * by a previous round's container, whose counts silently shift
    * any fold-on-read result (the two-round `x_shard_append` /
    * `s9_stream_shard` driver-red signature: rows match, offsets
    * don't). A UUID minted at JVM start cannot resolve to any other
    * JVM's state, past or concurrent, no matter how /tmp is shared.
    *
    * The root itself is also overridable via `-Dgraft.gate.root`:
    * Verify pins it INSIDE its own driver-provided outDir, making
    * gate scratch per-invocation-private by construction even if
    * `java.io.tmpdir` is a shared mount.
    *
    * DEFAULT root (round-12, VERDICT r11 task 1c): a per-JVM-private
    * subdir of `java.io.tmpdir` (`graft-gate-<jvmNonce>`), NOT tmpdir
    * itself — so the safe behavior holds under ANY entry point, not
    * just when `graft.Verify.main` ran and set the override. A
    * harness that calls `SparkEntry.queries` through its own runner
    * gets the same per-invocation-private scratch tree Verify gets,
    * without needing to know the property exists.
    */
  def gatePath(tag: String, dir: String): String = {
    val usingDefaultRoot = !sys.props.contains("graft.gate.root")
    val root = sys.props.getOrElse("graft.gate.root",
      new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft-gate-$jvmNonce").toString)
    new java.io.File(root).mkdirs()
    // the default per-JVM root is ours alone — register IT for
    // shutdown cleanup too, or every gate JVM leaves one empty
    // graft-gate-<nonce> dir behind in /tmp (the same slow-leak
    // class the hook exists to stop). An override root may be
    // shared (Verify's outDir) and is the caller's to manage.
    if (usingDefaultRoot && issuedGatePaths.add(root)) gateCleanupHook
    val p = new java.io.File(root,
      s"graft-$tag-gate-${Integer.toHexString(dir.hashCode)}-$jvmNonce"
    ).toString
    // register for JVM-exit cleanup: pid keying stops cross-JVM
    // collisions, but it also means no later JVM ever reuses (or
    // removes) these dirs — a session of many gate JVMs was measured
    // leaking hundreds of /tmp dirs without the hook
    if (issuedGatePaths.add(p)) gateCleanupHook
    p
  }

  /** Minted once per JVM: gate paths are stable within a JVM (the
    * Bench build-once memo depends on that) and globally unique
    * across JVMs (what pid keying failed to provide under container
    * PID namespaces — see [[gatePath]]).
    */
  private lazy val jvmNonce: String =
    java.util.UUID.randomUUID().toString.take(8)

  private val issuedGatePaths =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val gateCleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      issuedGatePaths.forEach(p => rmRecursive(new java.io.File(p)))
    }))

  private def rmRecursive(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmRecursive)
    f.delete(): Unit
  }

  /** [[gatePath]] + recursive delete: for gate queries whose write
    * path has APPEND or CHECKPOINT semantics (streaming checkpoints,
    * partitionBy index layouts) where `mode("overwrite")` never runs
    * and a stale dir from a previous invocation would either leak a
    * copy (the round-5 j12 lesson) or make a restarted stream think
    * its batches already committed.
    */
  def freshGatePath(tag: String, dir: String): String = {
    val p = gatePath(tag, dir)
    rmRecursive(new java.io.File(p))
    p
  }

  /** Gate-startup layout contract — the round-7 lesson: the driver
    * regenerated the testdata mid-round with a new `events.ts` type
    * and the breakage surfaced as four scattered failures instead of
    * one clear line. Emits one fingerprint line per table (md5 of the
    * schema JSON, so any drift changes the recorded line) and FAILS
    * FAST with a named LAYOUT_DRIFT error if a column the engine
    * normalizes (`ts`) drifts to a type no normalizer handles —
    * before any query runs.
    */
  def layoutReport(spark: SparkSession, dir: String): Seq[String] = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val files = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    files.toSeq.map { f =>
      val name   = f.getName.stripSuffix(".parquet")
      val schema = spark.read.parquet(f.toString).schema
      val fp = java.security.MessageDigest.getInstance("MD5")
        .digest(schema.json.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val tsNote =
        if (!schema.fieldNames.contains("ts")) ""
        else schema("ts").dataType match {
          case LongType        => " ts=bigint(nanos)"
          case TimestampType   => " ts=timestamp(us) [normalized]"
          case TimestampNTZType => " ts=timestamp_ntz(us) [normalized]"
          case t => throw new IllegalStateException(
            s"LAYOUT_DRIFT: $name.ts has type ${t.sql} — no normalizer handles it " +
              "(GraftSession.tsToNanos/tsAsTimestamp cover BIGINT epoch-nanos and µs timestamps)")
        }
      s"[layout] $name fingerprint=$fp$tsNote"
    }
  }

  /** Epoch-nanos long (see nanosAsLong above) → timestamp, truncated
    * to Spark's microsecond precision via TRUE integer division
    * (`IntegralDivide`). `(c / 1000).cast("long")` is subtly wrong:
    * the long converts to double BEFORE the divide, and at 1.7e18 the
    * double grid is 256 ns wide — ~1.6% of values come back 1 µs off
    * versus DuckDB's truncating epoch_us (found by the
    * s9_stream_sessions oracle; hour-truncated outputs had masked it).
    */
  def nanosToTs(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    timestamp_micros(call_function("div", c, lit(1000L)))
  }
}
