package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cluster-scale layout techniques: bucketed co-located joins and
  * skew salting. Neither changes query semantics — they change where
  * shuffles happen, which is the difference between a plan that works
  * at sf0.1 and one that survives 100 TB.
  */
object Scale {

  /** Materialize an intermediate that several downstream subtrees
    * consume (r19, optimization guide §3.3/§5): Catalyst duplicates
    * the whole upstream tree per DataFrame reference, and exchange
    * reuse cannot rescue copies that diverge below the reference
    * point (each consumer pushes a different semi-join/filter into
    * its copy) or that sit in separate driver actions (a `collect`
    * scalar job cannot share shuffle output with the main query).
    * Multi-consumer chains were measured carrying 46-196 copies of
    * the same parquet scan in one plan before this. `localCheckpoint`
    * runs the subtree once; every consumer reads the materialized
    * partitions.
    *
    * LAZY since r20 (measured: every EAGER seam paid one extra Spark
    * action of pure fixed overhead — ~70-110 ms each on a warm
    * local[32] session, ×~30 seams across the heavy chains): the
    * plan is still cut at construction (LogicalRDD replaces the
    * subtree — identical downstream plan shape to the eager form)
    * but the partitions materialize inside the FIRST consumer's
    * action instead of a dedicated job. Single-compute stays
    * guaranteed at the block layer: localCheckpoint persists the RDD
    * (per-partition BlockManager locks — concurrent consumers
    * serialize on compute, then read the cached block), and Spark's
    * LocalRDDCheckpointData backfills any partition the first action
    * did not touch before truncating lineage. Seams whose
    * materialization must complete INSIDE a protocol scope (a
    * missing-file retry window, a FoldLease) keep their own explicit
    * EAGER `localCheckpoint()` — this helper is for pure plan-dedup
    * seams only.
    *
    * STORAGE POLICY (r20, r19-verdict task 4): frames whose Catalyst
    * optimized-plan size estimate exceeds
    * `spark.graft.shared.diskOnlyBytes` (default 8 GiB) checkpoint
    * DISK_ONLY instead of MEMORY_AND_DISK — at 100 TB a corpus-scale
    * shared intermediate must not compete with execution memory on
    * the block managers (guide §5: caching competes with execution
    * memory). The threshold errs high because Catalyst overestimates
    * post-aggregation frames (the [[Hints]] lesson); bench-scale
    * frames stay memory-first, cluster-scale corpora spill by
    * policy, and deployments tune the byte knob, not the code. On a
    * cluster, localCheckpoint still trades fault-tolerance of the
    * intermediate for speed (executor loss fails the query — blocks
    * are not recomputable past the lineage cut; retry re-runs the
    * query). That stays the right trade for these deterministic,
    * re-runnable curation chains; swap for reliable checkpoint where
    * retry cost dominates. Streaming frames pass through untouched:
    * a micro-batch source cannot be checkpointed mid-plan, and the
    * foreachBatch twins hand the ops batch frames anyway.
    */
  def shared(df: DataFrame): DataFrame =
    if (df.isStreaming) df
    else df.localCheckpoint(eager = false, storageLevel = sharedLevel(df))

  /** Default byte threshold above which [[shared]] checkpoints
    * DISK_ONLY. Overridden per session by
    * `spark.graft.shared.diskOnlyBytes`.
    */
  val DefaultSharedDiskOnlyBytes: Long = 8L << 30

  private def sharedLevel(df: DataFrame): org.apache.spark.storage.StorageLevel = {
    val s = df.sparkSession.conf
      .get("spark.graft.shared.diskOnlyBytes", DefaultSharedDiskOnlyBytes.toString)
    val cap =
      try s.toLong
      catch { case _: NumberFormatException => throw new IllegalArgumentException(
        s"spark.graft.shared.diskOnlyBytes must be a positive byte count, got '$s'") }
    require(cap > 0,
      s"spark.graft.shared.diskOnlyBytes must be a positive byte count, got '$s'")
    // plan-stats estimate only — costs no Spark job (the optimized
    // plan is computed here at the latest; toRdd needs it anyway)
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(cap))
      org.apache.spark.storage.StorageLevel.DISK_ONLY
    else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
  }

  /** Write `df` as a bucketed, sorted table: co-locates rows by join
    * key so later equi-joins/aggregations on `keys` need NO shuffle
    * (SortMergeJoin reads both sides pre-partitioned). This is the
    * persistent analog of `repartition` — pay the shuffle once at
    * write time, reuse it every query.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      numBuckets: Int,
      keys: Seq[String],
      format: String = "parquet"
  ): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + "/" + table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write
      .format(format)
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)
  }

  /** Join two tables previously written with [[writeBucketed]] on the
    * same keys/bucket count — planner sees matching hash distributions
    * and emits a shuffle-free SortMergeJoin.
    */
  def bucketedJoin(spark: SparkSession, left: String, right: String, keys: Seq[String]): DataFrame =
    spark.table(left).join(spark.table(right), keys)

  /** Partitioned warehouse publish — the FIRST scan-cost lever at
    * 100 TB. `partitionBy` lays the fact table out as one directory
    * per partition value (the Hive/S3-prefix layout of the reference's
    * external Trino tables, demo1-create-tables.ipynb cells 14-19), so
    * a query filtering on the partition column — statically, or at
    * runtime through a filtered dim join (dynamic partition pruning) —
    * never lists, opens, or reads the other partitions' files.
    * Bloom-filter join pruning (proven live in BloomJoinSpec) cuts
    * rows AFTER the scan; partition pruning cuts the scan itself.
    *
    * Partition-column cardinality discipline: date/source-grain (tens
    * to thousands of directories), never a high-cardinality key —
    * one directory per distinct value is the object-store metadata
    * cost. Returns the read-back frame so callers query the
    * partitioned layout, not the in-memory lineage.
    */
  def publishPartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String]
  ): DataFrame = {
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** Morton (Z-order) interleave of two columns scaled to `bits`-bit
    * grid cells: bit i of each scaled value lands at output bits 2i /
    * 2i+1, so rows close in BOTH dimensions get close z-values. Pure
    * column algebra (codegen'd shift/mask terms), no UDF.
    */
  def zorderValue(a: Column, b: Column, aMin: Double, aMax: Double,
      bMin: Double, bMax: Double, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 21, "bits must be in [1, 21]")
    val cells = (1L << bits) - 1
    // multiply BEFORE dividing: (v/range)*cells truncates a cell low
    // whenever the quotient rounds under an integer (1/3*3 < 1.0)
    def scaled(c: Column, lo: Double, hi: Double): Column =
      if (hi <= lo) lit(0L)
      else least(greatest(
        ((c.cast("double") - lit(lo)) * cells / lit(hi - lo)).cast("long"),
        lit(0L)), lit(cells))
    val (za, zb) = (scaled(a, aMin, aMax), scaled(b, bMin, bMax))
    (0 until bits).map { i =>
      shiftleft(shiftright(za, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(zb, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Z-order-clustered rewrite — the multi-column data-skipping layout
    * (the lever partitioning and bucketing don't give: BOTH of two
    * numeric dimensions stay selective). Rows sort by their Morton
    * code into range-partitioned files, so every file's parquet
    * row-group min/max envelope is tight in BOTH dimensions and a
    * 2-D box predicate prunes most row groups at scan time — scans
    * read a corner of the data, not a stripe. The min/max probe is one
    * bounded layout-time action (this is a write-side operator, like
    * [[writeBucketed]]).
    *
    * Semantics-free: the rewritten table holds exactly the input rows
    * (the oracle for any query over it is the same query over the
    * original), which is what makes the layout safely droppable.
    */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      colA: String,
      colB: String,
      bits: Int = 16,
      numFiles: Int = 16
  ): DataFrame = {
    val r = df.agg(
      min(col(colA)).cast("double"), max(col(colA)).cast("double"),
      min(col(colB)).cast("double"), max(col(colB)).cast("double")).head()
    val z = zorderValue(col(colA), col(colB),
      r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), bits)
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** Salted join for a skewed build side: the probe (large, skewed)
    * side gets a deterministic salt in [0, saltFactor) derived from a
    * non-key column hash; the build side is replicated once per salt.
    * The hot key's rows then spread over `saltFactor` reducers instead
    * of one. Deterministic (no rand()) so retries/reruns agree.
    *
    * AQE's skew-join split handles most cases automatically; explicit
    * salting is for the stragglers AQE can't split (e.g. a single
    * giant key inside one partition of a bucketed layout).
    */
  /** ONE-PASS Deequ-style table profile: one row per column with
    * row/null/distinct counts and lexicographic min/max of the string
    * form, computed as a SINGLE aggregation of 4·N + 1 expressions
    * over ONE scan of the table — the shape a 100 TB profile needs
    * (a per-column aggregation loop scans the table N times).
    *
    * `approx = true` swaps `count_distinct` for HLL++
    * `approx_count_distinct`: every expression is then algebraic, the
    * plan is scan → partial agg → ONE single-partition Exchange →
    * final agg (no Expand), and the full profile costs one map-side
    * pass. The exact flavor keeps cross-engine hash parity for the
    * oracle at the price of Catalyst's multi-distinct Expand rewrite
    * (still one scan; the Expand multiplies rows N+1× on the mappers).
    * The wide single row pivots to per-column rows with an inline
    * explode — no extra shuffle.
    */
  def profileTable(df: DataFrame, approx: Boolean = false): DataFrame = {
    val cols = df.schema.fieldNames.toSeq
    val aggs = cols.flatMap { c =>
      val dist =
        if (approx) approx_count_distinct(col(c)).as(s"__dist_$c")
        else count_distinct(col(c)).as(s"__dist_$c")
      Seq(
        count(when(col(c).isNull, 1)).as(s"__null_$c"),
        dist,
        min(col(c).cast("string")).as(s"__min_$c"),
        max(col(c).cast("string")).as(s"__max_$c"))
    }
    val wide = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val rows = cols.map { c =>
      struct(
        lit(c).as("col_name"),
        col("__n").as("n"),
        col(s"__null_$c").as("n_null"),
        col(s"__dist_$c").as("n_distinct"),
        col(s"__min_$c").as("min_str"),
        col(s"__max_$c").as("max_str"))
    }
    wide.select(explode(array(rows: _*)).as("__r")).select(col("__r.*"))
  }

  /** Round-robin-widen an under-partitioned frame to session
    * parallelism (r18, found by the sf10 stream probe): an increment
    * arriving as a few fat file splits — a staged crawl file, a
    * stream micro-batch — caps every downstream CPU-bound projection
    * (NFC canonicalization, hashing, tokenization) at the file
    * parallelism; measured 25 s vs 3 s for the identical canon probe
    * at 4-split vs session width. The exchange is sized by the frame
    * it widens (callers apply it to increment-sized inputs only);
    * already-wide frames pass through untouched, and STREAMING
    * frames pass through unchanged (their width is the micro-batch
    * planner's concern; partition introspection is a batch-only
    * operation) — so every index probe's entry can call this
    * unconditionally.
    *
    * BOUNDARY (pinned intentionally, r18 verdict): a frame at
    * EXACTLY half the session parallelism (`partitions * 2 == want`)
    * passes through. The guard exists for the pathological
    * few-fat-splits shape (4 splits on 32 cores = 8× CPU starvation);
    * at half width the starvation ceiling is a bounded 2×, and a
    * round-robin exchange of the whole increment routinely costs
    * more than it buys back there — so the widen fires only when the
    * deficit is STRICTLY worse than 2× (`partitions * 2 < want`,
    * which for odd `want` widens at exactly-half-rounded-down, e.g.
    * 16 splits on 33 cores). ScaleSpec pins both sides of the edge.
    *
    * COST NOTE (the c1419f4 mid-chain lesson): `df.rdd` here forces
    * physical planning of `df`'s current plan to read its partition
    * count — acceptable at ENTRY points, where df is a freshly-read
    * increment whose plan is a bare scan (planning is O(ms) and the
    * plan would be compiled anyway), but NOT mid-chain, where it
    * splits a query into two separately-planned halves, discards
    * whole-stage fusion across the seam, and re-plans work AQE would
    * have re-planned better. Callers: apply at probe/ingest entry,
    * never between operators.
    */
  def ensureWidth(df: DataFrame): DataFrame =
    if (df.isStreaming) df
    else {
      val want = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions * 2 < want) df.repartition(want) else df
    }

  /** One compacted partition directory's before/after accounting. */
  final case class CompactStats(dir: String, filesBefore: Int, filesAfter: Int, bytes: Long)

  /** Default grace window for deferred-delete reclamation: any reader
    * whose file listing is younger than this can never hit a
    * reclaimed file (clock model and cross-writer skew margin:
    * [[GraceManifest]]). 15 minutes bounds every probe this engine
    * runs by orders of magnitude, and with per-entry doom stamps each
    * file's garbage lives exactly one grace window regardless of
    * compaction cadence.
    */
  val DefaultGraceMs: Long = 15L * 60L * 1000L

  /** Grace budget the stream-static listing guard enforces
    * ([[guardPinnedListing]]) — overridable for tests and for
    * deployments whose compactors run a non-default grace.
    */
  def pinnedListingGraceMs: Long =
    sys.props.get("graft.pinned.listing.grace.ms").map(_.toLong)
      .getOrElse(DefaultGraceMs)

  /** RUNTIME guard for the stream-static probe shape (r18 verdict
    * task 5): a streaming frame joined against a [[readLive]] index
    * keeps the LAZY plan, which pins the index file listing at
    * stream definition — a stream outliving the compaction grace
    * window would then read reclaimed files and die on an opaque
    * FileNotFoundException deep in a task. This wraps the static
    * side with a per-micro-batch age check: once the pinned
    * listing's age exceeds `graceMs`, the stream fails LOUDLY with a
    * named STALE_PINNED_LISTING error carrying the remedy (restart
    * the stream, or move to the foreachBatch shape that re-resolves
    * the listing per micro-batch — EventsStream.ingest is the
    * template). The check is a no-arg nondeterministic UDF
    * (nondeterminism is what stops Catalyst constant-folding it away
    * at plan time): one clock read + compare per index row, paid
    * only on the explicitly-discouraged stream-static branch — the
    * engine's own gate rows all use foreachBatch and never hit it.
    * Clock model: `listedAtMs` and the check both read the DRIVER's
    * clock in local mode; on a cluster the check runs on executors,
    * whose skew is bounded by the same NTP envelope GraceManifest's
    * SkewMarginMs margins — the guard fires at `graceMs` exactly,
    * which is `SkewMarginMs` EARLIER than the first possible reclaim
    * (doom happens at or after the listing; reclaim at doom + grace
    * + margin), so a false pass needs skew beyond the margin, the
    * same budget the reclaimer itself assumes.
    */
  def guardPinnedListing(
      static: DataFrame, what: String,
      graceMs: Long = pinnedListingGraceMs): DataFrame = {
    val listedAtMs = System.currentTimeMillis()
    val check = udf { () =>
      val age = System.currentTimeMillis() - listedAtMs
      if (age > graceMs) throw new IllegalStateException(
        s"STALE_PINNED_LISTING: this stream-static plan pinned its file listing of $what " +
          s"${age} ms ago, past the ${graceMs} ms compaction grace — a compaction pass may " +
          s"have reclaimed listed files. Restart the stream (re-resolving the listing), or " +
          s"run the batch probe per micro-batch inside foreachBatch " +
          s"(EventsStream.ingest is the template) for unbounded stream lifetimes.")
      true
    }.asNondeterministic()
    static.filter(check())
  }

  /** Read a (possibly Hive-partitioned) parquet layout maintained by
    * [[compact]]`(deferDeletes = true)`, EXCLUDING the `_GARBAGE`
    * manifest's doomed files — the reader half of the grace-period
    * protocol. A manifest entry is a file whose compacted replacement
    * was fully renamed in BEFORE the manifest landed (write order in
    * [[compact]]), so excluding it loses nothing; and since the next
    * pass deletes ONLY manifest-listed files, a reader that excluded
    * them up front can no longer race the reclaim — the
    * delete-under-scan window needs the reader to outlive TWO full
    * compaction passes (list → files become garbage → garbage
    * reclaimed), which a bounded retry absorbs entirely. Explicit
    * file list + `basePath` keeps partition-column derivation
    * identical to a plain directory read. `schema` = None infers;
    * an empty live set with a schema returns an empty frame (the
    * "no history → no pairs" contract), while an empty live set
    * UNDER a surviving manifest with no schema to stand on is an
    * error — falling back to a raw directory read there would
    * silently re-admit every doomed file (r17 advice).
    */
  def readLive(
      spark: SparkSession,
      path: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): org.apache.spark.sql.DataFrame = {
    val raw  = new org.apache.hadoop.fs.Path(path)
    val fs   = raw.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(raw)
    val doomed = GraceManifest.doomedPaths(fs, root)
    def walk(p: org.apache.hadoop.fs.Path): Seq[String] =
      fs.listStatus(p).toSeq
        .filter(s => !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
        .flatMap { s =>
          if (s.isDirectory) walk(s.getPath)
          else if (doomed.contains(s.getPath.toString)) Nil
          else Seq(s.getPath.toString)
        }
    val files  = walk(root)
    val reader = spark.read.option("basePath", path)
    val withSchema = schema.fold(reader)(reader.schema)
    if (files.nonEmpty) withSchema.parquet(files: _*)
    else schema match {
      case Some(sc) => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sc)
      case None if doomed.nonEmpty => throw new IllegalStateException(
        s"readLive($path): the live file set is empty but a _GARBAGE manifest survives " +
          s"(${doomed.size} doomed entries) — a raw directory read would resurrect doomed " +
          s"files. The layout needs repair (re-append or clear the manifest) or a schema.")
      case None => withSchema.parquet(path) // no manifest: same error a raw read gives
    }
  }

  /** Bin-pack a parquet dataset's files toward `targetBytes` per file
    * — the small-files problem is the classic large-pipeline failure
    * mode (a 100 TB warehouse written by thousands of tasks ends up
    * with millions of KB-sized files, and every later scan pays a
    * task + open + footer read per file).
    *
    * Walks the (possibly Hive-partitioned) layout to its leaf
    * directories and, for each leaf whose file count exceeds
    * ceil(bytes/target), reads JUST that directory, `coalesce`s to
    * the target count (split merge — NO shuffle, rows never leave
    * their executor in bulk), writes alongside, and swaps the part
    * files in place. Well-sized directories are never read or
    * rewritten, so a periodic compaction pass costs IO proportional
    * to the under-sized tail only. Partition values live in the
    * directory names, not the files, so the swapped files re-derive
    * them on read unchanged.
    *
    * The per-directory jobs submit CONCURRENTLY from a bounded thread
    * pool (`parallelism`, default 8 — Spark's scheduler is made for
    * multi-threaded submission): the driver-side walk is
    * metadata-sized, and on a warehouse with 10⁴ fragmented partition
    * dirs the wall-clock is bounded by pool-width batches of
    * distributed jobs rather than one serial job per dir.
    *
    * Directories holding BOTH data files and partition subdirs (not a
    * strict Hive layout, but real warehouses grow them) are compacted
    * too: each target reads its explicit file list, never the
    * directory path, so a mixed dir's loose files compact without
    * touching — or double-reading — its children.
    *
    * Swap contract: new files rename in BEFORE originals are deleted
    * (a crash can duplicate a partition transiently, never lose it;
    * failed renames roll back to the originals), so run passes in a
    * maintenance window or behind a table-format commit if readers
    * race writers — OR pass `deferDeletes = true` (below) when row
    * duplication is value-invisible. Type fidelity: the rewrite
    * round-trips through the SESSION's parquet mapping — tables read
    * under legacy mappings (e.g. `nanosAsLong` TIMESTAMP(NANOS) →
    * BIGINT) would be written back with the mapped type, so compact
    * those from a session without the mapping.
    *
    * ==deferDeletes: RCU-style grace-period reclamation==
    * With `deferDeletes = true`, originals are NOT deleted in the
    * swap: their paths land in a `_GARBAGE` manifest at the root
    * with PER-ENTRY doom timestamps, and a later pass deletes each
    * entry individually once it ages past the grace (TIME-based, the
    * round-17 live-fire lesson: a pass-count grace degenerates to
    * ~one cycle under back-to-back compactions; per-ENTRY stamps are
    * the round-18 follow-up — a whole-manifest mtime grace reset on
    * every rewrite, so sustained churn starved reclamation forever).
    * Readers exclude manifest-doomed files up front ([[readLive]]),
    * so a reader can only hit a reclaimed file if its own listing is
    * OLDER than the grace window — any probe shorter than `graceMs`
    * is structurally safe (clock model and skew margin:
    * [[GraceManifest]]), and the bounded retry absorbs the
    * pathological rest. Still-in-grace entries CARRY forward with
    * their original stamps (merged with the pass's new garbage;
    * doomed files are excluded from the pass's reads and counts, so
    * they sit inert until age-out). `graceMs = 0` reclaims
    * immediately — the maintenance-window mode. The price is
    * transient ROW DUPLICATION during the grace (old + compacted
    * files coexist), so this mode is ONLY for layouts where
    * duplicates are value-invisible: set-semantics indexes whose
    * probes dedup (minhash, sign-plane, substring) and semilattice
    * folds (min/max). Never use it for additive-count layouts (BM25
    * uses a generation pointer instead). Crash windows converge: a
    * crash before the manifest lands leaves old+new files —
    * duplicates a later pass re-compacts; a crash mid-reclaim
    * re-deletes already-gone files (no-op).
    */
  def compact(
      spark: SparkSession,
      path: String,
      targetBytes: Long,
      parallelism: Int = 8,
      deferDeletes: Boolean = false,
      graceMs: Long = DefaultGraceMs
  ): Seq[CompactStats] = {
    require(targetBytes > 0, "compact needs a positive target file size")
    require(parallelism > 0, "compact needs a positive pool size")
    val raw  = new org.apache.hadoop.fs.Path(path)
    val fs   = raw.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // qualified so CompactStats.dir is uniform whether a dir came from
    // the argument or from a listStatus walk
    val root = fs.makeQualified(raw)
    def visible(s: org.apache.hadoop.fs.FileStatus): Boolean = {
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    // deferred-deletes bookkeeping (see scaladoc + GraceManifest):
    // age-reclaim each doomed entry individually; still-in-grace
    // entries carry forward with their stamps and stay inert
    val newGarbage = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val carriedEntries: Map[String, Long] =
      if (!deferDeletes) Map.empty
      else GraceManifest.reclaimExpired(fs, root, GraceManifest.read(fs, root), graceMs)
    val carried: Set[String] = carriedEntries.keySet
    // every dir with data files is a target — leaves AND mixed dirs
    def targetDirs(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
      val entries       = fs.listStatus(p).filter(visible)
      val (dirs, files) = entries.partition(_.isDirectory)
      (if (files.nonEmpty) Seq(p) else Nil) ++
        dirs.toSeq.flatMap(d => targetDirs(d.getPath))
    }
    def compactDir(dir: org.apache.hadoop.fs.Path): Option[CompactStats] = {
      // carried (still-in-grace) garbage is invisible to the pass:
      // not read, not counted, not re-doomed — it sits inert until a
      // later pass ages it out
      val files = fs.listStatus(dir).filter(s => s.isFile && visible(s) &&
        !carried.contains(fs.makeQualified(s.getPath).toString))
      val bytes = files.map(_.getLen).sum
      val want  = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      if (files.length <= want) None
      else {
        val tmp = new org.apache.hadoop.fs.Path(dir, "_compact_tmp")
        if (fs.exists(tmp)) fs.delete(tmp, true)
        // explicit file list, not the dir path: identical for a leaf,
        // and for a mixed dir it never recurses into child partitions
        spark.read.parquet(files.map(_.getPath.toString).toSeq: _*).coalesce(want)
          .write.mode("overwrite").parquet(tmp.toString)
        // crash-safe swap order: the compacted files move IN first
        // (unique names — a rerun over a previously-compacted dir must
        // not collide with surviving compact-* files), originals are
        // deleted only after every rename is confirmed. A crash or a
        // false rename (object stores return false rather than throw)
        // leaves originals intact plus at worst a duplicate-free
        // partial set of new files that the next guard line cleans up.
        val compacted = fs.listStatus(tmp).filter(s => s.isFile && visible(s))
        val token     = java.util.UUID.randomUUID.toString.take(8)
        val renamed = compacted.zipWithIndex.map { case (s, i) =>
          val dest = new org.apache.hadoop.fs.Path(dir, f"compact-$token-$i%05d.parquet")
          (dest, fs.rename(s.getPath, dest))
        }
        if (renamed.forall(_._2)) {
          if (deferDeletes) files.foreach(f =>
            newGarbage.add(fs.makeQualified(f.getPath).toString))
          else files.foreach(f => fs.delete(f.getPath, false))
          fs.delete(tmp, true)
          Some(CompactStats(dir.toString, files.length, compacted.length, bytes))
        } else {
          // failed swap: roll the new files back out, keep originals
          renamed.filter(_._2).foreach { case (p, _) => fs.delete(p, false) }
          fs.delete(tmp, true)
          None
        }
      }
    }
    val dirs = targetDirs(root).sortBy(_.toString)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(parallelism, math.max(1, dirs.length)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val done = scala.concurrent.Future.sequence(
        dirs.map(d => scala.concurrent.Future(compactDir(d))))
      val stats = scala.concurrent.Await
        .result(done, scala.concurrent.duration.Duration.Inf)
        .flatten
      // publish this pass's garbage (stamped now) merged with the
      // still-in-grace carried entries (keeping their ORIGINAL doom
      // stamps — per-entry age-out is what makes reclamation live
      // under sustained churn) for a LATER pass to reclaim — written
      // LAST via temp+rename, so a crash anywhere above leaves the
      // originals live (duplicates, value-invisible by this mode's
      // contract) and a concurrent reader never sees a truncated list
      if (deferDeletes) {
        val now = System.currentTimeMillis()
        val fresh = scala.jdk.CollectionConverters
          .IteratorHasAsScala(newGarbage.iterator()).asScala.map(_ -> now).toMap
        GraceManifest.publish(fs, root, carriedEntries ++ fresh)
      }
      stats
    } finally pool.shutdown()
  }

  /** COMPACT a set-semantics index's accumulated append files — the
    * one compaction call of the persisted dedup indexes: the minhash
    * band index, the sign-plane index (either layout) and the
    * substring fingerprint index. A year of nightly appends otherwise
    * leaves one small file set per crawl per partition, and the
    * listing cost rides on every probe.
    *
    * Each of these indexes is semantically a SET of keyed rows and its
    * probe collapses duplicates (`dropDuplicates` on the pair, or the
    * substring probe's covered-position `collect_set`), so every state
    * of [[compact]]'s rename-in-then-delete swap is probe-identical:
    * new files rename in BEFORE originals go, so the window holds
    * transient DUPLICATES and never a loss, and a crashed pass leaves
    * originals plus a partial compacted set, both live, same answers.
    * Concurrent compactions converge the same way, so no lease.
    * Reclamation is GRACE-DEFERRED (`deferDeletes = true`): a pass
    * deletes only files an earlier pass doomed at least `graceMs` ago,
    * probes exclude doomed files up front ([[readLive]]), and the
    * probes' missing-file retry absorbs the only residue (a probe
    * outliving a whole grace) — no maintenance window. Per-partition
    * `coalesce` merge toward 128 MiB files, no shuffle, cost
    * proportional to the fragmented tail only. A sibling tree such as
    * the sign-plane `_deletes` tombstones is a separate root and is
    * never touched.
    */
  def compactIndex(
      spark: SparkSession, path: String,
      graceMs: Long = DefaultGraceMs): Seq[CompactStats] =
    compact(spark, path, 128L << 20, deferDeletes = true, graceMs = graceMs)

  def saltedJoin(
      skewed: DataFrame,
      dim: DataFrame,
      key: String,
      saltFactor: Int,
      saltSource: String // any column with per-row variation
  ): DataFrame = {
    val salted = skewed.withColumn("__salt",
      pmod(abs(hash(col(saltSource)).cast("long")), lit(saltFactor.toLong)).cast("int"))
    val replicated = dim
      .withColumn("__salt", explode(array((0 until saltFactor).map(lit): _*)))
    salted
      .join(replicated, Seq(key, "__salt"))
      .drop("__salt")
  }
}
