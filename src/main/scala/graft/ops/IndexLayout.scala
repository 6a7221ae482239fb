package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode}

/** Hash-bucketed parquet layout for CORPUS-SIZED persisted index and
  * model tables — the write-path twin of the BM25 postings layout.
  *
  * Why this exists: every persisted-index *probe* in this repo is
  * O(increment) (broadcast-semi prune, equi-join on the key), but the
  * *base build* of several indexes used to funnel the whole artifact
  * through `coalesce(1)` — ONE write task. Fine for one-row meta
  * scalars and dim×dim matrices; a genuine scale-killer for
  * corpus-sized tables (the canon index is distinct-contents-sized,
  * the winnow print set is occurrence-sized, bigram/KN count tables
  * at trillion-token scale are 10⁹⁺ rows). `repartition(buckets,
  * key…)` writes the same rows through `buckets` parallel tasks,
  * key-bucketed so one key's ledger rows land in one file (min/sum
  * fold locality) — and readers are untouched: same schema, same
  * directory, fold-on-read already absorbs multi-file layouts.
  *
  * The bucket count is a WRITE-parallelism knob, not a semantic one,
  * and every write sizes it by its data: ⌈Catalyst optimized-plan size
  * / `spark.graft.index.append.bytesPerBucket` (64 MiB)⌉, capped at
  * the configured fan-out (default 64, matching the BM25 postings
  * layout; a 1000-executor build raises it WITHOUT a code change via
  * `spark.graft.index.buckets`, read per write). A small base build
  * or a daily increment lands as one file instead of 64 near-empty
  * ones whose listing and opening every probe pays; a month-scale
  * crawl fold or a corpus-sized base still fans out. The byte-target
  * key keeps its historical `append` name. Catalyst overestimates
  * post-aggregation frames, which errs CONSERVATIVE here (more write
  * tasks than strictly needed, never a single-task funnel).
  *
  * Single-task writes remain correct — and required — for one-row
  * meta tables; only corpus-sized artifacts route through here
  * (asserted by `IndexLayoutSpec`, which fails any listed builder
  * that writes its corpus-sized table as a single file once the
  * byte target says the table is large).
  */
object IndexLayout {

  /** Default bucket fan-out, aligned with the BM25 postings layout.
    * Overridden per session by `spark.graft.index.buckets`.
    */
  val DefaultBuckets: Int = 64

  /** Target bytes of (Catalyst-estimated) data per bucket file.
    * Overridden per session by
    * `spark.graft.index.append.bytesPerBucket`.
    */
  val DefaultAppendBytesPerBucket: Long = 64L << 20

  /** The session-configured bucket fan-out: `spark.graft.index.buckets`
    * when set (validated — a zero/negative/garbage value would either
    * crash `repartition` or silently recreate the single-task funnel
    * this layout exists to prevent), else [[DefaultBuckets]].
    */
  def configuredBuckets(df: DataFrame): Int = {
    val s = df.sparkSession.conf
      .get("spark.graft.index.buckets", DefaultBuckets.toString)
    val v =
      try s.toInt
      catch { case _: NumberFormatException => throw new IllegalArgumentException(
        s"spark.graft.index.buckets must be a positive integer, got '$s'") }
    require(v > 0, s"spark.graft.index.buckets must be a positive integer, got '$s'")
    v
  }

  private def configuredBytesPerBucket(df: DataFrame): Long = {
    val s = df.sparkSession.conf
      .get("spark.graft.index.append.bytesPerBucket", DefaultAppendBytesPerBucket.toString)
    val v =
      try s.toLong
      catch { case _: NumberFormatException => throw new IllegalArgumentException(
        s"spark.graft.index.append.bytesPerBucket must be a positive byte count, got '$s'") }
    require(v > 0, s"spark.graft.index.append.bytesPerBucket must be a positive byte count, got '$s'")
    v
  }

  /** Stats-sized bucket count: one bucket per `bytesPerBucket` of
    * Catalyst's optimized-plan size estimate, in [1, maxBuckets].
    * Costs no Spark job (plan stats only).
    */
  def statsBuckets(df: DataFrame, maxBuckets: Int): Int = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val per = BigInt(configuredBytesPerBucket(df))
    val n   = (est + per - 1) / per
    n.min(BigInt(maxBuckets)).max(BigInt(1)).toInt
  }

  /** Write `df` hash-bucketed by `keys` through [[statsBuckets]]
    * parallel tasks, capped at [[configuredBuckets]].
    * `partitionCols` threads through to `DataFrameWriter.partitionBy`
    * for `inc=`-ledger layouts (the caller sets
    * `partitionOverwriteMode` via `options`).
    *
    * Append-mode callers compose: each append adds its own file set
    * and fold-on-read min/sum-folds across all of them, exactly as it
    * folded across `coalesce(1)` ledger rows before.
    */
  def write(
      df: DataFrame, dir: String, mode: SaveMode, keys: Seq[Column],
      partitionCols: Seq[String] = Nil,
      options: Map[String, String] = Map.empty): Unit = {
    require(keys.nonEmpty, "IndexLayout.write needs at least one bucketing key")
    val w = df.repartition(statsBuckets(df, configuredBuckets(df)), keys: _*)
      .write.mode(mode).options(options)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(dir)
  }
}
