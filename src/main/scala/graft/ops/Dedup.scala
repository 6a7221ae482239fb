package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, designed
  * around one rule: never materialize the O(n²) pair space. Every
  * variant reduces candidate generation to an equi-join on a blocking
  * key (hash, shingle, LSH band, simhash band), so the shuffle is
  * keyed and skew-safe (AQE splits hot buckets), and verification runs
  * only on candidates that share a block.
  *
  * The reference's own dedup is exact subset-dedup
  * (kpi_inference_curator.py:400-403, farm_trainer.py:73) and
  * keep-first-per-group (text_curator.py:101); the near-dup family
  * extends it per the north-star brief.
  */
object Dedup {

  /** Envelope cap for the collect-isin index pruning in
    * [[probeMinhashIndexMd5Plan]]: a daily crawl increment carries
    * ≤ this many banded rows (bands × docs) and pins its bucket cells
    * as a driver-side IN-list, turning the index-side scan O(touched
    * cells); a month-scale backfill past the cap degrades to the
    * unpruned scan (AQE's join choice) instead of a multi-MB
    * expression tree on the driver. 64k rows ≈ 16k docs at bands=4 —
    * far above any per-batch increment the engine benches, far below
    * driver-memory trouble.
    */
  private[graft] val MaxProbePruneCells: Long = 64 * 1024L

  /** P4: exact dedup on a key subset, keep-first by explicit order.
    * `dropDuplicates` keeps an *arbitrary* row, which is
    * nondeterministic under retries/partition layout — at scale that
    * silently breaks reruns, so the engine always dedups through a
    * deterministic window.
    */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact content dedup by md5 of a (normalized) text column: one
    * row survives per distinct content hash — groupBy on a 128-bit
    * key, fully map-side-combinable, no sort.
    */
  def exactByContent(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Zero-width characters (ZWSP, ZWNJ, ZWJ, BOM) — invisible bytes
    * that change a content hash without changing what a reader sees:
    * the cheapest dedup-evasion padding. Shared verbatim with the
    * DuckDB oracles (built there from chr() so no regex-escape
    * dialect is involved).
    */
  val ZeroWidthRe = "[\u200B\u200C\u200D\uFEFF]"

  /** The CANONICAL text key: lowercase → zero-width strip → Unicode
    * NFC composition (the codegen'd
    * [[graft.functions.NfcNormalizeExpr]], resolved through the
    * session-registered SQL function). This is the normalization a
    * content-keyed dedup needs BEFORE hashing — composed vs
    * decomposed accents, zero-width padding, and case tweaks are the
    * classic evasion variants that byte-exact md5 keying misses.
    * Per-row, codegen-friendly, no shuffle.
    */
  def canonText(c: Column): Column =
    call_function("nfc_normalize", regexp_replace(lower(c), ZeroWidthRe, ""))

  /** [[exactByContent]] on the canonical key: one survivor per
    * distinct CANONICAL content. Same scale shape — map-side-
    * combinable groupBy on a 128-bit key, no sort; the only shuffle
    * is the keyed aggregation.
    */
  def exactByCanonContent(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(canonText(col(textCol))).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** PERSIST the canonical-key index of a reference corpus — the
    * hash-once seam of [[exactByCanonContent]] for the steady-state
    * ingest gate. Layout: `$path/canon` (h, keep_id = least doc id
    * per canonical hash; vocabulary-of-contents sized, never
    * occurrence sized).
    */
  def writeCanonIndex(
      ref: DataFrame, idCol: String, textCol: String, path: String): Unit =
    IndexLayout.write(
      ref.select(md5(canonText(col(textCol))).as("h"), col(idCol).cast("long").as("__id"))
        .groupBy(col("h")).agg(min(col("__id")).as("keep_id")),
      s"$path/canon", org.apache.spark.sql.SaveMode.Overwrite, Seq(col("h")))

  /** APPEND an increment's canonical keys to a persisted
    * [[writeCanonIndex]] — the maintenance seam: the accepted crawl
    * month's contents become part of "already got this". Min over a
    * hash's rows is a semilattice, so append-mode rows compose with
    * the base by fold-on-read (the probe min-folds its pruned slice)
    * and probe-after-append ≡ probe of a from-scratch rebuild on the
    * union (spec-pinned). A replayed append adds duplicate rows that
    * change NOTHING (min is idempotent) — value-idempotent, like the
    * substring index's distinct-fingerprint appends.
    */
  def appendToCanonIndex(
      inc: DataFrame, idCol: String, textCol: String, path: String): Unit =
    IndexLayout.write(
      inc.select(md5(canonText(col(textCol))).as("h"), col(idCol).cast("long").as("__id"))
        .groupBy(col("h")).agg(min(col("__id")).as("keep_id")),
      s"$path/canon", org.apache.spark.sql.SaveMode.Append, Seq(col("h")))

  /** COMPACT the canon-index ledger: fold every
    * [[appendToCanonIndex]] row set back into one bucketed base —
    * a year of nightly appends otherwise accumulates file sets whose
    * listing cost rides on EVERY probe. min over a hash's rows is an
    * idempotent semilattice, which buys a crash-safety shape the BM25
    * compactor needs a generation pointer for: (1) reclaim the
    * PREVIOUS pass's `_GARBAGE` manifest (grace-deferred deletes —
    * the same RCU-style protocol as `Scale.compact(deferDeletes =
    * true)`), (2) materialize the min-fold and APPEND it as a new
    * bucketed file set into the same directory, (3) record the
    * folded-over files in the manifest instead of deleting them. A
    * crash anywhere leaves only live duplicates — value-equivalent,
    * min folds them; every intermediate state answers probes
    * identically, so no pointer flip is needed — and no WRITER
    * coordination either: even two live concurrent compactions
    * converge (each folds a superset of the values it dooms, deleting
    * an already-deleted file is a no-op, and surviving duplicate fold
    * rows min-collapse on the next read), which is why this op
    * deliberately takes no [[FoldLease]]. READERS are safe by the
    * grace protocol: [[canonDedupWithIndex]] reads grace-aware
    * ([[Scale.readLive]] — manifest-doomed files excluded up front,
    * their fold replacement guaranteed present) and materializes its
    * increment-sized slice under [[retryOnMissingFiles]], so only a
    * probe outliving TWO full compaction passes can even see a
    * reclaim, and the retry absorbs it — pinned by
    * `CanonCompactRaceSpec` under live append+compact churn. The r16
    * "maintenance window" caveat is gone. Returns (filesBefore,
    * liveFilesAfter).
    *
    * (The probe-side retry refreshes the session's file-status cache
    * per attempt — mutating files through the raw FileSystem leaves
    * Spark's shared listing cache stale, and an unrefreshed "retry"
    * would re-plan the same dead files forever.)
    */
  def compactCanonIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      graceMs: Long = Scale.DefaultGraceMs): (Long, Long) = {
    val dir = new org.apache.hadoop.fs.Path(s"$path/canon")
    val fs  = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(dir)
    // (0) age-gated reclaim of grace-deferred garbage — the SAME
    // GraceManifest protocol as Scale.compact(deferDeletes = true)
    // (one implementation, r17 verdict task 2): probes exclude doomed
    // files up front (Scale.readLive), so only a probe whose listing
    // is OLDER than the grace can even see this delete, and its
    // bounded retry absorbs that. Still-in-grace entries carry
    // forward with their original per-entry doom stamps (inert,
    // excluded) and age out individually — churn never starves
    // reclamation.
    val carriedEntries =
      GraceManifest.reclaimExpired(fs, root, GraceManifest.read(fs, root), graceMs)
    val carried: Set[String] = carriedEntries.keySet
    def liveParts() = fs.listStatus(dir).map(st => fs.makeQualified(st.getPath))
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith(".") &&
        p.getName.endsWith(".parquet") && !carried.contains(p.toString))
    val old = liveParts()
    // materialize the LIVE fold (readLive excludes carried doomed
    // files) BEFORE appending into the directory it reads from
    // (localCheckpoint truncates the lineage, so the write below
    // cannot re-scan a directory it is mutating)
    val folded = Scale.readLive(spark, s"$path/canon")
      .groupBy(col("h")).agg(min(col("keep_id")).as("keep_id"))
      .localCheckpoint()
    // the compacted base IS a base rebuild, sized by its data like
    // every IndexLayout write
    IndexLayout.write(folded, s"$path/canon",
      org.apache.spark.sql.SaveMode.Append, Seq(col("h")))
    // (grace-defer) doom the folded-over files instead of deleting:
    // the manifest (carried ∪ old, fresh entries stamped now) lands
    // LAST via GraceManifest.publish (temp+rename), so any crash
    // above leaves only live duplicates (min-folds); a concurrent
    // append that raced the listing is not in `old` and survives
    val now = System.currentTimeMillis()
    GraceManifest.publish(fs, root,
      carriedEntries ++ old.map(p => p.toString -> now).toMap)
    val live = liveParts().length - old.length
    (old.length.toLong, live.toLong)
  }

  /** Bounded retry for a read whose file listing can lose a race with
    * [[compactCanonIndex]]'s delete phase: Spark pins the parquet
    * file list at read-planning time, so a file compaction deletes
    * mid-scan surfaces as a FileNotFoundException-caused task
    * failure. Because every canon-index state from append-onward is
    * value-identical (min semilattice), re-running the WHOLE body —
    * fresh `spark.read`, fresh listing — returns the uncontended
    * answer; the retry only needs to outlast the delete phase, which
    * is file-count-bounded, not data-bounded. Non-FNF failures
    * propagate immediately.
    */
  private[graft] def retryOnMissingFiles[T](
      attempts: Int,
      spark: org.apache.spark.sql.SparkSession = null,
      refreshPaths: Seq[String] = Nil)(body: => T): T = {
    // match every surface Spark gives a deleted-under-scan file: the
    // raw java.io.FileNotFoundException, the flattened message, AND
    // Spark 4's FAILED_READ_FILE.FILE_NOT_EXIST error class ("File
    // does not exist. It is possible the underlying files have been
    // updated.") — the full-suite race run caught the class variant
    // slipping through an instance-only check. "does not exist" is
    // deliberately broad; the helper only ever wraps reads whose
    // missing-file states are value-identical, and non-matching
    // failures still propagate on first throw.
    //
    // EXCLUDED from the broad match (r17 advice, SCOPED in r19): a
    // missing index ROOT — Spark's PATH_NOT_FOUND analysis error
    // ("Path does not exist") naming the root itself, or a raw
    // Hadoop FNF naming one of the refreshPaths roots. That is a
    // plain wrong-path user error, not a compaction race (compaction
    // deletes part files, never the root), and retrying it 4× with
    // sleeps + catalog refreshes only delays the real error behind
    // misleading retry noise. The scoping matters (r18 advice):
    // [[Scale.readLive]] hands spark.read.parquet an EXPLICIT
    // part-file list, so a part file reclaimed between the listing
    // and plan resolution (grace=0 maintenance, skew past
    // SkewMarginMs, a probe stalled past the grace — exactly the
    // "pathological rest" this retry is documented to absorb)
    // surfaces as PATH_NOT_FOUND naming a path UNDER the root. A
    // blanket PATH_NOT_FOUND exclusion would propagate that race on
    // the first throw, so the exclusion fires only when the path the
    // message names IS a refreshPaths root (or can't be placed under
    // any root — e.g. no roots were passed); a named path strictly
    // under a root stays transient, same as the raw-Hadoop branch.
    def isMissingFile(e: Throwable): Boolean = {
      // scheme-insensitive compare: "file:/tmp/x", "file:///tmp/x",
      // "/tmp/x" all normalize to "/tmp/x"
      def deScheme(s: String): String =
        s.replaceFirst("^[A-Za-z][A-Za-z0-9+.\\-]*:/{0,2}", "/")
          .replaceAll("/{2,}", "/").stripSuffix("/")
      val roots = refreshPaths.filter(_.nonEmpty).map(deScheme)
      def rootScoped(named: String): Option[Boolean] = { // Some(transient)
        val n = deScheme(named.stripSuffix("."))
        if (n.isEmpty) None
        else if (roots.exists(r => n.startsWith(r + "/"))) Some(true)
        else if (roots.contains(n)) Some(false)
        else None
      }
      var c: Throwable = e
      var transient = false
      while (c != null) {
        val m = Option(c.getMessage).getOrElse("")
        if (m.contains("PATH_NOT_FOUND") || m.contains("Path does not exist")) {
          val marker = "Path does not exist: "
          val named = m.indexOf(marker) match {
            case -1 => ""
            case i  => m.substring(i + marker.length).takeWhile(ch => !ch.isWhitespace)
          }
          rootScoped(named) match {
            case Some(true)  => transient = true // part file under a root: race
            case _           => return false     // the root itself, or unplaceable
          }
        } else if (refreshPaths.exists(p => p.nonEmpty &&
          (m.contains(s"$p does not exist") || m.contains(s"${p.stripSuffix("/")}/ does not exist"))))
          return false
        if (c.isInstanceOf[java.io.FileNotFoundException] ||
          m.contains("FileNotFoundException") ||
          m.contains("FILE_NOT_EXIST") ||
          m.contains("does not exist")) transient = true
        c = if (c.getCause eq c) null else c.getCause
      }
      transient
    }
    var left = attempts
    while (true) {
      try return body
      catch {
        case e: Throwable if left > 1 && isMissingFile(e) =>
          left -= 1
          System.err.println(s"[graft] missing-file retry (${attempts - left}/${attempts - 1}): " +
            Option(e.getMessage).getOrElse(e.toString).linesIterator.next().take(200))
          // CRITICAL: a compaction mutates files through the
          // FileSystem directly, which never invalidates Spark's
          // shared FileStatusCache — without the refresh, every
          // "fresh" re-plan reuses the same stale listing and the
          // retry loops on the same dead file (caught live by the
          // race specs under full-suite load)
          refreshPaths.foreach { p =>
            try spark.catalog.refreshByPath(p)
            catch { case _: Throwable => () }
          }
          Thread.sleep(200)
        case e: Throwable =>
          System.err.println(s"[graft] retry PROPAGATING (left=$left, missingFile=${isMissingFile(e)}): ${e.getClass.getName}")
          throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Canon-dedup an increment against a persisted [[writeCanonIndex]]:
    * the winner per canonical key is the LEAST doc id across the
    * index and the increment — exactly the one-batch
    * [[exactByCanonContent]] rule on the union corpus, so the batch
    * oracle on (reference ∪ increment), restricted to increment
    * docs, gates this surface and its streaming twin too (the same
    * union law as [[spanDedupWithIndex]]). Output per increment doc:
    * (doc_id, keep_id, is_kept) — an arriving doc is KEPT iff
    * nothing in the committed corpus or earlier in its own batch
    * already carries its canonical content. O(increment) — one
    * equi-join against the index on the 128-bit key.
    */
  def canonDedupWithIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      inc: DataFrame, idCol: String, textCol: String,
      broadcastMaxBytes: Long = Hints.DefaultBroadcastMaxBytes): DataFrame = {
    // width guard (r18, found by the sf10 stream probe): the probe's
    // real cost is the NFC-canonicalize + md5 over the increment, and
    // an increment arriving as a few fat file splits caps that CPU
    // work at the file parallelism — see [[Scale.ensureWidth]]
    val incWide = Scale.ensureWidth(inc)
    // the hashed increment is materialized ONCE (localCheckpoint —
    // increment-sized (doc_id, h) pairs, same budget as the pruned
    // slice below): ih feeds BOTH the winner fold and the final
    // lookup join, and leaving it lazy re-runs the whole
    // canonicalize+md5 scan — the probe's dominant CPU — once per
    // subtree (measured 2× on the sf10 stream probe)
    val ih = Scale.shared(incWide.select(col(idCol).cast("long").as("doc_id"),
      md5(canonText(col(textCol))).as("h")))
    val incWin = ih.groupBy(col("h")).agg(min(col("doc_id")).as("__iw"))
    // a plain left-outer against the index cannot broadcast its small
    // (increment) side — Spark would shuffle the ENTIRE index per
    // increment. Instead: broadcast-SEMI-prune the index down to the
    // increment's hashes (one index scan, zero index shuffle), then
    // the pruned slice is increment-sized and broadcasts into the
    // lookup — O(increment) + one corpus-vocabulary scan, no
    // corpus-sized exchange anywhere. The min-fold collapses
    // [[appendToCanonIndex]] ledger rows (one row per hash per
    // append) AFTER the prune, so the fold too is increment-sized.
    // The hints are SIZE-GATED: for a daily increment they engage as
    // before; for a month-scale crawl increment the probe degrades to
    // AQE's runtime choice (shuffle join) instead of forcing a
    // multi-GB broadcast build that OOMs. The gate is evaluated ONCE,
    // on the shared increment-derived frame (incWin) — the two later
    // hinted frames (pruned, win) are key-bounded by incWin's hash
    // set, so one estimate covers all three and the driver doesn't
    // re-run Catalyst's optimizer on successively nested plans
    // (r15 advice).
    val hintSmall = Hints.isSmall(incWin, broadcastMaxBytes)
    def bc(df: DataFrame) = if (hintSmall) broadcast(df) else df
    // the index slice is MATERIALIZED here (increment-sized, so the
    // localCheckpoint is probe-bounded) under the missing-file retry:
    // once it lands, the returned frame holds no reference to index
    // files, so a compaction's delete phase can no longer fail a
    // probe mid-scan — reader-safety without a generation pointer
    // (see compactCanonIndex)
    val pruned = retryOnMissingFiles(4, spark, Seq(s"$path/canon")) {
      // grace-aware read (Scale.readLive): compaction-doomed ledger
      // files are excluded up front — their min-fold replacement is
      // guaranteed present before the manifest lands
      Scale.readLive(spark, s"$path/canon")
        .join(bc(incWin.select(col("h"))), Seq("h"), "left_semi")
        .groupBy(col("h")).agg(min(col("keep_id")).as("keep_id"))
        .localCheckpoint()
    }
    val win = incWin.join(bc(pruned), Seq("h"), "left")
      .select(col("h"),
        least(col("__iw"), coalesce(col("keep_id"), lit(Long.MaxValue))).as("keep_id"))
    ih.join(bc(win), Seq("h"))
      .select(col("doc_id"), col("keep_id"),
        (col("doc_id") === col("keep_id")).cast("long").as("is_kept"))
      .orderBy(col("doc_id"))
  }

  /** Word tokens of a text column (empties dropped so Spark
    * split/DuckDB string_split edge cases agree).
    */
  def tokens(c: Column): Column =
    filter(split(c, " "), t => t =!= "")

  /** Distinct word w-shingles over an already-materialized token
    * array column. `ts` MUST be a column attribute: inline
    * subexpressions inside a lambda re-evaluate per element (the
    * token split would run once per shingle).
    */
  def shinglesOf(ts: Column, w: Int): Column = {
    // zip_with form: no outer-column capture inside lambdas (see
    // shingleHashesOf for why that matters)
    val n       = greatest(size(ts) - (w - 1), lit(0))
    val shifted = (0 until w).map(j => slice(ts, lit(j + 1), n))
    array_distinct(
      shifted.reduce((a, b) => zip_with(a, b, (x, y) => concat_ws(" ", x, y))))
  }

  /** Exact n-gram-Jaccard near-dup pairs via an inverted shingle
    * index: explode distinct shingles → self-join on shingle (only
    * docs sharing a shingle ever meet) → intersection counts → Jaccard
    * from |A|+|B|−|A∩B|. Candidate volume is Σ df(shingle)², so a
    * single hot shingle (boilerplate header, stopword run) with
    * df=10⁶ would emit 10¹² candidate rows — `dfCap` drops shingles
    * with document frequency above the cap from BOTH the index and
    * the size counts (Jaccard is computed over the capped shingle
    * space). High-df shingles carry no discriminative signal, so the
    * recall cost is marginal; pairs that ONLY share boilerplate are
    * the pairs a near-dup pass should not emit anyway. The hot list
    * is tiny by construction (only shingles above the cap), so the
    * anti-join broadcasts under AQE. Returns (id_a, id_b, jaccard)
    * with id_a < id_b, jaccard rounded to 4dp.
    *
    * ==SEMANTIC CONTRACT (capped by default)==
    * Since round 8 `dfCap` defaults to [[DefaultDfCap]] (4096), NOT
    * `Int.MaxValue`: with defaults this returns ''pairs with jaccard ≥
    * threshold over the capped shingle space'', not over all shingles —
    * a true near-dup pair whose every shared shingle has df > cap is
    * silently absent, with no in-band signal. Run [[hotShingles]] with
    * the same cap to see exactly which shingles were dropped (empty ⇒
    * capped and uncapped results are identical), or pass
    * `dfCap = Int.MaxValue` to recover the uncapped contract where the
    * corpus is known skew-free.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, w: Int, threshold: Double,
      dfCap: Int = DefaultDfCap): DataFrame = {
    val shM = cappedShingleIndex(df, idCol, textCol, w, dfCap)
    val sizes = shM.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val inter = shM.as("a")
      .join(shM.as("b"), col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    val jac = col("n_inter").cast("double") /
      (col("sa.n_sh") + col("sb.n_sh") - col("n_inter")).cast("double")
    inter
      .join(sizes.as("sa"), col("id_a") === col("sa.id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.id"))
      .filter(jac >= threshold)
      .select(col("id_a"), col("id_b"), round(jac, 4).as("jaccard"))
  }

  /** The (id, sh) inverted index feeding [[jaccardPairs]], partitioned
    * on `sh` and materialized ONCE for all consumers (size counts and
    * both self-join sides — AQE stage reuse).
    *
    * df-cap ordering matters at scale: the cap is applied BEFORE the
    * `(sh)` exchange, so the materialized stage never carries a
    * pathological partition — a boilerplate shingle with df=10⁶ would
    * otherwise land a 10⁶-row partition in the exchange even though
    * the cap drops it immediately after. The price is one extra
    * exchange on `id` (balanced by construction: ids are unique) that
    * pins the raw explode for its two consumers (the exact-df
    * aggregation — itself skew-safe, partial aggregation combines
    * map-side — and the anti-join probe). At extreme scale the exact
    * hot list can be replaced by a DetHash-sampled estimate to drop
    * the id-exchange entirely; exact df is kept here because the
    * DuckDB oracle replicates `HAVING count(*) > cap` semantics.
    */
  private[graft] def cappedShingleIndex(
      df: DataFrame, idCol: String, textCol: String, w: Int, dfCap: Int): DataFrame = {
    val shRaw = df
      .select(col(idCol).as("id"), tokens(col(textCol)).as("ts"))
      .select(col("id"), explode(shinglesOf(col("ts"), w)).as("sh"))
    if (dfCap == Int.MaxValue) shRaw.repartition(col("sh"))
    else {
      val pinned = shRaw.repartition(col("id"))
      val hot = pinned.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") > dfCap).select(col("sh"))
      pinned.join(hot, Seq("sh"), "left_anti").repartition(col("sh"))
    }
  }

  /** Rotate-left on a long column (ANSI-safe bit algebra). */
  private def rotl(h: Column, k: Int): Column =
    shiftleft(h, k).bitwiseOR(shiftrightunsigned(h, 64 - k))

  /** Distinct numeric w-shingle hashes over an already-materialized
    * token-hash array column: each shingle combined from its w token
    * hashes with rotate+xor and one final long-hash for dispersal.
    *
    * `hs` MUST be a materialized column attribute, not an inline
    * expression: a subexpression inside a lambda body is re-evaluated
    * per array element, so an inline token-hash array would be
    * recomputed once per shingle per reference (measured 20-100×
    * slower). Callers project `transform(tokens(c), xxhash64)` first.
    */
  def shingleHashesOf(hs: Column, w: Int): Column = {
    // Structural zip_with form: lambdas reference ONLY their bound
    // variables. Any outer-column capture inside a lambda body gets
    // inlined by CollapseProject and re-evaluated per array element —
    // measured 20-100× slower on the token-hash array.
    val n       = greatest(size(hs) - (w - 1), lit(0))
    val shifted = (0 until w).map(j => slice(hs, lit(j + 1), n))
    val rotated = shifted.zipWithIndex.map { case (a, j) =>
      transform(a, h => rotl(h, (j * 19) % 63 + 1))
    }
    val combined = rotated.reduce((a, b) => zip_with(a, b, (x, y) => x.bitwiseXOR(y)))
    array_distinct(transform(combined, h => xxhash64(lit(w), h)))
  }

  /** Derived minhash family over numeric shingle hashes:
    * h_i = xxhash64(seed, h) — hashing a single long per (shingle,
    * seed), not a string. Computed by the fused one-pass native
    * expression ([[graft.functions.MinhashSigsExpr]], bit-identical
    * to the per-seed `array_min(transform(...))` formulation it
    * replaced — see its scaladoc); requires `GraftExtensions` on the
    * session.
    */
  def minhashSignatureFast(shingleHashArr: Column, numHashes: Int): Column =
    call_function("minhash_sigs", shingleHashArr, lit(numHashes))

  /** Engaged-by-default skew caps — the EventAnalytics discipline
    * (DefaultMaxEventsPerKey + `truncated`): a pathological key
    * degrades loudly instead of OOMing the stage, and the caller gets
    * an audit surface rather than having to remember a knob. Sizing
    * by [[lshCandidateStats]] arithmetic: a bucket of B members emits
    * B(B−1)/2 candidate pairs, so 4096 bounds any single (band,
    * bucket) at ≤ 8.4M join rows — one task-sized unit of work —
    * while sitting orders of magnitude above any legitimate near-dup
    * cluster (the sf0.1 gate's max bucket is < 30; a cluster larger
    * than the cap is boilerplate that exact dedup collapses far
    * cheaper). The same bound caps shingle document frequency in
    * [[jaccardPairs]] (df² join rows per shingle ≤ 16.8M). The
    * dropped mass is inspectable with [[lshDroppedBuckets]] /
    * [[hotShingles]].
    */
  val DefaultBucketCap: Int = 1 << 12
  val DefaultDfCap: Int     = 1 << 12

  /** (id, sig, band, bucket) banded xxhash64 signatures — the shared
    * stage behind the fast pair finder and its drop audit.
    */
  private def bandedSigsFast(
      df: DataFrame, idCol: String, textCol: String,
      w: Int, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val sig = df
      .select(col(idCol).as("id"), transform(tokens(col(textCol)), t => xxhash64(t)).as("hs"))
      .select(col("id"), shingleHashesOf(col("hs"), w).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), minhashSignatureFast(col("sh"), numHashes).as("sig"))
    explodeBands(sig, bands)(b => (b * rows until (b + 1) * rows)
      .map(j => rotl(element_at(col("sig"), j + 1), (j * 13) % 63 + 1))
      .reduce((a: Column, c: Column) => a.bitwiseXOR(c)))
  }

  /** One row per (input row, band): every input column plus `band`
    * and that band's `bucket` — the banding step the minhash flavors
    * and the banded sign-plane layout share.
    */
  private def explodeBands(df: DataFrame, bands: Int)(bucketOf: Int => Column): DataFrame = {
    val keep = df.columns.toSeq.map(col)
    df.select(keep :+ explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"), bucketOf(b).as("bucket"))): _*)).as("bb"): _*)
      .select(keep :+ col("bb.band").as("band") :+ col("bb.bucket").as("bucket"): _*)
  }

  /** MinHash-LSH near-dup candidate pairs: signature → `bands` bands of
    * `rows` hashes → hash each band → docs sharing any (band, value)
    * bucket become candidates → verified by estimated Jaccard (fraction
    * of agreeing minhashes). This is the 100 TB path: cost is
    * O(n · numHashes) + a keyed join on band buckets, never O(n²).
    * Returns (id_a, id_b, est_jaccard).
    *
    * Choosing (numHashes, bands): rows-per-band r = numHashes/bands
    * sets the banding S-curve midpoint (1/bands)^(1/r) — the true
    * jaccard at which a pair has ~50% odds of becoming a candidate
    * SOMEWHERE. r=2 configs (e.g. 32/16, midpoint 0.25) admit
    * moderately-similar pairs (j 0.3–0.5, abundant in boilerplate-
    * heavy corpora) at ~24× the r=4 rate — measured 4.7× end-to-end
    * cost at sf0.1 — while r=3 at 30/10 (midpoint 0.46) keeps the
    * j=0.8 banding miss at (1−0.8³)^10 ≈ 8e-4 with a quarter of the
    * band volume. Candidate volume for a config is measurable with
    * [[lshCandidateStats]] before committing to a corpus-wide run.
    *
    * `bucketCap` is the skew guard for pathological buckets: a bucket
    * with B members emits B² /2 candidates, so one boilerplate cluster
    * of 10⁵ identical docs would emit 5·10⁹ pairs from a single
    * bucket. Buckets larger than the cap are dropped from candidate
    * generation (same rationale as the jaccardPairs dfCap: a giant
    * bucket means a giant mutual-dup cluster, which exact dedup
    * already collapses far cheaper — and every pair it contains still
    * has bands−1 other chances to surface). Applied BELOW the
    * (band,bucket) exchange, before the join.
    *
    * ==SEMANTIC CONTRACT (capped by default)==
    * Since round 8 `bucketCap` defaults to [[DefaultBucketCap]]
    * (4096), NOT `Int.MaxValue`: a (band, bucket) with more than cap
    * members is dropped from candidate generation, so a true near-dup
    * pair inside a > 4096-member mutual-dup cluster can be absent from
    * the result with no in-band signal (each pair still has bands−1
    * other chances, but a cluster that big usually floods EVERY band's
    * bucket). Run [[lshDroppedBuckets]] with the same cap to audit the
    * dropped mass (empty ⇒ capped and uncapped results are identical),
    * collapse giant exact-dup clusters first (they are the usual
    * cause), or pass `bucketCap = Int.MaxValue` to recover the
    * uncapped contract where the corpus is known skew-free.
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 5,
      numHashes: Int = 30,
      bands: Int = 10,
      threshold: Double = 0.5,
      bucketCap: Int = DefaultBucketCap
  ): DataFrame = {
    val banded = bandedSigsFast(df, idCol, textCol, w, numHashes, bands)
      // materialize ONE banded-signature stage on the join keys: both
      // sides of the self-join below reuse it (AQE stage reuse), so
      // the numHashes min-passes run once per corpus, not twice
      .repartition(col("band"), col("bucket"))
    val capped =
      if (bucketCap == Int.MaxValue) banded
      else {
        // count over the (band,bucket) window the stage is already
        // partitioned on — no extra exchange; oversized buckets are
        // dropped before the join ever multiplies them
        val wBkt = Window.partitionBy(col("band"), col("bucket"))
        banded.withColumn("__bsz", count(lit(1)).over(wBkt))
          .filter(col("__bsz") <= bucketCap).drop("__bsz")
      }
    bandJoinEstJaccard(capped, capped, selfJoin = true, numHashes, threshold)
  }

  /** The (band, bucket) candidate join plus its estimated-Jaccard
    * verify — the one tail every minhash pair finder and the index
    * probe share. Both sides carry (id, sig, band, bucket); a
    * self-join keeps each unordered pair once (`a.id < b.id`). The
    * estimate is the fraction of agreeing minhashes, rounded to 4
    * places. Verify-then-dedup: the threshold rejects most candidates,
    * so the final `dropDuplicates` (a pair colliding in several bands)
    * only shuffles survivors. Returns (id_a, id_b, est_jaccard).
    */
  private def bandJoinEstJaccard(
      a: DataFrame, b: DataFrame, selfJoin: Boolean,
      numHashes: Int, threshold: Double): DataFrame = {
    val est = aggregate(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0),
      (acc, v) => acc + v
    ).cast("double") / lit(numHashes.toDouble)
    val cell = col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket")
    a.as("a")
      .join(b.as("b"), if (selfJoin) cell && col("a.id") < col("b.id") else cell)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .select(col("id_a"), col("id_b"), round(est, 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .dropDuplicates("id_a", "id_b")
  }

  /** Candidate-volume audit for an LSH banding config: per-bucket
    * membership counts rolled up to the numbers that decide whether a
    * config is runnable at scale — Σ C(B,2) IS the candidate-join
    * output volume (before est-jaccard verify), and the max bucket is
    * the skew ceiling a `bucketCap` would need to clear. Runs only the
    * signature+banding stages (no self-join), so auditing a config on
    * a corpus sample is cheap. One row:
    * (n_docs, n_buckets, candidate_pairs, max_bucket).
    */
  def lshCandidateStats(
      df: DataFrame, idCol: String, textCol: String,
      w: Int, numHashes: Int, bands: Int): DataFrame =
    bandedSigsFast(df, idCol, textCol, w, numHashes, bands)
      .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("bsz"))
      .agg(
        (sum(col("bsz")) / lit(bands)).cast("long").as("n_docs"),
        count(lit(1)).as("n_buckets"),
        sum(col("bsz") * (col("bsz") - 1) / 2).cast("long").as("candidate_pairs"),
        max(col("bsz")).as("max_bucket"))

  /** Candidate-volume audit for a PERSISTENT minhash-index PROBE —
    * the incremental-path counterpart of [[lshCandidateStats]]
    * (r18 verdict task 3: price the bucket density driving
    * x_dedup_inc_compact's decade-up slope with a measurement, not
    * prose). The probe's pre-verify join output is exactly
    * Σ over touched (band, bucket) cells of |index cell| × |probe
    * cell| — this runs the same md5 signature+banding stage the real
    * probe runs, aggregates BOTH sides to per-cell counts (two skinny
    * shuffles, no candidate materialization), and reports that sum
    * plus the skew ceiling. One row: (n_index_rows, n_probe_rows,
    * cells_touched, candidate_pairs, max_cell_pairs, max_index_cell).
    */
  def probeCandidateStats(
      spark: org.apache.spark.sql.SparkSession,
      path: String, newDocs: DataFrame, idCol: String, textCol: String,
      w: Int = 3, numHashes: Int = 12, bands: Int = 4): DataFrame = {
    val probeCells = bandedSigsMd5(Scale.ensureWidth(newDocs), idCol, textCol, w, numHashes, bands)
      .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("psz"))
    val indexCells = Scale.readLive(spark, path)
      .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("isz"))
    indexCells.join(probeCells, Seq("band", "bucket"))
      .agg(
        sum(col("isz") * col("psz")).cast("long").as("candidate_pairs"),
        count(lit(1)).as("cells_touched"),
        max(col("isz") * col("psz")).cast("long").as("max_cell_pairs"),
        max(col("isz")).as("max_index_cell"))
      .crossJoin(indexCells.agg((sum(col("isz")) / lit(bands)).cast("long").as("n_index_rows")))
      .crossJoin(probeCells.agg((sum(col("psz")) / lit(bands)).cast("long").as("n_probe_rows")))
      .select(col("n_index_rows"), col("n_probe_rows"), col("cells_touched"),
        col("candidate_pairs"), col("max_cell_pairs"), col("max_index_cell"))
  }

  /** The loud half of [[minhashLshPairs]]'s engaged `bucketCap`: the
    * (band, bucket, bsz) groups candidate generation dropped. Run it
    * whenever a capped corpus's pair count looks low — the frame is
    * tiny by construction (only buckets above the cap) and shares the
    * signature/banding plan with the pair finder.
    */
  def lshDroppedBuckets(
      df: DataFrame, idCol: String, textCol: String,
      w: Int = 5, numHashes: Int = 30, bands: Int = 10,
      bucketCap: Int = DefaultBucketCap): DataFrame =
    bandedSigsFast(df, idCol, textCol, w, numHashes, bands)
      .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > bucketCap)

  /** The loud half of [[jaccardPairs]]'s engaged `dfCap`: the shingles
    * (and their document frequencies) the capped inverted index
    * dropped — boilerplate by construction.
    */
  def hotShingles(
      df: DataFrame, idCol: String, textCol: String,
      w: Int, dfCap: Int = DefaultDfCap): DataFrame =
    df.select(col(idCol).as("id"), tokens(col(textCol)).as("ts"))
      .select(col("id"), explode(shinglesOf(col("ts"), w)).as("sh"))
      .groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap)

  /** MinHash-blocked, exact-Jaccard-verified pairs: banding generates
    * candidates with the production xxhash64 machinery
    * (O(n·numHashes) + keyed equi-join, same plan shape as
    * [[minhashLshPairs]]), but the verdict is the TRUE shingle-set
    * Jaccard — hash-family-independent, so for any pair the blocking
    * surfaces the output matches plain-SQL ground truth. With
    * rows-per-band r = numHashes/bands, blocking recall at true
    * jaccard j is 1-(1-j^r)^bands — miss ≈ 2e-6 at j ≥ 0.9 with the
    * default 30/10 (r=3, the production fast config's operating
    * point) — which is what lets the x_dedup_minhash_agree
    * query hash-check the fast pipeline against an all-pairs DuckDB
    * oracle (the sf0.01 gate is deterministic: verified green there). Production near-dup runs keep the estimated-Jaccard
    * verify (16 longs per pair instead of the shingle sets); this is
    * the ground-truth harness flavor.
    */
  def minhashExactPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 3,
      numHashes: Int = 30,
      bands: Int = 10,
      threshold: Double = 0.9
  ): DataFrame = {
    // LIGHT banding (r18, the x_dedup_histogram variance attribution's
    // mechanical fix): the band self-join shuffles only (id, band,
    // bucket) — the old shape carried each doc's full shingle array
    // on every one of its `bands` exploded rows, putting bands× the
    // corpus's array bytes through the exchange (the row's measured
    // GC-variance driver at bench scale, and exactly the shuffle that
    // dies first at 100 TB). Candidate pairs dedup BEFORE the verify,
    // so the jaccard is computed once per pair instead of once per
    // band collision, and the shingle arrays join back only for the
    // surviving candidates (two extra tokenize+shingle scans bought
    // back many times over in shuffle bytes; values are identical —
    // jaccard is deterministic per pair, dedup-then-verify ≡
    // verify-then-dedup).
    def shingled = df
      .select(col(idCol).as("id"), transform(tokens(col(textCol)), t => xxhash64(t)).as("hs"))
      .select(col("id"), shingleHashesOf(col("hs"), w).as("sh"))
      .filter(size(col("sh")) > 0)
    val banded = bandedSigsFast(df, idCol, textCol, w, numHashes, bands)
      .select(col("id"), col("band"), col("bucket"))
      .repartition(col("band"), col("bucket"))
    val cands = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val jac = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
      size(array_union(col("sh_a"), col("sh_b"))).cast("double")
    cands
      .join(shingled.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(shingled.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"), round(jac, 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash-blocked, exact-Jaccard-verified pairs: the 64-bit
    * xxhash64 fingerprint + pigeonhole band join from [[simhashPairs]]
    * generate candidates at a wide Hamming radius, then the TRUE
    * shingle-set Jaccard decides. A j ≥ 0.9 pair has fingerprint
    * cosine ≳ 0.95, i.e. expected Hamming ≈ 6.5/64 — radius 20 leaves
    * a ~5σ recall margin (miss ≈ 1e-7) while the Jaccard verify
    * restores precision, so the agreement query is deterministic
    * ground truth. 21 bands × 3 bits cover 63 bits; diffs within the
    * covered region are ≤ total Hamming ≤ 20 < 21 bands, so at least
    * one band is clean (pigeonhole holds with the uncovered top bit).
    */
  def simhashExactPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 3,
      maxHamming: Int = 20,
      threshold: Double = 0.9
  ): DataFrame = {
    val bands     = 21
    val bandWidth = 3
    // light banding, as in minhashExactPairs: the 21-band explode
    // carries only (id, sim, band, chunk) — sim is the scalar the
    // Hamming pre-filter needs; the shingle arrays (the heavy
    // payload) join back only for the Hamming-surviving, deduped
    // candidate pairs
    def shingled = df
      .select(col(idCol).as("id"), transform(tokens(col(textCol)), t => xxhash64(t)).as("hs"))
      .select(col("id"), simhashOfHashes(col("hs")).as("sim"), shingleHashesOf(col("hs"), w).as("sh"))
      .filter(size(col("sh")) > 0)
    val banded = shingled.select(
      col("id"),
      col("sim"),
      explode(array((0 until bands).map { b =>
        struct(
          lit(b).as("band"),
          shiftright(col("sim"), b * bandWidth)
            .bitwiseAND(lit((1L << bandWidth) - 1)).as("chunk"))
      }: _*)).as("bb")
    ).select(col("id"), col("sim"), col("bb.band").as("band"), col("bb.chunk").as("chunk"))
      .repartition(col("band"), col("chunk"))
    val cands = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.chunk") === col("b.chunk") &&
          col("a.id") < col("b.id"))
      .filter(bit_count(col("a.sim").bitwiseXOR(col("b.sim"))) <= maxHamming)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val jac = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
      size(array_union(col("sh_a"), col("sh_b"))).cast("double")
    cands
      .join(shingled.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(shingled.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"), round(jac, 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash signature, md5 flavor: the per-seed min is the
    * lexicographic minimum of `md5(seed:shingle)` hex strings. Slower
    * than the xxhash64 flavor (use that at scale) but byte-identical
    * in ANSI SQL, which makes the whole LSH pipeline oracle-checkable.
    */
  def minhashSignatureMd5(shingleArr: Column, numHashes: Int): Column =
    call_function("minhash_md5_sigs", shingleArr, lit(numHashes))

  /** (id, sig, band, bucket) banded md5 signatures — the shared stage
    * behind the self-join pair finder and the persistent index.
    */
  private[graft] def bandedSigsMd5(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int,
      numHashes: Int,
      bands: Int
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val sig = df
      .select(col(idCol).as("id"), tokens(col(textCol)).as("ts"))
      .select(col("id"), shinglesOf(col("ts"), w).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), minhashSignatureMd5(col("sh"), numHashes).as("sig"))
    explodeBands(sig, bands)(b => concat_ws("|", slice(col("sig"), b * rows + 1, rows)))
  }

  /** MinHash-LSH near-dup pairs, md5/oracle flavor. Identical plan
    * shape to [[minhashLshPairs]]: signature → bands → bucket
    * equi-join → estimated-Jaccard verify. Returns
    * (id_a, id_b, est_jaccard).
    */
  def minhashLshPairsMd5(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 3,
      numHashes: Int = 12,
      bands: Int = 4,
      threshold: Double = 0.5
  ): DataFrame = {
    val banded = bandedSigsMd5(df, idCol, textCol, w, numHashes, bands)
      // single materialized banded stage reused by both self-join sides
      .repartition(col("band"), col("bucket"))
    bandJoinEstJaccard(banded, banded, selfJoin = true, numHashes, threshold)
  }

  /** PERSISTENT MinHash-LSH band index — the incremental-dedup layout:
    * signatures+bands of the existing corpus computed ONCE and written
    * `partitionBy(band)`, sorted by bucket within files. Each crawl
    * increment then probes the index instead of re-signing the whole
    * corpus (the dominant cost at 100 TB, where the increment is a
    * fraction of a percent of the index): probe bands equi-join the
    * stored bands, bucket-sorted files give parquet-stat pruning
    * within each band partition. Same build-once/probe-many pattern
    * as [[Similarity.writeIvfIndex]].
    */
  def writeMinhashIndexMd5(
      df: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      w: Int = 3,
      numHashes: Int = 12,
      bands: Int = 4
  ): Unit =
    minhashIndexLayout(df, idCol, textCol, path, w, numHashes, bands,
      org.apache.spark.sql.SaveMode.Overwrite)

  /** ONE layout pipeline for build AND append — the probe-after-append
    * ≡ rebuild guarantee depends on the two flavors staying
    * byte-identical, so they cannot be two copies.
    */
  private def minhashIndexLayout(
      df: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      w: Int,
      numHashes: Int,
      bands: Int,
      mode: org.apache.spark.sql.SaveMode
  ): Unit =
    bandedSigsMd5(df, idCol, textCol, w, numHashes, bands)
      .repartition(col("band"))
      .sortWithinPartitions(col("bucket"))
      .write.mode(mode).partitionBy("band").parquet(path)

  /** Fold a document increment INTO the persistent LSH index without
    * rebuilding it: the increment signs+bands exactly as the build
    * did and appends into the existing `band=` partitions (new files
    * per partition — parquet partition append, no rewrite of the base
    * data). After the append, probes see base ∪ increment, so the
    * steady-state loop is probe-the-increment → append-the-increment:
    * each crawl pays O(increment), never O(corpus). New files are
    * bucket-sorted internally, so parquet min/max stats keep pruning
    * within every file; COMPACTION is operational hygiene, not
    * correctness — [[Scale.compactIndex]] folds the accumulated
    * append files per band partition, safe to run next to live
    * probes (reader-retry in [[probeMinhashIndexMd5]]).
    *
    * Crash-consistency contract (spec-proven,
    * `IndexMaintenanceSpec`): the index is semantically a SET of
    * (id, sig, band, bucket) rows and the probe ends in
    * `dropDuplicates(id_a, id_b)`, so storage is AT-LEAST-ONCE but
    * probes are exactly-once — append(∅) ≡ id, a replayed increment
    * (after a crash or a duplicate delivery) changes no probe result,
    * only disk footprint (reclaimed by compaction), and concurrent
    * appends are safe (pure partition append, no shared scalar to
    * race on).
    */
  def appendToMinhashIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      w: Int = 3,
      numHashes: Int = 12,
      bands: Int = 4
  ): Unit =
    minhashIndexLayout(df, idCol, textCol, path, w, numHashes, bands,
      org.apache.spark.sql.SaveMode.Append)

  /** Probe the [[writeMinhashIndexMd5]] index with a NEW document
    * increment: new docs band exactly as the index did, candidates
    * come from the (band, bucket) equi-join, and the estimated-Jaccard
    * verify runs on the signatures both sides already carry — the
    * corpus text is never touched again. Returns
    * (id_a = indexed id, id_b = new id, est_jaccard).
    *
    * READER-SAFE under [[Scale.compactIndex]]: the pair-bounded
    * result materializes under [[retryOnMissingFiles]], so a file
    * listing that loses the race with compaction's delete phase
    * re-lists and re-reads — and a listing that catches the swap
    * mid-rename sees transient duplicate rows the terminal
    * `dropDuplicates` collapses (set semantics; same value either
    * way). The returned frame holds no reference to index files.
    */
  def probeMinhashIndexMd5(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 3,
      numHashes: Int = 12,
      bands: Int = 4,
      threshold: Double = 0.5
  ): DataFrame =
    retryOnMissingFiles(4, spark, Seq(path)) {
      probeMinhashIndexMd5Plan(spark, path, newDocs, idCol, textCol,
        w, numHashes, bands, threshold).localCheckpoint()
    }

  /** The probe's LAZY plan — what [[probeMinhashIndexMd5]] builds
    * fresh (new file listing) and materializes on each retry attempt.
    * Package-private so plan-shape specs (partition pruning) can
    * inspect the exact plan the probe executes.
    */
  private[graft] def probeMinhashIndexMd5Plan(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 3,
      numHashes: Int = 12,
      bands: Int = 4,
      threshold: Double = 0.5
  ): DataFrame = {
    // width guard: the md5 minhash signatures are the probe's CPU
    // (Scale.ensureWidth; streaming frames pass through). The banded
    // signatures feed BOTH the bucket-cell collect below and the
    // candidate join, so they are materialized ONCE (localCheckpoint,
    // increment-sized — the canonDedupWithIndex lesson: left lazy,
    // the whole signature scan re-runs per consumer).
    val probes = Scale.shared(
      bandedSigsMd5(Scale.ensureWidth(newDocs), idCol, textCol, w, numHashes, bands))
    // grace-aware read: manifest-doomed files are excluded up front
    // (Scale.readLive), so the probe cannot race the next pass's
    // reclaim — see Scale.compactIndex
    val indexAll = Scale.readLive(spark, path)
    // ENVELOPE-SIZED bucket pruning (r19, motivated by measurement):
    // ScaleAudit at benchdata sf1 vs sf10 showed the probe's
    // pre-verify candidate volume is FLAT a decade up (148 pairs, 90
    // cells, max cell 3 at both scales) while the index itself grew
    // 10× — so the probe's decade-up cost was the unpruned index
    // scan feeding the join, O(index) where everything else is
    // O(increment). Pin the increment's distinct bucket strings as an
    // IN-list on the index side (≤ bands × |increment| values; a
    // correctness-preserving superset since the join still enforces
    // band+bucket): with the index files bucket-sorted inside each
    // band partition (minhashIndexLayout) and the parquet In-pushdown
    // threshold raised (GraftSession), row groups outside the touched
    // cells never leave disk. The same collect-isin pattern — and the
    // same AQE-DPP-fallback rationale — as probeSignPlaneIndexPlan.
    // Size-gated: past the envelope cap the probe degrades to the
    // unpruned scan instead of building a driver-sized IN-list.
    val index =
      if (probes.count() <= MaxProbePruneCells) {
        val cells = probes.select(col("bucket")).distinct()
          .collect().map(_.getString(0)).toSeq
        indexAll.filter(col("bucket").isin(cells: _*))
      } else indexAll
    bandJoinEstJaccard(index, probes, selfJoin = false, numHashes, threshold)
  }

  /** 32-bit SimHash, md5 flavor (oracle-checkable), over an
    * already-materialized md5-hex array column: bit b of a token's
    * hash is bit (b%4) of hex nibble b/4 of md5(token); the fingerprint
    * sets bit b when the token votes sum positive. The pairs op
    * projects `transform(tokens, md5)` first so each token is hashed
    * once, not once per bit.
    */
  def simhash32OfMd5(hs: Column): Column = call_function("simhash32_md5", hs)

  /** SimHash near-dup pairs, 32-bit md5 flavor with 8 bands of 4 bits:
    * pigeonhole guarantees recall for Hamming distance ≤ 7. Returns
    * (id_a, id_b, hamming).
    */
  def simhash32Pairs(df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 7): DataFrame = {
    val bands     = 8
    val bandWidth = 4
    val withSim = df
      .select(col(idCol).as("id"), transform(tokens(col(textCol)), t => md5(t)).as("hs"))
      .select(col("id"), simhash32OfMd5(col("hs")).as("sim"))
    val banded = withSim.select(
      col("id"),
      col("sim"),
      explode(array((0 until bands).map { b =>
        struct(
          lit(b).as("band"),
          shiftright(col("sim"), b * bandWidth)
            .bitwiseAND(lit((1L << bandWidth) - 1)).as("chunk"))
      }: _*)).as("bb")
    ).select(col("id"), col("sim"), col("bb.band").as("band"), col("bb.chunk").as("chunk"))
      // single materialized banded stage reused by both self-join sides
      .repartition(col("band"), col("chunk"))
    val ham = bit_count(col("sim_a").bitwiseXOR(col("sim_b")))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.chunk") === col("b.chunk") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sim").as("sim_a"), col("b.sim").as("sim_b"))
      .withColumn("hamming", ham)
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** 64-bit SimHash over word tokens: sign-sum of the bits of
    * xxhash64(token). Docs with small Hamming distance are near-dups.
    * Computed via bit algebra on longs — no UDF.
    */
  def simhash(tokensArr: Column): Column =
    simhashOfHashes(transform(tokensArr, t => xxhash64(t)))

  /** Same, over an already-materialized xxhash64 array column: the
    * fused one-pass native expression
    * ([[graft.functions.Simhash64Expr]], bit-identical to the 64
    * per-bit aggregate folds it replaced; requires `GraftExtensions`
    * on the session).
    */
  def simhashOfHashes(hashes: Column): Column = call_function("simhash64", hashes)

  /** Block layout for the simhash pigeonhole at radius `maxHamming`
    * (r15, the Manku/Jain/Sarma multi-table device): the 64 bits
    * split into `b` blocks; a pair within `maxHamming` has ≥ b −
    * maxHamming clean blocks, so keying every m-combination of blocks
    * (m = b − maxHamming tables) finds it EXACTLY. The naive m=1
    * split (key = one block) is kept for tight radii where blocks are
    * wide (≥ 12 bits); for loose radii it collapses — radius 7 gives
    * 8-bit chunks, only 256 buckets per band, which concentrated 50k
    * sf1 docs into hot chunks and ran a single bench query 25+
    * minutes. m=2 keys on PAIRS of blocks (C(b,2) tables, ~14-bit
    * keys) — strictly fewer candidates, identical pair output
    * (pigeonhole recall is exact either way).
    */
  private def simhashBlocked(withSim: DataFrame, maxHamming: Int): DataFrame = {
    // supported radius envelope (r15 advice): with m capped at 2, a
    // radius beyond 8 shrinks the combined pair-key below ~12 bits
    // (maxHamming=15 → C(17,2) tables with ~7-bit keys) and the key
    // space collapses back toward the hot-bucket problem the pair
    // tables fixed. Radii that loose need m=3+ (triples of blocks) —
    // reject loudly until a use case justifies generalizing m upward.
    require(maxHamming >= 0 && maxHamming <= 8,
      s"simhash blocking supports maxHamming in [0, 8] (combined key width >= ~12 bits); " +
        s"got $maxHamming — a looser radius needs m>=3 block-combination tables")
    val m = if (64 / (maxHamming + 1) >= 12) 1 else 2
    val b = maxHamming + m
    val base = 64 / b
    val rem  = 64 % b
    val widths = Seq.tabulate(b)(i => if (i < rem) base + 1 else base)
    val offs   = widths.scanLeft(0)(_ + _).init
    def blockOf(i: Int): Column =
      shiftright(col("sim"), offs(i)).bitwiseAND(lit((1L << widths(i)) - 1))
    val keys: Seq[Column] =
      if (m == 1) (0 until b).map(i =>
        struct(lit(i).as("tbl"), blockOf(i).as("k1"), lit(0L).as("k2")))
      else for { i <- 0 until b; j <- (i + 1) until b } yield
        struct(lit(i * b + j).as("tbl"), blockOf(i).as("k1"), blockOf(j).as("k2"))
    withSim
      .select(col("id"), col("sim"), explode(array(keys: _*)).as("bb"))
      .select(col("id"), col("sim"),
        col("bb.tbl").as("tbl"), col("bb.k1").as("k1"), col("bb.k2").as("k2"))
  }

  /** SimHash near-dup pairs with band blocking: split the 64-bit
    * fingerprint into `bands` chunks; by pigeonhole, any pair within
    * Hamming distance < bands shares at least one exact chunk, so the
    * join is again a keyed equi-join, verified by popcount.
    *
    * Since r15 `bucketCap` defaults to [[DefaultBucketCap]], the same
    * flood guard [[minhashLshPairs]] carries: on a correlated-vocab
    * corpus even the combination blocking concentrates mass into hot
    * buckets (most pairs there ARE within a loose radius — the
    * [[simhashCandidateStats]] audit measures it), and an uncapped
    * hot bucket multiplies quadratically in the self-join. Capped
    * semantics: ''pairs whose simhashes agree on at least one
    * under-cap key'' — near-identical docs agree on MANY keys so
    * cooler tables still find them; the pairs a hot-bucket cap can
    * lose are the borderline ones that matched ONLY there, the
    * minhash argument verbatim. The cap is vacuous at the sf0.01
    * oracle gate (every bucket ≤ corpus size < 4096), so the
    * agree-law stays exact; pass `bucketCap = Int.MaxValue` for the
    * uncapped literature semantics.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    val withSim = df
      .select(col(idCol).as("id"), transform(tokens(col(textCol)), t => xxhash64(t)).as("hs"))
      .select(col("id"), simhashOfHashes(col("hs")).as("sim"))
    val banded0 = simhashBlocked(withSim, maxHamming)
      // single materialized blocked stage reused by both self-join sides
      .repartition(col("tbl"), col("k1"), col("k2"))
    val banded =
      if (bucketCap == Int.MaxValue) banded0
      else {
        // count over the key window the stage is already partitioned
        // on — no extra exchange; oversized buckets drop before the
        // join ever multiplies them
        val wBkt = Window.partitionBy(col("tbl"), col("k1"), col("k2"))
        banded0.withColumn("__bsz", count(lit(1)).over(wBkt))
          .filter(col("__bsz") <= bucketCap).drop("__bsz")
      }
    val ham = bit_count(col("sim_a").bitwiseXOR(col("sim_b")))
    banded.as("a")
      .join(banded.as("b"),
        col("a.tbl") === col("b.tbl") &&
          col("a.k1") === col("b.k1") &&
          col("a.k2") === col("b.k2") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sim").as("sim_a"), col("b.sim").as("sim_b"))
      .withColumn("hamming", ham)
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Candidate-volume audit for a simhash pigeonhole radius (the
    * [[simhashPairs]] blocking): per-(band,chunk) bucket counts rolled
    * up exactly like [[lshCandidateStats]]. On a correlated-vocab
    * corpus a loose radius (many narrow bands) concentrates docs into
    * few chunks per band — this measures that before a corpus-wide
    * run commits to it.
    */
  def simhashCandidateStats(
      df: DataFrame, idCol: String, textCol: String, maxHamming: Int): DataFrame = {
    // audits the SAME blocking simhashPairs runs (shared builder —
    // the audit can never drift from the production blocker)
    val withSim = df
      .select(col(idCol).as("id"), transform(tokens(col(textCol)), t => xxhash64(t)).as("hs"))
      .select(col("id"), simhashOfHashes(col("hs")).as("sim"))
    val m = if (64 / (maxHamming + 1) >= 12) 1 else 2
    val nTables = if (m == 1) maxHamming + 1
      else (maxHamming + 2) * (maxHamming + 1) / 2
    simhashBlocked(withSim, maxHamming)
      .groupBy(col("tbl"), col("k1"), col("k2")).agg(count(lit(1)).as("bsz"))
      .agg(
        (sum(col("bsz")) / lit(nTables.toLong)).cast("long").as("n_docs"),
        count(lit(1)).as("n_buckets"),
        sum(col("bsz") * (col("bsz") - 1) / 2).cast("long").as("candidate_pairs"),
        max(col("bsz")).as("max_bucket"))
  }

  /** Near-dup pair list → connected components, by iterative
    * min-label propagation over the edge list — the resolution step a
    * real dedup pipeline needs after ANY pair generator (A~B, B~C ⇒
    * one cluster {A,B,C}; naive per-pair "drop id_b" over- or
    * under-deletes on chains). Returns one row per id that appears in
    * `pairs`: (id, cluster) where cluster = the component's minimum
    * id.
    *
    * Scale design: never a driver-side union-find — each round is ONE
    * keyed join + ONE groupBy over a message graph of the base edges
    * plus per-round label edges (x ↔ cluster(x)) plus a self-loop per
    * id. The label edges inject cluster(cluster(x)) into the same min
    * — the pointer jump, without its former second join — and the
    * reverse direction lets a component root pull from its members, so
    * convergence stays O(log diameter) rounds, and real dup-cluster
    * diameters are tiny. The label frame is one row per CLUSTERED id
    * (pair members only — orders of magnitude smaller than the
    * corpus). Per round the frame is localCheckpoint'ed: iterative
    * lineage otherwise grows exponentially and re-executes prior
    * rounds at every action (on a cluster, substitute reliable
    * checkpointing).
    *
    * ONE action per round: the eager checkpoint's materialization job
    * doubles as the convergence probe — an `observe()` metric (a
    * codegen'd `sum(when(nxt =!= prev, 1))` aggregate, r20: replaces
    * the former per-row Scala UDF, the last interpreted expression in
    * this hot path — guide item 4) fills while that job runs, so
    * there is no separate count action re-scanning the frame (the
    * round-4 verdict's follow-up; previously 2 actions + 4 shuffles
    * per round, now 1 action + 2). Retried tasks can at worst
    * overcount the observed metric (a failed attempt's updates are
    * dropped; only successful tasks report), which at worst runs one
    * extra no-op round — convergence stays correct because labels
    * only ever decrease and the self-loop carries each node's
    * previous label into the round's aggregate as the comparison
    * baseline (spec-pinned: DedupResolveSpec's chain/convergence
    * tests gate the iteration count and the fixpoint).
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    val e0 = pairs.select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
    val edges = e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
      .select(col("src"), col("dst"), lit(false).as("self"))
      .transform(Scale.shared) // lazy (r20): round 1's job materializes
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("cluster"))
      .transform(Scale.shared)
    var changed = 1L
    var it      = 0
    while (changed > 0 && it < maxIters) {
      val lblE = labels.filter(col("id") =!= col("cluster"))
      val msgs = edges
        .unionByName(lblE.select(col("id").as("src"), col("cluster").as("dst"), lit(false).as("self")))
        .unionByName(lblE.select(col("cluster").as("src"), col("id").as("dst"), lit(false).as("self")))
        .unionByName(labels.select(col("id").as("src"), col("id").as("dst"), lit(true).as("self")))
      // the STRING observe variant, NOT an Observation handle: in
      // Spark 4.1 `Observation.register` forces the session's lazy
      // `observationManager` field, and a SparkSession whose manager
      // is initialized no longer Java-serializes — which breaks any
      // LATER closure in the same session that captures a
      // summary-carrying MLlib model (found live: CrossValidator in
      // MlPipelinesSpec failed suite-wide after one CC run). The
      // string variant only plants the CollectMetrics plan node; the
      // metric is read from the pre-checkpoint queryExecution after
      // the eager materialization ran it.
      val obsName = s"cc-changed-$it"
      val obsDf = msgs.join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src"))
        .agg(min(col("cluster")).as("nxt"),
          // exactly one self row per src: its cluster is the previous label
          max(when(col("self"), col("cluster"))).as("prev"))
        .observe(obsName,
          coalesce(sum(when(col("nxt") =!= col("prev"), 1L).otherwise(0L)), lit(0L))
            .as("n_changed"))
        .select(col("src").as("id"), col("nxt").as("cluster"))
      val next = obsDf.localCheckpoint() // eager: the round's ONE job, filling the metric
      changed = obsDf.queryExecution.observedMetrics.get(obsName) match {
        case Some(row) => row.getLong(0)
        case None => throw new IllegalStateException(
          s"connectedComponents: observed metric $obsName missing after the round's " +
            "materialization — the convergence probe did not run")
      }
      labels = next
      it += 1
    }
    labels
  }

  /** Fold an increment's near-dup pairs into an EXISTING clustering
    * without global connected components — the maintenance half of
    * [[connectedComponents]] for the steady-state crawl loop (probe
    * the persistent index → fold the results), where re-running CC
    * over a 100 TB corpus's full pair set per day is the thing to
    * avoid.
    *
    * `baseClusters` is a prior (id, cluster) labeling with cluster =
    * min member id (what [[connectedComponents]] emits);
    * `incrementPairs` is every new pair with at least one new
    * endpoint — (base × new) from probing the persisted LSH/sign-plane
    * index plus (new × new) from pairing the increment against itself.
    * Base endpoints are CONTRACTED to their cluster's super-node, so
    * the CC here runs on a graph whose size is bounded by the
    * increment's pair count — never the corpus: existing clusters
    * enter as single nodes, and pointer-jumping touches only the
    * components the increment actually connects to. A new doc
    * bridging two existing clusters merges them (both remap to the
    * merged root); untouched clusters pass through unchanged.
    *
    * Returns (id, cluster) for every id in `baseClusters` or the new
    * pairs — equivalent to [[connectedComponents]] over the UNION
    * pair set (oracle-proven by `x_dedup_resolve_inc`: the DuckDB
    * side replays the full recompute), because contracting a
    * component to one node preserves connectivity and min-label
    * canonicalization commutes with the contraction (a cluster's
    * super-node id IS its min member id).
    */
  def foldClusters(baseClusters: DataFrame, incrementPairs: DataFrame): DataFrame = {
    val ca = baseClusters.select(col("id").as("id_a"), col("cluster").as("__ca"))
    val cb = baseClusters.select(col("id").as("id_b"), col("cluster").as("__cb"))
    // base endpoints → their cluster super-node; unlabeled endpoints
    // (base singletons, new docs) stay themselves. Contraction can
    // collapse a pair entirely (both endpoints already co-clustered).
    val contracted = incrementPairs
      .join(ca, Seq("id_a"), "left").join(cb, Seq("id_b"), "left")
      .select(coalesce(col("__ca"), col("id_a")).as("id_a"),
        coalesce(col("__cb"), col("id_b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    val cc = connectedComponents(contracted) // increment-sized graph
    // affected super-nodes remap every member of their old cluster
    val remap = cc.select(col("id").as("cluster"), col("cluster").as("__root"))
    val baseOut = baseClusters.join(remap, Seq("cluster"), "left")
      .select(col("id"), coalesce(col("__root"), col("cluster")).as("cluster"))
    // nodes of the increment graph that are NOT already-labeled base
    // docs: new docs and previously-singleton base docs
    val newOut = cc.join(baseClusters.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("cluster"))
    baseOut.unionByName(newOut)
  }

  /** Keep-one-per-cluster resolution: the corpus minus every
    * non-canonical member of a near-dup component (the minimum id
    * survives — deterministic, rerun-stable). Extends what exact
    * keep-first dedup (text_curator.py:101) does for identical keys to
    * the near-dup graph.
    */
  def resolveNearDups(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val drop = connectedComponents(pairs)
      .filter(col("id") =!= col("cluster")).select(col("id").as("__drop_id"))
    docs.join(drop, docs(idCol) === col("__drop_id"), "left_anti")
  }

  /** How a sign-plane index, and the batch miner, key vectors — the
    * one layout decision of the sign-plane family, as
    * [[Similarity.IvfLayout]] is for IVF. A bucket is the
    * `planes`-bit sign pattern of a slice of a vector's leading
    * components; a component past the vector's end reads as sign 0
    * (the DuckDB oracle's `embedding[i]` → NULL → ELSE 0), which
    * degrades recall, never correctness.
    */
  sealed trait SignPlaneLayout
  object SignPlaneLayout {

    /** One bucket per vector, from components 1 .. planes, stored
      * under `bucket=<b>` directories. A pair shares at most one
      * bucket, so the batch miner emits it once without a dedup.
      */
    case object Flat extends SignPlaneLayout

    /** `bands` INDEPENDENT buckets per vector, band k reading
      * components k·planes+1 .. (k+1)·planes, stored once per band
      * under `band=<k>/bucket=<b>` directories; a pair is a candidate
      * when ANY band matches (the LSH OR-amplification
      * [[minhashLshPairs]] applies to shingles, here over
      * random-projection signs). Per-band recall for a θ-angle pair is
      * (1−θ/π)^planes — at cosine 0.99 (θ ≈ 0.141 rad) and planes = 4,
      * one band catches ≈ 83% of true pairs and [[Flat]] stops there;
      * 3 bands lift recall to ≈ 99.5% while candidate volume stays
      * bucketed (≈ n²/2^planes per band, never all-pairs — `bands`×
      * the flat cost and storage, each band skew-bounded by its
      * 2^planes buckets). Band 0 IS the flat blocking, so banded ⊇
      * flat at equal planes (spec-asserted). Vectors should carry at
      * least planes·bands components.
      */
    final case class Banded(bands: Int) extends SignPlaneLayout {
      require(bands >= 1, s"a banded sign-plane layout needs at least one band, got $bands")
    }
  }
  import SignPlaneLayout.{Banded, Flat}

  /** A layout's partition columns — also its candidate-join keys. */
  private def signPlaneKeys(layout: SignPlaneLayout): Seq[String] = layout match {
    case Flat      => Seq("bucket")
    case Banded(_) => Seq("band", "bucket")
  }

  /** The sign-plane blocking projection shared by the batch miner,
    * the persistent index writer and the probe: id, raw vector, its
    * norm as a plain column, and the sign bucket — one row per vector
    * ([[SignPlaneLayout.Flat]]) or per (vector, band)
    * ([[SignPlaneLayout.Banded]]).
    */
  private[graft] def signPlaneKeyed(
      df: DataFrame, idCol: String, vecCol: String,
      planes: Int, layout: SignPlaneLayout): DataFrame = {
    // try_element_at, not element_at: under Spark 4's default ANSI
    // mode a plain element_at past the array end THROWS, which would
    // kill the job on any corpus with vectors shorter than the
    // components a bucket reads — try_element_at yields NULL there,
    // NULL >= 0 is NULL, and the when() falls to 0 (spec-asserted on
    // short vectors, both layouts)
    def bucketOf(k: Int): Column = (0 until planes)
      .map(i => when(try_element_at(col("v"), lit(k * planes + i + 1)) >= 0, 1 << i).otherwise(0))
      .reduce((a: Column, b: Column) => a + b)
    val vec = df.select(
      col(idCol).as("id"),
      col(vecCol).as("v"),
      sqrt(aggregate(col(vecCol), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double"))).as("nrm"))
    layout match {
      case Flat          => vec.withColumn("bucket", bucketOf(0))
      case Banded(bands) => explodeBands(vec, bands)(bucketOf)
    }
  }

  /** The candidate join (`a`, `b` share a cell) and the verified
    * cosine: dot(a,b)/(‖a‖·‖b‖) with the norms carried as plain
    * columns — no per-element normalization (a normalize lambda would
    * capture the norm and recompute it per element). The buckets read
    * raw components; positive scaling preserves signs, so bucketing
    * matches normalized semantics. Returns (id_a, id_b, cosine).
    */
  private def signPlaneCosinePairs(
      a: DataFrame, b: DataFrame, layout: SignPlaneLayout,
      selfJoin: Boolean, threshold: Double): DataFrame = {
    val cell = signPlaneKeys(layout).map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
    val cos  = Similarity.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))
    a.as("a")
      .join(b.as("b"), if (selfJoin) cell && col("a.id") < col("b.id") else cell)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), round(cos, 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** The planes-scaling POLICY (SCALING.md's sf1-audit prose, now
    * code): sign-plane blocking with FIXED planes puts n/2^planes
    * vectors in a bucket, so the within-bucket self-join grows
    * ~n²/2^planes — the round-6→9 headline max slope. The scale-safe
    * rule is planes ≈ log2(n / targetBucket): hold the bucket
    * POPULATION (the quadratic term's base) constant as the corpus
    * grows, spending one extra plane per corpus doubling. Recall
    * degrades gracefully (colinear vectors share signs on every
    * plane regardless of count); the banded layout buys it back with
    * OR-amplification independently of the per-band volume. Bounds:
    * at least `minPlanes` (tiny corpora should still block, not
    * all-pairs), at most `maxPlanes` (buckets beyond vector
    * dimensionality read missing components as sign 0 — volume stops
    * improving). Default targetBucket=4096: a 4k-vector bucket pairs
    * ≈8.4M candidates — executor-sized. 2^20 corpus → planes 8;
    * 100 TB (≈10¹⁰ docs) → planes 16 via the cap with ~600k/bucket,
    * at which point the IVFPQ path is the better tool (SCALING.md).
    */
  def planesFor(n: Long, targetBucket: Long = 4096L,
      minPlanes: Int = 4, maxPlanes: Int = 16): Int = {
    require(targetBucket > 0 && minPlanes >= 1 && maxPlanes >= minPlanes,
      s"bad planes policy bounds: target=$targetBucket min=$minPlanes max=$maxPlanes")
    val needed = math.ceil(
      math.log(math.max(n, 1L).toDouble / targetBucket.toDouble) / math.log(2.0)).toInt
    math.min(maxPlanes, math.max(minPlanes, needed))
  }

  /** [[embeddingNearDupPairs]] with planes chosen by [[planesFor]]
    * from the actual corpus size — the auto-scaling entry point a
    * pipeline should call; the fixed-planes miner stays for
    * oracle-pinned gates and recall experiments. The count is one
    * cheap driver scalar (metadata-only on parquet sources).
    */
  def embeddingNearDupPairsAuto(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      targetBucket: Long = 4096L, layout: SignPlaneLayout = Flat): DataFrame =
    embeddingNearDupPairs(df, idCol, vecCol, threshold,
      planes = planesFor(df.count(), targetBucket), layout = layout)

  /** Embedding near-dup pairs by cosine ≥ threshold, blocked by the
    * signs of leading components (`layout`: one bucket per vector, or
    * OR-amplified bands) so candidates are bucket-local. For exact
    * recall use Similarity.cosineTopK against the full set. Returns
    * (id_a, id_b, cosine), id_a < id_b. A pair matching in several
    * bands scores the identical rounded cosine in each, so with more
    * than one band a final distinct collapses the copies; with one
    * there is nothing to collapse and the plan has no extra shuffle.
    */
  def embeddingNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      planes: Int = 4, layout: SignPlaneLayout = Flat): DataFrame = {
    // single materialized keyed stage reused by both self-join sides
    val keyed = signPlaneKeyed(df, idCol, vecCol, planes, layout)
      .repartition(signPlaneKeys(layout).map(col): _*)
    val pairs = signPlaneCosinePairs(keyed, keyed, layout, selfJoin = true, threshold)
    layout match {
      case Banded(bands) if bands > 1 => pairs.distinct()
      case _                          => pairs
    }
  }

  /** PERSISTENT sign-plane index — the semantic (embedding) analog of
    * [[writeMinhashIndexMd5]] and the build-once/probe-many twin of
    * [[embeddingNearDupPairs]]: the base corpus is keyed ONCE (vector,
    * norm, sign bucket per band) and written partitioned by the
    * layout's keys, so an embedding increment probes only the cells
    * its own keys land in instead of re-reading and re-keying the
    * full corpus. At 100 TB the increment is a fraction of a percent
    * of the index; the probe cost is proportional to the increment ×
    * its bucket population. A rebuild clears pending takedowns.
    */
  def writeSignPlaneIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      planes: Int = 4,
      layout: SignPlaneLayout = Flat
  ): Unit = {
    signPlaneIndexLayout(df, idCol, vecCol, path, planes, layout,
      org.apache.spark.sql.SaveMode.Overwrite)
    // rebuild = fresh index: stale takedown tombstones die with it
    val p  = new org.apache.hadoop.fs.Path(s"${path}_deletes")
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    fs.delete(p, true): Unit
  }

  /** RETIRE ids from the persistent sign-plane index (either layout)
    * — the takedown / right-to-be-forgotten path for the dedup
    * surface: after a retraction, new content must no longer be
    * flagged as a near-dup of the removed embeddings (the index would
    * otherwise keep matching against content the corpus no longer
    * carries). Tombstones land under `del=<deleteId>` in a SIBLING
    * directory `<path>_deletes` (the index root itself is the
    * partitioned parquet — a subdir inside it would pollute partition
    * discovery); dynamic partition overwrite makes replaying a
    * retraction converge, and a rebuild clears the tree. Probes mask
    * retired ids with one broadcast anti-join.
    *
    * Retirement is PERMANENT for the id: every stored row of the id
    * is masked, whenever appended. Re-embedding cycles (retract +
    * re-add the SAME id) are the IVF/CDC path's contract (inc-set
    * tombstones); this dedup index's update path is append-only
    * increments with fresh ids, where permanent retirement is exactly
    * the takedown semantics wanted.
    */
  def deleteFromSignPlaneIndex(
      spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame,
      idCol: String,
      path: String,
      deleteId: String
  ): Unit = {
    require(deleteId.nonEmpty, "deleteId must be non-empty")
    ids.select(col(idCol).as("id")).distinct()
      .withColumn("del", lit(deleteId))
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("del").parquet(s"${path}_deletes")
  }

  /** Retired-id set of a sign-plane index, None when no takedowns are
    * pending (or the tree holds only _SUCCESS markers — an empty
    * retraction batch has no schema to infer).
    */
  private def signPlaneTombstones(
      spark: org.apache.spark.sql.SparkSession, path: String): Option[DataFrame] = {
    val p  = new org.apache.hadoop.fs.Path(s"${path}_deletes")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var any = false
    if (fs.exists(p)) {
      val it = fs.listFiles(p, true)
      while (!any && it.hasNext) { any = it.next().getPath.getName.endsWith(".parquet") }
    }
    if (any) Some(spark.read.parquet(s"${path}_deletes").select(col("id")))
    else None
  }

  /** Shared build/append layout pipeline — see [[minhashIndexLayout]]. */
  private def signPlaneIndexLayout(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      planes: Int,
      layout: SignPlaneLayout,
      mode: org.apache.spark.sql.SaveMode
  ): Unit = {
    val keys = signPlaneKeys(layout)
    signPlaneKeyed(df, idCol, vecCol, planes, layout)
      .repartition(keys.map(col): _*)
      .write.mode(mode).partitionBy(keys: _*).parquet(path)
  }

  /** Refuse an append or probe whose `layout` is not the one the index
    * was written with (SIGNPLANE_LAYOUT_MISMATCH, the analog of
    * IVF_APPEND_SCAN_LAYOUT): the partition columns read off the
    * root's directory names (`bucket=`, or `band=` then `bucket=`)
    * must be the layout's keys. Unchecked, a banded append into a flat
    * index lands `band=` directories under a `bucket=` root and every
    * later read of the index breaks, and a mismatched probe reads
    * null keys and silently finds nothing. An absent or empty root
    * passes — there is nothing to mismatch yet.
    */
  private def requireSignPlaneLayout(
      spark: org.apache.spark.sql.SparkSession, path: String, layout: SignPlaneLayout): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs   = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def keysUnder(p: org.apache.hadoop.fs.Path): List[String] =
      fs.listStatus(p).find { st =>
        val n = st.getPath.getName
        st.isDirectory && n.contains("=") && !n.startsWith("_") && !n.startsWith(".")
      } match {
        case Some(st) => st.getPath.getName.takeWhile(_ != '=') :: keysUnder(st.getPath)
        case None     => Nil
      }
    val found = if (fs.exists(root)) keysUnder(root) else Nil
    val want  = signPlaneKeys(layout)
    if (found.nonEmpty && found != want)
      throw new IllegalStateException(
        s"SIGNPLANE_LAYOUT_MISMATCH: $path is partitioned by ${found.mkString("/")}, but the " +
          s"call passed $layout (${want.mkString("/")}) — pass the layout the index was " +
          "written with, or rebuild it with writeSignPlaneIndex")
  }

  /** Fold an embedding increment INTO the persistent sign-plane index
    * without rebuilding: same append-into-partitions contract as
    * [[appendToMinhashIndex]] — the keying is deterministic per
    * vector, so appended rows land in exactly the partitions a
    * rebuild would put them in, and probe-after-append ≡
    * probe-of-rebuilt (spec-proven). Same crash-consistency contract
    * too (`IndexMaintenanceSpec`): at-least-once storage,
    * exactly-once probes — [[probeSignPlaneIndex]] dedupes pairs, so
    * a replayed increment changes disk footprint only; append(∅) ≡
    * id; concurrent appends safe. Refuses a `layout` other than the
    * index's own before writing (SIGNPLANE_LAYOUT_MISMATCH).
    */
  def appendToSignPlaneIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      planes: Int = 4,
      layout: SignPlaneLayout = Flat
  ): Unit = {
    requireSignPlaneLayout(df.sparkSession, path, layout)
    signPlaneIndexLayout(df, idCol, vecCol, path, planes, layout,
      org.apache.spark.sql.SaveMode.Append)
  }

  /** Probe the [[writeSignPlaneIndex]] index with NEW embeddings:
    * the increment keys exactly as the index did (same `planes` and
    * `layout`), candidates come from the cell equi-join (pruned on the
    * index side), and the cosine verify runs on stored vectors+norms.
    * Pairs dedup at the end — a banded pair can match in several
    * bands, and a replayed append duplicates index rows. Takedown
    * tombstones mask retired ids. Returns
    * (id_a = indexed id, id_b = new id, cosine).
    */
  def probeSignPlaneIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      newEmb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      planes: Int = 4,
      layout: SignPlaneLayout = Flat
  ): DataFrame =
    // reader-safe: a batch probe whose pinned listing loses the race
    // with Scale.compactIndex's delete phase re-builds the plan
    // (FRESH file listing) and re-reads — set semantics make every
    // swap state probe-identical. Streaming frames keep the lazy
    // plan, which PINS the index listing at stream definition: a
    // stream-static caller must restart within the compaction grace
    // window (the engine's own streaming twin instead runs THIS
    // batch probe per micro-batch inside foreachBatch —
    // EventsStream.ingest — re-resolving the listing
    // every batch, the shape to copy for long-lived streams).
    if (newEmb.isStreaming)
      probeSignPlaneIndexPlan(spark, path, newEmb, idCol, vecCol, threshold, planes, layout)
    else retryOnMissingFiles(4, spark, Seq(path, s"${path}_deletes")) {
      probeSignPlaneIndexPlan(spark, path, newEmb, idCol, vecCol, threshold, planes, layout)
        .localCheckpoint()
    }

  /** The probe's LAZY plan — built fresh per retry attempt by
    * [[probeSignPlaneIndex]]; package-private for plan-shape specs.
    */
  private[graft] def probeSignPlaneIndexPlan(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      newEmb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      planes: Int = 4,
      layout: SignPlaneLayout = Flat
  ): DataFrame = {
    requireSignPlaneLayout(spark, path, layout)
    // width guard: plane dots + norms per vector (Scale.ensureWidth)
    val probes = signPlaneKeyed(Scale.ensureWidth(newEmb), idCol, vecCol, planes, layout)
    // explicit schema (the probe side is keyed identically, so its
    // schema IS the index schema): an index built from a corpus with
    // no embeddings is an empty partitioned dir, and schema inference
    // would throw where the correct semantics is "no history → no
    // pairs" — same contract as probeSubstringIndex. Grace-aware read
    // (Scale.readLive): manifest-doomed files are excluded up front,
    // so the probe cannot race Scale.compactIndex's reclaim.
    val indexAll = Scale.readLive(spark, path, Some(probes.schema))
    // static cell pruning on BATCH probes: each probe vector keys to
    // one cell per band, so a small increment touches few of the
    // partitions — but the DPP route this join relies on falls back to
    // dynamicpruningexpression(true) under AQE when the probe-side
    // broadcast isn't reused (measured: 16/16 buckets scanned). Batch
    // probes pin an envelope-sized IN-list (≤ bands × |increment|
    // cells; a banded cell is the composite band·2^planes + bucket)
    // instead; STREAMING probes can't collect and keep the join-side
    // pruning as best-effort — spec'd in OpsSpec (metric) either way.
    val cell = layout match {
      case Flat      => col("bucket")
      case Banded(_) => col("band") * lit(1 << planes) + col("bucket")
    }
    val index0 =
      // stream-static: the pinned listing gets the runtime staleness
      // guard (r18 verdict task 5) — a stream outliving the grace now
      // fails with the named error + remedy instead of a task FNF
      if (newEmb.isStreaming)
        Scale.guardPinnedListing(indexAll, s"sign-plane index at $path")
      else indexAll.filter(cell.isin(
        probes.select(cell.as("c")).distinct().collect().map(_.get(0)).toSeq: _*))
    // takedown mask: retired ids must stop matching new content
    val index = signPlaneTombstones(spark, path) match {
      // size-gated: a takedown ledger grows unboundedly over years —
      // past the cap, AQE picks the join strategy instead of a forced
      // broadcast build
      case Some(dead) => index0.join(Hints.broadcastIfSmall(dead), Seq("id"), "left_anti")
      case None       => index0
    }
    signPlaneCosinePairs(index, probes, layout, selfJoin = false, threshold)
      // the index is semantically a SET of (id, vector) rows: a
      // replayed append duplicates rows on disk, and a banded pair can
      // share several cells; without this either emits its pair twice.
      // Deduping here (on threshold survivors only — a skinny
      // exchange) is what makes the layout replay-safe at probe level,
      // the same discipline probeMinhashIndexMd5 already pays.
      .dropDuplicates("id_a", "id_b")
  }

  /** Exact edit-distance similarity self-join for ed ≤ 1 — PassJoin
    * segment blocking (Li et al., "PassJoin: A Partition-based Method
    * for Similarity Joins", VLDB'12), never all-pairs:
    *
    * Index side: every string splits into k+1 = 2 contiguous
    * segments, keyed (length, slot, segment). Probe side: every
    * string enumerates, for each partner length within ±1 and each
    * slot, its substrings at the slot's position shifted by −1/0/+1 —
    * ≤ 18 probe keys per row. Pigeonhole: a single edit touches at
    * most one segment, so the untouched segment of one string appears
    * in the other shifted by at most 1 → the equi-join on
    * (length, slot, substring) finds EVERY true pair; the final
    * `levenshtein ≤ 1` filter removes false candidates, so the output
    * is exact (what lets an all-pairs SQL oracle check it).
    *
    * Scale shape: candidate generation is a keyed equi-join whose
    * fan-out is bounded (2 index keys + ≤ 18 probe keys per row);
    * hot segment values (shared prefixes) concentrate like any
    * skewed join key and AQE's skew split applies. All-pairs compare
    * is O(n²·L); this is O(n·B + candidates) — the PassJoin trade.
    *
    * Strings shorter than 2 chars are excluded (no 2-segment split).
    * Output: (id_a, id_b, dist) with id_a < id_b.
    */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String): DataFrame =
    edCandidates(df, idCol, strCol)
      .select(col("id_a"), col("id_b"), col("s_a"), col("s_b")).distinct()
      // verify with the banded native kernel: lev_at_most caps at k+1
      // after O(k·n) band cells (vs the full O(n²) DP of the built-in
      // levenshtein), and for kept pairs (d ≤ k) the value IS the
      // distance — bit-identical output, spec'd in EditDistanceSpec
      .withColumn("dist", call_function("lev_at_most", col("s_a"), col("s_b"), lit(1)))
      .filter(col("dist") <= 1)
      .select(col("id_a"), col("id_b"), col("dist"))

  /** Candidate-volume instrumentation for [[editDistancePairs]] —
    * same discipline as [[lshCandidateStats]]: price the blocking
    * before a corpus-wide run. `candidate_rows` is the raw join
    * output (what the verify step pays); `candidate_pairs` the
    * distinct pairs. Compare against n·(n−1)/2 to see what the
    * blocking saved.
    */
  def editDistanceCandidateStats(df: DataFrame, idCol: String, strCol: String): DataFrame =
    edCandidates(df, idCol, strCol).agg(
      count(lit(1)).as("candidate_rows"),
      countDistinct(col("id_a"), col("id_b")).as("candidate_pairs"))

  private def edCandidates(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"), col(strCol).as("s"))
      .filter(length(col("s")) >= 2)

    // ---- index: the 2 exact segments of s, keyed by its OWN length
    val seg0Len = (length(col("s")) / 2).cast("int")
    val index = base.select(col("id"), col("s"), length(col("s")).cast("int").as("len"),
        array(
          struct(lit(0).as("slot"), col("s").substr(lit(1), seg0Len).as("seg")),
          struct(lit(1).as("slot"), col("s").substr(seg0Len + 1, length(col("s"))).as("seg"))
        ).as("__segs"))
      .select(col("id").as("id_a"), col("s").as("s_a"), col("len"), explode(col("__segs")).as("e"))
      .select(col("id_a"), col("s_a"), col("len"), col("e.slot").as("slot"), col("e.seg").as("seg"))

    // ---- probe: for partner lengths len±1 and both slots, substrings
    // at the slot position shifted −1/0/+1 (clamped to valid range)
    val probe = base
      .withColumn("__la", explode(array(length(col("s")) - 1, length(col("s")), length(col("s")) + 1)))
      .filter(col("__la") >= 2)
      .withColumn("__slot", explode(array(lit(0), lit(1))))
      .withColumn("__segLen",
        when(col("__slot") === 0, (col("__la") / 2).cast("int"))
          .otherwise(col("__la") - (col("__la") / 2).cast("int")))
      .withColumn("__segStart", when(col("__slot") === 0, lit(1)).otherwise((col("__la") / 2).cast("int") + 1))
      .withColumn("__shift", explode(array(lit(-1), lit(0), lit(1))))
      .withColumn("__p", col("__segStart") + col("__shift"))
      .filter(col("__p") >= 1 && col("__p") + col("__segLen") - 1 <= length(col("s")))
      .select(col("id").as("id_b"), col("s").as("s_b"),
        col("__la").cast("int").as("len"), col("__slot").as("slot"),
        col("s").substr(col("__p"), col("__segLen")).as("seg"))

    index.join(probe, Seq("len", "slot", "seg"))
      .filter(col("id_a") < col("id_b"))
  }

  /** End-to-end dedup application: pair list → components → the
    * SURVIVING corpus. Each cluster keeps its minimum-id member;
    * docs in no pair survive untouched. Adds `n_merged` (cluster size,
    * 1 for singletons) so downstream resampling can weight survivors
    * by how much duplication they absorbed.
    *
    * Scale shape: the component frame is one row per PAIRED id —
    * orders of magnitude smaller than the corpus — so both joins
    * against the corpus broadcast (or AQE converts them); the corpus
    * itself is touched once and never shuffled.
    */
  def applyDedup(corpus: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comp  = connectedComponents(pairs)
    val sizes = comp.groupBy(col("cluster")).agg(count(lit(1)).as("__csize"))
    corpus
      .join(comp.withColumnRenamed("id", "__cid"), col(idCol) === col("__cid"), "left")
      .filter(col("cluster").isNull || col(idCol) === col("cluster"))
      .join(sizes, Seq("cluster"), "left")
      .withColumn("n_merged", coalesce(col("__csize"), lit(1L)))
      .drop("cluster", "__cid", "__csize")
  }

  /** C4-STYLE SPAN DEDUP (Raffel et al. 2020 §2.2: "we discarded all
    * but one of any three-sentence span occurring more than once in
    * the data set") — the boilerplate-removal pass between document
    * dedup and quality filtering: navigation chrome, cookie banners,
    * and licence blurbs repeat across millions of pages as identical
    * sentence RUNS even when the surrounding documents differ.
    *
    * Semantics, deterministic end-to-end: sentences split with the
    * engine's standard RE2-safe rule (`x_sentences`); every run of
    * `spanLen` (= 3) consecutive sentences forms a span keyed by its
    * md5; the FIRST occurrence corpus-wide wins (total order: least
    * (doc_id, start), encoded as doc_id·2^20 + start — start < 2^20
    * asserted); every other occurrence marks its `spanLen` sentences
    * for removal; each document is reassembled from its surviving
    * sentences in original order. Docs with fewer than `spanLen`
    * sentences form no spans and survive whole.
    *
    * Output per doc: `doc_id`, `n_sents`, `n_kept`, `kept_text`
    * (empty string when everything was boilerplate — the row
    * survives so the caller can count fully-eaten docs).
    *
    * Scale shape: candidate generation is the in-array span fold
    * (rides the scan, no self-join); the winner is a map-side-
    * combinable `min` per span HASH (16-byte key, not the span
    * text) and the only exchanges are span-hash-keyed — the classic
    * blocked-dedup shuffle, skew-safe under AQE. Reassembly
    * aggregates per doc with the total-collect-order device
    * (array_sort on (idx, sent) structs), never a window over the
    * corpus.
    */
  def spanDedup(
      df: DataFrame, idCol: String, textCol: String,
      spanLen: Int = 3): DataFrame = {
    // materialize=true (r19, guide §3.3/§5): the sentence-split base
    // feeds sents, spans, the winner aggregate AND the doc universe —
    // four upstream re-executions per output before this (and the
    // regexp sentence split is the chain's CPU-heavy stage). The doc
    // universe now derives from the same materialized base instead of
    // a fifth reference to `df`.
    val (base, sents, spans) = spanParts(df, idCol, textCol, spanLen, materialize = true)
    spanAssemble(base.select(col("doc_id")),
      sents, spans,
      spans.groupBy(col("h")).agg(min(col("okey")).as("first_key")), spanLen)
  }

  /** The sentence and span explodes of [[spanDedup]]: sents =
    * (doc_id, idx, sent); spans = (doc_id, start, h, okey) with okey
    * the doc_id·2^20+start total order (overflow raised loudly).
    * Span candidates fold in-array — no self-join.
    */
  private def spanParts(
      df: DataFrame, idCol: String, textCol: String,
      spanLen: Int, materialize: Boolean = false): (DataFrame, DataFrame, DataFrame) = {
    val sentArr = expr(
      s"""filter(transform(regexp_extract_all($textCol, '[^.!?]+[.!?]?', 0),
         | s -> trim(s)), s -> s != '')""".stripMargin)
    // materialize=true for multi-consumer callers (spanDedup and the
    // index probe assemble sents+spans+winners+universe from the same
    // base); false for single-pass callers (writeSpanIndex derives
    // only `spans`, where a checkpoint would be a pure write cost
    val base0 = df.select(col(idCol).cast("long").as("doc_id"), sentArr.as("__sents"))
    val base = if (materialize) Scale.shared(base0) else base0
    val sents = base
      .select(col("doc_id"), posexplode(col("__sents")).as(Seq("idx", "sent")))
      .select(col("doc_id"), col("idx").cast("long").as("idx"), col("sent"))
    val spans = base.filter(size(col("__sents")) >= spanLen)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("__sents")) - lit(spanLen)),
        k => struct(k.cast("long").as("start"),
          md5(concat_ws(" ", slice(col("__sents"), k + lit(1), lit(spanLen)))).as("h"))
      )).as("__sp"))
      .select(col("doc_id"), col("__sp.start").as("start"), col("__sp.h").as("h"),
        // BOTH factors of the okey = doc_id·2^20 + start total order
        // raise loudly out of range (r14, ADVICE: the start side was
        // guarded but a doc_id ≥ 2^43 silently overflowed Long and a
        // negative doc_id inverted the first-occurrence order — the
        // oracle shares the encoding, so no cross-engine gate could
        // ever catch either)
        when(col("__sp.start") >= lit(1048576L), raise_error(lit(
            "SPAN_START_OVERFLOW: a document has >= 2^20 sentences; widen the okey encoding")))
          .when(col("doc_id") < lit(0L) || col("doc_id") >= lit(8796093022208L),
            raise_error(lit(
              "SPAN_DOC_ID_RANGE: okey = doc_id*2^20 + start needs 0 <= doc_id < 2^43; remap ids")))
          .otherwise(col("doc_id") * lit(1048576L) + col("__sp.start"))
          .as("okey"))
    (base, sents, spans)
  }

  /** The removal + reassembly tail of [[spanDedup]], shared by the
    * one-shot operator and the persisted-index increment scorers
    * (batch + streaming) — one definition so one oracle gates all
    * three surfaces. `winners` is (h, first_key): a span occurrence
    * survives iff its okey IS the first key.
    */
  private def spanAssemble(
      docs: DataFrame, sents: DataFrame, spans: DataFrame, winners: DataFrame,
      spanLen: Int): DataFrame = {
    val rem = spans.join(winners, Seq("h"))
      .filter(col("okey") =!= col("first_key"))
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + lit(spanLen - 1))).as("idx"))
      .distinct()
    val perDoc = sents
      .join(rem.withColumn("__rm", lit(1)), Seq("doc_id", "idx"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sents"),
        sum(when(col("__rm").isNull, lit(1L)).otherwise(lit(0L))).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("__rm").isNull,
            struct(col("idx"), col("sent"))))),
          x => x.getField("sent")), " ").as("kept_text"))
    // the DOC UNIVERSE left-joins the per-doc aggregate (r14, ADVICE):
    // a doc whose text has zero sentences produces no sents rows, so
    // without this it vanished from the output — contradicting the
    // contract that every row survives (n_sents=0, kept_text='') so
    // the caller can count fully-eaten docs
    docs.distinct()
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_sents"), lit(0L)).as("n_sents"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
      .orderBy(col("doc_id"))
  }

  /** PERSIST the span index of a reference corpus — the count-once
    * seam of [[spanDedup]] for the steady-state ingest loop: (h,
    * first_key) per distinct span, i.e. exactly the winner table the
    * batch rule derives. Layout: `$path/spans`.
    */
  def writeSpanIndex(
      ref: DataFrame, idCol: String, textCol: String, path: String,
      spanLen: Int = 3): Unit = {
    val (_, _, spans) = spanParts(ref, idCol, textCol, spanLen)
    IndexLayout.write(
      spans.groupBy(col("h")).agg(min(col("okey")).as("first_key")),
      s"$path/spans", org.apache.spark.sql.SaveMode.Overwrite, Seq(col("h")))
  }

  /** Span-dedup an increment against a persisted [[writeSpanIndex]]:
    * the winner per span hash is the LEAST okey across the index and
    * the increment (`least` of the two, absences at +∞), which is
    * exactly the batch rule on the union corpus — so the batch oracle
    * on (reference ∪ increment), restricted to increment docs, gates
    * this surface and its streaming twin too. An increment occurrence
    * that precedes the indexed carrier in the total order KEEPS its
    * copy, same as it would have in one batch.
    */
  def spanDedupWithIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      inc: DataFrame, idCol: String, textCol: String,
      spanLen: Int = 3): DataFrame = {
    // NO width guard here (r18, measured): this op runs inside the
    // ingest chain on frames the chain entry already widened, and an
    // inner ensureWidth forces an extra physical planning of the
    // whole upstream subtree per call (+~2 s on the capstone rows at
    // sf1). Standalone callers own their increment's width.
    // materialize=true (r19): same four-consumer shape as spanDedup —
    // sents, spans, the increment-winner aggregate and the doc
    // universe all read the one materialized sentence split
    val (base, sents, spans) = spanParts(inc, idCol, textCol, spanLen, materialize = true)
    val incWin = spans.groupBy(col("h")).agg(min(col("okey")).as("__ik"))
    val winners = incWin
      .join(spark.read.parquet(s"$path/spans"), Seq("h"), "full_outer")
      .select(col("h"),
        least(coalesce(col("__ik"), lit(Long.MaxValue)),
          coalesce(col("first_key"), lit(Long.MaxValue))).as("first_key"))
    spanAssemble(base.select(col("doc_id")),
      sents, spans, winners, spanLen)
  }
}
