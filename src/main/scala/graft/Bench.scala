package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times the headline queries on
  * SPARK_GRAFT_SF_DIR (default sf0.1) and prints one JSON line.
  */
object Bench {

  /** Headline set: the operators that dominate a real pipeline run —
    * scan+agg, dim join, window top-k, the mock inference chain, and
    * the scale-path dedup/similarity extensions.
    */
  val headline: Seq[String] = Seq(
    "q1_agg",
    "j2_broadcast_dim_join",
    "a5_topk_per_group",
    "p2_filter_project",
    "m1_relevance",
    "m2_kpi_pipeline",
    "c2_qa_curation",
    "c3_table_curation",
    "x_dedup_exact",
    "x_dedup_minhash_fast",
    "x_ann_cosine_topk",
    "x_ann_ivf_topk",
    "x_ann_ivf_refined",
    "x_ann_int8_topk",
    "x_quality_filter",
    "x_sessionize",
    "x_profile",
    "x_tfidf_topterms",
    "x_pack_sequences",
    "x_pii_redact",
    "x_asof_join",
    "x_range_join",
    "x_window_moving",
    "x_rollup",
    "x_sketch_distinct",
    "x_gap_fill",
    "x_editdist_join",
    "x_corpus_pipeline",
    "x_bpe_merges",
    "x_overlap_join",
    "x_freq_topk",
    "x_dedup_incremental",
    // round-5 survivors + round-6 additions: tracked from birth
    "x_dedup_semantic",
    "x_dedup_semantic_inc",
    "x_dedup_url",
    "x_dedup_substring",
    "x_dedup_substring_inc",
    "x_grouping_sets",
    "x_table_profile",
    "x_bpe_tokenize",
    "x_ngram_quality",
    "x_sketch_quantiles",
    "x_pagerank_hosts",
    "x_funnel_steps",
    "c5_authority_curation",
    "s9_stream_window",
    "s9_stream_sessions",
    "s9_stream_neardup",
    "s9_stream_semantic",
    "s9_stream_substring",
    "s9_stream_funnel",
    "s9_stream_sketch",
    // round-8 additions: the retrieval family
    "x_bm25_topk",
    "x_bm25_index",
    "x_retrieval_rerank",
    "s9_stream_bm25",
    // round-9 additions: hybrid fusion + incremental cluster fold,
    // index retraction maintenance, graph communities, DSIR-style
    // selection, domain-mixture cut
    "x_retrieval_fusion",
    "x_dedup_resolve_inc",
    "x_bm25_delete",
    "x_bm25_cdc",
    "s9_stream_cdc_index",
    "x_ann_cdc",
    "x_dedup_semantic_del",
    "x_label_prop",
    "x_dsir_select",
    "x_dsir_apply",
    "s9_stream_dsir",
    "x_mix_domains",
    // round-9 late additions: PQ/ADC compression path, Bloom prune
    // synopsis, dense-leg streaming probe
    "x_ann_pq_topk",
    "x_ann_ivfpq",
    "x_sketch_bloom",
    "s9_stream_ann",
    "s9_stream_bloom",
    "x_shard_shuffle",
    "x_shard_append",
    "s9_stream_shard",
    // retrieval/ANN evaluation harness: MRR+recall vs deterministic
    // labels, IVF recall vs the exact ranking
    "x_retrieval_metrics",
    "x_ann_recall",
    "x_ann_recall_curve",
    "x_ann_recall_pq",
    "s9_stream_metrics",
    // round-10: the SCALE-SAFE banded semantic-dedup flavors join the
    // headline (round-9 verdict: the single-bucket flavor's 3.65
    // slope was the round max while the banded answer went untracked),
    // plus the Lloyd-refined PQ codebook (one extra corpus pass)
    "x_neardup_cosine_banded",
    "x_dedup_semantic_inc_banded",
    "x_ann_pq_refined",
    "x_retrieval_prf",
    "x_retrieval_prf_index",
    "x_ann_join",
    // round-19: the persisted-layout flavor of the large-to-large
    // join (assignment pre-paid at build) — the recurring-alignment
    // serving shape, tracked next to its inline twin
    "x_ann_join_index",
    "x_quality_zipf",
    // round-11: the media + contamination families enter the headline
    // (round-10 verdict task 6 — they were oracled but unbenched, so
    // a codec or probe regression was invisible to the slope tracker)
    "x_media_phash",
    "x_media_afp",
    "x_media_vdedup",
    "x_contamination_inc",
    "s9_stream_contamination",
    // round-11: the clustering family (SemDeDup curation path) and
    // its mini-batch maintenance fold
    "x_cluster_kmeans",
    "x_cluster_semdedup",
    "s9_stream_cluster",
    "x_cluster_recenter_inc",
    "x_sample_cluster_balanced",
    // round-13: the bigram-LM quality triple enters the headline the
    // round it lands oracled (the r12 verdict's bench-rows task) —
    // one-shot count+score, persisted-counts increment, stream twin
    "x_quality_bigram",
    "x_quality_bigram_inc",
    "s9_stream_bigram",
    "x_quality_backoff",
    "x_quality_backoff_inc",
    "s9_stream_backoff",
    "x_quality_nb",
    "x_quality_nb_inc",
    "s9_stream_nb",
    "x_quality_kn",
    "x_quality_kn_inc",
    "s9_stream_kn",
    "x_quality_nb_eval",
    "s9_stream_nb_eval",
    "x_quality_curve",
    "x_quality_rule_report",
    "x_emb_pca",
    "x_emb_pca_inc",
    "s9_stream_pca",
    "x_emb_pca_var",
    "x_emb_pca2",
    "x_corpus_drift",
    "x_corpus_drift_inc",
    "s9_stream_drift",
    "x_dedup_histogram",
    "x_dedup_span",
    "x_dedup_span_inc",
    "s9_stream_span",
    "x_fingerprint_winnow",
    "x_fingerprint_overlap",
    "x_fingerprint_winnow_inc",
    "s9_stream_winnow",
    "x_quality_pipeline",
    "x_quality_pipeline_inc",
    "s9_stream_pipeline",
    "x_cluster_retrain",
    "s9_stream_retrain",
    // round-14: the Unicode canonicalization cut (codegen'd custom
    // expression — tracked from birth like every addition) and the
    // canonical-key dedup gate built on it
    "x_text_nfc",
    "x_dedup_canon",
    "x_dedup_canon_inc",
    "s9_stream_canon",
    "x_curriculum_shards",
    "x_curriculum_inc",
    "s9_stream_curriculum",
    "x_drift_ref_fold",
    "s9_stream_drift_fold",
    "x_dedup_canon_cdc",
    // round-15: the INGEST-GATE capstone (whole admission chain:
    // canon dedup -> span cut -> Gopher gate -> decontamination ->
    // curriculum layout) tracked from birth, plus the promoted
    // simhash fast row (its minhash twin was already headline; both
    // now run the fast operator AND the agree-law verdict)
    "x_ingest_capstone",
    "x_ingest_capstone_inc",
    "s9_stream_ingest",
    "x_dedup_simhash_fast",
    // round-16: the broadcast-gate FALLBACK shape of the canon-index
    // probe (cap forced to 0 → AQE's runtime join choice) benched
    // next to the hinted row, so the degraded month-scale-increment
    // plan has a measured shape in every artifact — and the probe
    // over a COMPACTED ledger, tracked from birth like every row
    "x_dedup_canon_inc_nobc",
    "x_dedup_canon_compact",
    // round-16: the SERVING-PATH hybrid fusion — both recall legs
    // answered from persisted indexes (BM25 postings + IVF cells),
    // the deployed shape of x_retrieval_fusion — and its streaming
    // twin (query batches probing both indexes in foreachBatch)
    "x_retrieval_fusion_index",
    "s9_stream_fusion",
    // round-17: the LSH- and sign-plane-index compaction folds
    // (previously doc-only "low-traffic window" procedures) benched
    // from birth — probes over appended-then-compacted layouts
    "x_dedup_inc_compact",
    "x_dedup_semantic_compact",
    "x_dedup_substring_compact"
  )

  /** Session hygiene between measured queries, OUTSIDE the timed
    * window — the round-4 finding: across 62 query executions the
    * session accumulates localCheckpoint/cache blocks (only released
    * when a GC lets the ContextCleaner see the dead references) and
    * shuffle files, inflating late-order queries 2-3× over their
    * isolated cost. Dropping cached plans, unpersisting every
    * lingering RDD (localCheckpoint blocks included) and forcing a GC
    * returns the JVM to isolated-run conditions before each
    * measurement.
    */
  private def sessionHygiene(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
  }

  /** Best-of-2 per query: first run pays JIT/codegen for operators the
    * warm-up didn't touch; steady-state is what a long-running cluster
    * sees. A run that throws is excluded; the query reports the min
    * over its SUCCEEDED runs and -1 only when both runs fail — a
    * transient hiccup on run 1 must not discard run 2's valid
    * measurement, and a crashed query must NEVER report its
    * time-to-throw (the round-7 bench recorded a crashed stream's
    * 0.489 s as the round's best streaming "improvement").
    *
    * Mid-run CANARY PROBES (r15 verdict task 3): the start-of-run
    * canary brackets only the run's first minutes; three rounds of
    * sf1 artifacts carried in-run JVM-state victims (r15:
    * `x_bm25_topk` 7.3×, `s9_stream_sketch` 6.3×) that needed manual
    * fresh-JVM probes to attribute. One-shot canaries on a
    * FRACTION-OF-ROWS cadence (~5 mid-run probes per pass, r17
    * verdict task 6: the old fixed every-25 gave short probe runs —
    * the 11-row sf10 set — ZERO mid-run probes, so their
    * normalization divisor was a single point sample) record the
    * host/JVM state ALONGSIDE the measurements (`canary_probes` in
    * the detail artifact), so a cross-round reader can see whether a
    * slow stretch coincided with a loaded host without hand-probing.
    */
  private def probeEvery(n: Int): Int = math.max(2, n / 6)

  private def timeAll(
      spark: SparkSession, names: Seq[String],
      sfDir: String): (Seq[(String, Double)], Seq[(Int, Double)]) = {
    val probes = Seq.newBuilder[(Int, Double)]
    val every  = probeEvery(names.size)
    val results = names.zipWithIndex.map { case (name, i) =>
      if (i > 0 && i % every == 0) probes += ((i, canary(spark, iters = 1)))
      val fn = SparkEntry.queries(name)
      sessionHygiene(spark)
      val succeeded = (1 to 2).flatMap { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: $e"); None }
      }
      name -> (if (succeeded.isEmpty) -1.0 else succeeded.min)
    }
    (results, probes.result())
  }

  /** One prior row: the latest-round seconds plus the [lo, hi] spread
    * over the last two committed sf1 artifacts (r16 verdict task 6 —
    * `x_dedup_minhash_fast` oscillated 5.50→2.48→5.57 s across three
    * rounds of untouched code, always under the one-sided 3× band, so
    * the defense never produced fresh-rerun evidence for it). A row
    * whose historical spread marks it VOLATILE (hi ≥ 2×lo) is
    * re-measured whenever it lands above its historical ceiling —
    * cheap (best-of-2 on one query) and exactly the evidence a
    * cross-round reader needs to separate JVM-state victims from real
    * regressions. Legacy 3-column rows parse as lo = hi = latest
    * (never volatile), so a stale prior file degrades to the old
    * behavior, not a crash.
    */
  private final case class Prior(latest: Double, lo: Double, hi: Double) {
    def isVolatile: Boolean = lo > 0 && hi >= 2 * lo
  }

  /** Prior-round per-query timings (sf-name → query → [[Prior]]), from
    * BENCH_PRIOR.tsv (regenerated each round by
    * `scripts/refresh_bench_prior.py` from the committed sf1
    * artifacts — the one place the full per-query map survives the
    * driver's stdout truncation). Missing file → empty map → the
    * defense disarms, and since r17 it says so on stderr AND in the
    * artifact (`prior_coverage`) instead of printing the same
    * `flagged_outliers: []` as a clean run (r16 verdict task 3).
    */
  private def readPrior(path: String): Map[String, Map[String, Prior]] = {
    val f = new java.io.File(path)
    if (!f.exists()) {
      // loud, not silent: a missing prior file disarms the outlier
      // defense entirely (r16: indistinguishable from a clean run)
      System.err.println(s"[bench] WARNING: prior file $path missing — outlier defense DISARMED")
      Map.empty
    } else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filterNot(l => l.startsWith("#") || l.isEmpty).flatMap { line =>
        def num(s: String): Option[Double] =
          try Some(s.toDouble) catch { case _: NumberFormatException => None }
        line.split("\t") match {
          case Array(sfName, q, s) =>
            num(s).map(v => (sfName, q, Prior(v, v, v)))
          case Array(sfName, q, s, lo, hi) =>
            for (v <- num(s); l <- num(lo); h <- num(hi))
              yield (sfName, q, Prior(v, l, h))
          case _ => None
        }
      }.toSeq.groupBy(_._1)
        .map { case (sfName, rows) => sfName -> rows.map(r => r._2 -> r._3).toMap }
      finally src.close()
    }
  }

  /** One flagged-outlier record: (name, first measurement, fresh
    * best-of-2 re-measurement, prior-round seconds). The reported
    * per-query value is min(first, rerun) — the r13-r15 victims'
    * mechanism (accumulated JVM state inflating one row mid-run) is
    * thereby detected AND repaired in-artifact instead of needing a
    * hand-probe addendum in SCALING.md.
    */
  private def defend(
      spark: SparkSession, sfDir: String,
      first: Seq[(String, Double)], prior: Map[String, Prior]):
      (Seq[(String, Double)], Seq[(String, Double, Double, Double)]) = {
    // >3× prior AND >1 s absolute: sub-second rows live inside the
    // measured ±40% noise band and 3× there is jitter, not JVM decay.
    // VOLATILE rows (historical hi ≥ 2×lo) additionally re-measure
    // whenever they exceed their historical ceiling — the 3× band
    // structurally misses a ±2.2× oscillator (r16 verdict task 6),
    // and for those rows a fresh best-of-2 is the only way the
    // artifact carries attribution evidence instead of a bare number.
    val suspects = first.filter { case (k, v) =>
      v > 1.0 && prior.get(k).exists(p =>
        (p.latest > 0 && v > 3 * p.latest) || (p.isVolatile && v > p.hi)) }
    if (suspects.isEmpty) (first, Nil)
    else {
      System.err.println(s"[bench] ${suspects.size} row(s) over band (3x prior, or volatile over ceiling) — re-measuring fresh: " +
        suspects.map(_._1).mkString(","))
      val rerun = timeAll(spark, suspects.map(_._1), sfDir)._1.toMap
      val flagged = suspects.map { case (k, v) =>
        (k, v, rerun.getOrElse(k, -1.0), prior(k).latest) }
      val repaired = first.map { case (k, v) =>
        k -> (rerun.get(k) match {
          case Some(r) if r >= 0 => math.min(v, r)
          case _ => v
        })
      }
      (repaired, flagged)
    }
  }

  private def sfName(sfDir: String): String =
    sfDir.stripSuffix("/").reverse.takeWhile(_ != '/').reverse

  private def probesJson(probes: Seq[(Int, Double)]): String =
    probes.map { case (i, s) => f"""{"after":$i,"sec":$s%.3f}""" }
      .mkString("[", ",", "]")

  private def flaggedJson(flagged: Seq[(String, Double, Double, Double)]): String =
    flagged.map { case (k, v, r, p) =>
      f"""{"name":"$k","first":$v%.3f,"rerun":$r%.3f,"prior":$p%.3f}""" }
      .mkString("[", ",", "]")

  /** One scale factor down from the primary dir (sf0.1 → sf0.01 →
    * sf0.001), for the scaling-slope pass.
    */
  private def smallerSf(sfDir: String): Option[String] = {
    val down = Map("sf0.1" -> "sf0.01", "sf0.01" -> "sf0.001", "sf1" -> "sf0.1")
    val name = sfDir.reverse.takeWhile(_ != '/').reverse
    down.get(name).map(n => sfDir.stripSuffix(name) + n)
      .filter(p => new java.io.File(p).isDirectory)
  }

  /** Host-load canary — the round-9 lesson: twice (r7: 176 s, r9:
    * +18% on overlapping queries, both contradicted by same-HEAD
    * reruns) an official artifact was contaminated by concurrent
    * host load and the harness could not tell. The canary is a
    * fixed, data-independent CPU kernel (integer hash fold over
    * `spark.range`, all 32 threads busy, no IO, no shuffle) timed
    * best-of-3 BEFORE the measured queries; on a quiet host it runs
    * in a stable band (measured ≈0.15-0.35 s across this container's
    * quiet passes — [[CanaryBandSec]] is 3× the quiet ceiling). A
    * reading above band does not abort — the artifact is still
    * useful — but it self-labels with `"load_contaminated":true`, so
    * a cross-round reader never mistakes host noise for a
    * regression.
    */
  /** Band is env-tunable (round-10 advice): 1.0 s is 3× THIS
    * container's quiet ceiling; a slower host recalibrates via
    * `SPARK_GRAFT_CANARY_BAND=<sec>` instead of permanently
    * self-labeling every artifact contaminated.
    */
  private val CanaryBandSec =
    sys.env.get("SPARK_GRAFT_CANARY_BAND").map { s =>
      // validated parse (round-11 advice): a malformed value must fail
      // NAMING the variable, not as a bare NumberFormatException; a
      // zero/negative/NaN band would silently label every artifact
      // host-contaminated.
      val v =
        try s.toDouble
        catch { case _: NumberFormatException => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CANARY_BAND must be a positive number of seconds, got '$s'") }
      require(java.lang.Double.isFinite(v) && v > 0,
        s"SPARK_GRAFT_CANARY_BAND must be a finite positive number of seconds, got '$s'")
      v
    }.getOrElse(1.0)
  /** Reference quiet-canary seconds for cross-round normalization
    * (r14 verdict task 6): round-over-round comparisons kept needing
    * hand math because totals track host throughput (the canary
    * moved 0.19→0.41 s across rounds with zero code change).
    * `canary_normalized_total` and `queries_normalized` rescale every
    * timing by (ref / measured canary), so two artifacts from
    * differently-loaded hosts compare directly. The ref is this
    * container's quiet midpoint; a different fleet recalibrates via
    * `SPARK_GRAFT_CANARY_REF=<sec>` — the normalization is a linear
    * rescale, so any fixed ref gives consistent cross-round ratios.
    */
  private val CanaryRefSec: Double =
    sys.env.get("SPARK_GRAFT_CANARY_REF").map { s =>
      val v =
        try s.toDouble
        catch { case _: NumberFormatException => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CANARY_REF must be a positive number of seconds, got '$s'") }
      require(java.lang.Double.isFinite(v) && v > 0,
        s"SPARK_GRAFT_CANARY_REF must be a finite positive number of seconds, got '$s'")
      v
    }.getOrElse(0.25)

  /** The measured code's identity, stamped into every artifact (r17
    * verdict task 1: three rounds running, the sf1 artifact was
    * re-measured at a SHA that later commits outran, and nothing in
    * the artifact recorded which code it measured — "at HEAD" needed
    * forensics). `head_sha` + a dirty flag (tracked files modified
    * vs HEAD; untracked artifacts don't count) make it one grep.
    * Resolution failures stamp "unknown" rather than abort the bench.
    */
  // The git calls are ANCHORED to the repo that owns the measured
  // classes (r18 advice): a bench launched from outside the repo
  // root would otherwise stamp the launch cwd's repo — or "unknown"
  // — into the artifact whose whole purpose is answering "which
  // code was measured". Anchor resolution: `-Dgraft.repo.root` if
  // set, else walk up from this class's code source (the compiled
  // classes/jar live under the repo) to the nearest `.git`. No
  // anchor → "unknown", never a silent wrong-repo stamp.
  private[graft] def repoRoot(): Option[java.io.File] = {
    val prop = sys.props.get("graft.repo.root")
      .map(new java.io.File(_)).filter(_.isDirectory)
    if (prop.isDefined) prop
    else {
      var d: java.io.File =
        try Option(getClass.getProtectionDomain.getCodeSource)
          .map(cs => new java.io.File(cs.getLocation.toURI)).orNull
        catch { case _: Throwable => null }
      while (d != null && !new java.io.File(d, ".git").exists()) d = d.getParentFile
      Option(d)
    }
  }

  private def gitState(): (String, Boolean) = {
    val root = repoRoot()
    def run(cmd: String*): Option[String] =
      try {
        val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
        root.foreach(pb.directory)
        val p = pb.start()
        val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
        if (p.waitFor() == 0) Some(out) else None
      } catch { case _: Throwable => None }
    if (root.isEmpty) ("unknown", false)
    else (run("git", "rev-parse", "HEAD").getOrElse("unknown"),
      run("git", "status", "--porcelain", "--untracked-files=no")
        .map(_.nonEmpty).getOrElse(false))
  }

  private def canary(spark: SparkSession, iters: Int = 3): Double =
    (1 to iters).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0, 64000000L, 1, 32)
        .selectExpr("sum(id * 2654435761 % 1000003) AS s").collect()
      (System.nanoTime() - t0) / 1e9
    }.min

  def main(args: Array[String]): Unit = {
    // gate artifacts memoize per-JVM here (round-12: fresh-build
    // became the queries-map DEFAULT; the bench opts back into the
    // memo because its best-of-2 needs the second run to time the
    // probe alone, not the index write — the round-7 lesson).
    System.setProperty("graft.gate.memo", "1")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, "graft-bench")

    // layout-contract report (non-fatal here: a drifted table shows up
    // as per-query errors in the JSON, which the bench now surfaces)
    try GraftSession.layoutReport(spark, sfDir).foreach(System.err.println)
    catch { case e: Throwable => System.err.println(s"[bench] ${e.getMessage}") }

    // SPARK_GRAFT_BENCH_ONLY=a,b,c — bisect subsets with the SAME
    // harness (session config, warm-up, best-of-2) as the full run,
    // so subset timings are comparable to official bench numbers
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = headline.filter(SparkEntry.queries.contains)
      .filter(n => only.forall(_.contains(n)))
    // warm the JVM + parquet footers once with the cheapest query —
    // guarded: an uncaught warm-up failure would kill the whole bench
    // with no JSON at all (timeAll re-reports the failure per-query)
    try SparkEntry.queries(names.head)(spark, sfDir).count()
    catch { case e: Throwable => System.err.println(s"[bench] warm-up failed: $e") }

    // canary AFTER warm-up (codegen/JIT paid) so it measures host
    // load, not first-use compilation
    val canarySec = canary(spark)
    val contaminated = canarySec > CanaryBandSec
    if (contaminated) System.err.println(
      f"[bench] CANARY OVER BAND: $canarySec%.3f s > $CanaryBandSec%.1f s — host is loaded, artifact self-labeled load_contaminated")
    val (headSha, gitDirty) = gitState()
    val canaryJson =
      f""","canary_sec":$canarySec%.3f,"canary_band_sec":$CanaryBandSec%.1f,"canary_ref_sec":$CanaryRefSec%.3f,"load_contaminated":$contaminated,"head_sha":"$headSha","git_dirty":$gitDirty"""

    // prior-round per-query map, keyed by the sf-dir leaf name (sf1
    // and sf0.1 have separate priors in the same file); missing file
    // or unknown sf disarms the outlier defense for that pass — and
    // says so (stderr + prior_coverage in the artifact). Path resolves
    // via env then the working directory ONLY: the old absolute
    // /root/repo fallback silently re-armed or disarmed the defense
    // depending on where the checkout lived (r16 advice).
    val priorAll = readPrior(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PRIOR", "BENCH_PRIOR.tsv"))
    def priorFor(dir: String): Map[String, Prior] = {
      val m = priorAll.getOrElse(sfName(dir), Map.empty[String, Prior])
      if (priorAll.nonEmpty && m.isEmpty) System.err.println(
        s"[bench] WARNING: prior file has no rows for sf leaf '${sfName(dir)}' — outlier defense DISARMED for this pass")
      m
    }
    // defense-coverage fields (r16 verdict task 3): a disarmed or
    // partially-armed defense must be visible in the artifact — a new
    // query has no prior and is NEVER flagged, which otherwise reads
    // exactly like a clean run
    def coverageJson(prior: Map[String, Prior]): String = {
      val noPrior = names.filterNot(prior.contains)
      val inline = noPrior.take(20).map("\"" + _ + "\"").mkString("[", ",", "]")
      s"""{"n_with_prior":${names.size - noPrior.size},"n_no_prior":${noPrior.size},"no_prior":$inline}"""
    }

    val priorPrimary = priorFor(sfDir)
    val (firstPass, probes) = timeAll(spark, names, sfDir)
    val (results, flagged) = defend(spark, sfDir, firstPass, priorPrimary)
    // cross-round normalization divisor = MEDIAN over ALL canary
    // probes of the primary pass (start best-of-3 + every-25 one-shot
    // mid-run probes). r16's start-only divisor read 0.155 s against
    // mid-run probes of 0.27-0.40 s, printing a phantom 44% normalized
    // regression in a round whose wall clock IMPROVED (r16 verdict
    // task 2) — one probe is a point sample of host state, the median
    // brackets the whole run. Raw fields all stay in the artifact.
    val canaryAll = (canarySec +: probes.map(_._2)).sorted
    val canaryMedian = {
      val n = canaryAll.size
      if (n % 2 == 1) canaryAll(n / 2) else (canaryAll(n / 2 - 1) + canaryAll(n / 2)) / 2.0
    }
    val normFactor = if (canaryMedian > 0) CanaryRefSec / canaryMedian else 1.0
    val errors  = results.collect { case (k, v) if v < 0 => k }
    // n_failed rides NEXT TO the totals so a cross-round reader
    // comparing `value` can't mistake a crashed query's missing time
    // for a speedup without the discrepancy being in their face
    // bounded: exact count always, but at most 3 names inline — a
    // mass failure must not blow the stdout capture window (below)
    val errJson =
      if (errors.isEmpty) ""
      else errors.take(3).map("\"" + _ + "\"")
        .mkString(s""","n_failed":${errors.size},"errors":[""", ",", "]")
    val qs = results
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    // totals span SUCCEEDED queries only (failures are already loud in
    // "errors"; folding a -1 in would mask real time)
    val total = results.map(_._2).filter(_ >= 0).sum
    // streaming entries pay a fixed micro-batch trigger-startup cost
    // that is harness-shaped, not engine throughput — report the two
    // families apart so relational regressions aren't masked by it
    val (streaming, relational) = results.partition(_._1.startsWith("s9_stream"))
    val relTotal    = relational.map(_._2).filter(_ >= 0).sum
    val streamTotal = streaming.map(_._2).filter(_ >= 0).sum
    // scaling-slope pass: the same headline set one scale factor down
    // (10× less data). ratio ≈ time_primary / time_small per query —
    // ≲ 10 is at-worst-linear, ≫ 10 flags a super-linear operator
    // before a real scale-up does; ≈ 1 means fixed cost dominates.
    // SPARK_GRAFT_SF2_DIR=none skips the slope pass (bisect runs)
    val sf2Resolved = if (sys.env.get("SPARK_GRAFT_SF2_DIR").contains("none")) None
      else sys.env.get("SPARK_GRAFT_SF2_DIR").filter(p => new java.io.File(p).isDirectory)
        .orElse(smallerSf(sfDir))
    // loud either way: a silently-skipped slope pass cost round 13 a
    // full 15-minute sf1 rerun before anyone knew it hadn't run
    System.err.println(s"[bench] slope pass sf2 = ${sf2Resolved.getOrElse("SKIPPED")} " +
      s"(env=${sys.env.getOrElse("SPARK_GRAFT_SF2_DIR", "<unset>")})")
    val slopeJson = sf2Resolved match {
      case Some(sf2) =>
        val prior2 = priorFor(sf2)
        val (small0, probes2) = timeAll(spark, names, sf2)
        val (small, flagged2) = defend(spark, sf2, small0, prior2)
        val qs2 = small.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
        val byName = small.toMap
        val ratios = results.map { case (k, v) =>
          val r = if (v >= 0 && byName.getOrElse(k, 0.0) > 0) v / byName(k) else -1.0
          "\"" + k + "\":" + f"$r%.2f"
        }.mkString("{", ",", "}")
        s""","sf2":"$sf2","queries_sf2":$qs2,"scale_ratio":$ratios""" +
          s""","canary_probes_sf2":${probesJson(probes2)}""" +
          s""","flagged_outliers_sf2":${flaggedJson(flagged2)}""" +
          s""","prior_coverage_sf2":${coverageJson(prior2)}"""
      case None => ""
    }
    // the scaling-slope detail goes to a SIDECAR file, never stdout:
    // six rounds of the driver's tail capture truncating mid-object
    // taught that the LAST stdout line must be the compact contract
    // JSON and nothing may print after it (spark.stop() runs first for
    // the same reason)
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json")
    // canary-normalized twins of the totals and the full per-row map
    // (r14 verdict task 6): value × (canary_ref / MEDIAN canary) —
    // what the run WOULD have cost on the reference-quiet host
    val qsNorm = results
      .map { case (k, v) => "\"" + k + "\":" + f"${if (v >= 0) v * normFactor else -1.0}%.3f" }
      .mkString("{", ",", "}")
    // the normalized block is only meaningful when the divisor is a
    // real median (start probe + mid-run probes); with no mid-run
    // probe it is SUPPRESSED rather than emitted from a single point
    // sample of host state (r17 verdict task 6: the 11-row sf10
    // artifact's normalized fields were inflated ~2.8× by exactly
    // that). The fraction-of-rows cadence makes this a ≤2-row edge.
    val normJson =
      if (probes.isEmpty)
        s""","normalized_suppressed":"no mid-run canary probes (run too short) — raw fields are the evidence""""
      else
        f""","canary_median_sec":$canaryMedian%.3f,"canary_normalized_total":${total * normFactor}%.3f,"relational_normalized_total":${relTotal * normFactor}%.3f,"streaming_normalized_total":${streamTotal * normFactor}%.3f,"queries_normalized":$qsNorm"""
    // self-defense fields (r15 verdict task 3): mid-run canary probes
    // + the rows re-measured for being >3× their prior-round figure
    // (or, volatile rows, over their historical ceiling) + the
    // defense's own coverage (r16 task 3)
    val defenseJson =
      s""","canary_probes":${probesJson(probes)},"flagged_outliers":${flaggedJson(flagged)},"prior_coverage":${coverageJson(priorPrimary)}"""
    val detail =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","relational_total":$relTotal%.3f,"streaming_total":$streamTotal%.3f,"queries":$qs,"sf":"$sfDir"$canaryJson$normJson$errJson$defenseJson$slopeJson}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      (detail + "\n").getBytes("UTF-8"))
    System.err.println(s"[bench] scale-slope detail written to $detailPath")
    spark.stop()
    // r13 lesson: the driver keeps only ~2 KB of stdout TAIL, and 135
    // inline per-query timings pushed the JSON object's head out of
    // the capture window — the official artifact recorded a truncated
    // fragment and "parsed": null. The stdout contract line therefore
    // carries totals + canary + a FIXED compact core of flagship
    // timings (~700 B) and points at the sidecar for the full map.
    val stdoutCore = Seq(
      "q1_agg", "m1_relevance", "m2_kpi_pipeline", "x_dedup_exact",
      "x_dedup_minhash_fast", "x_ann_ivf_topk", "x_quality_filter",
      "x_bm25_topk", "x_corpus_pipeline", "x_quality_pipeline",
      "x_shard_append", "s9_stream_window")
    val coreQs = results.filter(r => stdoutCore.contains(r._1))
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val stdoutNorm =
      if (probes.isEmpty) ""
      else f""","canary_normalized_total":${total * normFactor}%.3f"""
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","relational_total":$relTotal%.3f,"streaming_total":$streamTotal%.3f$stdoutNorm,"n_queries":${results.size},"n_flagged":${flagged.size},"queries":$coreQs,"detail":"$detailPath","sf":"$sfDir"$canaryJson$errJson}"""
    )
  }
}
