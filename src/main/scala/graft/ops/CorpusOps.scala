package graft.ops

import graft.functions.DetHash

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline
  * needs beyond dedup/similarity: rule-based quality filtering with
  * drop accounting, deterministic stratified sampling for mixture
  * control, and gap sessionization over event streams.
  *
  * All three are pure column algebra (codegen'd, no UDFs) and
  * deterministic under repartitioning, so each is oracle-checkable in
  * ANSI SQL — the same guarantee every other graft operator carries.
  */
object CorpusOps {

  /** Gopher-style rule filter (Rae et al. 2021, §A1.1: word-count
    * bounds, mean-word-length band, symbol ratio, stopword floor) with
    * first-failing-rule accounting. Emits every row with `keep` and
    * `drop_reason` ('' when kept) so the pipeline can audit drop
    * distribution by reason — at 100 TB the audit aggregate is how you
    * notice a rule eating a language or a domain.
    */
  def gopherFilter(
      df: DataFrame,
      textCol: String,
      minTokens: Int = 50,
      maxTokens: Int = 100000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      minStopwordHits: Int = 2
  ): DataFrame = {
    val t     = col(textCol)
    val ts    = filter(split(lower(t), " "), x => x =!= "")
    val withT = df.withColumn("__toks", ts)
    val nToks  = size(col("__toks")).cast("double")
    val nChars = length(t).cast("double")
    val mwl    = when(nToks > 0, (nChars - (nToks - 1)) / nToks).otherwise(lit(0.0))
    val symbol = length(regexp_replace(t, "[A-Za-z0-9 ]", "")).cast("double")
    val symbolRatio = when(nChars > 0, symbol / nChars).otherwise(lit(0.0))
    val stopHits = TextAnalysis.stopwordHitsOf(col("__toks"), TextAnalysis.LangStopwords.head._2)
    val reason = when(nToks < minTokens, "too_few_tokens")
      .when(nToks > maxTokens, "too_many_tokens")
      .when(mwl < minMeanWordLen, "mean_word_len_low")
      .when(mwl > maxMeanWordLen, "mean_word_len_high")
      .when(symbolRatio > maxSymbolRatio, "symbol_ratio")
      .when(stopHits < minStopwordHits, "no_stopwords")
      .otherwise("")
    withT
      .withColumn("drop_reason", reason)
      .withColumn("keep", col("drop_reason") === "")
      .drop("__toks")
  }

  /** The PER-RULE REPORT of [[gopherFilter]] — the tuning diagnostic
    * a curation run reads before moving any threshold: for each rule,
    * how many docs fail it INDEPENDENTLY (`n_fail`), how many fail
    * ONLY it (`n_unique` — the docs that rule alone is responsible
    * for), and how many carry it as their `drop_reason` under the
    * filter's first-match cascade (`n_first` — so
    * Σ n_first = total dropped, tying the report to the filter
    * exactly). Same metric expressions as the filter, one aggregation
    * pass, six-row output via a literal stack — nothing corpus-sized
    * moves.
    */
  def gopherRuleReport(
      df: DataFrame,
      textCol: String,
      minTokens: Int = 50,
      maxTokens: Int = 100000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      minStopwordHits: Int = 2
  ): DataFrame = {
    val t     = col(textCol)
    val ts    = filter(split(lower(t), " "), x => x =!= "")
    val withT = df.withColumn("__toks", ts)
    val nToks  = size(col("__toks")).cast("double")
    val nChars = length(t).cast("double")
    val mwl    = when(nToks > 0, (nChars - (nToks - 1)) / nToks).otherwise(lit(0.0))
    val symbol = length(regexp_replace(t, "[A-Za-z0-9 ]", "")).cast("double")
    val symbolRatio = when(nChars > 0, symbol / nChars).otherwise(lit(0.0))
    val stopHits = TextAnalysis.stopwordHitsOf(col("__toks"), TextAnalysis.LangStopwords.head._2)
    val flags = Seq(
      "too_few_tokens"     -> (nToks < minTokens),
      "too_many_tokens"    -> (nToks > maxTokens),
      "mean_word_len_low"  -> (mwl < minMeanWordLen),
      "mean_word_len_high" -> (mwl > maxMeanWordLen),
      "symbol_ratio"       -> (symbolRatio > maxSymbolRatio),
      "no_stopwords"       -> (stopHits < minStopwordHits))
    val flagged = withT.select(
      flags.map { case (n, c) => c.as(s"__f_$n") } :+
        flags.foldRight(lit(""): Column) { case ((n, c), acc) =>
          when(c, n).otherwise(acc) }.as("__first"): _*)
    val aggs = flags.flatMap { case (n, _) =>
      val others = flags.collect { case (o, _) if o != n => col(s"__f_$o") }
      Seq(
        sum(when(col(s"__f_$n"), lit(1L)).otherwise(lit(0L))).as(s"fail_$n"),
        sum(when(col(s"__f_$n") && others.reduce(_ || _) === false, lit(1L))
          .otherwise(lit(0L))).as(s"uniq_$n"),
        sum(when(col("__first") === n, lit(1L)).otherwise(lit(0L))).as(s"first_$n"))
    }
    val one = flagged.agg(aggs.head, aggs.tail: _*)
    val stackArgs = flags.map { case (n, _) =>
      s"'$n', fail_$n, uniq_$n, first_$n" }.mkString(", ")
    one.select(expr(
        s"stack(${flags.size}, $stackArgs) AS (rule, n_fail, n_unique, n_first)"))
      .orderBy(col("rule"))
  }

  /** Repetition signals (the other half of the Gopher quality rules:
    * duplicate-content fractions). `dup_token_ratio` = 1 − distinct/
    * total tokens; `top_bigram_frac` = share of the most frequent
    * bigram. The bigram mode is computed by explode + count + max —
    * a map-side-combinable aggregation shuffling one row per distinct
    * (doc, bigram) — NOT the per-row array-mode formulation, whose
    * size(filter(...))-per-element inner loop is O(tokens²) per row
    * and dies on long documents.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ts    = filter(split(lower(col(textCol)), " "), x => x =!= "")
    val withT = df.select(col(idCol), ts.as("__toks"))
    val nTok  = size(col("__toks"))
    val base = withT.select(
      col(idCol),
      col("__toks"),
      when(nTok > 0,
        round(lit(1.0) - size(array_distinct(col("__toks"))).cast("double") / nTok, 4))
        .otherwise(lit(0.0)).as("dup_token_ratio"),
      (nTok - 1).as("n_bigrams"))
    val bigrams = base
      .filter(col("n_bigrams") > 0)
      .select(col(idCol), col("n_bigrams"),
        explode(transform(sequence(lit(1), col("n_bigrams")),
          i => concat_ws(" ", element_at(col("__toks"), i), element_at(col("__toks"), i + 1))))
          .as("bigram"))
    val top = bigrams
      .groupBy(col(idCol), col("n_bigrams"), col("bigram")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol), col("n_bigrams")).agg(max(col("c")).as("top_c"))
      .select(col(idCol).as("__id"),
        round(col("top_c").cast("double") / col("n_bigrams"), 4).as("top_bigram_frac"))
    base
      .join(top, base(idCol) === col("__id"), "left")
      .select(col(idCol), col("dup_token_ratio"),
        coalesce(col("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"))
  }

  /** Deterministic stratified sampling: keep a row iff the key's unit
    * hash falls under its stratum's rate — the mixture-control step of
    * a training-data pipeline (e.g. downsample a dominant source).
    * Pure per-row math: no shuffle, no sampling state, stable under
    * repartitioning and re-runs, and the rate map broadcasts as a
    * literal CASE.
    */
  def stratifiedSample(
      df: DataFrame,
      keyCol: String,
      strataCol: String,
      rates: Map[String, Double],
      defaultRate: Double
  ): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (stratum, r)) =>
      when(col(strataCol) === stratum, lit(r)).otherwise(acc)
    }
    df.filter(DetHash.detUnit(col(keyCol)) < rate)
  }

  /** Deterministic DOMAIN-MIXTURE construction: cut each domain's
    * corpus to a per-domain TOKEN budget (the Pile/Dolma mixing step
    * — "this training run takes 200 B wiki tokens, 50 B forum
    * tokens") with a reproducible, order-free document choice. Docs
    * are ranked inside their domain by [[DetHash.detUnit]] of the key
    * (a seeded shuffle that is a pure row function — stable under
    * repartitioning, replayable in SQL, unlike `rand(seed)`), token
    * counts accumulate in that order, and a doc survives iff its
    * cumulative total stays within the domain's budget. Greedy
    * prefix-cut semantics: the first doc to cross the budget line is
    * dropped along with everything after it (budgets are hard caps,
    * the usual mixing contract — a 1.01× overshoot at 100 TB is 1 TB
    * of unbudgeted data).
    *
    * `budgets` is a (domain, budget) dim — broadcast. Domains absent
    * from it are dropped entirely (explicit mixture lists are the
    * contract; silently passing an unlisted domain through would un-
    * budget the run).
    *
    * Scale shape: one corpus scan, one window sum partitioned by
    * domain ordered by the hash. The per-domain sort is the exact-cut
    * cost; when a single domain is shuffle-partition-sized-breaking
    * huge, the standard two-pass refinement applies (pass 1 aggregates
    * per-domain token totals, rate = budget/total bounds the detUnit
    * threshold, pass 2 windows only the ~budget-sized prefix below
    * threshold·(1+ε)) — same result, sort bounded by the budget not
    * the domain. The gate runs the direct form; the refinement drops
    * in above it without changing semantics.
    *
    * Returns surviving docs: key, domain, `n_tokens`, `cum_tokens`.
    */
  def mixDomains(
      df: DataFrame,
      keyCol: String,
      textCol: String,
      domainCol: String,
      budgets: DataFrame // (domain, budget) — budget in tokens
  ): DataFrame = {
    val nTok = size(filter(split(lower(col(textCol)), " "), t => t =!= ""))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(domainCol))
      .orderBy(DetHash.detUnit(col(keyCol)), col(keyCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    df.select(col(keyCol), col(domainCol), nTok.as("n_tokens"))
      .join(broadcast(budgets.select(col("domain").as(domainCol), col("budget"))),
        Seq(domainCol))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= col("budget"))
      .select(col(keyCol), col(domainCol), col("n_tokens"), col("cum_tokens"))
  }

  /** PII redaction: emails, then IPv4 addresses, then phone numbers
    * are replaced by placeholder tokens, with per-kind match counts
    * for the redaction audit (the aggregate a pipeline monitors — a
    * sudden count spike means a source started leaking PII). Ordering
    * matters: emails are counted/redacted first so the IP pattern can
    * never fire inside a host part, and each later count runs on the
    * already-redacted text. Pure per-row regexp column algebra (one
    * codegen'd pass, no shuffle, no UDF); patterns are
    * lookaround-free so the DuckDB (RE2) oracle runs them verbatim.
    */
  /** PII patterns, shared verbatim with the DuckDB oracle (both Java
    * regex and RE2 read them identically: no lookarounds).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val IpRe    = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  def redactPii(df: DataFrame, textCol: String): DataFrame = {
    val email = EmailRe
    val ip    = IpRe
    val phone = PhoneRe
    val t0 = col(textCol)
    val t1 = regexp_replace(t0, email, "<EMAIL>")
    val t2 = regexp_replace(t1, ip, "<IP>")
    val t3 = regexp_replace(t2, phone, "<PHONE>")
    df
      .withColumn("n_emails", size(regexp_extract_all(t0, lit(email), lit(0))))
      .withColumn("n_ips", size(regexp_extract_all(t1, lit(ip), lit(0))))
      .withColumn("n_phones", size(regexp_extract_all(t2, lit(phone), lit(0))))
      .withColumn("redacted", t3)
  }

  /** Benchmark-contamination check: which corpus documents share at
    * least `minShared` distinct w-shingles with a benchmark/eval item
    * (the n-gram-overlap decontamination step every training-data
    * pipeline runs before an eval is trustworthy). The benchmark set
    * is a dim — its shingle explode broadcasts, so the corpus is
    * touched once with no corpus-side shuffle before the final
    * (doc, bench) count, which partial-aggregates map-side. Both
    * shingle sets are per-document distinct, so the join count IS the
    * distinct shared-shingle count. Returns
    * (id, bench_id, n_shared) for flagged pairs.
    */
  def contaminationCheck(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      bench: DataFrame,
      benchIdCol: String,
      benchTextCol: String,
      w: Int = 3,
      minShared: Int = 8
  ): DataFrame = {
    def shingles(df: DataFrame, id: String, text: String, outId: String) = df
      .select(col(id).as(outId), Dedup.tokens(col(text)).as("__ts"))
      .select(col(outId), explode(Dedup.shinglesOf(col("__ts"), w)).as("sh"))
    val corpusSh = shingles(corpus, idCol, textCol, "id")
    val benchSh  = broadcast(shingles(bench, benchIdCol, benchTextCol, "bench_id"))
    corpusSh.join(benchSh, Seq("sh"))
      .groupBy(col("id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** PERSIST the benchmark shingle set — the build-once seam of
    * [[contaminationCheck]] for decontamination-at-ingest: the
    * benchmark suite is shingled once (it is tiny and changes
    * rarely), every crawl increment probes the stored set in
    * O(increment). Layout: `$path/sh` (bench_id, sh) + one-row
    * `$path/meta` carrying the shingle width, so probe-side
    * shingling can never drift from the index's.
    */
  def writeContaminationIndex(
      bench: DataFrame, benchIdCol: String, benchTextCol: String,
      path: String, w: Int = 3): Unit = {
    val spark = bench.sparkSession
    IndexLayout.write(
      bench.select(col(benchIdCol).as("bench_id"), Dedup.tokens(col(benchTextCol)).as("__ts"))
        .select(col("bench_id"), explode(Dedup.shinglesOf(col("__ts"), w)).as("sh")),
      s"$path/sh", org.apache.spark.sql.SaveMode.Overwrite, Seq(col("sh")))
    spark.range(1).select(lit(w).as("w"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Probe a document increment against persisted
    * [[writeContaminationIndex]] state — identical algebra to the
    * one-shot [[contaminationCheck]] (same shingling, same
    * threshold), so the batch oracle gates this surface and its
    * streaming twin. The stored set broadcasts (benchmark-suite
    * sized); the increment is the only scanned data.
    */
  def contaminationProbe(
      spark: org.apache.spark.sql.SparkSession, path: String,
      corpus: DataFrame, idCol: String, textCol: String,
      minShared: Int = 8): DataFrame = {
    // driver-side meta read (r20, TinyParquet): the 1-row shingle
    // width cost a ~110 ms spark.read+collect action per probe
    val w = TinyParquet.row(spark, s"$path/meta").getInt("w")
    val benchSh = broadcast(spark.read.parquet(s"$path/sh"))
    // no inner width guard (see spanDedupWithIndex): the ingest chain
    // widens at its entry; an ensureWidth on a derived mid-chain
    // frame costs a full extra planning pass per call
    corpus.select(col(idCol).as("id"), Dedup.tokens(col(textCol)).as("__ts"))
      .select(col("id"), explode(Dedup.shinglesOf(col("__ts"), w)).as("sh"))
      .join(benchSh, Seq("sh"))
      .groupBy(col("id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Token-budget sequence packing: within each `groupCol` shard,
    * documents in `idCol` order fill a contiguous token stream that is
    * cut into bins of `maxTokens` — each doc gets the bin and offset
    * where it starts (docs may straddle a boundary; the trainer
    * truncates or continues, both need exactly this layout). The
    * cumulative sum is one window per shard — shards (sources, dump
    * partitions) are how packing parallelizes in practice, so there is
    * no global order and no single-partition sort. Deterministic:
    * layout is a pure function of (group, id, token counts).
    */
  /** CURRICULUM shard export: the length-bucketed layout a
    * sequence-length-warmup training run reads — documents split into
    * four token-length QUARTILE buckets, each bucket laid out as a
    * deterministic shuffled shard set ([[shardShuffle]]'s algebra,
    * partitioned by (bucket, shard)). The naive export would ORDER BY
    * length globally — a full corpus sort; here the cutpoints come
    * from the KMV quantile synopsis (one map-side-combinable
    * aggregation, k-entry state, broadcast back as a 1-row dim) and
    * the only exchange is the (bucket, shard) hash shuffle every
    * sharded write pays. The KMV estimator's k-min selection is a
    * semilattice, so the WHOLE chain — sampling step included —
    * replays in the gate's SQL even in the lossy k < distinct regime.
    *
    * Output per doc: (doc_id, n_tokens, bucket 0-3, shard, position,
    * shard_offset) — within a (bucket, shard) the position/offset
    * contract is exactly [[shardShuffle]]'s (pseudo-random
    * deterministic order, exact resume offsets).
    */
  def curriculumShards(
      df: DataFrame, idCol: String, textCol: String,
      shards: Int, sketchK: Int = 64): DataFrame = {
    // materialize the (doc_id, n_tokens) scoring pass ONCE (r19):
    // the KMV cutpoint aggregate and the bucket/shard assignment both
    // consume `d`, and `df` is often the tail of a long admission
    // chain — two narrow longs per doc is the cheapest possible
    // checkpoint for cutting that tree in half
    val d = Scale.shared(curriculumTokens(df, idCol, textCol))
    curriculumAssign(d, curriculumCuts(d, sketchK), shards)
  }

  /** (doc_id, n_tokens) of a corpus — the curriculum's scoring pass. */
  private def curriculumTokens(
      df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("doc_id"),
      size(filter(split(col(textCol), " "), x => x =!= "")).cast("long").as("n_tokens"))

  /** The quartile cutpoints of [[curriculumShards]] as a 1-row frame
    * (`__c25`, `__c50`, `__c75`) — one map-side-combinable KMV
    * aggregation, broadcastable anywhere.
    */
  private def curriculumCuts(d: DataFrame, sketchK: Int): DataFrame =
    d.select(col("n_tokens").as("__v"))
      .agg(expr(s"kmv_quantile(__v, $sketchK, 25)").as("__c25"),
        expr(s"kmv_quantile(__v, $sketchK, 50)").as("__c50"),
        expr(s"kmv_quantile(__v, $sketchK, 75)").as("__c75"))

  /** The bucket/shard/window tail of [[curriculumShards]], shared by
    * the one-shot operator and the persisted-cutpoint fold — one
    * definition so one oracle algebra gates every surface.
    */
  private def curriculumAssign(
      d: DataFrame, cuts: DataFrame, shards: Int): DataFrame = {
    require(shards > 0, s"shards must be positive, got $shards")
    val w = Window.partitionBy(col("bucket"), col("shard"))
      .orderBy(col("__u").asc, col("doc_id").asc)
    d.crossJoin(broadcast(cuts.select(col("__c25"), col("__c50"), col("__c75"))))
      .withColumn("bucket",
        when(col("n_tokens") <= col("__c25"), 0L)
          .when(col("n_tokens") <= col("__c50"), 1L)
          .when(col("n_tokens") <= col("__c75"), 2L)
          .otherwise(3L))
      .withColumn("shard", DetHash.detBucket(col("doc_id"), shards))
      .withColumn("__u", DetHash.detUnit(col("doc_id") * lit(31L) + lit(17L)))
      .withColumn("position", row_number().over(w).cast("long") - 1L)
      .withColumn("shard_offset",
        sum(col("n_tokens")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long") - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("bucket"), col("shard"),
        col("position"), col("shard_offset"))
  }

  /** PERSIST the curriculum manifest — the deployed seam of
    * [[curriculumShards]]: the reference corpus's quartile cutpoints
    * FREEZE (`$path/cuts`, 1 row: cut values + shard count — bucket
    * definitions must not move as increments land, or a doc's bucket
    * would depend on arrival time) and the per-(bucket, shard)
    * committed counts persist as the fold-on-read ledger
    * (`$path/parts/inc=base`, same append-only shape as the shard
    * manifest: an append only adds its own `inc=` partition, so
    * replay overwrites itself and concurrent DISTINCT increments
    * cannot lose each other's COUNTS — but, exactly as
    * [[appendToShards]] documents, position/shard_offset correctness
    * still requires ONE fold at a time per manifest: two concurrent
    * distinct appends each exclude only their own partition, so both
    * would compute offsets from the same committed tail and emit
    * overlapping ranges. The counts ledger is race-free; the
    * assignment is what needs the single-writer serialization).
    */
  def writeCurriculumManifest(
      df: DataFrame, idCol: String, textCol: String,
      shards: Int, path: String, sketchK: Int = 64): Unit = {
    // same two-consumer shape as curriculumShards (r19): cuts + assign
    val d = Scale.shared(curriculumTokens(df, idCol, textCol))
    val cuts = curriculumCuts(d, sketchK)
    cuts.select(col("__c25"), col("__c50"), col("__c75"), lit(shards).as("shards"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/cuts")
    curriculumAssign(d, cuts, shards)
      .groupBy(col("bucket"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .withColumn("inc", lit("base"))
      .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "static")
      .partitionBy("inc").parquet(s"$path/parts")
  }

  /** Single-writer guard for the assignment folds (r15 verdict,
    * What's wrong #2): [[appendToCurriculum]] / [[appendToShards]]
    * document "run ONE fold at a time per layout" — two concurrent
    * DISTINCT folds would read the same committed tail and emit
    * overlapping position/shard_offset ranges that no gate catches
    * until a loader collides. Shared mechanism (atomic acquisition,
    * same-id replay pass-through, fail-closed crash semantics):
    * [[FoldLease]], which also guards the BM25 meta read-modify-write
    * maintenance ops.
    */
  private def withFoldLease[T](
      spark: org.apache.spark.sql.SparkSession, path: String,
      incrementId: String)(body: => T): T =
    FoldLease.withLease(spark, path, incrementId)(body)

  /** Fold an increment into the persisted curriculum layout
    * ([[writeCurriculumManifest]]) in O(increment): bucket by the
    * FROZEN cutpoints, window within (bucket, shard), offset by the
    * committed tail (every partition except this increment's own —
    * replay reads the same tail it saw first, [[appendToShards]]'s
    * idempotence argument), then publish this increment's own counts
    * partition. Committed shards never move — the loader's
    * resume-offset contract, now per curriculum bucket. ONE fold at a
    * time per layout (single writer) is MECHANICALLY ENFORCED by
    * [[withFoldLease]]: replay of the same increment is idempotent
    * and stays allowed, but a concurrent DISTINCT fold fails loudly
    * with CONCURRENT_FOLD instead of emitting overlapping
    * position/offset ranges (see [[appendToShards]] — counts compose,
    * assignment serializes).
    */
  def appendToCurriculum(
      spark: org.apache.spark.sql.SparkSession, path: String,
      inc: DataFrame, idCol: String, textCol: String,
      incrementId: String): DataFrame = {
    require(incrementId.nonEmpty && incrementId != "base",
      s"incrementId must be non-empty and not 'base', got '$incrementId'")
    withFoldLease(spark, path, incrementId) {
    val cuts = spark.read.parquet(s"$path/cuts")
    // driver-side meta read (r20, TinyParquet) — the cuts FRAME above
    // stays a lazy plan-side read (no action); only the scalar needed
    // on the driver skips the ~110 ms collect job
    val shards = TinyParquet.row(spark, s"$path/cuts").getInt("shards")
    val tail = broadcast(spark.read.parquet(s"$path/parts")
      .filter(col("inc") =!= incrementId)
      .groupBy(col("bucket"), col("shard"))
      .agg(sum(col("n_docs")).as("base_docs"), sum(col("n_tokens")).as("base_tokens")))
    val assigned = curriculumAssign(
        curriculumTokens(inc, idCol, textCol), cuts, shards)
      .join(tail, Seq("bucket", "shard"), "left")
      .select(col("doc_id"), col("n_tokens"), col("bucket"), col("shard"),
        (col("position") + coalesce(col("base_docs"), lit(0L))).as("position"),
        (col("shard_offset") + coalesce(col("base_tokens"), lit(0L))).as("shard_offset"))
      .localCheckpoint()
    assigned.groupBy(col("bucket"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .withColumn("inc", lit(incrementId))
      .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("inc").parquet(s"$path/parts")
    assigned
    }
  }

  def packSequences(
      df: DataFrame,
      idCol: String,
      textCol: String,
      groupCol: String,
      maxTokens: Int
  ): DataFrame = {
    val nToks = size(filter(split(col(textCol), " "), x => x =!= "")).cast("long")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df
      .withColumn("n_tokens", nToks)
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      .withColumn("__start", col("__cum") - col("n_tokens"))
      .withColumn("bin_id", floor(col("__start").cast("double") / maxTokens).cast("long"))
      .withColumn("bin_offset", pmod(col("__start"), lit(maxTokens.toLong)))
      .drop("__cum", "__start")
  }

  /** Deterministic shuffled shard layout — the FINAL write step of a
    * training-data pipeline: every curated doc gets
    * `(shard, position, shard_offset)` where `shard` spreads docs
    * uniformly by keyed hash, `position` is a pseudo-random but fully
    * deterministic within-shard order (a training run reading shards
    * sequentially sees a shuffled doc order with NO separate global
    * sort), and `shard_offset` is the doc's starting token offset
    * inside its shard — the manifest a data loader needs for exact
    * mid-shard resume. [[DetHash]] on the id keeps the whole layout
    * identical under any partitioning or cluster size (unlike
    * `rand()`/`repartition`-based shuffles, whose order depends on
    * partition layout and so is unreproducible across runs); the
    * within-shard order key is an affine remix of the id
    * (`id·31 + 17`) so it decorrelates from the shard-assignment
    * hash — without the remix, docs would sort by the same value that
    * chose their shard and the "shuffle" inside each shard would be
    * ordered by residue class.
    *
    * Scale shape: ONE hash Exchange on `shard` (the write shuffle any
    * sharded output pays) and one window per shard for
    * position+offset — no global sort, no driver state. Shard count
    * is the write parallelism: at 100 TB pick `shards` ≈ a small
    * multiple of cluster cores so each shard's window sorts an
    * executor-sized slice.
    */
  def shardShuffle(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shards: Int
  ): DataFrame = {
    require(shards > 0, s"shards must be positive, got $shards")
    val nToks = size(filter(split(col(textCol), " "), x => x =!= "")).cast("long")
    val w = Window.partitionBy(col("shard")).orderBy(col("__u").asc, col(idCol).asc)
    df
      .withColumn("n_tokens", nToks)
      .withColumn("shard", DetHash.detBucket(col(idCol), shards))
      .withColumn("__u", DetHash.detUnit(col(idCol) * lit(31L) + lit(17L)))
      .withColumn("position", row_number().over(w).cast("long") - 1L)
      .withColumn("shard_offset",
        sum(col("n_tokens")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long") - col("n_tokens"))
      .drop("__u")
  }

  /** PERSIST the shard manifest — the maintenance seam of
    * [[shardShuffle]]: one row per shard (doc and token counts), the
    * state a crawl increment needs to take its APPENDED positions
    * without touching committed shards. Layout is the fold-on-read
    * ledger shape: per-increment partitions `parts/inc=<id>` whose
    * per-shard counts SUM to the manifest, plus a one-row immutable
    * `meta` (shard count). Nothing is ever read-modify-written —
    * an append only adds its own `inc=` partition, so replaying an
    * increment overwrites its own files (idempotent by construction)
    * and two concurrent appends of DIFFERENT increments cannot lose
    * each other's fold (no shared row to race on; contrast the BM25
    * meta scalar, which documents single-writer for exactly this
    * reason). Every shard gets a row even when empty, so assignment
    * joins need no existence probe.
    *
    * No compaction op on purpose: each increment adds ONE
    * `shards`-row file, so the fold-on-read stays trivial at any
    * realistic increment count (10³ daily folds ≈ 10⁴ rows); a safe
    * multi-partition compaction would need a generation pointer (the
    * [[graft.ops.TextAnalysis.compactBm25Index]] machinery) for no
    * measurable win. If the tree ever degenerates, rebuild with
    * [[writeShardManifest]] over the full corpus.
    *
    * ATOMIC publish (the round-9 driver-red lesson): the whole
    * manifest is built under a `.inprogress` sibling and renamed into
    * place in one move, so a killed build can never leave a
    * half-manifest (meta without parts, or a truncated parts tree)
    * that a later process mistakes for committed state — the exact
    * failure signature of the round-9 `x_shard_append` driver red
    * (right rows, shifted offsets). Every parts row additionally
    * carries the build's `build_id` nonce (also in meta), so
    * [[appendToShards]]'s fold-on-read audit can detect partitions
    * left behind by a DIFFERENT build (a recycled scratch dir) and
    * fail with a named error instead of silently folding a foreign
    * tail into the positions.
    */
  def writeShardManifest(
      df: DataFrame, idCol: String, textCol: String,
      shards: Int, path: String): Unit = {
    val spark = df.sparkSession
    val buildId = java.util.UUID.randomUUID().toString
    val dest = new org.apache.hadoop.fs.Path(path)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(path + ".inprogress")
    fs.delete(tmp, true)
    spark.range(1).select(lit(shards).as("shards"), lit(buildId).as("build_id"))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/meta")
    // static overwrite on the SAME inc-partitioned layout the appends
    // use: a rebuild clears every prior increment partition
    shardManifestPart(
      shardShuffle(df, idCol, textCol, shards), shards, "base", buildId)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "static")
      .partitionBy("inc").parquet(s"$tmp/parts")
    // Publish = backup-aside + rename + verify (round-11 hardening):
    //  1. the previous manifest renames ASIDE (atomic) instead of
    //     being deleted — a crash between the two renames leaves the
    //     prior manifest recoverable at `.old`, not destroyed (the
    //     old delete-then-rename published a window with NO manifest
    //     at all, and a silently-failed delete — permissions on a
    //     shared mount, an open handle — left dest in place so the
    //     rename could NEST tmp inside it on LocalFileSystem,
    //     corrupting every later fold without tripping any audit);
    //  2. post-publish, meta is read back and must carry THIS
    //     build's nonce — any filesystem that lied about the rename
    //     (nesting, partial move) fails loudly here, not as shifted
    //     offsets three folds later.
    val old = new org.apache.hadoop.fs.Path(path + ".old")
    fs.delete(old, true)
    if (fs.exists(dest) && !fs.rename(dest, old))
      throw new IllegalStateException(
        s"SHARD_MANIFEST_CORRUPT: cannot move prior manifest aside ($path -> $path.old) — " +
          "stale state with bad permissions? remove it and rebuild")
    if (fs.exists(dest))
      throw new IllegalStateException(
        s"SHARD_MANIFEST_CORRUPT: prior manifest still present at $path after move-aside — " +
          "publish aborted to avoid nesting the new build inside it")
    if (!fs.rename(tmp, dest))
      throw new IllegalStateException(
        s"SHARD_MANIFEST_CORRUPT: atomic publish rename failed for $path")
    val published =
      try TinyParquet.rows(spark, s"$path/meta")
      catch { case e: Exception => throw new IllegalStateException(
        s"SHARD_MANIFEST_CORRUPT: published manifest at $path has no readable meta " +
          s"(${e.getMessage}) — filesystem rename did not land the expected layout") }
    if (published.length != 1 || published(0).getString("build_id") != buildId)
      throw new IllegalStateException(
        s"SHARD_MANIFEST_CORRUPT: published meta at $path does not carry this build's " +
          s"build_id=$buildId — a concurrent writer or misbehaving rename intervened")
    fs.delete(old, true)
    ()
  }

  /** The per-shard count rows of one increment, densified to every
    * shard id (empty shards carry zeros) under its `inc` partition
    * value — ONE pipeline for build and append, so fold-on-read sums
    * stay exact whichever path wrote them. `repartition(1)` is also
    * a visibility guarantee, not just small-file hygiene: one file
    * per partition means a concurrent reader sees an increment's
    * counts all-or-nothing (a single-file rename), which is what
    * keeps the fold-on-read audit race-free next to an in-flight
    * distinct-increment append.
    */
  private def shardManifestPart(
      assigned: DataFrame, shards: Int, inc: String, buildId: String): DataFrame =
    assigned.sparkSession.range(shards.toLong).select(col("id").as("shard"))
      .join(assigned.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens")),
        Seq("shard"), "left")
      .select(col("shard"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
      .withColumn("build_id", lit(buildId))
      .withColumn("inc", lit(inc))
      .repartition(1)

  /** Fold a document increment into the persisted shard layout —
    * append-only: committed shards NEVER move (the loader contract —
    * a resume offset handed out yesterday is valid forever), so this
    * is NOT `shardShuffle(base ∪ inc)` re-run: the increment's docs
    * get the same deterministic hash shard and within-shard order as
    * the one-shot layout, but their positions/offsets start AFTER the
    * shard's committed tail. Cost is O(increment): one pass over the
    * increment, one broadcast join against the shard-count manifest —
    * the base corpus is never read.
    *
    * Crash-consistency contract (spec-proven, `CorpusOpsSpec`):
    * append(∅) ≡ id; replaying `incrementId` returns the identical
    * assignment and leaves the manifest byte-identical (the fold
    * EXCLUDES the increment's own prior partition when computing the
    * committed tail, then dynamic-overwrites it); appends of distinct
    * increments compose (the second sees the first's counts).
    *
    * ONE fold at a time per manifest (the nightly single-writer
    * shape) is MECHANICALLY ENFORCED by [[withFoldLease]]: the ledger
    * layout keeps the manifest COUNTS correct under concurrent
    * distinct-increment appends (each writes only its own partition),
    * but two concurrent folds would read the same committed tail and
    * hand out COLLIDING positions — the assignment, not the fold, is
    * what needs the serialization, so a concurrent distinct fold now
    * fails loudly with CONCURRENT_FOLD instead of corrupting offsets.
    *
    * Fold-on-read AUDIT (round-9 fix): before handing out a single
    * position, the manifest is reconciled against its own contract —
    * exactly one meta row; a `base` partition present; every
    * partition stamped with meta's `build_id` (a partition from a
    * different build is a recycled/stale scratch dir, not this
    * manifest); every partition densified to exactly `shards` rows
    * (fewer means a truncated write survived a crash). Any violation
    * throws a named SHARD_MANIFEST_CORRUPT error — a loud failure
    * the caller can answer with a rebuild, instead of the silent
    * shifted-offset corruption the round-9 driver observed. The audit
    * reads only the manifest tree (shards × increments rows, ≈10⁴ at
    * the documented envelope) — the base corpus stays unread and the
    * fold stays O(increment).
    */
  def appendToShards(
      spark: org.apache.spark.sql.SparkSession, path: String,
      inc: DataFrame, idCol: String, textCol: String,
      incrementId: String): DataFrame = {
    require(incrementId.nonEmpty && incrementId != "base",
      s"incrementId must be non-empty and not 'base', got '$incrementId'")
    withFoldLease(spark, path, incrementId) {
    // driver-side meta read (r20, TinyParquet — the ~110 ms 1-row
    // collect action). TinyRow.has doubles as the legacy-column
    // check: pre-build_id (round-9) manifests lack the audit column —
    // name the failure instead of leaking an unresolved-column error;
    // the contract is "rebuild with writeShardManifest", same as any
    // other SHARD_MANIFEST_CORRUPT answer
    val meta = TinyParquet.rows(spark, s"$path/meta")
    if (meta.length != 1)
      throw new IllegalStateException(
        s"SHARD_MANIFEST_CORRUPT: expected exactly one meta row at $path/meta, found ${meta.length}")
    if (!meta(0).has("build_id"))
      throw new IllegalStateException(
        s"SHARD_MANIFEST_CORRUPT: legacy manifest at $path (no build_id audit column) — " +
          "rebuild with writeShardManifest")
    val shards = meta(0).getInt("shards")
    val buildId = meta(0).getString("build_id")
    // bounded driver materialization: one row per increment partition
    // (manifest envelope ≈10³-10⁴ increments), never corpus-sized
    val audit = spark.read.parquet(s"$path/parts")
      .groupBy(col("inc"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("build_id").isNull || col("build_id") =!= buildId, 1L)
          .otherwise(0L)).as("foreign"))
      .collect()
    if (!audit.exists(_.getAs[String]("inc") == "base"))
      throw new IllegalStateException(
        s"SHARD_MANIFEST_CORRUPT: no base partition under $path/parts — half-built manifest")
    audit.foreach { r =>
      val incName = r.getAs[String]("inc")
      if (r.getAs[Long]("foreign") > 0L)
        throw new IllegalStateException(
          s"SHARD_MANIFEST_CORRUPT: partition inc=$incName at $path/parts carries rows from a different build than meta build_id=$buildId — stale or foreign state")
      if (r.getAs[Long]("n") != shards.toLong)
        throw new IllegalStateException(
          s"SHARD_MANIFEST_CORRUPT: partition inc=$incName at $path/parts has ${r.getAs[Long]("n")} rows, expected $shards — truncated write")
    }
    // materialized ONCE (eager, increment-sized): the frame feeds the
    // manifest-part write AND the caller — a lazy return would re-read
    // meta+parts and re-run both windows on the caller's first action
    val assigned =
      shardAppendAssignment(spark, path, inc, idCol, textCol, incrementId, shards)
        .localCheckpoint()
    shardManifestPart(assigned, shards, incrementId, buildId)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("inc").parquet(s"$path/parts")
    assigned
    }
  }

  /** The LAZY assignment plan of [[appendToShards]] — split out so
    * the plan-shape asserts (broadcast tail join, single documents
    * scan) can see it: the public method checkpoints the result
    * eagerly, which truncates the visible plan to a Scan ExistingRDD.
    */
  private[graft] def shardAppendAssignment(
      spark: org.apache.spark.sql.SparkSession, path: String,
      inc: DataFrame, idCol: String, textCol: String,
      incrementId: String, shards: Int): DataFrame = {
    // committed tail per shard = every partition EXCEPT this
    // increment's own (replay reads the same tail it saw first)
    val tail = broadcast(spark.read.parquet(s"$path/parts")
      .filter(col("inc") =!= incrementId)
      .groupBy(col("shard"))
      .agg(sum(col("n_docs")).as("base_docs"), sum(col("n_tokens")).as("base_tokens")))
    shardShuffle(inc, idCol, textCol, shards)
      .join(tail, Seq("shard"), "left")
      .select(col("shard"),
        (col("position") + coalesce(col("base_docs"), lit(0L))).as("position"),
        col(idCol), col("n_tokens"),
        (col("shard_offset") + coalesce(col("base_tokens"), lit(0L))).as("shard_offset"))
  }

  /** The MANIFEST-FREE flavor of [[appendToShards]]: identical output
    * (same shard assignment, same within-shard order, same
    * tail-offset algebra — it reuses [[shardShuffle]] and the same
    * join/select shape as [[shardAppendAssignment]]), but the
    * committed tail aggregates directly from the live `base`
    * DataFrame instead of the persisted parts ledger. O(base + inc) —
    * the base corpus IS read — so it is NOT the steady-state path at
    * 100 TB; it exists as (a) the semantics reference the persisted
    * fold must reproduce, and (b) a registered bisection probe
    * (`x_shard_append_inline`, gated by the SAME oracle as
    * `x_shard_append`): if the inline row is green while the manifest
    * row is red in some environment, the persisted fold diverges
    * there; if both are red, the algebra/oracle/environment half is
    * at fault and the manifest is innocent.
    */
  def appendToShardsInline(
      base: DataFrame, inc: DataFrame,
      idCol: String, textCol: String, shards: Int): DataFrame = {
    val tail = broadcast(
      shardShuffle(base, idCol, textCol, shards)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("base_docs"), sum(col("n_tokens")).as("base_tokens")))
    shardShuffle(inc, idCol, textCol, shards)
      .join(tail, Seq("shard"), "left")
      .select(col("shard"),
        (col("position") + coalesce(col("base_docs"), lit(0L))).as("position"),
        col(idCol), col("n_tokens"),
        (col("shard_offset") + coalesce(col("base_tokens"), lit(0L))).as("shard_offset"))
  }

  /** Temperature (α-weighted) source resampling with replication — the
    * data-mixture step that upsamples small sources and downsamples
    * dominant ones: source weights `w_s = weight(n_s)` (α=0.5 ⇒
    * `sqrt`), target share `w_s/Σw`, per-doc copy count =
    * `⌊ratio_s⌋` plus one more when the doc's DetHash falls under the
    * fractional part — so expected counts hit the target exactly and
    * the realized sample is deterministic under any partitioning.
    * Docs with zero copies drop; others explode to `copy_idx` rows.
    *
    * One tiny aggregation (per-source counts, broadcast back) + a
    * per-row explode: no corpus shuffle. Determinism notes: the
    * default `sqrt` weight is IEEE-correctly-rounded in every engine
    * (unlike `pow`/`ln`, which are libm-specific — pass a custom
    * `weight` only where cross-engine hashing is not required), and
    * the weight normalizer sums in DECIMAL so it is
    * aggregation-order-independent.
    */
  def temperatureResample(
      df: DataFrame,
      keyCol: String,
      strataCol: String,
      targetTotal: Long,
      weight: Column => Column = c => sqrt(c)
  ): DataFrame = {
    val stats = df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__w", weight(col("__n").cast("double")))
    val z = stats.agg(sum(col("__w").cast("decimal(28,12)")).cast("double").as("__z"))
    val ratios = broadcast(stats.crossJoin(broadcast(z))
      .withColumn("__ratio", col("__w") / col("__z") * lit(targetTotal.toDouble) / col("__n"))
      .select(col(strataCol), col("__ratio")))
    df.join(ratios, Seq(strataCol))
      .withColumn("__copies",
        floor(col("__ratio")).cast("long") +
          when(DetHash.detUnit(col(keyCol)) < col("__ratio") - floor(col("__ratio")), 1L).otherwise(0L))
      .filter(col("__copies") >= 1)
      .withColumn("copy_idx", explode(sequence(lit(1L), col("__copies"))))
      .drop("__ratio", "__copies")
  }

  /** URL regex shared verbatim with the DuckDB oracle (RE2-safe). */
  val UrlRe = "https?://[^\\s]+"

  /** URL extraction: one row per URL occurrence with its lowercased
    * host — the inventory a web-corpus pipeline aggregates for domain
    * mixture stats, allow/deny filtering, and source attribution.
    * One regexp pass + explode per row, no shuffle; aggregation is the
    * caller's (map-side-combinable groupBy on domain).
    */
  def extractUrls(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df
      .select(col(idCol), explode(regexp_extract_all(col(textCol), lit(UrlRe), lit(0))).as("url"))
      .withColumn("domain", lower(regexp_extract(col("url"), "^https?://([^/?#]+)", 1)))

  /** Canonical form of a URL for dedup keying — the web-corpus rule
    * set: scheme dropped, whole URL lowercased (aggressive keying:
    * case-variant paths that serve the same page collapse; the rare
    * genuinely case-distinct path pair costs one extra near-dup check
    * downstream), `www.` stripped, query string / fragment / trailing
    * slash removed. Two crawls of the same page under
    * `http://WWW.x.com/a?utm=…#frag` and `https://x.com/a/` collapse
    * to one key. Pure regex column algebra, identical in the SQL
    * oracle.
    */
  def canonicalUrl(url: Column): Column =
    // query-strip BEFORE slash-strip, in separate passes: a single
    // alternation pass can't drop the slash in "/page/?q=1" because
    // its $ still sees the query text
    regexp_replace(
      regexp_replace(
        regexp_replace(
          lower(regexp_replace(url, "^https?://", "")),
          "^www\\.", ""),
        "[?#].*$", ""),
      "/$", "")

  /** URL-keyed dedup: extract links, canonicalize, keep ONE row per
    * canonical URL (minimum doc id — deterministic), with the
    * occurrence count. The first dedup pass of any web-scale corpus —
    * cheaper than any content hash because the key is right there in
    * the text. One map-side-combinable aggregation.
    */
  def dedupByUrl(df: DataFrame, idCol: String, textCol: String): DataFrame =
    extractUrls(df, idCol, textCol)
      .withColumn("canon", canonicalUrl(col("url")))
      .groupBy(col("canon"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_occurrences"))

  /** Overlapping token-window chunking — the standard context-window
    * splitter for pretraining/RAG ingestion: chunks of `chunkSize`
    * tokens starting every `chunkSize - overlap`, the last chunk
    * truncated, every doc yielding at least one chunk. One tokenize
    * into an attribute, one generator; the token array rides through
    * the explode as a plain attribute, so nothing is re-evaluated per
    * chunk (the HOF-capture trap a transform-over-sequence formulation
    * would hit). Pure per-row work: no shuffle.
    */
  def chunkDocuments(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkSize: Int,
      overlap: Int
  ): DataFrame = {
    require(overlap >= 0 && overlap < chunkSize, "need 0 <= overlap < chunkSize")
    val stride = chunkSize - overlap
    val nChunks = greatest(
      ceil((col("n_tokens") - lit(overlap)).cast("double") / stride).cast("int"),
      lit(1))
    df
      .select(col(idCol), filter(split(col(textCol), " "), x => x =!= "").as("__toks"))
      .withColumn("n_tokens", size(col("__toks")))
      .withColumn("chunk_idx", explode(sequence(lit(0), nChunks - 1)))
      .select(
        col(idCol),
        col("chunk_idx"),
        array_join(slice(col("__toks"), col("chunk_idx") * stride + 1, lit(chunkSize)), " ").as("chunk_text"),
        least(lit(chunkSize), col("n_tokens") - col("chunk_idx") * stride).as("chunk_tokens"))
  }

  /** INTRA-document span dedup (the C4 cleanup rule: of any repeated
    * span within a document, keep only the first occurrence): the text
    * splits into consecutive `window`-token spans, and span i survives
    * iff it is the FIRST occurrence of its content
    * (`array_position == i+1`). Boilerplate headers/footers and
    * copy-paste runs inside one document disappear while cross-doc
    * dedup (MinHash etc.) handles the corpus level.
    *
    * Pure per-row column algebra — shuffle-free, rides the scan like
    * the quality filters; the span list lives only inside the row's
    * projection. Output: (id, n_spans, n_kept, cleaned).
    */
  def dedupIntraDoc(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int
  ): DataFrame = {
    require(window >= 1, "window must be >= 1")
    df
      .select(col(idCol), filter(split(col(textCol), " "), x => x =!= "").as("__toks"))
      .withColumn("__spans", expr(
        s"""transform(sequence(0, cast((size(__toks) + ${window - 1}) / $window as int) - 1),
           | i -> array_join(slice(__toks, i * $window + 1, $window), ' '))""".stripMargin))
      .withColumn("__kept", expr(
        "filter(__spans, (s, i) -> array_position(__spans, s) == i + 1)"))
      .select(
        col(idCol),
        size(col("__spans")).as("n_spans"),
        size(col("__kept")).as("n_kept"),
        array_join(col("__kept"), " ").as("cleaned"))
  }

  /** CROSS-document exact-substring dedup (the ExactSubstr rule from
    * the deduplication literature, re-expressed as fingerprint
    * bucketing instead of a suffix array): any `window`-token run that
    * appears more than once ANYWHERE in the corpus survives only at
    * its first occurrence (smallest (doc, position)); every other
    * occurrence's tokens are cut. Catches duplicated *passages* —
    * license boilerplate, shared headers, quoted paragraphs — between
    * documents that are nowhere near whole-doc near-dups, the one
    * modality doc-level MinHash/SimHash and intra-doc C4
    * ([[dedupIntraDoc]]) both miss.
    *
    * Scale shape (never all-pairs): slide a `window`-token fingerprint
    * over every doc (explode — linear in corpus tokens), aggregate the
    * global first occurrence PER FINGERPRINT with an algebraic `min`
    * (map-side combinable, so a boilerplate fingerprint shared by
    * millions of docs partial-aggregates on the mappers instead of
    * skewing one reducer — deliberately NOT a row_number window, which
    * would sort the hot key on a single partition), join the windows
    * back on fingerprint to mark non-first occurrences, explode their
    * covered positions, and cut per doc with one index-filter.
    *
    * The window frame is deliberately RECOMPUTED on the owner and
    * probe sides of the fingerprint join (plus one more scan for the
    * final assembly — three column-pruned scans of (id, text) total,
    * plan-verified): the exploded (id, wpos, fp) frame is tens of
    * times the corpus size, so persisting it would cost more IO than
    * re-deriving it from the pruned text scan. Everything between the
    * scans is keyed by fingerprint or doc id. Use
    * [[substringDupStats]] to price the window/duplicate volumes
    * before a corpus-wide run.
    *
    * First occurrence is the `min` of the (id, wpos) STRUCT —
    * lexicographic struct ordering, algebraic, and total for ANY
    * orderable id type (string ids and 64-bit hashed ids included; an
    * encoded `id * K + wpos` long would silently null out non-numeric
    * ids and collide past 2^63/K). The oracle replays it as
    * `id * 1e6 + wpos` — an identical ordering at gate scale, where
    * ids are small integers. Output: (id, n_tokens, n_dup_tokens,
    * cleaned).
    *
    * Ref behavior: extends the reference's intra-doc cleanup
    * (text_curator.py dedup rules) corpus-wide, per the ExactSubstr
    * design in "Deduplicating Training Data Makes Language Models
    * Better" (Lee et al., 2022) — fingerprint-bucketed instead of
    * suffix-array because bucketing is the shuffle-native shape.
    */
  /** The sliding-window fingerprint frame (id, wpos, fp) shared by the
    * dedup and its stats audit.
    */
  private def substringWins(toks: DataFrame, idCol: String, window: Int): DataFrame =
    toks
      .filter(size(col("__toks")) >= window)
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0), size(col("__toks")) - lit(window))).as("__wpos"))
      .select(col(idCol), col("__wpos"),
        md5(array_join(slice(col("__toks"), col("__wpos") + 1, lit(window)), " ")).as("__fp"))

  def dedupCrossDocSubstring(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int
  ): DataFrame = {
    require(window >= 2, "window must be >= 2 tokens")
    val toks = df.select(col(idCol), filter(split(col(textCol), " "), x => x =!= "").as("__toks"))
    val wins = substringWins(toks, idCol, window)
    val self = struct(col(idCol), col("__wpos"))
    val owners = wins
      .groupBy(col("__fp"))
      .agg(min(self).as("__own"), count(lit(1)).as("__c"))
      .filter(col("__c") > 1)
    val covered = wins
      .join(owners, Seq("__fp"))
      .filter(self =!= col("__own"))
      .select(col(idCol), explode(sequence(col("__wpos"), col("__wpos") + lit(window - 1))).as("__tpos"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("__tpos"))).as("__dups"))
    cutCovered(toks, covered, idCol)
  }

  /** The per-doc cut shared by the batch dedup and the index probe:
    * left-join the covered-position lists and filter each doc's token
    * array by index.
    */
  private def cutCovered(toks: DataFrame, covered: DataFrame, idCol: String): DataFrame =
    toks
      .join(covered, Seq(idCol), "left")
      .withColumn("__dups", coalesce(col("__dups"), array().cast("array<int>")))
      .select(
        col(idCol),
        size(col("__toks")).as("n_tokens"),
        size(col("__dups")).as("n_dup_tokens"),
        array_join(filter(col("__toks"), (t, i) => !array_contains(col("__dups"), i)), " ")
          .as("cleaned"))

  /** PERSISTENT substring-fingerprint index — the passage-dedup analog
    * of the LSH and sign-plane indexes: the DISTINCT `window`-token
    * fingerprints of the existing corpus, written once
    * `partitionBy(2-hex-prefix)` (256 balanced partitions,
    * fingerprint-sorted files for stat pruning). An increment then
    * probes it instead of re-fingerprinting the whole corpus: any
    * increment passage ALREADY IN the corpus is cut at ingest — base
    * occurrences always precede the increment, so existence in the
    * index IS first-occurrence ownership. (Repeats only WITHIN the
    * increment are the batch operator's job.)
    */
  def writeSubstringIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      window: Int
  ): Unit =
    substringIndexLayout(df, idCol, textCol, path, window,
      org.apache.spark.sql.SaveMode.Overwrite)

  /** Fold an increment's fingerprints into the index — O(increment)
    * per crawl, same append contract as the LSH/sign-plane layouts.
    * Appends may duplicate a fingerprint already present (the index
    * is semantically a SET and the probe's covered-position collect_set
    * absorbs duplicates — spec-proven probe-after-append ≡ rebuilt);
    * [[Scale.compactIndex]] reclaims the accumulated append file
    * sets, safe to run next to live probes.
    *
    * Crash-consistency contract (spec-proven,
    * `IndexMaintenanceSpec`): at-least-once storage, exactly-once
    * probes — append(∅) ≡ id, a replayed increment (crash or
    * duplicate delivery) changes no probe result, and concurrent
    * appends are safe (pure partition append, no shared scalar).
    */
  def appendToSubstringIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      window: Int
  ): Unit =
    substringIndexLayout(df, idCol, textCol, path, window,
      org.apache.spark.sql.SaveMode.Append)

  /** ONE layout pipeline for build AND append (see
    * `Dedup.minhashIndexLayout` — the flavors must not drift).
    */
  private def substringIndexLayout(
      df: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      window: Int,
      mode: org.apache.spark.sql.SaveMode
  ): Unit = {
    val toks = df.select(col(idCol), filter(split(col(textCol), " "), x => x =!= "").as("__toks"))
    substringWins(toks, idCol, window)
      .select(col("__fp"), substring(col("__fp"), 1, 2).as("pfx")).distinct()
      .repartition(col("pfx"))
      .sortWithinPartitions(col("__fp"))
      .write.mode(mode).partitionBy("pfx").parquet(path)
  }

  /** Probe the [[writeSubstringIndex]] index with a NEW document
    * increment: the increment fingerprints itself (linear), the
    * equi-join on (prefix, fingerprint) finds passages already in the
    * corpus, and their covered positions are cut per document —
    * returning the increment in [[dedupCrossDocSubstring]]'s output
    * shape (id, n_tokens, n_dup_tokens, cleaned). The corpus text is
    * never re-read.
    */
  def probeSubstringIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      window: Int
  ): DataFrame = {
    // width guard (Scale.ensureWidth): the rolling-hash windows are
    // the probe's CPU; a fat-split increment must not run them at
    // file parallelism (streaming frames pass through)
    val toks = Scale.ensureWidth(newDocs)
      .select(col(idCol), filter(split(col(textCol), " "), x => x =!= "").as("__toks"))
    val wins = substringWins(toks, idCol, window)
      .withColumn("pfx", substring(col("__fp"), 1, 2))
    def plan(): DataFrame = {
      // explicit schema: an index built from a corpus with no
      // window-sized docs is an EMPTY partitioned dir, and schema
      // inference would throw where the correct semantics is
      // "no history → pass the increment through uncut". Grace-aware
      // read (Scale.readLive): manifest-doomed files are excluded up
      // front, so the probe cannot race Scale.compactIndex.
      val index0 = Scale.readLive(spark, path,
        Some(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("__fp", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("pfx", org.apache.spark.sql.types.StringType)))))
      // stream-static: the pinned listing gets the runtime staleness
      // guard (r18 verdict task 5); batch callers re-list per retry
      val index =
        if (newDocs.isStreaming)
          Scale.guardPinnedListing(index0, s"substring index at $path")
        else index0
      val covered = wins
        .join(index, Seq("pfx", "__fp"))
        .select(col(idCol), explode(sequence(col("__wpos"), col("__wpos") + lit(window - 1))).as("__tpos"))
        .groupBy(col(idCol))
        .agg(sort_array(collect_set(col("__tpos"))).as("__dups"))
      cutCovered(toks, covered, idCol)
    }
    // reader-safe materialization (increment-bounded); streaming
    // callers go through foreachBatch, so newDocs is always a batch
    // frame — keep the lazy plan if one ever isn't
    if (newDocs.isStreaming) plan()
    else Dedup.retryOnMissingFiles(4, spark, Seq(path))(plan().localCheckpoint())
  }

  /** Candidate-volume audit for [[dedupCrossDocSubstring]] — the same
    * price-the-blocking discipline as `Dedup.lshCandidateStats`: how
    * many windows exist, how many fingerprints are duplicated, how
    * many window occurrences will be cut, and the hottest
    * fingerprint's occurrence count (the skew the algebraic-min
    * aggregation absorbs). Run at a sample scale before a corpus-wide
    * dedup; `max_fp_count` ≈ corpus docs means a boilerplate string is
    * present nearly everywhere and the cut volume will be large.
    */
  def substringDupStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int
  ): DataFrame = {
    val toks = df.select(col(idCol), filter(split(col(textCol), " "), x => x =!= "").as("__toks"))
    substringWins(toks, idCol, window)
      .groupBy(col("__fp")).agg(count(lit(1)).as("__c"))
      .agg(
        sum(col("__c")).cast("bigint").as("n_windows"),
        count(lit(1)).cast("bigint").as("n_fingerprints"),
        sum(when(col("__c") > 1, 1L).otherwise(0L)).as("n_dup_fingerprints"),
        sum(when(col("__c") > 1, col("__c") - 1).otherwise(0L)).as("n_cut_occurrences"),
        max(col("__c")).as("max_fp_count"))
  }

  /** Gap sessionization: events more than `gap` apart (same user)
    * start a new session. Classic cumulative-sum-over-new-session-flag
    * window; the only shuffle is the hash partition by user the window
    * requires, and timestamps stay in their integer domain (`gap` in
    * the same unit as `tsCol` — epoch micros in the oracle query,
    * since DuckDB truncates TIMESTAMP(NANOS) to micros) so the
    * comparison is exact. Tie-robust: equal timestamps yield a zero
    * gap flag in any order, so session ids are layout-independent.
    * Returns one row per session: (user, session_id, n_events, start,
    * end).
    */
  def sessionize(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      gap: Long
  ): DataFrame = {
    val byUser = Window.partitionBy(col(userCol)).orderBy(col(tsCol).asc)
    val newSession = when(
      col(tsCol) - lag(col(tsCol), 1).over(byUser) > gap, 1L
    ).otherwise(lit(0L))
    events
      .withColumn("__new", newSession)
      .withColumn("session_id", sum(col("__new")).over(
        Window.partitionBy(col(userCol)).orderBy(col(tsCol).asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(userCol), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"))
  }

  // -------------------------------------------------------------------
  // INGEST-GATE CAPSTONE: the whole deployed admission chain in one
  // operator — what actually runs when a crawl batch asks to enter a
  // 100 TB training corpus.
  // -------------------------------------------------------------------

  /** ONE-SHOT ingest gate over a standalone corpus — the admission
    * chain composed the way a real pipeline runs it:
    *
    *   1. canonical-key exact dedup ([[graft.ops.Dedup.canonText]]
    *      winners, least id per canonical content) — the evasion-proof
    *      "have we already got this document?";
    *   2. C4 three-sentence span dedup ([[graft.ops.Dedup.spanDedup]])
    *      — the boilerplate cut, first carrier keeps;
    *   3. Gopher rule gate ([[gopherFilter]]) on the CLEANED text;
    *   4. benchmark decontamination ([[contaminationCheck]] against
    *      the eval suite, flagged docs dropped);
    *   5. curriculum shard layout ([[curriculumShards]]) over the
    *      survivors — bucket/shard/position/offset, ready for the
    *      loader.
    *
    * Each stage feeds the next stage's TEXT (the span cut rewrites
    * it), so composing them is not just set intersection — the one
    * composed oracle SQL gates the composition itself. Scale shape:
    * stages 1/2/5 shuffle on keys, stage 3 is per-row, stage 4
    * broadcasts the benchmark dim; nothing is all-pairs, nothing
    * collects.
    */
  def ingestGate(
      docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchIdCol: String, benchTextCol: String,
      shards: Int = 4, contamShingle: Int = 3, contamMinShared: Int = 8,
      minTokens: Int = 20, maxTokens: Int = 80, minStopwordHits: Int = 1): DataFrame = {
    val d0 = docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
    val s1 = d0.join(
      Dedup.exactByCanonContent(d0, "doc_id", "text")
        .select(col("keep_id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    val s4 = ingestTail(s1, bench, benchIdCol, benchTextCol,
      contamShingle, contamMinShared, minTokens, maxTokens, minStopwordHits)
    curriculumShards(s4, "doc_id", "text", shards)
  }

  /** Stages 2-4 of the gate (span cut -> quality -> decontamination),
    * shared verbatim by the one-shot and deployed flavors so the two
    * cannot drift — the qualityPipelineWithModels discipline.
    */
  private def ingestTail(
      s1: DataFrame, bench: DataFrame, benchIdCol: String, benchTextCol: String,
      contamShingle: Int, contamMinShared: Int,
      minTokens: Int, maxTokens: Int, minStopwordHits: Int): DataFrame =
    ingestQualityContam(
      Dedup.spanDedup(s1, "doc_id", "text")
        .filter(col("n_kept") >= 1)
        .select(col("doc_id"), col("kept_text").as("text")),
      s3 => contaminationCheck(s3, "doc_id", "text", bench, benchIdCol, benchTextCol,
          w = contamShingle, minShared = contamMinShared)
        .select(col("id").as("doc_id")).distinct(),
      minTokens, maxTokens, minStopwordHits)

  /** Stages 3-4 on already-span-cleaned text: Gopher gate, then drop
    * whatever `contamFlagged` flags on the quality survivors — the
    * one-shot passes the inline [[contaminationCheck]], the deployed
    * flavor the persisted-index [[contaminationProbe]]. One body, two
    * state sources.
    */
  private def ingestQualityContam(
      s2: DataFrame, contamFlagged: DataFrame => DataFrame,
      minTokens: Int, maxTokens: Int, minStopwordHits: Int): DataFrame = {
    // materialize the quality survivors ONCE (r19, guide §3.3/§5):
    // `s3` is both the anti-join probe side and the contamination
    // check's input — without this the whole admission chain above
    // (canon dedup → span cut → Gopher gate) executed twice, and the
    // curriculum tail above doubled it again (the one-shot capstone
    // plan carried 196 copies of the corpus scan)
    val s3 = Scale.shared(
      gopherFilter(s2, "text", minTokens = minTokens, maxTokens = maxTokens,
        minStopwordHits = minStopwordHits)
      .filter(col("keep"))
      .select(col("doc_id"), col("text")))
    s3.join(contamFlagged(s3), Seq("doc_id"), "left_anti")
  }

  /** PERSIST the gate's state from an accepted reference corpus — the
    * deployed seam of [[ingestGate]]. Each stage's state is fit on
    * the REF slice of what reaches that stage (the
    * `qpipeModels` discipline): canon index on the raw ref, span
    * index on the canon survivors, contamination index on the
    * benchmark suite, curriculum manifest (FROZEN cutpoints + base
    * counts) on the full chain's ref survivors. Layout under `path`:
    * `canonix/`, `spanix/`, `contamix/`, `curr/`.
    */
  def writeIngestGateState(
      ref: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchIdCol: String, benchTextCol: String,
      path: String,
      shards: Int = 4, contamShingle: Int = 3, contamMinShared: Int = 8,
      minTokens: Int = 20, maxTokens: Int = 80, minStopwordHits: Int = 1): Unit = {
    val d0 = ref.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
    Dedup.writeCanonIndex(d0, "doc_id", "text", s"$path/canonix")
    val s1 = d0.join(
      Dedup.exactByCanonContent(d0, "doc_id", "text")
        .select(col("keep_id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    Dedup.writeSpanIndex(s1, "doc_id", "text", s"$path/spanix")
    writeContaminationIndex(bench, benchIdCol, benchTextCol,
      s"$path/contamix", w = contamShingle)
    val refSurv = ingestTail(s1, bench, benchIdCol, benchTextCol,
      contamShingle, contamMinShared, minTokens, maxTokens, minStopwordHits)
    writeCurriculumManifest(refSurv, "doc_id", "text", shards, s"$path/curr")
  }

  /** Run an arriving increment through the DEPLOYED gate — every
    * stage answers from [[writeIngestGateState]] state in
    * O(increment): canon probe (broadcast-semi-pruned index lookup),
    * span probe (winner = least okey over index ∪ increment), Gopher
    * gate (stateless), contamination probe (benchmark dim
    * broadcasts), curriculum fold (frozen cuts, positions after the
    * committed tail, `incrementId` as the idempotency key). Identical
    * stage algebra to [[ingestGate]] — one composed SQL gates this
    * surface and its streaming twin.
    */
  def ingestGateWithState(
      spark: org.apache.spark.sql.SparkSession, path: String,
      inc: DataFrame, idCol: String, textCol: String,
      incrementId: String,
      contamMinShared: Int = 8,
      minTokens: Int = 20, maxTokens: Int = 80, minStopwordHits: Int = 1): DataFrame = {
    // width guard at the CHAIN entry (see Scale.ensureWidth): every
    // stage below is CPU-bound text work over the increment, and a
    // few-fat-file-splits increment (stream micro-batch) would run
    // the whole admission chain at file parallelism.
    // Scale.shared (r20): d0 feeds the canon probe AND the
    // keep-survivor semi-join — without the seam the increment scan +
    // plant filters re-run per consumer
    val d0 = Scale.shared(Scale.ensureWidth(
      inc.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))))
    val s1 = d0.join(
      Dedup.canonDedupWithIndex(spark, s"$path/canonix", d0, "doc_id", "text")
        .filter(col("is_kept") === 1L).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val s2 = Dedup.spanDedupWithIndex(spark, s"$path/spanix", s1, "doc_id", "text")
      .filter(col("n_kept") >= 1)
      .select(col("doc_id"), col("kept_text").as("text"))
    val s4 = ingestQualityContam(s2,
      s3 => contaminationProbe(spark, s"$path/contamix", s3, "doc_id", "text",
          minShared = contamMinShared)
        .select(col("id").as("doc_id")).distinct(),
      minTokens, maxTokens, minStopwordHits)
    appendToCurriculum(spark, s"$path/curr", s4, "doc_id", "text", incrementId)
  }
}
