package graft

import graft.ops.Dedup

import org.apache.spark.sql.functions._

/** Candidate-volume audits for the blocking configs — the measurements
  * behind the banding choices documented in SCALING.md. The r=2 vs
  * r=3 LSH comparison is the regression-prevention check for the
  * round-3 lesson: recall re-tunes must price their candidate volume.
  */
class ScaleAuditSpec extends SparkSpecBase {

  private def docs = GraftSession.table(spark, sf, "documents")
    .select(col("doc_id").as("id"), col("text"))

  private def stats(numHashes: Int, bands: Int): (Long, Long, Long) = {
    val r = Dedup.lshCandidateStats(docs, "id", "text", w = 3, numHashes = numHashes, bands = bands)
      .collect()(0)
    (r.getAs[Long]("n_docs"), r.getAs[Long]("candidate_pairs"), r.getAs[Long]("max_bucket"))
  }

  test("r=3 banding (30/10) generates strictly fewer candidates than r=2 (32/16)") {
    val (n2, cand2, _) = stats(32, 16)
    val (n3, cand3, _) = stats(30, 10)
    assert(n2 === n3)
    info(s"candidate pairs on $n2 docs: 32/16 r=2 → $cand2, 30/10 r=3 → $cand3")
    // measured sf0.001: 440 → 249 (1.8×); the gap widens with corpus
    // size because r=2 admits the (quadratically-growing) j≈0.3–0.5
    // mass — the ratio at sf0.1 is the SCALING.md figure. Here we pin
    // the direction so a re-tune back toward r=2 volume fails loudly.
    assert(cand3 < cand2,
      s"30/10 must cut candidate volume vs 32/16 (got $cand2 → $cand3)")
  }

  test("recall-radius simhash is the wrong blocker for a correlated corpus; minhash r=3 is 100x+ cheaper") {
    // measured sf0.001: radius-7 (the radius 64-bit simhash NEEDS for
    // j≥0.9 recall, expected hamming ≈ 6.5) yields 69 592 of 124 750
    // possible pairs — 56% of all-pairs, i.e. blocking has collapsed
    // on the 31-word-vocab corpus — while MinHash-LSH 30/10 on the
    // SAME corpus needs ~249 candidates. This is the documented
    // reason the near-dup default is minhash, and simhash_fast's
    // agree harness runs on a bounded slice.
    val r = Dedup.simhashCandidateStats(docs, "id", "text", maxHamming = 7)
      .collect()(0)
    val n      = r.getAs[Long]("n_docs")
    val candSh = r.getAs[Long]("candidate_pairs")
    val mx     = r.getAs[Long]("max_bucket")
    val (_, candMh, _) = stats(30, 10)
    info(s"simhash radius 7: $n docs, $candSh candidate pairs, max bucket $mx")
    info(s"minhash 30/10 on the same corpus: $candMh candidate pairs")
    assert(candSh < n * (n - 1) / 2, "sanity: below all-pairs")
    assert(candMh * 100 < candSh,
      s"minhash blocking should be ≥100x cheaper here (simhash $candSh vs minhash $candMh)")
  }

  test("PassJoin blocking prices far below all-pairs on the real corpus") {
    // the same measure-before-you-run discipline for the edit-distance
    // join: 40-char prefixes + planted deletions (the x_editdist_join
    // corpus shape)
    val t = docs.select(col("id"), substring(col("text"), 1, 40).as("s"))
    val planted = t.filter(col("id") < 25)
      .select((col("id") + 20000).as("id"),
        concat(substring(col("s"), 1, 9), substring(col("s"), 11, 40)).as("s"))
    val corpus = t.unionByName(planted)
    val n = corpus.count()
    val r = Dedup.editDistanceCandidateStats(corpus, "id", "s").collect()(0)
    val (rows, pairs) = (r.getAs[Long]("candidate_rows"), r.getAs[Long]("candidate_pairs"))
    val allPairs = n * (n - 1) / 2
    info(s"PassJoin on $n strings: $rows candidate rows, $pairs distinct pairs vs $allPairs all-pairs")
    assert(pairs * 4 < allPairs,
      s"blocking should prune ≥75% of all-pairs here ($pairs vs $allPairs)")
  }

  test("substring-dedup audit prices window volume and the planted-boilerplate hot fingerprint") {
    import graft.ops.CorpusOps
    import org.apache.spark.sql.functions.{concat, lit, pmod, when, col => c}
    val header = "hh1 hh2 hh3 hh4 hh5 hh6 hh7 hh8"
    val planted = docs.select(c("id"),
      when(pmod(c("id"), lit(4)) === 0, concat(lit(header + " "), c("text")))
        .otherwise(c("text")).as("text"))
    val r = CorpusOps.substringDupStats(planted, "id", "text", window = 8).collect()(0)
    val (nWin, nFp, nDupFp, nCut, maxC) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(nWin > 0 && nFp <= nWin)
    assert(nWin - nFp === nCut, "cut occurrences must equal windows minus distinct fingerprints")
    // the planted header is one window shared by every 4th doc — the
    // audit must surface it as (at least) the hot fingerprint
    val carriers = planted.filter(pmod(c("id"), lit(4)) === 0).count()
    assert(maxC >= carriers, s"hot fingerprint count $maxC < planted carriers $carriers")
    assert(nDupFp >= 1 && nCut >= carriers - 1)
  }

  test("broadcast-gate fallback: genuinely shuffle-joined probe matches the hinted path, timings measured") {
    // the nobc bench row (x_dedup_canon_inc_nobc) measures cap=0 under
    // AQE, which at bench SF still CONVERGES to runtime broadcasts
    // (that is the graceful-degradation contract). This probe measures
    // the fully-degraded shape — cap=0 AND autoBroadcastJoinThreshold
    //=-1, so every probe join is forced to sort-merge, the plan a
    // month-scale increment whose pruned slice overflows memory gets —
    // and pins output equality plus the plan shape, with both paths'
    // timings in the test report (the r15 verdict's "measured shape,
    // not just an equality proof").
    import graft.ops.Dedup
    val ref = docs.filter(pmod(col("id"), lit(3)) === 0)
      .select(col("id").as("doc_id"), col("text"))
    val inc = docs.filter(pmod(col("id"), lit(3)) =!= 0)
      .select(col("id").as("doc_id"), col("text"))
    val path = java.nio.file.Files.createTempDirectory("bcfall").toString
    Dedup.writeCanonIndex(ref, "doc_id", "text", path)
    def timed(body: => Array[org.apache.spark.sql.Row]): (Array[org.apache.spark.sql.Row], Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val (hinted, tHint) = timed {
      Dedup.canonDedupWithIndex(spark, path, inc, "doc_id", "text").collect()
    }
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Dedup.canonDedupWithIndex(spark, path, inc, "doc_id", "text",
        broadcastMaxBytes = 0L)
      val (degraded, tShuf) = timed(df.collect())
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        "degraded path still broadcast-joins — the gate fallback is not exercising shuffle joins")
      assert(plan.contains("SortMergeJoin"),
        s"expected sort-merge joins in the degraded plan:\n${plan.take(2000)}")
      assert(degraded.map(_.toSeq).sortBy(_.toString).toSeq
        === hinted.map(_.toSeq).sortBy(_.toString).toSeq,
        "degraded shuffle-join probe diverged from the hinted probe")
      info(f"hinted probe: $tHint%.2f s; fully-degraded (sort-merge) probe: $tShuf%.2f s on ${inc.count()} increment docs")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
  }

  test("probeCandidateStats prices the persistent-index probe's exact pre-verify join volume") {
    // r18 verdict task 3's instrument: the audit's candidate_pairs
    // must equal the row count the probe's (band, bucket) equi-join
    // ACTUALLY emits before the est-jaccard verify — measured here by
    // running that join raw against the same index files
    val base = docs
    val appended = base.filter(col("id") < 15)
      .select((col("id") + 20000).as("id"), concat(col("text"), lit(" qq ww")).as("text"))
    val fresh = base.filter(col("id") < 25)
      .select((col("id") + 10000).as("id"), concat(col("text"), lit(" zz yy")).as("text"))
    val path = java.nio.file.Files.createTempDirectory("probe-audit").toString + "/idx"
    Dedup.writeMinhashIndexMd5(base, "id", "text", path)
    Dedup.appendToMinhashIndex(appended, "id", "text", path)
    graft.ops.Scale.compactIndex(spark, path): Unit
    val r = Dedup.probeCandidateStats(spark, path, fresh, "id", "text").collect()(0)
    // truth reads the LIVE file set, as the probe does — a raw
    // directory read would resurrect the compaction-doomed duplicates
    // the _GARBAGE manifest excludes (measured: exactly 2x here)
    val truth = graft.ops.Scale.readLive(spark, path).as("a")
      .join(Dedup.bandedSigsMd5(fresh, "id", "text", 3, 12, 4).as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .count()
    assert(r.getAs[Long]("candidate_pairs") === truth,
      s"audit says ${r.getAs[Long]("candidate_pairs")} pre-verify candidates; the raw join emits $truth")
    assert(r.getAs[Long]("n_probe_rows") === fresh.count())
    assert(r.getAs[Long]("cells_touched") > 0 &&
      r.getAs[Long]("max_cell_pairs") <= r.getAs[Long]("candidate_pairs"))
  }

  test("bucketCap drops only oversized buckets' candidates") {
    // planted corpus: 25 exact-ish copies land in shared buckets; a
    // cap of 1 kills every multi-member bucket → zero pairs, while the
    // uncapped run finds the planted near-dups
    val planted = docs.unionByName(
      docs.filter(col("id") < 25)
        .select((col("id") + 10000).as("id"), concat(col("text"), lit(" zz yy")).as("text")))
    val uncapped = Dedup.minhashLshPairs(planted, "id", "text",
      w = 3, numHashes = 30, bands = 10, threshold = 0.5)
    val capped = Dedup.minhashLshPairs(planted, "id", "text",
      w = 3, numHashes = 30, bands = 10, threshold = 0.5, bucketCap = 1)
    assert(uncapped.count() > 0)
    assert(capped.count() === 0)
  }
}
