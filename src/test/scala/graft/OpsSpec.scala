package graft

import graft.ops.{Dedup, KpiPost, Multimodal, Relevance, Similarity, TextAnalysis}
import graft.scorer.{MockQaScorer, MockRelevanceScorer, QaCandidate}

import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "the quick brown fox jumps over the lazy dog tonight indeed"), // near-dup of 1
    (3L, "completely different words about spark query planning engines"),
    (4L, "the quick brown fox jumps over the lazy dog tonight")         // exact dup of 1
  ).toDF("id", "text")

  test("dedupKeepFirst is deterministic") {
    val df = Seq((1, "a", 10), (1, "a", 5), (1, "b", 7)).toDF("k", "g", "v")
    val out = Dedup.dedupKeepFirst(df, Seq("k", "g"), Seq(col("v").asc))
      .orderBy("g").collect().map(r => (r.getString(1), r.getInt(2)))
    assert(out === Array(("a", 5), ("b", 7)))
  }

  test("exactByContent groups identical texts") {
    val out = Dedup.exactByContent(docs, "id", "text").collect()
    assert(out.length === 3)
    val dup = out.find(_.getLong(2) === 2L).get
    assert(dup.getLong(1) === 1L) // keep_id = min id
  }

  test("jaccardPairs finds the near-dup pair and not the unrelated one") {
    val pairs = Dedup.jaccardPairs(docs.filter(col("id") < 4), "id", "text", w = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs === Array((1L, 2L)))
  }

  test("jaccardPairs dfCap drops hot-shingle candidates, keeps true near-dups") {
    // 40 unrelated docs that all share one boilerplate header (a hot
    // shingle run), plus one true near-dup pair that shares real body
    val boiler = "standard corporate disclaimer header text"
    val hotDocs = (10L until 50L).map(i =>
      (i, s"$boiler unique$i body$i words$i only$i here$i now$i"))
    val pairDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa extra"))
    val corpus = (hotDocs ++ pairDocs).toDF("id", "text")
    // uncapped: the boilerplate alone pulls 40·39/2 = 780 candidate
    // pairs through the join (none survive the threshold, but the
    // candidate volume is the 100 TB killer)
    val uncappedCand = Dedup.jaccardPairs(corpus, "id", "text", w = 3, threshold = 0.0)
    assert(uncappedCand.count() >= 780)
    // capped: hot shingles (df=40 > 8) leave the index entirely, so
    // boilerplate-only pairs never become candidates at any threshold
    val capped = Dedup.jaccardPairs(corpus, "id", "text", w = 3, threshold = 0.0, dfCap = 8)
    val cappedPairs = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cappedPairs === Set((1L, 2L)))
    // and the surviving pair is the true near-dup at full strength
    val strong = Dedup.jaccardPairs(corpus, "id", "text", w = 3, threshold = 0.5, dfCap = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(strong === Array((1L, 2L)))
  }

  test("df-cap applies BEFORE the (sh) exchange: the materialized index never carries the hot partition") {
    // 200 docs all sharing a boilerplate trigram (df=200 >> cap): under
    // a cap-after-exchange layout the (sh) stage would materialize one
    // 200-row partition for that shingle; capped-before, every shingle
    // in the exchanged stage has df <= cap, so no partition can exceed
    // cap * (shingles per partition) concentration
    val hot = (0L until 200L).map(i =>
      (i, s"standard corporate disclaimer unique$i body$i words$i here$i")).toDF("id", "text")
    val idx = Dedup.cappedShingleIndex(hot, "id", "text", w = 3, dfCap = 8)
    // the hot shingle is gone from the materialized stage entirely
    val dfs = idx.groupBy("sh").count()
    assert(dfs.agg(max("count")).head().getLong(0) <= 8)
    // and the plan orders the anti-join BELOW the (sh) exchange
    val plan = idx.queryExecution.executedPlan.toString
    val exIdx  = plan.indexOf("Exchange hashpartitioning(sh")
    val antiIdx = plan.indexOf("LeftAnti")
    assert(exIdx >= 0 && antiIdx >= 0 && exIdx < antiIdx,
      s"anti-join must sit below the (sh) exchange:\n$plan")
    // (no partition-occupancy assertion: AQE coalesces this tiny
    // exchange to one partition at test scale — the two checks above
    // are the invariants that imply no hot partition can form: every
    // surviving shingle has df <= cap, and the drop happens below the
    // exchange)
  }

  test("engaged default caps degrade a pathological bucket loudly, not quadratically") {
    // 5000 identical docs = one giant mutual-dup cluster: with the
    // DEFAULT arguments every LSH band bucket holds all 5000
    // (> DefaultBucketCap = 4096), so candidate generation drops them
    // — 12.5M·bands candidate pairs never reach the join (a cluster
    // like this is boilerplate; exact dedup collapses it far cheaper)
    // — while the genuine near-dup pair outside the cluster survives.
    val boiler = (0L until 5000L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog again and again tonight"))
    val pairDocs = Seq(
      (90001L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (90002L, "alpha beta gamma delta epsilon zeta eta theta iota kappa extra"))
    val corpus = (boiler ++ pairDocs).toDF("id", "text")

    val lsh = Dedup.minhashLshPairs(corpus, "id", "text", w = 3, numHashes = 12, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(lsh === Array((90001L, 90002L)))
    // the audit frame names what the cap dropped: one 5000-member
    // bucket per band
    val dropped = Dedup.lshDroppedBuckets(corpus, "id", "text", w = 3, numHashes = 12, bands = 4)
      .collect().map(r => r.getLong(2))
    assert(dropped.length === 4 && dropped.forall(_ === 5000L))

    // same corpus through the shingle-index path: every boilerplate
    // shingle has df=5000 > DefaultDfCap, so the cluster leaves the
    // inverted index entirely under DEFAULT arguments
    val jac = Dedup.jaccardPairs(corpus, "id", "text", w = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(jac === Array((90001L, 90002L)))
    val hot = Dedup.hotShingles(corpus, "id", "text", w = 3).collect()
    assert(hot.nonEmpty && hot.forall(_.getLong(1) === 5000L))
  }

  test("minhash est_jaccard approximates true jaccard for planted dup") {
    val out = Dedup.minhashLshPairsMd5(docs, "id", "text", w = 3, numHashes = 12, bands = 4, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val exact = out.find(p => p._1 == 1L && p._2 == 4L)
    assert(exact.exists(_._3 === 1.0)) // identical docs → identical signature
    assert(out.exists(p => p._1 == 1L && p._2 == 2L && p._3 > 0.4))
  }

  test("persistent LSH index probe ≡ batch LSH restricted to (base × new)") {
    import org.apache.spark.sql.functions.{col, lit, concat}
    val base  = GraftSession.table(spark, sf, "documents")
      .select(col("doc_id").as("id"), col("text"))
    val fresh = base.filter(col("id") < 10)
      .select((col("id") + 5000).as("id"), concat(col("text"), lit(" zz")).as("text"))
    val path = java.nio.file.Files.createTempDirectory("lsh-index-spec").toString
    Dedup.writeMinhashIndexMd5(base, "id", "text", path)
    // the PLAN variant: the public probe materializes exactly this
    // plan (reader-safe retry), and plan-shape asserts need the lazy
    // frame — value equality below is unchanged either way
    val probeDf = Dedup.probeMinhashIndexMd5Plan(spark, path, fresh, "id", "text")
    val probed = probeDf
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(probeDf.queryExecution.executedPlan.toString.contains("dynamicpruning"),
      "LSH probe lost dynamic partition pruning on the band-partitioned index scan")
    // ground truth: batch LSH over base ∪ new, keep only cross-side pairs
    val batch = Dedup.minhashLshPairsMd5(base.unionByName(fresh), "id", "text")
      .filter(col("id_a") < 5000 && col("id_b") >= 5000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(probed === batch)
    assert(probed.nonEmpty, "planted variants must probe-hit or the test is vacuous")
    // index layout: one directory per band
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("band=")).toSeq
    assert(dirs.sorted === Seq("band=0", "band=1", "band=2", "band=3"))
  }

  test("LSH index probe-after-append ≡ rebuilt-index probe") {
    import org.apache.spark.sql.functions.{col, lit, concat}
    val base = GraftSession.table(spark, sf, "documents")
      .select(col("doc_id").as("id"), col("text"))
    val inc = base.filter(col("id") < 10)
      .select((col("id") + 5000).as("id"), concat(col("text"), lit(" zz")).as("text"))
    // probes are variants of BASE docs, so they hit both the original
    // index rows and (via near-identity) the appended increment
    val probes = base.filter(col("id") < 10)
      .select((col("id") + 9000).as("id"), concat(col("text"), lit(" qq")).as("text"))
    val pathA = java.nio.file.Files.createTempDirectory("lsh-append").toString
    Dedup.writeMinhashIndexMd5(base, "id", "text", pathA)
    Dedup.appendToMinhashIndex(inc, "id", "text", pathA)
    val pathR = java.nio.file.Files.createTempDirectory("lsh-rebuild").toString
    Dedup.writeMinhashIndexMd5(base.unionByName(inc), "id", "text", pathR)
    def probe(p: String) = Dedup.probeMinhashIndexMd5(spark, p, probes, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val appended = probe(pathA)
    assert(appended === probe(pathR))
    assert(appended.exists(_._1 >= 5000), "appended docs never hit — vacuous append")
  }

  test("LSH index probe-after-COMPACT ≡ probe (maintenance loop closes)") {
    // the steady-state crawl loop is probe → append → (eventually)
    // compact; appends fragment the band= partitions, and compaction
    // must be invisible to the probe
    import org.apache.spark.sql.functions.{col, lit, concat}
    val base = GraftSession.table(spark, sf, "documents")
      .select(col("doc_id").as("id"), col("text"))
    val probes = base.filter(col("id") < 10)
      .select((col("id") + 9000).as("id"), concat(col("text"), lit(" qq")).as("text"))
    val path = java.nio.file.Files.createTempDirectory("lsh-compact").toString
    Dedup.writeMinhashIndexMd5(base, "id", "text", path)
    // fragment the index with several small appends
    (0 until 3).foreach { i =>
      val inc = base.filter(col("id") < 5)
        .select((col("id") + 5000 + i * 100).as("id"),
          concat(col("text"), lit(s" zz$i")).as("text"))
      Dedup.appendToMinhashIndex(inc, "id", "text", path)
    }
    def probe() = Dedup.probeMinhashIndexMd5(spark, path, probes, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val before = probe()
    val stats  = graft.ops.Scale.compact(spark, path, targetBytes = 1L << 30)
    assert(stats.nonEmpty, "appends must fragment at least one band dir")
    assert(stats.forall(st => st.filesAfter < st.filesBefore))
    assert(probe() === before)
    assert(before.exists(_._1 >= 5000), "appended docs never hit — vacuous")
  }

  test("sign-plane index probe-after-append ≡ rebuilt-index probe") {
    import org.apache.spark.sql.functions.{col, lit, transform}
    val base = GraftSession.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val inc = base.filter(col("vec_id") < 10)
      .select((col("vec_id") + 5000).as("vec_id"),
        transform(col("embedding"), x => (x * lit(2.0f)).cast("float")).as("embedding"))
    val probes = base.filter(col("vec_id") < 10)
      .select((col("vec_id") + 9000).as("vec_id"),
        transform(col("embedding"), x => (x * lit(3.0f)).cast("float")).as("embedding"))
    val pathA = java.nio.file.Files.createTempDirectory("sp-append").toString
    Dedup.writeSignPlaneIndex(base, "vec_id", "embedding", pathA)
    Dedup.appendToSignPlaneIndex(inc, "vec_id", "embedding", pathA)
    val pathR = java.nio.file.Files.createTempDirectory("sp-rebuild").toString
    Dedup.writeSignPlaneIndex(base.unionByName(inc), "vec_id", "embedding", pathR)
    def probe(p: String) = Dedup.probeSignPlaneIndex(spark, p, probes, "vec_id", "embedding", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val appended = probe(pathA)
    assert(appended === probe(pathR))
    assert(appended.exists(_._1 >= 5000), "appended embeddings never hit — vacuous append")
  }

  test("persistent sign-plane index probe ≡ batch cosine pairs restricted to (base × new)") {
    import org.apache.spark.sql.functions.{col, lit, transform}
    val base = GraftSession.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val fresh = base.filter(col("vec_id") < 10)
      .select((col("vec_id") + 5000).as("vec_id"),
        transform(col("embedding"), x => (x * lit(2.0f)).cast("float")).as("embedding"))
    val path = java.nio.file.Files.createTempDirectory("sp-index-spec").toString
    Dedup.writeSignPlaneIndex(base, "vec_id", "embedding", path)
    val probeDf = Dedup.probeSignPlaneIndexPlan(spark, path, fresh, "vec_id", "embedding", 0.99)
    val probed = probeDf
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the probe must partition-prune the index by bucket — the
    // layout's whole point. METRIC-proven, not string-proven: the
    // round-9 finding was that asserting "dynamicpruning" in the plan
    // also matches the DISABLED dynamicpruningexpression(true)
    // fallback AQE leaves behind when it can't reuse the probe-side
    // broadcast (measured: 16/16 buckets scanned). Batch probes now
    // pin a static IN-list of probed buckets.
    val partitioned = fileScans(probeDf.queryExecution.executedPlan)
      .filter(_.relation.partitionSchema.nonEmpty)
    assert(partitioned.nonEmpty, "no partitioned scan in the sign-plane probe plan")
    val bucketsRead  = partitioned.head.metrics("numPartitions").value
    val bucketsTotal = partitioned.head.relation.location.listFiles(Nil, Nil).size
    assert(bucketsRead > 0 && bucketsRead < bucketsTotal,
      s"probe read $bucketsRead of $bucketsTotal buckets — static bucket pruning lost")
    // ground truth: batch sign-plane pairs over base ∪ new, cross-side only
    val batch = Dedup.embeddingNearDupPairs(base.unionByName(fresh), "vec_id", "embedding", 0.99)
      .filter(col("id_a") < 5000 && col("id_b") >= 5000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(probed === batch)
    assert(probed.nonEmpty, "planted colinear copies must probe-hit or the test is vacuous")
    // index layout: one directory per live sign bucket, probe prunes to it
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("bucket=")).toSeq
    assert(dirs.nonEmpty)
  }

  test("banded sign-plane index: probe ≡ batch banded pairs cross-side, cells pruned, append law") {
    val base = GraftSession.table(spark, sf, "embeddings").select(col("vec_id"), col("embedding"))
    val fresh = base.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => (x * lit(2.0f)).cast("float")).as("embedding"))
    val path = java.nio.file.Files.createTempDirectory("spb-idx").toString
    // build from one half, append the other — probe must equal a
    // rebuilt-index probe, i.e. batch banded pairs restricted cross-side
    val banded = Dedup.SignPlaneLayout.Banded(3)
    Dedup.writeSignPlaneIndex(base.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", path,
      layout = banded)
    Dedup.appendToSignPlaneIndex(base.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", path,
      layout = banded)
    val probeDf = Dedup.probeSignPlaneIndexPlan(spark, path, fresh, "vec_id", "embedding", 0.99,
      layout = banded)
    val probed = probeDf.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // metric-proven cell pruning (populated by the execution above)
    val partitioned = fileScans(probeDf.queryExecution.executedPlan)
      .filter(_.relation.partitionSchema.nonEmpty)
    assert(partitioned.nonEmpty, "no partitioned scan in the banded probe plan")
    val cellsRead  = partitioned.head.metrics("numPartitions").value
    val cellsTotal = partitioned.head.relation.location.listFiles(Nil, Nil).size
    assert(cellsRead > 0 && cellsRead < cellsTotal,
      s"probe read $cellsRead of $cellsTotal (band, bucket) cells — static cell pruning lost")
    // index layout: band=<k> directories, each holding bucket=<b> ones
    val bandDirs = new java.io.File(path).listFiles().filter(_.isDirectory).toSeq
    assert(bandDirs.nonEmpty && bandDirs.forall(_.getName.startsWith("band=")))
    assert(bandDirs.forall(_.listFiles().filter(_.isDirectory).forall(_.getName.startsWith("bucket="))))
    val batch = Dedup.embeddingNearDupPairs(
        base.unionByName(fresh), "vec_id", "embedding", 0.99, layout = banded)
      .filter(col("id_a") < 100000 && col("id_b") >= 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(probed === batch)
    assert(probed.nonEmpty, "planted colinear copies must probe-hit or the test is vacuous")
  }

  test("banded sign-plane blocking: superset of single-band recall, all planted pairs, no false scores") {
    val e = GraftSession.table(spark, sf, "embeddings").select(col("vec_id"), col("embedding"))
    val planted = e.unionByName(e.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => (x * lit(2.0f)).cast("float")).as("embedding")))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val single = pairs(Dedup.embeddingNearDupPairs(planted, "vec_id", "embedding", 0.99, planes = 4))
    val banded = pairs(Dedup.embeddingNearDupPairs(planted, "vec_id", "embedding", 0.99,
      planes = 4, layout = Dedup.SignPlaneLayout.Banded(3)))
    // band 0 IS the single-band blocking → OR-amplification can only add
    assert(single.subsetOf(banded),
      s"banded lost single-band pairs: ${single.diff(banded).take(3)}")
    // colinear planted copies agree on every sign → found by every band
    for (i <- 0L until 20L)
      assert(banded.exists(p => p._1 == i && p._2 == i + 100000),
        s"planted colinear pair $i missing from banded candidates")
    // every emitted pair clears the threshold and appears exactly once
    assert(banded.forall(_._3 >= 0.99))
    val keys = banded.toSeq.map(p => (p._1, p._2))
    assert(keys.distinct.size === keys.size, "multi-band match not collapsed by distinct")
    // short vectors (dim < planes·bands) must DEGRADE, not throw: the
    // out-of-range components read as sign 0 (try_element_at → NULL →
    // otherwise 0) — ANSI element_at would kill the job here, and the
    // DuckDB oracle's embedding[i] → NULL → ELSE 0 matches
    val short = Seq((1L, Array(1.0f, -1.0f, 1.0f, 1.0f, 2.0f, 2.0f, 2.0f, 2.0f)),
        (2L, Array(2.0f, -2.0f, 2.0f, 2.0f, 4.0f, 4.0f, 4.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val shortPairs = Dedup.embeddingNearDupPairs(short, "vec_id", "embedding", 0.99,
        planes = 4, layout = Dedup.SignPlaneLayout.Banded(3))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(shortPairs === Set((1L, 2L)), "8-dim colinear pair must survive 4×3 banding")
  }

  test("flat sign-plane layout reads short vectors as sign 0: miner and write+probe find the pair") {
    // 2-component vectors at planes = 4: components 3 and 4 do not
    // exist. ANSI element_at throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT
    // there; the projection must read them as sign 0 instead, as the
    // banded layout and the DuckDB oracle do
    val short = Seq((1L, Array(1.0f, -2.0f)), (2L, Array(2.0f, -4.0f)), (3L, Array(-1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(Dedup.embeddingNearDupPairs(short, "vec_id", "embedding", 0.99, planes = 4)) ===
      Set((1L, 2L)))
    val path = java.nio.file.Files.createTempDirectory("sp-short").toString + "/idx"
    Dedup.writeSignPlaneIndex(short.filter(col("vec_id") === 1L), "vec_id", "embedding", path, planes = 4)
    assert(pairs(Dedup.probeSignPlaneIndex(spark, path, short.filter(col("vec_id") =!= 1L),
      "vec_id", "embedding", 0.99, planes = 4)) === Set((1L, 2L)))
  }

  test("sign-plane append and probe refuse a layout the index was not written with") {
    val e = GraftSession.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 50)
    val banded = Dedup.SignPlaneLayout.Banded(3)
    val flatPath = java.nio.file.Files.createTempDirectory("sp-flat").toString + "/idx"
    val bandedPath = java.nio.file.Files.createTempDirectory("sp-banded").toString + "/idx"
    Dedup.writeSignPlaneIndex(e, "vec_id", "embedding", flatPath)
    Dedup.writeSignPlaneIndex(e, "vec_id", "embedding", bandedPath, layout = banded)
    def refused(body: => Any): Unit = {
      val err = intercept[IllegalStateException](body)
      assert(err.getMessage.contains("SIGNPLANE_LAYOUT_MISMATCH"), err.getMessage)
    }
    // a flat index, called banded
    refused(Dedup.appendToSignPlaneIndex(e, "vec_id", "embedding", flatPath, layout = banded))
    refused(Dedup.probeSignPlaneIndex(spark, flatPath, e, "vec_id", "embedding", 0.99, layout = banded))
    // a banded index, called flat
    refused(Dedup.appendToSignPlaneIndex(e, "vec_id", "embedding", bandedPath))
    refused(Dedup.probeSignPlaneIndex(spark, bandedPath, e, "vec_id", "embedding", 0.99))
    // refused before writing: each root still holds only its own layout
    def tops(p: String) = new java.io.File(p).listFiles().filter(_.isDirectory)
      .map(_.getName.takeWhile(_ != '=')).toSet
    assert(tops(flatPath) === Set("bucket"))
    assert(tops(bandedPath) === Set("band"))
    // the matching layout still probes: every vector finds itself
    val self = Dedup.probeSignPlaneIndex(spark, bandedPath, e, "vec_id", "embedding", 0.99, layout = banded)
      .filter(col("id_a") === col("id_b"))
    assert(self.count() === e.count())
  }

  test("zipfSurprisal: rank magnitudes exact, OOV bucket total, fluent < gibberish") {
    import graft.ops.TextAnalysis
    // reference: 'the' dominates (rank 1), 'cat' second, 'sat' third
    val ref = Seq((1L, "the the the the cat cat sat")).toDF("id", "text")
    val d = Seq(
      (1L, "the the the the"),     // all rank-1 → surprisal 1 per token
      (2L, "cat sat"),             // ranks 2,3 → bin lengths 2,2
      (3L, "zzzz qqqq wwww")       // all OOV → rank topV+1 = 9 → bin length 4
    ).toDF("id", "text")
    val out = TextAnalysis.zipfSurprisal(d, "id", "text", ref, "text", topV = 8)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("surprisal_sum") === 4L)   // 4 × ⌊log2 1⌋+1
    assert(out(0).getAs[Double]("mean_surprisal") === 1.0)
    assert(out(1).getAs[Long]("surprisal_sum") === 4L)   // bin(2)=10, bin(3)=11
    assert(out(2).getAs[Long]("surprisal_sum") === 12L)  // 3 × len(bin(9))=4
    // the quality signal: fluent text under the reference scores
    // strictly below gibberish
    assert(out(0).getAs[Double]("mean_surprisal") < out(2).getAs[Double]("mean_surprisal"))
    // vocabulary cutoff: with topV=1 only 'the' is in-vocab, 'cat'
    // joins the OOV bucket at rank 2 → len(bin(2)) = 2
    val cut = TextAnalysis.zipfSurprisal(
      Seq((1L, "cat")).toDF("id", "text"), "id", "text", ref, "text", topV = 1)
      .collect()(0)
    assert(cut.getAs[Long]("surprisal_sum") === 2L)
  }

  test("bigramSurprisal laws: flat OOV cost, minCount prune engages, ctx pre-prune, certain=1 bit") {
    import graft.ops.TextAnalysis
    // reference transitions: (a,b)=2 (b,a)=2 (a,c)=1 (c,a)=1 (a,d)=1;
    // ctx(a)=4 ctx(b)=2 ctx(c)=1 — and no transition ever leaves d
    val ref = Seq((1L, "a b a b a c a d")).toDF("id", "text")
    def score(text: String, oovBits: Int = 16, minCount: Long = 2L): Option[Long] =
      TextAnalysis.bigramSurprisal(
        Seq((1L, text)).toDF("id", "text"), "id", "text", ref, "text", oovBits, minCount)
        .collect().headOption.map(_.getAs[Long]("surprisal_sum"))
    // ctx is counted BEFORE the prune: a→b costs len(bin(4))−len(bin(2))+1
    // = 2; a post-prune ctx(a)=2 would collapse it to the certain cost 1
    assert(score("a b") === Some(2L))
    // a certain transition (c = ctx: every b goes to a) still costs 1 bit
    assert(score("b a") === Some(1L))
    // minCount=2 prunes the singletons (a,c)/(c,a) → they pay the flat
    // OOV cost, exactly like the truly unseen (d,a); at minCount=1 they
    // score from counts again (a→c: len(bin(4))−len(bin(1))+1 = 3)
    assert(score("a c") === Some(16L))
    assert(score("c a") === Some(16L))
    assert(score("d a") === Some(16L))
    assert(score("a c", minCount = 1L) === Some(3L))
    // oovBits is the flat backoff ceiling, not a hardcoded 16
    assert(score("d a", oovBits = 5) === Some(5L))
    // < 2 tokens → no transitions → no row (not a zero row)
    assert(score("a") === None)
    // persisted counts are the same model: writeBigramCounts →
    // scoreWithBigramCounts reproduces the one-shot scoring exactly
    val path = java.nio.file.Files.createTempDirectory("bigram-rt").toString
    TextAnalysis.writeBigramCounts(ref, "text", path, oovBits = 16, minCount = 2L)
    val docs = Seq((1L, "a b"), (2L, "b a"), (3L, "a c x y")).toDF("id", "text")
    val oneShot = TextAnalysis.bigramSurprisal(docs, "id", "text", ref, "text", 16, 2L)
      .orderBy("doc_id").collect().map(_.toSeq)
    val persisted = TextAnalysis.scoreWithBigramCounts(spark, path, docs, "id", "text")
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(oneShot.toSeq === persisted.toSeq)
  }

  test("backoffSurprisal rungs: bigram hit < backed-off rare word < OOV mash, counts exact") {
    import graft.ops.TextAnalysis
    // ref "a b a b a c a d": bigrams (a,b)=2 (b,a)=2, singletons pruned
    // at minCount=2; unigrams a=4 b=2 (c,d pruned), T=8
    val ref = Seq((1L, "a b a b a c a d")).toDF("id", "text")
    def row(text: String) = TextAnalysis.backoffSurprisal(
      Seq((1L, text)).toDF("id", "text"), "id", "text", ref, "text",
      oovBits = 16, minCount = 2L, backoffBits = 2).collect()(0)
    // bigram rung: len(bin(4))−len(bin(2))+1 = 2
    assert(row("a b").getAs[Long]("surprisal_sum") === 2L)
    // backoff rung: (c,a) pruned but a is in-vocab →
    // 2 + len(bin(8))−len(bin(4))+1 = 4; cheaper than OOV
    val backed = row("c a")
    assert(backed.getAs[Long]("surprisal_sum") === 4L)
    assert(backed.getAs[Long]("n_backoff") === 1L && backed.getAs[Long]("n_oov") === 0L)
    // never-seen transition into an in-vocab rarer word: 2+4−2+1 = 5
    assert(row("x b").getAs[Long]("surprisal_sum") === 5L)
    // OOV rung: transition AND word unknown → the flat 16-bit ceiling
    assert(row("a x").getAs[Long]("surprisal_sum") === 16L)
    // a pruned word (c) is OUT of vocabulary, same as never-seen
    assert(row("a c").getAs[Long]("surprisal_sum") === 16L)
    // a mixed doc sums the rungs: (c,a)=4 + (a,x)=16 + (x,b)=5
    val mixed = row("c a x b")
    assert(mixed.getAs[Long]("n_bigrams") === 3L)
    assert(mixed.getAs[Long]("n_backoff") === 2L)
    assert(mixed.getAs[Long]("n_oov") === 1L)
    assert(mixed.getAs[Long]("surprisal_sum") === 25L)
    assert(mixed.getAs[Double]("mean_surprisal") === 8.3333)
    // persisted model is the same model: writeBackoffModel →
    // scoreWithBackoffModel reproduces the one-shot scoring exactly
    // (incl. the calibration scalars travelling in meta)
    val path = java.nio.file.Files.createTempDirectory("backoff-rt").toString
    TextAnalysis.writeBackoffModel(ref, "text", path,
      oovBits = 16, minCount = 2L, backoffBits = 2)
    val docs = Seq((1L, "a b"), (2L, "c a"), (3L, "c a x b")).toDF("id", "text")
    val oneShot = TextAnalysis.backoffSurprisal(docs, "id", "text", ref, "text", 16, 2L, 2)
      .orderBy("doc_id").collect().map(_.toSeq)
    val persisted = TextAnalysis.scoreWithBackoffModel(spark, path, docs, "id", "text")
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(oneShot.toSeq === persisted.toSeq)
  }

  test("nbQualityScore: exact log-odds bits, vocab prune neutral, class-absent pays OOV") {
    import graft.ops.TextAnalysis
    // pos "a a b" / neg "a c c c": T_pos=3 T_neg=4; a(2,1) b(1,0) c(0,3);
    // minCount=2 prunes b (total 1)
    val ref = Seq(("a a b", true), ("a c c c", false)).toDF("text", "is_pos")
    def row(text: String) = TextAnalysis.nbQualityScore(
      Seq((1L, text)).toDF("id", "text"), "id", "text", ref, "text", "is_pos",
      oovBits = 16, minCount = 2L).collect()(0)
    // a: cost_pos = len(bin(3))−len(bin(2))+1 = 1, cost_neg = len(bin(4))
    // −len(bin(1))+1 = 3 → +2 per token (positive-like)
    val aa = row("a a")
    assert(aa.getAs[Long]("score_bits") === 4L)
    assert(aa.getAs[Double]("mean_score") === 2.0)
    // c: absent from pos → flat 16; cost_neg = 3−2+1 = 2 → 2−16 = −14
    assert(row("c").getAs[Long]("score_bits") === -14L)
    // pruned (b) and unseen (x) words cost the same in both classes →
    // contribute exactly 0 — the prune never biases the ratio
    val bx = row("b x")
    assert(bx.getAs[Long]("score_bits") === 0L)
    assert(bx.getAs[Long]("n_tokens") === 2L)
    // mixed doc sums per-token contributions: a(+2) + c(−14)
    assert(row("a c").getAs[Long]("score_bits") === -12L)
    // persisted classifier is the same model
    val path = java.nio.file.Files.createTempDirectory("nb-rt").toString
    TextAnalysis.writeNbModel(ref, "text", "is_pos", path, oovBits = 16, minCount = 2L)
    val docs = Seq((1L, "a a"), (2L, "c"), (3L, "a c b x")).toDF("id", "text")
    val oneShot = TextAnalysis.nbQualityScore(docs, "id", "text", ref, "text", "is_pos", 16, 2L)
      .orderBy("doc_id").collect().map(_.toSeq)
    val persisted = TextAnalysis.scoreWithNbModel(spark, path, docs, "id", "text")
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(oneShot.toSeq === persisted.toSeq)
  }

  test("knSurprisal: exact interpolated fraction, continuation rung, prune fall-through, OOV") {
    import graft.ops.TextAnalysis
    // ref "a b c b a b x b": bigrams (a,b)x2, (b,c) (c,b) (b,a) (b,x)
    // (x,b) x1 → b_types=6; pruned at minCount=2: bc={(a,b)c=2};
    // cc pre-prune: a(ctx=2,n1p=1) b(ctx=3,n1p=3), c/x ctx=1 pruned;
    // co: only w=b survives (a=3 distinct prevs {a,c,x})
    val ref = Seq((1L, "a b c b a b x b")).toDF("id", "text")
    def row(text: String) = TextAnalysis.knSurprisal(
      Seq((1L, text)).toDF("id", "text"), "id", "text", ref, "text",
      oovBits = 16, minCount = 2L).collect()(0)
    // seen bigram: num = max(4*2-3,0)*6 + 3*1*3 = 39, den = 4*2*6 = 48
    // → len(bin(48))-len(bin(39))+1 = 6-6+1 = 1
    assert(row("a b").getAs[Long]("surprisal_sum") === 1L)
    // the KN signature: UNSEEN pair in a known context scores by the
    // continuation mass, not flat — (b,b): num = 0 + 3*3*3 = 27,
    // den = 4*3*6 = 72 → 7-5+1 = 3 (cheap: b follows 3 distinct prevs)
    val bb = row("b b")
    assert(bb.getAs[Long]("surprisal_sum") === 3L)
    assert(bb.getAs[Long]("n_cont") === 0L && bb.getAs[Long]("n_oov") === 0L)
    // unseen CONTEXT falls to the continuation distribution alone:
    // (x,b) → len(bin(6))-len(bin(3))+1 = 3-2+1 = 2, rung counted
    val xb = row("x b")
    assert(xb.getAs[Long]("surprisal_sum") === 2L)
    assert(xb.getAs[Long]("n_cont") === 1L)
    // known context but zero surviving mass (pair pruned AND word has
    // no continuation mass): (b,a) → num=0 → the flat 16 ceiling
    assert(row("b a").getAs[Long]("surprisal_sum") === 16L)
    // fully unknown: 16
    assert(row("q q").getAs[Long]("surprisal_sum") === 16L)
    // mixed doc sums the rungs: (a,b)=1 + (b,b)=3 + (b,c)=16 +
    // (c,x)=16 + (x,b)=2
    val mixed = row("a b b c x b")
    assert(mixed.getAs[Long]("n_bigrams") === 5L)
    assert(mixed.getAs[Long]("n_cont") === 1L)
    assert(mixed.getAs[Long]("n_oov") === 2L)
    assert(mixed.getAs[Long]("surprisal_sum") === 38L)
    assert(mixed.getAs[Double]("mean_surprisal") === 7.6)
    // persisted model is the same model: writeKnModel →
    // scoreWithKnModel reproduces the one-shot scoring exactly
    val path = java.nio.file.Files.createTempDirectory("kn-rt").toString
    TextAnalysis.writeKnModel(ref, "text", path, oovBits = 16, minCount = 2L)
    val docs = Seq((1L, "a b"), (2L, "b b"), (3L, "a b b c x b")).toDF("id", "text")
    val oneShot = TextAnalysis.knSurprisal(docs, "id", "text", ref, "text", 16, 2L)
      .orderBy("doc_id").collect().map(_.toSeq)
    val persisted = TextAnalysis.scoreWithKnModel(spark, path, docs, "id", "text")
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(oneShot.toSeq === persisted.toSeq)
  }

  test("evalBinaryScores: rank-sum AUC with exact tie correction + confusion at score>0") {
    import graft.ops.TextAnalysis
    // pos scores {2, 0}, neg scores {0, -3}: strict wins (2>0, 2>-3,
    // 0>-3) = 3, one tied pair (0=0) → u2 = 2*3+1 = 7,
    // AUC = 7/8 = 0.875 (the hand formula (3 + 0.5)/4)
    val df = Seq((2L, true), (0L, true), (0L, false), (-3L, false))
      .toDF("score", "pos")
    val r = TextAnalysis.evalBinaryScores(df, "score", "pos").collect()(0)
    assert(r.getAs[Long]("n_pos") === 2L && r.getAs[Long]("n_neg") === 2L)
    assert(r.getAs[Long]("u2") === 7L)
    assert(r.getAs[Double]("auc") === 0.875)
    // confusion at the keep threshold (score > 0): only the 2 is
    // kept → tp=1 fn=1 fp=0 tn=2, accuracy 3/4
    assert(r.getAs[Long]("n_tp") === 1L && r.getAs[Long]("n_fn") === 1L)
    assert(r.getAs[Long]("n_fp") === 0L && r.getAs[Long]("n_tn") === 2L)
    assert(r.getAs[Double]("accuracy") === 0.75)
    // perfect separation → AUC exactly 1; inverted → exactly 0
    val sep = Seq((5L, true), (4L, true), (1L, false)).toDF("score", "pos")
    assert(TextAnalysis.evalBinaryScores(sep, "score", "pos")
      .collect()(0).getAs[Double]("auc") === 1.0)
    val inv = Seq((1L, true), (4L, false), (5L, false)).toDF("score", "pos")
    assert(TextAnalysis.evalBinaryScores(inv, "score", "pos")
      .collect()(0).getAs[Double]("auc") === 0.0)
    // all-tied degenerate: every pair ties → AUC exactly 0.5
    val tied = Seq((3L, true), (3L, false), (3L, false)).toDF("score", "pos")
    assert(TextAnalysis.evalBinaryScores(tied, "score", "pos")
      .collect()(0).getAs[Double]("auc") === 0.5)
  }

  test("knSurprisal invariant: every cost >= 1, OOV exactly the ceiling, num <= den by construction") {
    import graft.ops.TextAnalysis
    // a messy random-ish corpus: repeated pairs, singletons, OOV —
    // the bit-cost law says every per-doc mean is >= 1 (cost >= 1 per
    // transition: num <= den always because pruning only SHRINKS the
    // numerator of a true probability <= 1) and <= 16 (the ceiling)
    val ref = Seq((1L, "a b a b a b c a d b e f e f g h a b")).toDF("id", "text")
    val scored = TextAnalysis.knSurprisal(
      Seq((1L, "a b"), (2L, "b a b c"), (3L, "e f g h"), (4L, "zz qq rr"),
        (5L, "a b e f a d c a")).toDF("id", "text"),
      "id", "text", ref, "text", oovBits = 16, minCount = 2L).collect()
    scored.foreach { r =>
      val mean = r.getAs[Double]("mean_surprisal")
      assert(mean >= 1.0 && mean <= 16.0,
        s"doc ${r.getAs[Long]("doc_id")} mean $mean outside [1,16]")
    }
    // the all-OOV doc sits exactly AT the ceiling
    assert(scored.find(_.getAs[Long]("doc_id") == 4L).get
      .getAs[Double]("mean_surprisal") === 16.0)
  }

  test("evalBinaryScores is rank-based: any strictly monotone score transform preserves AUC") {
    import graft.ops.TextAnalysis
    val base = Seq((9L, true), (4L, true), (4L, false), (1L, false), (-7L, false))
    val a = TextAnalysis.evalBinaryScores(base.toDF("score", "pos"), "score", "pos")
      .collect()(0)
    val b = TextAnalysis.evalBinaryScores(
      base.map { case (s, p) => (s * 3 + 100, p) }.toDF("score", "pos"), "score", "pos")
      .collect()(0)
    assert(a.getAs[Double]("auc") === b.getAs[Double]("auc"))
    assert(a.getAs[Long]("u2") === b.getAs[Long]("u2"))
  }

  test("corpusDrift is symmetric: TV(a,b) = TV(b,a) including the exact numerator") {
    import graft.ops.TextAnalysis
    val a = Seq((1L, "x y x z w")).toDF("id", "text")
    val b = Seq((1L, "x q y y")).toDF("id", "text")
    val ab = TextAnalysis.corpusDrift(a, "text", b, "text").collect()(0)
    val ba = TextAnalysis.corpusDrift(b, "text", a, "text").collect()(0)
    assert(ab.getAs[Double]("tv") === ba.getAs[Double]("tv"))
    assert(ab.getAs[String]("tv_num").toLong
      === ba.getAs[String]("tv_num").toLong)
    assert(ab.getAs[Long]("n_terms") === ba.getAs[Long]("n_terms"))
  }

  test("exactByCanonContent collapses case, zero-width, and composed/decomposed variants") {
    import graft.ops.Dedup
    val docs = Seq(
      (1L, "caf\u00e9 menu"),                    // composed e-acute
      (2L, "cafe\u0301 menu"),                   // decomposed e + combining acute
      (3L, "CAF\u00c9 MENU"),                    // case variant (composed capital)
      (4L, "caf\u00e9\u200B menu"),              // zero-width padded
      (5L, "other content")
    ).toDF("id", "text")
    val out = Dedup.exactByCanonContent(docs, "id", "text")
      .orderBy(col("keep_id")).collect()
    assert(out.length === 2)
    assert(out(0).getAs[Long]("keep_id") === 1L && out(0).getAs[Long]("dup_count") === 4L)
    assert(out(1).getAs[Long]("keep_id") === 5L && out(1).getAs[Long]("dup_count") === 1L)
    // byte-exact keying sees them all apart — the canon key is the cut
    assert(Dedup.exactByContent(docs, "id", "text").count() === 5L)
  }

  test("canonDedupWithIndex = the one-batch canon rule on the union corpus") {
    import graft.ops.Dedup
    val ref = Seq((1L, "caf\u00e9 menu"), (2L, "base doc")).toDF("id", "text")
    val inc = Seq(
      (10L, "CAFE\u0301 menu"),                  // evasive dup of indexed 1 -> keep_id 1
      (11L, "fresh one"),                        // unseen -> kept
      (12L, "fresh\u200B one"),                  // intra-increment dup of 11 -> keep_id 11
      (13L, "base\u200D DOC")                    // evasive dup of indexed 2 -> keep_id 2
    ).toDF("id", "text")
    val path = java.nio.file.Files.createTempDirectory("canon-idx").toString
    Dedup.writeCanonIndex(ref, "id", "text", path)
    val out = Dedup.canonDedupWithIndex(spark, path, inc, "id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(10L) === ((1L, 0L)))
    assert(out(11L) === ((11L, 1L)))
    assert(out(12L) === ((11L, 0L)))
    assert(out(13L) === ((2L, 0L)))
    // union law: restricting the one-batch rule on ref ∪ inc to inc
    // docs reproduces the index answer exactly
    val union = ref.unionByName(inc)
    val oneShot = Dedup.exactByCanonContent(union, "id", "text")
    val viaOneShot = union.select(col("id"),
        org.apache.spark.sql.functions.md5(Dedup.canonText(col("text"))).as("h"))
      .join(oneShot.withColumnRenamed("content_hash", "h"), Seq("h"))
      .filter(col("id") >= 10L)
      .select(col("id"), col("keep_id"),
        (col("id") === col("keep_id")).cast("long").as("is_kept"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(viaOneShot === out)
  }

  test("canon index: probe-after-append ≡ rebuilt-index probe; replayed append changes nothing") {
    import graft.ops.Dedup
    val ref = Seq((1L, "caf\u00e9 menu"), (2L, "base doc")).toDF("id", "text")
    val month = Seq((5L, "monthly page"), (6L, "CAFE\u0301 menu")).toDF("id", "text")
    val inc = Seq(
      (20L, "monthly\u200B page"),  // dup of appended 5 -> keep_id 5
      (21L, "caf\u00e9 menu"),      // dup of ref 1 (6 also carries it, 1 < 6) -> keep_id 1
      (22L, "brand new")
    ).toDF("id", "text")
    val p1 = java.nio.file.Files.createTempDirectory("canon-cdc").toString
    Dedup.writeCanonIndex(ref, "id", "text", p1)
    Dedup.appendToCanonIndex(month, "id", "text", p1)
    val probed = Dedup.canonDedupWithIndex(spark, p1, inc, "id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(probed(20L) === ((5L, 0L)))
    assert(probed(21L) === ((1L, 0L)))
    assert(probed(22L) === ((22L, 1L)))
    // ≡ a from-scratch rebuild on ref ∪ month
    val p2 = java.nio.file.Files.createTempDirectory("canon-cdc2").toString
    Dedup.writeCanonIndex(ref.unionByName(month), "id", "text", p2)
    val rebuilt = Dedup.canonDedupWithIndex(spark, p2, inc, "id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rebuilt === probed, "append fold must equal the rebuilt index")
    // a crash-replayed append duplicates ledger rows; min-fold absorbs them
    Dedup.appendToCanonIndex(month, "id", "text", p1)
    val again = Dedup.canonDedupWithIndex(spark, p1, inc, "id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(again === probed, "replayed append must be value-idempotent")
  }

  test("canon compaction: probe identical, files shrink, crash-window duplicates harmless") {
    import graft.ops.Dedup
    val docs = spark.range(400L).select(col("id"),
      concat(lit("doc"), pmod(col("id"), lit(97)), lit(" body "), pmod(col("id"), lit(97))).as("text"))
    val ref   = docs.filter(col("id") % 3 === 0)
    val month = docs.filter(col("id") % 3 === 1)
    val inc   = docs.filter(col("id") % 3 === 2)
    val path = java.nio.file.Files.createTempDirectory("canon-compact").toString
    Dedup.writeCanonIndex(ref, "id", "text", path)
    Dedup.appendToCanonIndex(month, "id", "text", path)
    Dedup.appendToCanonIndex(month.withColumn("id", col("id") + 1000L), "id", "text", path)
    def probe() = Dedup.canonDedupWithIndex(spark, path, inc, "id", "text")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val before = probe()
    val (nBefore, nAfter) = Dedup.compactCanonIndex(spark, path)
    assert(nAfter < nBefore,
      s"compaction must shrink the ledger file set ($nBefore -> $nAfter)")
    assert(nAfter <= graft.ops.IndexLayout.DefaultBuckets)
    assert(probe() === before, "compaction changed probe results")
    // crash window: the fold APPENDED but old files not yet deleted ≙
    // duplicate min rows in the directory — emulate by re-appending a
    // slice that is already fully folded in; probes must not move
    Dedup.appendToCanonIndex(month, "id", "text", path)
    assert(probe() === before, "duplicate ledger rows must be value-equivalent under min-fold")
    // and compaction of THAT state is idempotent too
    Dedup.compactCanonIndex(spark, path)
    assert(probe() === before)
  }

  test("spanDedup is idempotent: a deduped corpus passes through unchanged") {
    import graft.ops.Dedup
    val docs = Seq(
      (1L, "a b. c d. e f. x y."),
      (2L, "a b. c d. e f. q r."),
      (4L, "p q. r s. t u. p q. r s. t u.")
    ).toDF("id", "text")
    val once = Dedup.spanDedup(docs, "id", "text")
      .select(col("doc_id").as("id"), col("kept_text").as("text"))
    val twice = Dedup.spanDedup(once, "id", "text").collect()
    twice.foreach { r =>
      assert(r.getAs[Long]("n_kept") === r.getAs[Long]("n_sents"),
        s"doc ${r.getAs[Long]("doc_id")} lost sentences on the second pass")
    }
    // and the reassembled text is stable
    val again = Dedup.spanDedup(once, "id", "text")
      .select(col("doc_id").as("id"), col("kept_text").as("text"))
    assert(once.orderBy(col("id")).collect().map(_.toSeq).toSeq
      === again.orderBy(col("id")).collect().map(_.toSeq).toSeq)
  }

  test("dedup histogram conservation: sizes sum to the corpus, singletons counted once") {
    import graft.ops.Dedup
    // pairs (1,2) (2,3) chain into one 3-cluster; 4 and 5 are
    // singletons -> histogram {3: 1 cluster, 1: 2 clusters}, and
    // n_docs must sum back to the corpus size exactly
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
    val all = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val hist = all.join(comp, Seq("id"), "left")
      .select(coalesce(col("cluster"), col("id")).as("cluster"))
      .groupBy(col("cluster")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(hist === Map(3L -> ((1L, 3L)), 1L -> ((2L, 2L))))
    assert(hist.values.map(_._2).sum === 5L, "histogram must conserve the corpus")
  }

  test("partition invariance: KN, drift, and PCA outputs are identical under any repartitioning") {
    import graft.ops.{Similarity, TextAnalysis}
    // the distributed-correctness law: physical partitioning must be
    // invisible — decimal/integer sums are order-independent by
    // construction and nothing may leak partition boundaries
    val ref = Seq((1L, "a b a b c a d e f e"), (2L, "b a c a b d f e f a"))
      .toDF("id", "text")
    val docs = Seq((1L, "a b c d"), (2L, "e f a b"), (3L, "zz a b qq"))
      .toDF("id", "text")
    def knOf(r: org.apache.spark.sql.DataFrame, d: org.apache.spark.sql.DataFrame) =
      TextAnalysis.knSurprisal(d, "id", "text", r, "text", 16, 2L)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(knOf(ref, docs) === knOf(ref.repartition(7), docs.repartition(5)))
    def driftOf(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      TextAnalysis.corpusDrift(a, "text", b, "text").collect()(0).toSeq
    assert(driftOf(ref, docs) === driftOf(ref.repartition(9), docs.repartition(3)))
    val vecs = Seq((0L, Array(1.0f, 0.25f)), (1L, Array(2.0f, -0.5f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(-1.5f, 0.75f))).toDF("vec_id", "embedding")
    def pcaOf(v: org.apache.spark.sql.DataFrame) =
      Similarity.pcaProject(v, "vec_id", "embedding", 1000L, 3)
        .collect().map(_.toSeq).toSeq
    assert(pcaOf(vecs) === pcaOf(vecs.repartition(6)))
  }

  test("winnowFingerprints: the coverage guarantee — a shared k+w-1 run shares a print") {
    import graft.ops.TextAnalysis
    // k=4, w=4: any shared 7-token run must share >= 1 selected
    // fingerprint (the winnowing theorem) — doc 2 embeds doc 1's
    // "c d e f g h i" run behind a different prefix
    val docs = Seq(
      (1L, "a b c d e f g h i"),
      (2L, "x y z q c d e f g h i"),
      (3L, "totally different words with no overlap at all here")
    ).toDF("id", "text")
    val out = TextAnalysis.winnowFingerprints(docs, "id", "text", k = 4, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val fp1 = out.filter(_._1 == 1L).map(_._3).toSet
    val fp2 = out.filter(_._1 == 2L).map(_._3).toSet
    val fp3 = out.filter(_._1 == 3L).map(_._3).toSet
    assert((fp1 & fp2).nonEmpty, "shared 7-token run must share a fingerprint")
    assert((fp1 & fp3).isEmpty && (fp2 & fp3).isEmpty,
      "disjoint docs share nothing")
    // density: selections are a subset of windows (6 windows for doc 1:
    // 9 tokens -> 6 grams -> 3 windows... count: grams = 6, windows = 3)
    assert(out.count(_._1 == 1L) <= 3)
    // too-short docs emit nothing
    val short = TextAnalysis.winnowFingerprints(
      Seq((1L, "a b c d e f")).toDF("id", "text"), "id", "text", 4, 4)
    assert(short.count() === 0L)
    // and the detector built on top finds exactly the overlapping
    // pair through the fp equi-join — never a text comparison
    val pairs = TextAnalysis.winnowOverlap(docs, "id", "text", 4, 4, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
    // persisted index + increment = the same detection: the copying
    // increment doc pairs with its source, the clean one with nothing
    val path = java.nio.file.Files.createTempDirectory("winnow-idx").toString
    TextAnalysis.writeWinnowIndex(
      Seq((10L, "a b c d e f g h i")).toDF("id", "text"), "id", "text", path)
    val inc = Seq(
      (20L, "p q r s c d e f g h i"),
      (21L, "nothing here matches the reference corpus at all today")
    ).toDF("id", "text")
    val hits = TextAnalysis.winnowOverlapWithIndex(spark, path, inc, "id", "text")
      .collect().map(r => (r.getAs[Long]("doc_ref"), r.getAs[Long]("doc_inc"))).toSet
    assert(hits === Set((10L, 20L)))
  }

  test("spanDedup: C4 three-sentence rule — first occurrence wins, overlap and intra-doc handled") {
    import graft.ops.Dedup
    val docs = Seq(
      (1L, "a b. c d. e f. x y."),                 // first carrier of span (a b, c d, e f)
      (2L, "a b. c d. e f. q r."),                 // repeats it -> loses sentences 0..2
      (3L, "zz ww."),                              // < 3 sentences: no spans, survives whole
      (4L, "p q. r s. t u. p q. r s. t u.")        // intra-doc repeat: span@3 duplicates span@0
    ).toDF("id", "text")
    val out = Dedup.spanDedup(docs, "id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_sents"), r.getAs[Long]("n_kept"), r.getAs[String]("kept_text")))).toMap
    assert(out(1L) === ((4L, 4L, "a b. c d. e f. x y.")))
    assert(out(2L) === ((4L, 1L, "q r.")))
    assert(out(3L) === ((1L, 1L, "zz ww.")))
    assert(out(4L) === ((6L, 3L, "p q. r s. t u.")))
    // a doc that is ALL boilerplate is fully eaten but keeps its row
    val eaten = Dedup.spanDedup(Seq(
      (1L, "a b. c d. e f."), (2L, "a b. c d. e f.")).toDF("id", "text"),
      "id", "text").collect().map(r => r.getLong(0) -> r.getAs[String]("kept_text")).toMap
    assert(eaten(1L) === "a b. c d. e f." && eaten(2L) === "")
  }

  test("deployed pipeline = one-shot pipeline on the union when increment ids follow the reference") {
    import graft.ops.{Dedup, TextAnalysis}
    // ref ids 0,3,6,9 (the %3=0 slice of the union); inc ids 13,22 all
    // LARGER than every ref id, so no okey inversion exists and the
    // persisted-models chain must reproduce the one-shot chain exactly
    val ref = Seq(
      (0L, "data table spark. data table spark. batch data row. spark data good data."),
      (3L, "data table spark. data table spark. batch data row. spark row fast row."),
      (6L, "spark data batch data table data row data."),
      (9L, "row fast table. spark data batch.")
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
    val inc = Seq(
      (13L, "data table spark. data table spark. batch data row. spark data row data."),
      (22L, "spark data table batch row data fast data.")
    ).toDF("doc_id", "text").withColumn("lang",
      when(col("doc_id") === 22L, lit("de")).otherwise(lit("en")))
    val union = ref.union(inc)
    // --- one-shot chain on the union (the x_quality_pipeline shape)
    val kept = Dedup.spanDedup(union, "doc_id", "text")
    val keptDocs = kept.filter(col("n_kept") >= 1)
      .select(col("doc_id"), col("kept_text").as("text"))
    val refLab = keptDocs
      .join(union.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .filter(pmod(col("doc_id"), lit(3)) === 0)
      .withColumn("__is_en", col("lang") === "en")
    val scored = TextAnalysis.nbQualityScore(keptDocs, "doc_id", "text",
      refLab, "text", "__is_en", 16, 2L)
    val surv = keptDocs.join(
      scored.filter(col("score_bits") >= 0).select(col("doc_id"), col("score_bits")),
      Seq("doc_id"))
    val kn = TextAnalysis.knSurprisal(surv, "doc_id", "text",
      surv.filter(pmod(col("doc_id"), lit(3)) === 0), "text", 16, 2L)
    val oneShot = kept.select(col("doc_id"), col("n_sents"), col("n_kept"))
      .join(surv.select(col("doc_id"), col("score_bits")), Seq("doc_id"))
      .join(kn, Seq("doc_id"))
      .filter(col("doc_id") > 9L)
      .orderBy(col("doc_id")).collect().map(_.toSeq)
    // --- deployed chain: three models fit on the REF slice alone
    val p = java.nio.file.Files.createTempDirectory("qpipe-law").toString
    Dedup.writeSpanIndex(ref, "doc_id", "text", s"$p/span")
    val refKept = Dedup.spanDedup(ref, "doc_id", "text")
      .filter(col("n_kept") >= 1).select(col("doc_id"), col("kept_text").as("text"))
    TextAnalysis.writeNbModel(
      refKept.join(ref.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .withColumn("__is_en", col("lang") === "en"),
      "text", "__is_en", s"$p/nb", 16, 2L)
    val refSurv = refKept.join(
      TextAnalysis.scoreWithNbModel(spark, s"$p/nb", refKept, "doc_id", "text")
        .filter(col("score_bits") >= 0).select(col("doc_id")), Seq("doc_id"))
    TextAnalysis.writeKnModel(refSurv, "text", s"$p/kn", 16, 2L)
    val deployed = TextAnalysis.qualityPipelineWithModels(spark,
        s"$p/span", s"$p/nb", s"$p/kn", inc, "doc_id", "text")
      .collect().map(_.toSeq)
    assert(deployed.nonEmpty, "the law needs surviving increment docs to bite")
    assert(oneShot.toSeq === deployed.toSeq)
  }

  test("spanDedupWithIndex = the one-batch rule on the union corpus") {
    import graft.ops.Dedup
    val ref = Seq((10L, "a b. c d. e f. k l.")).toDF("id", "text")
    val path = java.nio.file.Files.createTempDirectory("span-idx").toString
    Dedup.writeSpanIndex(ref, "id", "text", path)
    // an increment doc repeating the indexed span loses it; one with
    // a SMALLER doc_id than the carrier would have won in one batch —
    // the least-okey rule preserves that
    val inc = Seq(
      (20L, "a b. c d. e f. z z."),  // indexed span -> cut
      (5L,  "a b. c d. e f. y y.")   // precedes doc 10 in the total order -> keeps
    ).toDF("id", "text")
    val out = Dedup.spanDedupWithIndex(spark, path, inc, "id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("kept_text")).toMap
    assert(out(20L) === "z z.")
    assert(out(5L) === "a b. c d. e f. y y.")
    // and the same two docs through the BATCH rule on the union,
    // restricted to increment ids, agree exactly
    val union = Dedup.spanDedup(ref.union(inc), "id", "text")
      .filter(col("doc_id") =!= 10L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("kept_text")).toMap
    assert(union === out)
  }

  test("corpusDrift: cleared-denominator TV is exact, new-vocab counted, identical corpora drift 0") {
    import graft.ops.TextAnalysis
    // ref "a a b" (2/3, 1/3, 0) vs inc "a c" (1/2, 0, 1/2):
    // TV = (|2·2−1·3| + |1·2−0| + |0−1·3|) / (2·3·2) = 6/12 = 0.5
    val ref = Seq((1L, "a a b")).toDF("id", "text")
    val inc = Seq((1L, "a c")).toDF("id", "text")
    val r = TextAnalysis.corpusDrift(ref, "text", inc, "text").collect()(0)
    assert(r.getAs[Long]("t_ref") === 3L && r.getAs[Long]("t_inc") === 2L)
    assert(r.getAs[Long]("n_terms") === 3L && r.getAs[Long]("n_new_terms") === 1L)
    assert(r.getAs[String]("tv_num").toLong === 6L)
    assert(r.getAs[Double]("tv") === 0.5)
    // identical corpora → exactly 0 (the law a drift ALARM must hold:
    // no false positives from arithmetic noise)
    val same = TextAnalysis.corpusDrift(ref, "text", ref, "text").collect()(0)
    assert(same.getAs[String]("tv_num").toLong === 0L)
    assert(same.getAs[Double]("tv") === 0.0)
    assert(same.getAs[Long]("n_new_terms") === 0L)
    // disjoint corpora → exactly 1 (the other extreme)
    val disj = TextAnalysis.corpusDrift(ref, "text",
      Seq((1L, "x y")).toDF("id", "text"), "text").collect()(0)
    assert(disj.getAs[Double]("tv") === 1.0)
    // persisted reference is the same reference
    val path = java.nio.file.Files.createTempDirectory("drift-rt").toString
    TextAnalysis.writeDriftRef(ref, "text", path)
    val p = TextAnalysis.driftWithRef(spark, path, inc, "text").collect()(0)
    assert(p.getAs[String]("tv_num").toLong === 6L)
    assert(p.getAs[Double]("tv") === 0.5)
  }

  test("drift-ref fold law: folded ledger ≡ recount of the union reference; refold idempotent") {
    import graft.ops.TextAnalysis
    val base = Seq((1L, "a a b"), (2L, "b c")).toDF("id", "text")
    val month = Seq((3L, "c d d")).toDF("id", "text")
    val probe = Seq((9L, "a d x")).toDF("id", "text")
    val path = java.nio.file.Files.createTempDirectory("drift-fold").toString
    TextAnalysis.writeDriftRef(base, "text", path)
    TextAnalysis.appendToDriftRef(spark, path, month, "text", "m1")
    val folded = TextAnalysis.driftWithRefFolded(spark, path, probe, "text").collect()(0)
    // ground truth: one-shot drift against the recounted union corpus
    val expect = TextAnalysis.corpusDrift(
      base.unionByName(month), "text", probe, "text").collect()(0)
    assert(folded.toSeq === expect.toSeq,
      "fold-on-read reference must equal the recounted union reference")
    // replay: the same increment id folds again and nothing changes
    TextAnalysis.appendToDriftRef(spark, path, month, "text", "m1")
    val again = TextAnalysis.driftWithRefFolded(spark, path, probe, "text").collect()(0)
    assert(again.toSeq === folded.toSeq, "same-id refold must be idempotent")
    // a second DISTINCT month shifts the reference exactly like a recount
    val month2 = Seq((4L, "x x")).toDF("id", "text")
    TextAnalysis.appendToDriftRef(spark, path, month2, "text", "m2")
    val both = TextAnalysis.driftWithRefFolded(spark, path, probe, "text").collect()(0)
    val expect2 = TextAnalysis.corpusDrift(
      base.unionByName(month).unionByName(month2), "text", probe, "text").collect()(0)
    assert(both.toSeq === expect2.toSeq)
  }

  test("pcaProject: integer power iteration converges to the hand-computed eigen direction") {
    import graft.ops.Similarity
    // 2-D corpus (1,0) (2,0) (0,1) at scale 1000: q = (1000,0)
    // (2000,0) (0,1000); s1 = (3000,1000); s2 = [[5e6,0],[0,1e6]];
    // C = n·s2 − s1·s1ᵀ = [[6e6,−3e6],[−3e6,2e6]]. Hand-run 3
    // iterations from (1,1) with the ·256÷max renorm:
    // v1=(256,−85) v2=(256,−134) v3=(256,−136) — vs the true
    // eigenvector ∝ (3,−1.6) ∝ (256,−136.5): converged to the
    // integer grid. Projections: q·v3.
    val df = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(2.0f, 0.0f)), (2L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.pcaProject(df, "vec_id", "embedding", scale = 1000L, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(0L -> 256000L, 1L -> 512000L, 2L -> -136000L))
    // persisted direction is the same direction
    val path = java.nio.file.Files.createTempDirectory("pca-rt").toString
    Similarity.writePcaModel(df, "vec_id", "embedding", path, scale = 1000L, iters = 3)
    val inc = Similarity.projectWithPcaModel(spark, path, df, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc === out)
    // quantization law: floor, not round — (−0.5, 0.9999) land on
    // (−500, 999), so a sign-asymmetric grid never flips cross-engine
    val neg = Seq((0L, Array(-0.0005f, 0.0f)), (1L, Array(1.0f, 0.5f)))
      .toDF("vec_id", "embedding")
    val proj = Similarity.pcaProject(neg, "vec_id", "embedding", 1000L, 3)
      .collect()
    assert(proj.length === 2)
  }

  test("pcaDirections: the deflated second direction is near-orthogonal to the first") {
    import graft.ops.Similarity
    val df = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(2.0f, 0.0f)), (2L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val (v1, v2) = Similarity.pcaDirections(df, "vec_id", "embedding", 1000L, 3)
    val m1 = v1.toMap; val m2 = v2.toMap
    // v1 = (256, -136); in 2-D the deflated direction must land near
    // the orthogonal complement ray (136, 256). Deflating with the
    // INTEGER v1 (off the true eigenvector by ~0.17%) leaves a
    // first-component residue of order ε·λ1/λ2 ≈ 0.03 in C₂, so the
    // bound is 0.1 — an order better than the 0.69 cosine the raw
    // second axis would show, and the measured value here is 0.056
    // (v2 = (118, 256) vs ideal (136, 256))
    val dot = m1.keys.map(i => m1(i).toDouble * m2(i).toDouble).sum
    val n1 = math.sqrt(m1.values.map(x => x.toDouble * x.toDouble).sum)
    val n2 = math.sqrt(m2.values.map(x => x.toDouble * x.toDouble).sum)
    assert(math.abs(dot) / (n1 * n2) < 0.1,
      s"second direction not near-orthogonal: v1=$v1 v2=$v2")
    // and both components project: proj2 separates the y-axis vector
    // from the x-axis ones with the right sign structure
    val out = Similarity.pcaProject2(df, "vec_id", "embedding", 1000L, 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(0L)._1 * 2 === out(1L)._1,
      "proj1 must be linear: the (2,0) vector projects twice the (1,0) one")
    assert(out.size === 3)
  }

  test("pcaVariance: hand-computed Rayleigh fraction on the 2-D eigen example") {
    import graft.ops.Similarity
    // same corpus as the pcaProject spec: C = [[6e6,-3e6],[-3e6,2e6]],
    // v3 = (256,-136). vTCv = 256^2*6e6 + 2*256*136*3e6 + 136^2*2e6
    // = 639104e6; vTv = 84032; trace = 8e6 -> explained =
    // 639104e6 / (84032 * 8e6) = 0.950685 (true eigen fraction:
    // 7.6055/8 = 0.9507 -- the integer direction loses almost nothing)
    val df = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(2.0f, 0.0f)), (2L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.pcaVariance(df, "vec_id", "embedding", 1000L, 3).collect()(0)
    assert(r.getAs[String]("rayleigh_num").toLong === 639104000000L)
    assert(r.getAs[Long]("v_norm2") === 84032L)
    assert(r.getAs[String]("cov_trace").toLong === 8000000L)
    val expected = BigDecimal(639104000000L.toDouble / (84032L.toDouble * 8000000L.toDouble))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("explained") === expected)
  }

  test("planesFor pins the planes-scaling policy: constant bucket population, bounded, monotonic") {
    // the SCALING.md rule, now code: planes ≈ log2(n / targetBucket)
    assert(Dedup.planesFor(1L << 20, targetBucket = 4096) === 8,
      "the documented example: 2^20 corpus / 4k buckets → 8 planes")
    // floor: tiny corpora still block (never all-pairs via planes<4)
    assert(Dedup.planesFor(10) === 4)
    assert(Dedup.planesFor(0) === 4)
    // cap: beyond maxPlanes the bucket count stops growing (missing
    // vector components read as sign 0 — extra planes buy nothing)
    assert(Dedup.planesFor(10000000000L) === 16)
    // monotonic in n, and each corpus DOUBLING costs exactly one
    // plane inside the open band — bucket population stays constant
    val ns = Seq(1L << 13, 1L << 14, 1L << 16, 1L << 18, 1L << 20, 1L << 24)
    val ps = ns.map(Dedup.planesFor(_))
    assert(ps === ps.sorted, "planes must be monotonic in corpus size")
    assert(Dedup.planesFor(1L << 21, 4096) === Dedup.planesFor(1L << 20, 4096) + 1)
    // gate coupling: the sf0.01 gate corpus sizes must resolve to the
    // oracle-pinned literals (planted 520 vectors → 4 planes; annJoin
    // base 429 → 16 cells) — if these move, the gates' oracles need
    // the same move
    assert(Dedup.planesFor(520, targetBucket = 64) === 4)
    assert(graft.ops.Similarity.cellsForSqrt(429) === 16)
    // cellsForSqrt (the annJoinAuto policy, r19): √n/2 above the
    // floor, clamped at both ends; the bench scales get 66 / 208
    assert(graft.ops.Similarity.cellsForSqrt(17143) === 66)
    assert(graft.ops.Similarity.cellsForSqrt(171429) === 208)
    assert(graft.ops.Similarity.cellsForSqrt(1) === 16)
    assert(graft.ops.Similarity.cellsForSqrt(100000000000L) === 65536)
    // cellsForIndexJoin (the x_ann_join_index build, r20): ceil(√(2n))
    // clamped to [16, 65536] — the clamp its oracle replays as
    // GREATEST(16, LEAST(65536, CAST(ceil(sqrt(2 * count(*))) AS BIGINT)))
    // over the same sf0.01 base (429 vectors → ⌈√858⌉ = 30 cells)
    assert(graft.ops.Similarity.cellsForIndexJoin(429) === 30)
    assert(graft.ops.Similarity.cellsForIndexJoin(1) === 16)
    assert(graft.ops.Similarity.cellsForIndexJoin(100000000000L) === 65536)
    // the auto entry points consume the policy end-to-end
    val e = GraftSession.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).limit(100)
    val auto = Dedup.embeddingNearDupPairsAuto(
      e.unionByName(e.filter(col("vec_id") < 5)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"), x => (x * lit(2.0f)).cast("float")).as("embedding"))),
      "vec_id", "embedding", 0.99)
    assert(auto.filter(col("id_b") >= 100000).count() >= 5,
      "auto-planes miner must still find the planted colinear pairs")
  }

  test("xxhash64 minhash flavor agrees on the exact-dup pair") {
    val out = Dedup.minhashLshPairs(docs, "id", "text", w = 3, numHashes = 16, bands = 4, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 1.0))
  }

  test("simhash32: exact dup at hamming 0, near-dup close, unrelated far") {
    val sims = docs.select(col("id"),
        Dedup.simhash32OfMd5(transform(Dedup.tokens(col("text")), t => md5(t))).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sims(1L) === sims(4L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sims(1L), sims(2L)) <= 6)
    assert(ham(sims(1L), sims(3L)) > ham(sims(1L), sims(2L)))
  }

  test("simhash 64-bit xxhash flavor: exact dup detected via bands") {
    val out = Dedup.simhashPairs(docs, "id", "text", maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.contains((1L, 4L)))
  }

  test("exact-verified agreement flavors output TRUE jaccard pairs, hash-family-independent") {
    // ground truth at threshold 0.9: only the identical pair (1,4);
    // the near-dup (1,2) has jaccard (8 shared / 9+8-8) < 0.9
    for (out <- Seq(
        Dedup.minhashExactPairs(docs, "id", "text", w = 3, numHashes = 32, bands = 16, threshold = 0.9),
        Dedup.simhashExactPairs(docs, "id", "text", w = 3, maxHamming = 20, threshold = 0.9))) {
      val pairs = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(pairs.toSeq === Seq((1L, 4L, 1.0)))
    }
    // at 0.5 both blockings surface the true near-dup with its exact
    // (not estimated) jaccard — identical values from both machineries
    val mh = Dedup.minhashExactPairs(docs, "id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sh = Dedup.simhashExactPairs(docs, "id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(mh === sh)
    assert(mh.exists(p => p._1 == 1L && p._2 == 2L && p._3 > 0.5 && p._3 < 0.9))
  }
}

class SimilaritySpec extends SparkSpecBase {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(2.0f, 0.0f, 0.0f)) // colinear with 0
  ).toDF("vec_id", "embedding")

  test("cosine of colinear vectors is 1, orthogonal is 0") {
    val r = vecs.filter(col("vec_id") === 0)
      .crossJoin(vecs.filter(col("vec_id") === 3).select(col("embedding").as("e2")))
      .select(round(Similarity.cosine(col("embedding"), col("e2")), 6)).head().getDouble(0)
    assert(r === 1.0)
  }

  test("annJoin with nProbe = nCells recovers the exact brute-force ranking; layout-invariant") {
    val e = GraftSession.table(spark, sf, "embeddings").select(col("vec_id"), col("embedding"))
    val l = e.filter(col("vec_id") % 7 === 3)
    val r = e.filter(col("vec_id") % 7 =!= 3)
    // every left row probes every cell → candidates = all of right →
    // the cell cut vanishes and only the shared (cosine DESC, id ASC)
    // ranking remains, which is cosineTopK's
    val full = Similarity.annJoin(l, r, "vec_id", "embedding", k = 3,
        nCells = 16, nProbe = 16)
      .select(col("left_id").as("query_id"), col("rank"),
        col("right_id").as("neighbor_id"), col("cosine"))
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val exact = Similarity.cosineTopK(r, l, "vec_id", "embedding", k = 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(full === exact, "full-probe annJoin diverged from exact cosineTopK")
    // pruned probes are layout-invariant (the per-row fold and the
    // cell join carry no partition-order dependence)
    val a = Similarity.annJoin(l.repartition(1), r.repartition(1), "vec_id", "embedding",
      k = 2, nCells = 16, nProbe = 2).orderBy("left_id", "rank").collect().map(_.toSeq).toSeq
    val b = Similarity.annJoin(l.repartition(7), r.repartition(13), "vec_id", "embedding",
      k = 2, nCells = 16, nProbe = 2).orderBy("left_id", "rank").collect().map(_.toSeq).toSeq
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("annJoinAuto: baseSize hint skips the base-corpus count (construction stays lazy) and changes nothing") {
    val e = GraftSession.table(spark, sf, "embeddings").select(col("vec_id"), col("embedding"))
    val l = e.filter(col("vec_id") % 7 === 3)
    val r = e.filter(col("vec_id") % 7 =!= 3)
    val n = r.count()
    // a base side that DETONATES if any job executes it: with the
    // hint, annJoinAuto must only PLAN (no count pass over the base
    // — the round-10 verdict's task 5); without it, the sizing count
    // runs and trips the guard
    val boom = udf((_: Long) => {
      throw new RuntimeException("BASE_SCANNED_AT_CONSTRUCTION"); true
    })
    val rGuard = r.filter(boom(col("vec_id")))
    Similarity.annJoinAuto(l, rGuard, "vec_id", "embedding", k = 2,
      baseSize = Some(n)) // lazy — no exception
    val ex = intercept[Exception] {
      Similarity.annJoinAuto(l, rGuard, "vec_id", "embedding", k = 2)
    }
    assert(ex.getMessage != null || ex.getCause != null)
    // and the hint is semantics-free: same output as the counted path
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("left_id", "rank").collect().map(_.toSeq).toSeq
    assert(rows(Similarity.annJoinAuto(l, r, "vec_id", "embedding", k = 2, baseSize = Some(n)))
      === rows(Similarity.annJoinAuto(l, r, "vec_id", "embedding", k = 2)))
  }

  test("annJoin keeps same-id cross-corpus pairs by default; excludeSameId opts into self-join exclusion") {
    val e = GraftSession.table(spark, sf, "embeddings").select(col("vec_id"), col("embedding"))
      .limit(40)
    // two snapshots SHARING the id space: the same-id pair is the
    // expected top match and must survive the default
    val top = Similarity.annJoin(e, e, "vec_id", "embedding", k = 1,
        nCells = 8, nProbe = 8)
      .filter(col("left_id") === col("right_id"))
    assert(top.count() > 0, "cross-corpus same-id top matches were dropped by default")
    val self = Similarity.annJoin(e, e, "vec_id", "embedding", k = 1,
        nCells = 8, nProbe = 8, excludeSameId = true)
      .filter(col("left_id") === col("right_id"))
    assert(self.count() === 0, "excludeSameId left self pairs in the result")
  }

  test("kmeansAssign: Lloyd iterations do not worsen mean cohesion; layout-invariant; broadcast-only joins") {
    val e = GraftSession.table(spark, sf, "embeddings").select(col("vec_id"), col("embedding"))
    def cohesion(iters: Int): Double =
      Similarity.kmeansAssign(e, "vec_id", "embedding", k = 8, iters = iters)
        .agg(avg(col("cosine"))).head().getDouble(0)
    // re-centering on the members' mean direction is exactly what
    // maximizes within-cluster cosine — two Lloyd steps must not sit
    // below the seed assignment
    assert(cohesion(2) >= cohesion(0) - 1e-9, "Lloyd iterations worsened cohesion")
    val a = Similarity.kmeansAssign(e.repartition(1), "vec_id", "embedding", k = 8, iters = 2)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    val b = Similarity.kmeansAssign(e.repartition(13), "vec_id", "embedding", k = 8, iters = 2)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(a === b, "kmeans assignment depends on physical layout")
    // scale shape: centroids ride broadcast — a sort-merge join would
    // mean the k-row model got shuffled with the corpus
    val plan = Similarity.kmeansAssign(e, "vec_id", "embedding", k = 8, iters = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), s"kmeans plan shuffles the model:\n$plan")
  }

  test("kmeans Lloyd rounds hand off through the driver: no lazily checkpointed frame in the plans") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val e = GraftSession.table(spark, sf, "embeddings").select(col("vec_id"), col("embedding"))
    // a lazily checkpointed round (Scan ExistingRDD) would run its
    // corpus pass inside the next round's broadcast deadline; each
    // round's k centroids arrive as a local relation instead
    val plan = Similarity.kmeansAssign(e, "vec_id", "embedding", k = 8, iters = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ExistingRDD"), s"kmeansAssign plan holds a lazy checkpoint:\n$plan")
    assert(plan.contains("LocalTableScan"), s"kmeansAssign centroids are not a local relation:\n$plan")
    val written = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = written.add(qe.executedPlan.toString): Unit
      def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = ()
    }
    val path = java.nio.file.Files.createTempDirectory("kmeans-plan").toString
    spark.listenerManager.register(listener)
    try {
      Similarity.writeKmeansModel(e, "vec_id", "embedding", k = 8, iters = 2, path)
      // listener events arrive on the bus asynchronously
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!written.toArray.exists(_.toString.contains("InsertIntoHadoopFsRelationCommand")) &&
          System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    val writes = written.toArray.map(_.toString).filter(_.contains("InsertIntoHadoopFsRelationCommand"))
    assert(writes.nonEmpty, "the model write was never observed")
    writes.foreach(w => assert(!w.contains("ExistingRDD"), s"writeKmeansModel plan holds a lazy checkpoint:\n$w"))
  }

  test("semdedupPrune: planted colinear duplicate drops, original survives; thr above max keeps all") {
    val e = GraftSession.table(spark, sf, "embeddings").select(col("vec_id"), col("embedding"))
    // a ×2 copy of vector 3 with a LARGER id: same cluster (cosine is
    // scale-invariant), rounded cosine 1.0 — must drop while its
    // smaller-id original survives
    val dup = e.filter(col("vec_id") === 3)
      .select(lit(900000L).as("vec_id"),
        expr("transform(embedding, x -> cast(x * 2 as float))").as("embedding"))
    val pruned = Similarity.semdedupPrune(e.unionByName(dup), "vec_id", "embedding",
      k = 8, iters = 1, thr = 0.99)
    val kept = pruned.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(kept(900000L) === 0, "planted near-dup survived the prune")
    assert(kept(3L) === 1, "smaller-id original was dropped")
    val all = Similarity.semdedupPrune(e, "vec_id", "embedding", k = 8, iters = 1, thr = 1.01)
    assert(all.filter(col("kept") === 0).count() === 0, "thr > max cosine still dropped rows")
  }

  test("assignWithCentroids reproduces the inline kmeans tail from the persisted k-row model") {
    val e = GraftSession.table(spark, sf, "embeddings").select(col("vec_id"), col("embedding"))
    val path = GraftSession.freshGatePath("kmspec", sf)
    Similarity.writeKmeansCentroids(e, "vec_id", "embedding", k = 8, iters = 2, path)
    val probed = Similarity.assignWithCentroids(spark, path, e, "vec_id", "embedding")
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    val inline = Similarity.kmeansAssign(e, "vec_id", "embedding", k = 8, iters = 2)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(probed === inline, "persisted-model assignment diverged from inline kmeans")
  }

  test("law: recenterWithIncrement(∅) ≡ id — every drift 1.0, every n_inc 0; real fold absorbs all members") {
    val e = GraftSession.table(spark, sf, "embeddings").select(col("vec_id"), col("embedding"))
    val path = GraftSession.freshGatePath("kmrecspec", sf)
    Similarity.writeKmeansModel(e, "vec_id", "embedding", k = 8, iters = 1, path)
    val empty = e.filter(lit(false))
    val idFold = Similarity.recenterWithIncrement(spark, path, empty, "vec_id", "embedding")
      .collect()
    assert(idFold.nonEmpty)
    assert(idFold.forall(r => r.getAs[Long]("n_inc") == 0L && r.getAs[Double]("drift") == 1.0),
      "empty fold moved a centroid or invented members")
    val inc = e.filter(col("vec_id") < 20)
      .select((col("vec_id") + lit(100000L)).as("vec_id"),
        expr("transform(embedding, x -> cast(x * 2 as float))").as("embedding"))
    val fold = Similarity.recenterWithIncrement(spark, path, inc, "vec_id", "embedding").collect()
    assert(fold.map(_.getAs[Long]("n_inc")).sum === inc.count(),
      "fold lost or double-counted increment members")
    assert(fold.forall(r => r.getAs[Double]("drift") > 0.0 && r.getAs[Double]("drift") <= 1.0),
      "drift cosine outside (0, 1]")
    // layout-invariant: decimal sums are order-free
    val fold13 = Similarity.recenterWithIncrement(spark, path,
      inc.repartition(13), "vec_id", "embedding")
      .orderBy("cluster").collect().map(_.toSeq).toSeq
    assert(fold13 === fold.sortBy(_.getAs[Long]("cluster")).map(_.toSeq).toSeq,
      "recenter fold depends on physical layout")
  }

  test("retrainWhenDrifted: quiet fold leaves the model alone; fired trigger republishes it") {
    val e = GraftSession.table(spark, sf, "embeddings").select(col("vec_id"), col("embedding"))
    val path = GraftSession.freshGatePath("kmretspec", sf)
    Similarity.writeKmeansModel(e, "vec_id", "embedding", k = 8, iters = 1, path)
    def modelSums() = spark.read.parquet(s"$path/sums")
      .orderBy("cell_id", "pos").collect().map(_.toSeq).toSeq
    val before = modelSums()
    val inc = e.filter(col("vec_id") < 20)
      .select((col("vec_id") + lit(100000L)).as("vec_id"),
        expr("transform(embedding, x -> cast(x * 2 as float))").as("embedding"))
    // threshold 0: no drift cosine can fall below it — the cheap
    // branch: report equals the plain fold, model untouched
    val quiet = Similarity.retrainWhenDrifted(spark, path, inc, "vec_id", "embedding",
      corpus = e, k = 8, iters = 1, driftThreshold = 0.0).orderBy("cluster").collect()
    assert(quiet.forall(_.getAs[Long]("retrained") == 0L))
    assert(modelSums() === before, "quiet fold must not touch the persisted model")
    val plainFold = Similarity.recenterWithIncrement(spark, path, inc, "vec_id", "embedding")
      .orderBy("cluster").collect().map(_.toSeq).toSeq
    assert(quiet.map(_.toSeq.dropRight(1)).toSeq === plainFold,
      "quiet-branch report diverged from the plain recenter fold")
    // threshold 2 > any cosine: the trigger must fire and republish —
    // the new model is exactly writeKmeansModel(corpus ∪ inc)
    val fired = Similarity.retrainWhenDrifted(spark, path, inc, "vec_id", "embedding",
      corpus = e, k = 8, iters = 1, driftThreshold = 2.0).orderBy("cluster").collect()
    assert(fired.forall(_.getAs[Long]("retrained") == 1L))
    // the report still describes the PRE-retrain fold (decision audit)
    assert(fired.map(_.toSeq.dropRight(1)).toSeq === plainFold,
      "fired-branch report must describe the model that made the decision")
    val expectedPath = GraftSession.freshGatePath("kmretspecexp", sf)
    Similarity.writeKmeansModel(e.unionByName(inc), "vec_id", "embedding",
      k = 8, iters = 1, expectedPath)
    val expected = spark.read.parquet(s"$expectedPath/sums")
      .orderBy("cell_id", "pos").collect().map(_.toSeq).toSeq
    assert(modelSums() === expected,
      "republished model diverged from a from-scratch retrain on corpus ∪ inc")
  }

  test("retrainWhenDriftedVersioned: crash-replay of a fired batch is byte-identical (exactly-once law)") {
    val e = GraftSession.table(spark, sf, "embeddings").select(col("vec_id"), col("embedding"))
    val path = GraftSession.freshGatePath("kmretver", sf)
    Similarity.writeKmeansModel(e, "vec_id", "embedding", k = 8, iters = 1, path)
    val inc = e.filter(col("vec_id") < 20)
      .select((col("vec_id") + lit(100000L)).as("vec_id"),
        expr("transform(embedding, x -> cast(x * 2 as float))").as("embedding"))
    def run(version: Long) = Similarity.retrainWhenDriftedVersioned(
        spark, path, version, inc, "vec_id", "embedding",
        corpus = e, k = 8, iters = 1, driftThreshold = 2.0)
      .orderBy("cluster").collect().map(_.toSeq).toSeq
    val first = run(0L)
    assert(first.forall(_.last == 1L), "threshold 2 must fire")
    assert(new java.io.File(s"$path/v=0/_COMMITTED").exists(),
      "fired version must publish with its commit marker")
    // the replay: v=0 now EXISTS, but batch 0 must read the state it
    // saw the first time (versions strictly BELOW 0 — the base) and
    // reproduce its report and republish decision exactly. The
    // in-place flavor would fold against the retrained model here and
    // report retrained=0 with different drift.
    assert(run(0L) === first, "replayed batch 0 diverged from its first run")
    // the NEXT batch reads the v=0 model: a re-fold of the same
    // vectors against the model retrained on them drifts less —
    // strictly different input state, so the report must differ from
    // batch 0's (this is the 'newer batches score against the newer
    // model' half of the contract)
    assert(run(1L) !== first, "batch 1 did not see the v=0 retrained model")
  }

  test("retrain trigger law: fires iff the independent drift monitor's min < threshold, strict at the boundary") {
    // the trigger is DEFINED as thresholding the drift monitor
    // ([[Similarity.recenterWithIncrement]]'s report) — this pins the
    // tie: the retrain decision must equal the monitor's min drift
    // compared STRICTLY (< not <=) against the threshold, boundary
    // value included, so a dashboard reading the monitor can predict
    // every republish exactly
    val e = GraftSession.table(spark, sf, "embeddings").select(col("vec_id"), col("embedding"))
    val path = GraftSession.freshGatePath("kmretlaw", sf)
    Similarity.writeKmeansModel(e, "vec_id", "embedding", k = 8, iters = 1, path)
    val inc = e.filter(col("vec_id") < 20)
      .select((col("vec_id") + lit(100000L)).as("vec_id"),
        expr("transform(embedding, x -> cast(x * 2 as float))").as("embedding"))
    val minD = Similarity.recenterWithIncrement(spark, path, inc, "vec_id", "embedding")
      .agg(min(col("drift"))).collect()(0).getDouble(0)
    assert(minD < 1.0, "planted increment must actually drift")
    // threshold == monitor min exactly: strict < ⇒ NO fire (and the
    // model stays untouched, so the next call sees the same state)
    val at = Similarity.retrainWhenDrifted(spark, path, inc, "vec_id", "embedding",
      corpus = e, k = 8, iters = 1, driftThreshold = minD).collect()
    assert(at.forall(_.getAs[Long]("retrained") == 0L),
      s"threshold exactly at min drift $minD must NOT fire (strict <)")
    // one ulp above: the same state must fire
    val above = Similarity.retrainWhenDrifted(spark, path, inc, "vec_id", "embedding",
      corpus = e, k = 8, iters = 1, driftThreshold = Math.nextUp(minD)).collect()
    assert(above.forall(_.getAs[Long]("retrained") == 1L),
      s"threshold one ulp above min drift $minD must fire")
  }

  test("spanDedup: a zero-sentence doc keeps its row (n_sents=0, n_kept=0, kept_text='')") {
    import graft.ops.Dedup
    val out = Dedup.spanDedup(Seq(
      (1L, "a b. c d. e f."), (2L, ""), (3L, "   ")).toDF("id", "text"),
      "id", "text").collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_sents"), r.getAs[Long]("n_kept"), r.getAs[String]("kept_text")))).toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out(1L) === ((3L, 3L, "a b. c d. e f.")))
    assert(out(2L) === ((0L, 0L, "")))
    assert(out(3L) === ((0L, 0L, "")))
  }

  test("clusterBalancedSample keeps exactly min(cap, population) per cluster, deterministically") {
    val e = GraftSession.table(spark, sf, "embeddings").select(col("vec_id"), col("embedding"))
    val s5 = Similarity.clusterBalancedSample(e, "vec_id", "embedding", k = 8, iters = 1, cap = 5)
    val perCluster = s5.groupBy("cluster")
      .agg(sum(col("kept")).as("n_kept"), count(lit(1)).as("n_all"))
      .collect()
    assert(perCluster.forall(r =>
      r.getAs[Long]("n_kept") == math.min(5L, r.getAs[Long]("n_all"))),
      "a cluster kept more or fewer than min(cap, population)")
    val a = s5.orderBy("vec_id").collect().map(_.toSeq).toSeq
    val b = Similarity.clusterBalancedSample(e.repartition(13), "vec_id", "embedding",
        k = 8, iters = 1, cap = 5)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(a === b, "cluster-balanced sample depends on physical layout")
    // cap beyond the biggest cluster keeps everything
    val all = Similarity.clusterBalancedSample(e, "vec_id", "embedding",
      k = 8, iters = 1, cap = Int.MaxValue)
    assert(all.filter(col("kept") === 0).count() === 0L)
  }

  test("annJoinCurve: the max-cutoff slice equals annJoin at that nProbe; monotone candidates") {
    val e = GraftSession.table(spark, sf, "embeddings").select(col("vec_id"), col("embedding"))
    val l = e.filter(col("vec_id") % 7 === 3)
    val r = e.filter(col("vec_id") % 7 =!= 3)
    val curve = Similarity.annJoinCurve(l, r, "vec_id", "embedding",
      k = 2, nCells = 16, probes = Seq(1, 2, 4))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("left_id", "rank").collect().map(_.toSeq).toSeq
    // the widest slice IS annJoin at that nProbe — one definition
    val slice4 = rows(curve.filter(col("n_probe") === 4)
      .select(col("left_id"), col("rank"), col("right_id"), col("cosine")))
    val direct = rows(Similarity.annJoin(l, r, "vec_id", "embedding",
      k = 2, nCells = 16, nProbe = 4))
    assert(slice4 === direct, "curve max-cutoff slice diverged from annJoin")
    // more probes can only improve a left row's best cosine
    val best = curve.groupBy(col("n_probe"), col("left_id"))
      .agg(max(col("cosine")).as("b"))
      .groupBy(col("left_id"))
      .agg(max(when(col("n_probe") === 1, col("b"))).as("b1"),
        max(when(col("n_probe") === 4, col("b"))).as("b4"))
      .filter(col("b1").isNotNull && col("b4").isNotNull)
      .filter(col("b4") < col("b1"))
    assert(best.count() === 0, "widening the probe set worsened a best cosine")
  }

  test("int8 quantization round-trips direction; quantized top-k matches exact top-1 on real embeddings") {
    val qz = Similarity.quantizeInt8(vecs, "vec_id", "embedding").orderBy("vec_id").collect()
    // unit-x vector quantizes to (127, 0, 0) with scale 1/127
    assert(qz(0).getSeq[Int](1) === Seq(127, 0, 0))
    assert(math.abs(qz(0).getDouble(2) - 1.0 / 127) < 1e-12)
    // colinear vector (scale 2/127) has the identical quantized ints
    assert(qz(3).getSeq[Int](1) === Seq(127, 0, 0))
    val e = GraftSession.table(spark, sf, "embeddings").limit(200)
    val exact = Similarity.cosineTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 1)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity.int8CosineTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 1)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // int8 rounding at dim 64 does not change the top-1 neighbor
    assert(quant === exact)
  }

  test("cosineTopK ranks the colinear vector first") {
    val out = Similarity.cosineTopK(vecs, vecs.filter(col("vec_id") === 0), "vec_id", "embedding", 3)
      .orderBy(col("rank")).collect()
    assert(out.head.getAs[Long]("neighbor_id") === 3L)
    assert(out.head.getAs[Double]("cosine") === 1.0)
    assert(out.length === 3)
  }

  test("ivfTopK with full probing matches brute force top-1") {
    val brute = Similarity.cosineTopK(vecs, vecs.filter(col("vec_id") === 0), "vec_id", "embedding", 1)
      .select("neighbor_id").head().getLong(0)
    val ivf = Similarity.ivfTopK(vecs, vecs.filter(col("vec_id") === 0), "vec_id", "embedding",
        k = 1, nCells = 4, nProbe = 4)
      .select("neighbor_id").head().getLong(0)
    assert(ivf === brute)
  }

  test("refined IVF recall vs brute force is at least the sampled-centroid recall") {
    val e = GraftSession.table(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") < 10)
    def hits(df: org.apache.spark.sql.DataFrame): Long =
      df.select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
        .intersect(
          Similarity.cosineTopK(e, q, "vec_id", "embedding", 3)
            .select(col("query_id"), col("neighbor_id")).collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet).size
    val sampled = hits(Similarity.ivfTopK(e, q, "vec_id", "embedding",
      k = 3, nCells = 16, nProbe = 4))
    val refined = hits(Similarity.ivfTopK(e, q, "vec_id", "embedding",
      k = 3, nCells = 16, nProbe = 4, refineIters = 1))
    // one Lloyd pass is not guaranteed to dominate on a given query
    // set — require high absolute recall and no collapse vs sampled
    assert(refined >= 24, s"refined recall $refined/30 too low (sampled: $sampled)")
    assert(refined >= sampled - 2, s"refined recall $refined collapsed vs sampled $sampled")
  }

  test("refined centroids are exact and repartition-stable") {
    val e = GraftSession.table(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      Similarity.ivfTopK(df, q, "vec_id", "embedding", k = 3, refineIters = 1)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(rows(e) === rows(e.repartition(17)))
  }
}

class IvfIndexSpec extends SparkSpecBase {
  import org.apache.spark.sql.functions._

  test("persisted IVF index probes identically to the in-memory flavor, reading only probed cells") {
    val e   = GraftSession.table(spark, sf, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("ivf-index").toString
    graft.ops.Similarity.writeIvfIndex(e, "vec_id", "embedding", dir, nCells = 16)
    val q = e.filter(col("vec_id") < 5)
    val fromIndex = graft.ops.Similarity.probeIvfIndex(spark, dir, q, "vec_id", "embedding", k = 3)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .orderBy("query_id", "rank").collect().toSeq
    val inMemory = graft.ops.Similarity.ivfTopK(e, q, "vec_id", "embedding", k = 3, nCells = 16)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .orderBy("query_id", "rank").collect().toSeq
    assert(fromIndex === inMemory)
    assert(fromIndex.nonEmpty)
    // layout: inc=<id>/cell_id=<c> — one directory per cell under the
    // build's inc=base level, so a probe can prune to its cells and an
    // increment replay can overwrite only its own inc subtree
    val cellDirs = new java.io.File(s"$dir/assigned/inc=base").listFiles()
      .filter(_.getName.startsWith("cell_id=")).map(_.getName).toSet
    assert(cellDirs.size > 1 && cellDirs.size <= 16)
    // refined flavor round-trips too
    val dir2 = java.nio.file.Files.createTempDirectory("ivf-index-r").toString
    graft.ops.Similarity.writeIvfIndex(e, "vec_id", "embedding", dir2, nCells = 16, refineIters = 1)
    val fromIndex2 = graft.ops.Similarity.probeIvfIndex(spark, dir2, q, "vec_id", "embedding", k = 3)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .orderBy("query_id", "rank").collect().toSeq
    val inMemory2 = graft.ops.Similarity.ivfTopK(e, q, "vec_id", "embedding", k = 3, nCells = 16, refineIters = 1)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .orderBy("query_id", "rank").collect().toSeq
    assert(fromIndex2 === inMemory2)
  }
}

class ScorerPipelineSpec extends SparkSpecBase {

  private def pairs = {
    val d = GraftSession.table(spark, sf, "documents")
      .select(col("source").as("pdf_name"),
        pmod(col("doc_id"), lit(20)).cast("long").as("page"),
        col("doc_id"), col("text").as("text_b"))
    d.crossJoin(broadcast(
        spark.createDataFrame(Seq((1, "q one"), (2, "q two"))).toDF("q_idx", "text")))
      .withColumn("source", lit("Text"))
      .withColumn("key", col("doc_id") * 4 + col("q_idx"))
  }

  test("relevance filter keeps only rows above threshold, deterministically") {
    val out  = Relevance.relevantPairs(pairs, new MockRelevanceScorer, "key", 0.7)
    val n1   = out.count()
    val n2   = Relevance.relevantPairs(pairs.repartition(13), new MockRelevanceScorer, "key", 0.7).count()
    assert(n1 === n2)
    assert(out.agg(min(col("prob"))).head().getDouble(0) >= 0.7)
  }

  test("trained LogisticRelevanceScorer matches model.transform bit-for-bit and separates") {
    import spark.implicits._
    val q = "does the document mention the vector primitive"
    val d = GraftSession.table(spark, sf, "documents")
    val gold = when(array_contains(Dedup.tokens(col("text")), "vector"), 1.0).otherwise(0.0)
    val labeled = d.select(concat(lit(q), lit(" "), col("text")).as("text"), gold.as("label"))
    val model  = graft.ops.MlPipelines.trainRelevanceClassifier(labeled)
    val scorer = graft.scorer.LogisticRelevanceScorer.fromModel(model)
    // MLlib path: transform the combined text, take P(label=1)
    val p1 = udf((v: org.apache.spark.ml.linalg.Vector) => v(1))
    val viaMl = model.transform(
        d.select(col("doc_id").as("key"), concat(lit(q), lit(" "), col("text")).as("text")))
      .select(col("key"), p1(col("probability")).as("prob_ml"))
    // Scorer-seam path on the same rows
    val pairs = d.select(col("doc_id").as("key"), lit(q).as("text"), col("text").as("text_b"))
    val viaSeam = Relevance.scoreRelevance(pairs, scorer, "key")
      .select(col("key"), col("prob"))
    val joined = viaMl.join(viaSeam, "key")
      .select(abs(col("prob_ml") - col("prob")).as("diff"))
    assert(joined.agg(max("diff")).head().getDouble(0) < 1e-9)
    // the trained model actually learned the signal: marker docs score higher
    val byGold = Relevance.scoreRelevance(
        d.select(col("doc_id").as("key"), lit(q).as("text"), col("text").as("text_b"),
          gold.as("gold")), scorer, "key")
      .groupBy("gold").agg(avg("prob").as("p")).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(byGold(1.0) > 0.9 && byGold(0.0) < 0.1,
      s"model failed to separate: $byGold")
  }

  test("trained LogisticQaScorer ranks the marked span first with model-parity scores") {
    import spark.implicits._
    val q    = "does the document mention the vector primitive"
    val d    = GraftSession.table(spark, sf, "documents")
    val toks = Dedup.tokens(col("text"))
    val spans = d.filter(col("doc_id") < 150).select(
      explode(transform(sequence(lit(1), greatest(size(toks) - 2, lit(1))),
        i => array_join(slice(toks, i, lit(3)), " "))).as("span"))
    val labeled = spans.select(
      concat(lit(q), lit(" "), col("span")).as("text"),
      when(col("span").contains("vector"), 1.0).otherwise(0.0).as("label"))
    val model = graft.ops.MlPipelines.trainRelevanceClassifier(labeled)
    val qa = new graft.scorer.LogisticQaScorer(
      graft.scorer.LogisticRelevanceScorer.fromModel(model), nBest = 2)

    val ctx = "alpha beta vector gamma delta"
    val (_, cands) = qa.scoreBatch(Iterator((7L, q, ctx))).next()
    assert(cands.length === 2 && cands.map(_.rank) === Seq(1, 2))
    // the trained ranker puts a vector-carrying span on top
    assert(cands.head.answer.contains("vector"))
    assert(cands.head.noAnsScore === 1.0 - cands.head.score)
    // candidate score parity with the MLlib transform path
    val p1 = udf((v: org.apache.spark.ml.linalg.Vector) => v(1))
    val viaMl = model.transform(Seq(q + " " + cands.head.answer).toDF("text"))
      .select(p1(col("probability"))).head().getDouble(0)
    assert(math.abs(viaMl - cands.head.score) < 1e-9)
    // a context without the token scores low on top-1
    val (_, neg) = qa.scoreBatch(Iterator((8L, q, "alpha beta gamma delta epsilon"))).next()
    assert(neg.head.score < 0.5)
    // deterministic across calls
    assert(qa.scoreBatch(Iterator((7L, q, ctx))).next()._2 === cands)
  }

  test("kpi chain: top-k bound per (pdf, question), no-answer groups collapse") {
    val rel = Relevance.relevantPairs(pairs, new MockRelevanceScorer, "key", 0.7)
    val out = KpiPost.kpiChain(rel, new MockQaScorer(nBest = 2),
      spark.createDataFrame(Seq(("q one", 1.0), ("q two", 2.1))).toDF("question", "kpi_id"),
      "key", topK = 4)
    val counts = out.groupBy("pdf_name", "kpi").count().agg(max("count")).head().getLong(0)
    assert(counts <= 4)
    // every no_answer row has null paragraph/page
    assert(out.filter(col("answer") === "no_answer" && col("paragraph").isNotNull).count() === 0)
    // kpi_id reverse map applied
    assert(out.filter(col("kpi") === "q one" && col("kpi_id") =!= 1.0).count() === 0)
  }

  /** Hand-scored fixture, one input row per key: (pdf_name, text,
    * key, candidates); page = key, paragraph = "para <key>". Every
    * candidate carries no_ans_score = key/100 and plus-boost = that − 15.
    */
  private val handScored: Seq[(String, String, Long, Seq[QaCandidate])] = {
    def c(rank: Int, answer: String, score: Double, key: Long) =
      QaCandidate(rank, answer, score, key / 100.0, key / 100.0 - 15)
    Seq(
      // rank-1 answers all no_answer → one no_answer row at 0.9
      ("a.pdf", "q1", 1L, Seq(c(1, "no_answer", 0.9, 1), c(2, "x y z", 0.5, 1))),
      ("a.pdf", "q1", 2L, Seq(c(1, "no_answer", 0.7, 2), c(2, "p q", 0.8, 2))),
      // only empty candidate arrays → no rows
      ("a.pdf", "q2", 10L, Nil),
      ("a.pdf", "q2", 11L, Nil),
      // four entries tie at 0.6: no_answer, then rank, then key
      ("b.pdf", "q1", 21L,
        Seq(c(1, "no_answer", 0.5, 21), c(2, "d two", 0.6, 21), c(3, "d three", 0.6, 21))),
      ("b.pdf", "q1", 22L,
        Seq(c(1, "no_answer", 0.6, 22), c(2, "c two", 0.6, 22), c(3, "c three", 0.2, 22))),
      // a real rank-1 answer → no no_answer row
      ("b.pdf", "q2", 30L, Seq(c(1, "real", 0.7, 30))),
      ("b.pdf", "q2", 31L, Seq(c(1, "no_answer", 0.9, 31), c(2, "other", 0.3, 31))))
  }

  private def handChain(topK: Int) = {
    import spark.implicits._
    val rel = handScored.map { case (pdf, q, k, _) => (pdf, k, q, s"para $k", "Text", k) }
      .toDF("pdf_name", "page", "text", "text_b", "source", "key")
    KpiPost.kpiChain(rel, new FixedQaScorer(handScored.map(r => r._3 -> r._4).toMap),
      Seq(("q1", 1.0), ("q2", 2.0)).toDF("question", "kpi_id"), "key", topK)
  }

  test("kpi chain edge cases on a hand-scored fixture: no-answer row, empty group, tie order, top-k") {
    def span(pdf: String, q: String, answer: String, k: Long, score: Double) =
      Seq(pdf, q, if (q == "q1") 1.0 else 2.0, answer, k, s"para $k", "Text", score, k / 100.0, k / 100.0 - 15)
    def noAnswer(pdf: String, score: Double) =
      Seq(pdf, "q1", 1.0, "no_answer", null, null, "Text", score, null, null)
    val tieOrder = Seq(noAnswer("b.pdf", 0.6), span("b.pdf", "q1", "d two", 21, 0.6),
      span("b.pdf", "q1", "c two", 22, 0.6), span("b.pdf", "q1", "d three", 21, 0.6))
    val others = Seq(
      noAnswer("a.pdf", 0.9), span("a.pdf", "q1", "p q", 2, 0.8), span("a.pdf", "q1", "x y z", 1, 0.5),
      span("b.pdf", "q2", "real", 30, 0.7), span("b.pdf", "q2", "other", 31, 0.3))
    val out4 = handChain(topK = 4).collect().map(_.toSeq).toSet
    assert(out4 === (tieOrder ++ others).toSet)
    // the tie order shows in which rows each smaller cut keeps
    (1 to 3).foreach { k =>
      val out = handChain(topK = k).collect().map(_.toSeq)
        .filter(r => r.head == "b.pdf" && r(1) == "q1").toSet
      assert(out === tieOrder.take(k).toSet, s"topK = $k")
    }
    (1 to 4).foreach { k =>
      val perGroup = handChain(topK = k).groupBy("pdf_name", "kpi").count().collect().map(_.getLong(2))
      assert(perGroup.max <= k, s"topK = $k")
    }
  }

  test("kpi chain plan: one grouped pass — no cache, no union, one hash exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec        => nodes(q.plan)
      case other                    => other +: other.children.flatMap(nodes)
    }
    val out = handChain(topK = 4)
    out.collect()
    val plan = nodes(out.queryExecution.executedPlan)
    assert(!plan.exists(_.isInstanceOf[InMemoryTableScanExec]), "kpiChain caches a stage")
    assert(!plan.exists(_.isInstanceOf[UnionExec]), "kpiChain unions two branches")
    val hashExchanges = plan.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hashExchanges.size === 1, s"expected one hash exchange, got:\n${out.queryExecution.executedPlan}")
  }

  test("kpi chain: the scorer runs ONCE per input row despite two melted consumers") {
    // kpiChain's scored stage has exactly one consumer, the grouped
    // pass that derives spans, the no-answer row and the top-k, so the
    // scorer runs once per row by construction — a second consumer
    // would re-run inference over every partition (2× model cost with
    // a real model). The counting scorer pins it: one full action over
    // the chain scores each relevant row exactly once.
    KpiChainCountingScorer.calls.set(0L)
    val rel = Relevance.relevantPairs(pairs, new MockRelevanceScorer, "key", 0.7)
    val nRel = rel.count()
    KpiChainCountingScorer.calls.set(0L) // relevantPairs' count is not the chain
    val out = KpiPost.kpiChain(rel, new KpiChainCountingScorer(nBest = 2),
      spark.createDataFrame(Seq(("q one", 1.0), ("q two", 2.1))).toDF("question", "kpi_id"),
      "key", topK = 4)
    out.collect() // ONE action over the whole chain
    assert(KpiChainCountingScorer.calls.get() === nRel,
      s"scorer ran ${KpiChainCountingScorer.calls.get()} row-scores for $nRel relevant rows — " +
        "the single-inference materialization seam regressed")
  }
}

/** Mock QA scorer that counts every row it scores (local-mode static
  * — the spec runs single-JVM). Output matches MockQaScorer so the
  * chain's algebra is unchanged.
  */
class KpiChainCountingScorer(nBest: Int)
    extends graft.scorer.QaScorer {
  private val inner = new MockQaScorer(nBest = nBest)
  def scoreBatch(batch: Iterator[(Long, String, String)]):
      Iterator[(Long, Seq[graft.scorer.QaCandidate])] =
    inner.scoreBatch(batch.map { r => KpiChainCountingScorer.calls.incrementAndGet(); r })
}

object KpiChainCountingScorer {
  val calls = new java.util.concurrent.atomic.AtomicLong(0L)
}

/** QA scorer that answers each key with a fixed candidate list. */
class FixedQaScorer(byKey: Map[Long, Seq[QaCandidate]]) extends graft.scorer.QaScorer {
  def scoreBatch(batch: Iterator[(Long, String, String)]): Iterator[(Long, Seq[QaCandidate])] =
    batch.map { case (k, _, _) => (k, byKey(k)) }
}

class TextAnalysisSpec extends SparkSpecBase {
  import spark.implicits._

  test("langId picks the language with most stopword hits") {
    val out = Seq(
      "the cat and the dog is in to the house",
      "der hund und die katze ist nicht hier",
      "xyzzy plugh").toDF("text")
      .select(TextAnalysis.langId(col("text"))).collect().map(_.getString(0))
    assert(out === Array("en", "de", "und"))
  }

  test("quality features: ranges and token counts") {
    val r = Seq("The quick brown fox, and the lazy dog.").toDF("text")
      .select(TextAnalysis.qualityFeatures(col("text")).as("q")).select("q.*").head()
    assert(r.getAs[Long]("n_tokens") === 8L)
    val score = r.getAs[Double]("quality_score")
    assert(score > 0.0 && score <= 1.0)
  }

  test("fingerprint is bag-of-words invariant") {
    val fp = Seq("b a c", "c b a", "a b c d").toDF("text")
      .select(TextAnalysis.fingerprint(col("text"))).collect().map(_.getString(0))
    assert(fp(0) === fp(1))
    assert(fp(0) !== fp(2))
  }

  test("rollingFingerprint is order-sensitive where the bag print is not") {
    val df = Seq("b a c", "c b a").toDF("text")
      .select(TextAnalysis.rollingFingerprint(col("text")).as("r"),
        TextAnalysis.fingerprint(col("text")).as("b"))
      .collect()
    assert(df(0).getLong(0) !== df(1).getLong(0))
    assert(df(0).getString(1) === df(1).getString(1))
    // matches the hand-computed Rabin-Karp fold for "abc"
    val abc = Seq("abc").toDF("text")
      .select(TextAnalysis.rollingFingerprint(col("text"))).head().getLong(0)
    assert(abc === ((97L * 31 + 98) * 31 + 99) % 1000000007L)
  }
}

class TfidfSpec extends SparkSpecBase {
  import spark.implicits._

  test("tfidfTopTerms ranks rare repeated terms above ubiquitous ones") {
    val docs = Seq(
      (1L, "rareword rareword common common common"),
      (2L, "common common other words here"),
      (3L, "common unrelated text body now")
    ).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .orderBy("doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4)))
    // doc 1: 'rareword' (tf 2, df 1 → idf 2) beats 'common' (tf 3, df 3 → idf 1)
    assert(out.filter(_._1 == 1L).map(t => (t._2, t._3)).toSeq === Seq((1, "rareword"), (2, "common")))
    val rare = out.find(t => t._1 == 1L && t._3 == "rareword").get
    assert(rare._4 === 2L && rare._5 === 1L)
    // ln flavor keeps the same leader on this data
    val ln = graft.ops.TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", k = 1, logIdf = true)
      .filter(col("doc_id") === 1).select("term").head().getString(0)
    assert(ln === "rareword")
  }

  test("ngramFrequencyScore: fluent shared bigrams score low, gibberish scores high") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),   // bigrams shared with doc 2
      (2L, "the cat sat on the floor"), // mostly shared with doc 1
      (3L, "zq xv qp wk jn bv"),        // gibberish: every bigram unique
      (4L, "a")                         // < 2 tokens: no row
    ).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.ngramFrequencyScore(docs, "doc_id", "text", rareMax = 1L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out.map(_._1).toSeq === Seq(1L, 2L, 3L))
    val byId = out.map(t => t._1 -> t).toMap
    // docs 1/2 share "the cat","cat sat","sat on","on the" (c12=2 each);
    // only their last bigram ("the mat"/"the floor") is unique
    assert(byId(1L)._2 === 5 && byId(1L)._3 === 9L && byId(1L)._4 === 1L)
    assert(byId(1L)._5 === 0.2)
    assert(byId(2L)._5 === 0.2)
    // gibberish: all 5 bigrams rare
    assert(byId(3L)._4 === 5L && byId(3L)._5 === 1.0)
    assert(byId(3L)._5 > byId(1L)._5)
  }
}

class Bm25Spec extends SparkSpecBase {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "apple banana apple"),
    (2L, "banana cherry"),
    (3L, "cherry durian cherry cherry")
  ).toDF("doc_id", "text")

  private def run(q: String, k: Int = 5) =
    graft.ops.TextAnalysis.bm25TopK(corpus, "doc_id", "text",
        Seq((1L, q)).toDF("query_id", "qtext"), "query_id", "qtext", k)
      .orderBy("rank")
      .collect().map(r => (r.getLong(2), r.getInt(1), r.getDouble(3), r.getLong(4)))

  test("bm25TopK matches the hand-computed rational formula") {
    // N=3, T=9; query 'apple cherry': df(apple)=1, df(cherry)=2
    // d1: apple tf=2 dl=3 → 22·8·2·9 / (3·(180+27+81)) = 3168/864
    // d3: cherry tf=3 dl=4 → 4752 / (5·405)
    // d2: cherry tf=1 dl=2 → 1584 / (5·171)
    val out = run("apple cherry")
    assert(out.map(_._1).toSeq === Seq(1L, 3L, 2L), "rank order")
    val score = out.map(t => t._1 -> t._3).toMap
    assert(score(1L) === math.rint(3168.0 / 864 * 1e6) / 1e6)
    assert(score(3L) === math.rint(4752.0 / 2025 * 1e6) / 1e6)
    assert(score(2L) === math.rint(1584.0 / 855 * 1e6) / 1e6)
  }

  test("bm25TopK: out-of-vocab terms contribute nothing, n_terms counts matches") {
    val out = run("apple zzz")
    assert(out.map(_._1).toSeq === Seq(1L), "only d1 contains a query term")
    assert(out.head._4 === 1L, "one matched term")
    // identical to the apple-only query: zzz adds no postings
    assert(out.head._3 === run("apple").head._3)
  }

  test("bm25TopK: repeated query terms count once; k truncates") {
    assert(run("cherry cherry").map(_._3).toSeq === run("cherry").map(_._3).toSeq)
    assert(run("apple banana cherry", k = 1).length === 1)
  }

  test("bm25TopK favors rare terms and saturates tf") {
    // 'durian' (df 1) in d3 must outscore 'banana' (df 2) matches
    val out = run("durian")
    assert(out.map(_._1).toSeq === Seq(3L))
    // tf saturation: tripled tf must NOT triple the score (k1 bound)
    val one  = run("banana").find(_._1 == 2L).get._3
    val thr  = run("cherry").find(_._1 == 3L).get._3
    assert(thr < 3 * one)
  }

  test("persistent BM25 index probe ≡ inline bm25TopK, scan bucket-pruned") {
    import graft.ops.TextAnalysis
    val d = GraftSession.table(spark, sf, "documents")
    val qs = Seq((1L, "spark window agg"), (2L, "vector nosuchterm merge"))
      .toDF("query_id", "qtext")
    val path = java.nio.file.Files.createTempDirectory("bm25-idx-spec").toString
    TextAnalysis.writeBm25Index(d, "doc_id", "text", path, buckets = 16)
    val probe  = TextAnalysis.probeBm25Index(spark, path, qs, "query_id", "qtext", k = 4)
      .orderBy("query_id", "rank")
    val inline = TextAnalysis.bm25TopK(d, "doc_id", "text", qs, "query_id", "qtext", k = 4)
      .orderBy("query_id", "rank")
    assert(probe.collect().map(_.toSeq).toSeq === inline.collect().map(_.toSeq).toSeq)
    assert(probe.count() > 0)
    // the probe scan must carry a partition filter on bucket — the
    // whole point of the bucket-partitioned layout is that a query
    // batch reads only its vocabulary's buckets
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [bucket"),
      s"probe scan lost its bucket partition filter:\n$plan")
  }

  test("appendToBm25Index with an EMPTY increment is a no-op, never meta corruption") {
    // sum over zero rows is NULL in Spark: an unguarded meta fold
    // would overwrite t with NULL and poison every later probe
    import graft.ops.TextAnalysis
    val qs   = Seq((1L, "apple cherry")).toDF("query_id", "qtext")
    val path = java.nio.file.Files.createTempDirectory("bm25-empty").toString
    TextAnalysis.writeBm25Index(corpus, "doc_id", "text", path, buckets = 4)
    def probe() = TextAnalysis.probeBm25Index(spark, path, qs, "query_id", "qtext", k = 3)
      .orderBy("rank").collect().map(_.toSeq).toSeq
    val before = probe()
    TextAnalysis.appendToBm25Index(corpus.filter(col("doc_id") < 0), "doc_id", "text", path,
      incrementId = "empty-batch")
    assert(probe() === before)
    assert(before.nonEmpty)
  }

  test("BM25 index probe-after-append ≡ rebuilt-index probe (meta folds, df self-maintains)") {
    import graft.ops.TextAnalysis
    val d = GraftSession.table(spark, sf, "documents")
    val half1 = d.filter(col("doc_id") % 2 === 0)
    val half2 = d.filter(col("doc_id") % 2 === 1)
    val qs = Seq((1L, "spark window agg"), (2L, "customer query data"))
      .toDF("query_id", "qtext")
    val inc = java.nio.file.Files.createTempDirectory("bm25-inc").toString
    TextAnalysis.writeBm25Index(half1, "doc_id", "text", inc, buckets = 16)
    TextAnalysis.appendToBm25Index(half2, "doc_id", "text", inc, incrementId = "half2")
    val full = java.nio.file.Files.createTempDirectory("bm25-full").toString
    TextAnalysis.writeBm25Index(d, "doc_id", "text", full, buckets = 16)
    def rows(path: String) =
      TextAnalysis.probeBm25Index(spark, path, qs, "query_id", "qtext", k = 5)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val got = rows(inc)
    assert(got === rows(full))
    assert(got.nonEmpty)
  }

  test("md5_feature_counts fused kernel ≡ the column formulation (the oracle algebra)") {
    import graft.ops.TextAnalysis
    // the driver corpus plus adversarial rows: empty text, a single
    // token (no bigram), heavy repeats (run-length encoding), multi-
    // byte UTF-8 (digest must see UTF-8 bytes), and double spaces
    // (the tokenizer drops empties — the kernel sees the same array)
    val extra = Seq((9001L, ""), (9002L, "solo"), (9003L, "a a a b b a"),
      (9004L, "héllo wörld héllo wörld héllo"), (9005L, "  double  spaces  x "))
      .toDF("doc_id", "text")
    val all = GraftSession.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).unionByName(extra)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id", "bucket").collect().map(_.toSeq).toSeq
    val fused = canon(TextAnalysis.affinityBucketCounts(all, col("doc_id"), col("text"), 4096))
    val ref   = canon(TextAnalysis.affinityBucketCountsColumnOracle(all, col("doc_id"), col("text"), 4096))
    assert(fused.nonEmpty)
    assert(fused === ref, "fused md5_feature_counts diverges from the md5/conv column algebra")
    // and the fused stage plans no Exchange at all — the per-doc
    // aggregation happens inside the kernel, so the docB build is
    // shuffle-free (the groupBy(doc, bucket) Exchange is gone)
    val plan = TextAnalysis.affinityBucketCounts(all, col("doc_id"), col("text"), 4096)
      .queryExecution.executedPlan
    assert(!plan.toString.contains("Exchange"),
      s"fused bucket-count stage should be shuffle-free:\n$plan")
  }

  test("hashedAffinityScore ranks target-like docs above off-domain docs") {
    import graft.ops.TextAnalysis
    // two vocabularies that share nothing: "legal" docs vs "cooking"
    // docs; target = a legal seed sample → legal corpus docs must all
    // out-score cooking ones
    val legal = (1L to 6L).map(i =>
      (i, s"the court holds that clause $i of the agreement is void"))
    val cook = (11L to 16L).map(i =>
      (i, s"simmer the onions then add garlic and stir pan $i gently"))
    val corpus = (legal ++ cook).toDF("doc_id", "text")
    val target = Seq((0L, "the court finds the agreement clause enforceable"),
      (0L, "this agreement is void where the court so holds")).toDF("doc_id", "text")
    val out = TextAnalysis.hashedAffinityScore(corpus, "doc_id", "text", target, "text")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val worstLegal = legal.map(l => out(l._1)).min
    val bestCook   = cook.map(c => out(c._1)).max
    assert(worstLegal > bestCook,
      s"affinity failed to separate domains: legal min $worstLegal vs cooking max $bestCook")
  }

  test("hashedAffinityScore is partition-layout invariant (pure integer algebra)") {
    import graft.ops.TextAnalysis
    val d = GraftSession.table(spark, sf, "documents").limit(120)
    val t = d.filter(col("lang") === "de")
    def run(parts: Int) =
      TextAnalysis.hashedAffinityScore(d.repartition(parts), "doc_id", "text", t, "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(run(1) === run(16))
  }

  test("scoreWithAffinityWeights: unseen buckets take the fit-time smoothed zero-count weight") {
    import graft.ops.TextAnalysis
    val fit    = Seq((1L, "alpha beta"), (2L, "alpha gamma")).toDF("doc_id", "text")
    val target = Seq((0L, "alpha beta")).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("dsir-oov").toString
    TextAnalysis.writeAffinityWeights(fit, "doc_id", "text", target, "text", path)
    // an increment whose vocabulary the fit corpus never saw — a
    // crawl increment is NOT guaranteed to be a vocab subset
    val inc = Seq((9L, "zzqx wwvk")).toDF("doc_id", "text")
    def buckets(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.affinityBucketCountsColumnOracle(df, col("doc_id"), col("text"), 4096)
        .select("bucket").collect().map(_.getLong(0)).toSet
    val fitB = buckets(fit) ++ buckets(target)
    val incB = buckets(inc)
    assert(incB.intersect(fitB).isEmpty,
      "hash collision between the OOV tokens and the fit corpus — pick different tokens")
    val out = TextAnalysis.scoreWithAffinityWeights(spark, path, inc, "doc_id", "text")
      .collect()(0)
    val head = spark.read.parquet(path).limit(1).collect()(0)
    val w0 = head.getLong(head.fieldIndex("wgt0"))
    // every feature unseen → score = n·w0 → affinity = w0 exactly;
    // n_feats must COUNT the unseen features (2 unigrams + 1 bigram),
    // not drop them
    assert(out.getLong(1) === 3L, s"n_feats dropped unseen features: $out")
    assert(out.getLong(3) === w0, s"affinity must equal the smoothed zero-count weight: $out vs $w0")
  }

  test("scoreWithAffinityWeights(increment) ≡ one-shot scorer restricted to the increment") {
    import graft.ops.TextAnalysis
    val d = GraftSession.table(spark, sf, "documents")
    val t = d.filter(col("lang") === "de")
    val path = java.nio.file.Files.createTempDirectory("dsir-w").toString
    TextAnalysis.writeAffinityWeights(d, "doc_id", "text", t, "text", path)
    val inc = d.filter(col("doc_id") % 7 === 2)
    val got = TextAnalysis.scoreWithAffinityWeights(spark, path, inc, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = TextAnalysis.hashedAffinityScore(d, "doc_id", "text", t, "text")
      .filter(col("doc_id") % 7 === 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === want, "persisted-weights scoring diverges from the one-shot scorer")
    assert(got.nonEmpty)
  }
}

class MultimodalSpec extends SparkSpecBase {

  test("fake codec helpers are deterministic and shape-correct") {
    val f = Multimodal.FakeCodec.features(Array[Byte](1, 2, 3, 4, 5), 2)
    assert(f.length === 2)
    assert(math.abs(f(0) - (1 + 3 + 5) / 255.0) < 1e-6)
    assert(Multimodal.FakeCodec.resize(Array[Byte](1, 2, 3), 2, 2).length === 4)
    assert(Multimodal.FakeCodec.sampleFrames(new Array[Byte](100), 10, 3).length === 4)
  }

  test("phash: byte-copies collide, integer 2x upscale is hash-invariant, distinct content differs") {
    import Multimodal.ImageCodec
    def img(id: Long, w: Int, h: Int) = ImageCodec.decode(
      ImageCodec.encodePng(w, h, (x, y) => {
        val rr = ((id * 7 + x * 3 + y * 11) % 256).toInt
        val gg = ((id * 13 + x * 5 + y * 2) % 256).toInt
        val bb = ((id * 3 + x * 17 + y * 7) % 256).toInt
        (rr << 16) | (gg << 8) | bb
      })).get
    val a = img(1L, 8, 8)
    val p = ImageCodec.phash(a)
    assert(p.length === 64 && p.forall(c => c == '0' || c == '1'))
    // byte-copy: same pixels, same hash (determinism)
    assert(ImageCodec.phash(img(1L, 8, 8)) === p)
    // the PERCEPTUAL property: a 2x nearest-neighbor upscale of an
    // 8x8 image samples the identical source pixels on the 8x8 grid
    // (i*16/8 = 2i maps back to pixel i), so the hash survives the
    // resize even though every byte of the container changed
    val up = ImageCodec.decode(ImageCodec.resizePng(a, 16, 16)).get
    assert(ImageCodec.phash(up) === p,
      "aHash changed under integer upscale — perceptual invariance lost")
    // distinct content separates: the INVERTED image flips every
    // mean-compare bit (no ties in this gradient), so its hash is the
    // bitwise complement — never equal. (Two ids of the same gradient
    // formula hash IDENTICALLY by design: the id term is constant per
    // image and the mean compare cancels it — that is the perceptual
    // point, and why the gate plants byte-copies rather than id
    // shifts for its dedup groups.)
    val inv = ImageCodec.decode(ImageCodec.encodePng(8, 8, (x, y) => {
      val rr = 255 - ((1L * 7 + x * 3 + y * 11) % 256).toInt
      val gg = 255 - ((1L * 13 + x * 5 + y * 2) % 256).toInt
      val bb = 255 - ((1L * 3 + x * 17 + y * 7) % 256).toInt
      (rr << 16) | (gg << 8) | bb
    })).get
    assert(ImageCodec.phash(inv) === p.map(c => if (c == '1') '0' else '1'),
      "inverted gradient must hash to the exact bitwise complement")
  }

  test("audio fingerprint: deterministic, amplitude-scale invariant, silence-total") {
    import Multimodal.WavCodec
    val s = Array.tabulate(300)(t => (((7L * 131 + t * 17) % 2003) - 1001).toShort)
    val f = WavCodec.fingerprint(s)
    assert(f.length === 31 && f.forall(c => c == '0' || c == '1'))
    assert(WavCodec.fingerprint(s.clone()) === f)
    // the perceptual property: doubling the gain scales every window
    // energy together (exactly — x2 on shorts ≤ 1001 is lossless) —
    // the rising/falling envelope bits survive, so a gain-normalized
    // copy still collides
    val loud = s.map(v => (v * 2).toShort)
    assert(WavCodec.fingerprint(loud) === f,
      "envelope fingerprint changed under uniform gain — scale invariance lost")
    // degenerate input has a defined value, not a crash
    assert(WavCodec.fingerprint(Array.empty[Short]) === "")
    assert(WavCodec.fingerprint(Array.fill(100)(0.toShort)) === "0" * 31)
  }

  test("extractFeatures preserves schema and adds float features") {
    val media = Multimodal.syntheticMedia(GraftSession.table(spark, sf, "nation"), "n_nationkey")
    val out   = Multimodal.extractFeatures(media, dims = 8)
    assert(out.schema.fieldNames.toSeq ===
      Seq("media_id", "kind", "bytes", "meta", "features"))
    val feats = out.select("features").head().getSeq[Float](0)
    assert(feats.length === 8)
    assert(out.count() === 25)
  }

  test("resizeMedia normalizes payload size and rewrites width/height metadata") {
    val media = Multimodal.syntheticMedia(
      GraftSession.table(spark, sf, "nation"), "n_nationkey", payloadLen = 64)
    val out = Multimodal.resizeMedia(media, w = 4, h = 8)
    assert(out.schema === media.schema)
    val lens = out.select(length(col("bytes"))).distinct().collect().map(_.getInt(0))
    assert(lens.toSeq === Seq(32))
    val meta = out.select(col("meta.width"), col("meta.height"), col("meta.sample_rate")).head()
    assert((meta.getInt(0), meta.getInt(1), meta.getInt(2)) === ((4, 8, 16000)))
  }

  test("sampleFramesOp explodes to kept frames with original indices") {
    val media = Multimodal.syntheticMedia(
      GraftSession.table(spark, sf, "nation"), "n_nationkey", payloadLen = 64)
    val out = Multimodal.sampleFramesOp(media, frameSize = 16, everyNth = 2)
    // 4 chunks per payload, every 2nd kept → frames 0 and 2 for all 25 rows
    assert(out.count() === 50)
    val idxs = out.select("frame_idx").distinct().collect().map(_.getInt(0)).sorted
    assert(idxs.toSeq === Seq(0, 2))
    assert(out.select(length(col("frame"))).distinct().head().getInt(0) === 16)
    // frame content is the corresponding payload slice
    val row = out.filter(col("media_id") === 1 && col("frame_idx") === 2)
      .select(col("frame").cast("string")).head().getString(0)
    val payload = media.filter(col("media_id") === 1)
      .select(col("bytes").cast("string")).head().getString(0)
    assert(row === payload.substring(32, 48))
  }
}
