package graft

import graft.ops.CorpusOps

import org.apache.spark.sql.functions._

class CorpusOpsSpec extends SparkSpecBase {
  import spark.implicits._

  test("gopherFilter assigns the first failing rule and keeps clean rows") {
    val docs = Seq(
      (1L, "the cat sat on the mat with the dog and more words here now"), // clean
      (2L, "short text"),                                                  // too few tokens
      (3L, "the " + Seq.fill(300)("word").mkString(" ")),                  // too many tokens
      (4L, "the aa bb cc dd ee ff gg hh ii jj kk"),                        // mean word len low
      (5L, "### $$$ %%% ^^^ &&& *** the !!! ((( ))) ___x")                 // symbol ratio
    ).toDF("doc_id", "text")
    val out = CorpusOps.gopherFilter(docs, "text",
        minTokens = 5, maxTokens = 100, minStopwordHits = 1)
      .select("doc_id", "keep", "drop_reason").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2)))
    assert(out === Array(
      (1L, true, ""),
      (2L, false, "too_few_tokens"),
      (3L, false, "too_many_tokens"),
      (4L, false, "mean_word_len_low"),
      (5L, false, "symbol_ratio")))
  }

  test("repetitionSignals: dup-token ratio and top-bigram share") {
    val docs = Seq(
      (1L, "spam spam spam spam"),      // one token, one bigram repeated
      (2L, "all words here differ"),    // no repetition
      (3L, "one")                       // no bigrams at all
    ).toDF("doc_id", "text")
    val out = CorpusOps.repetitionSignals(docs, "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(out === Array(
      (1L, 0.75, 1.0),    // 1 - 1/4 tokens distinct; "spam spam" = 3/3 bigrams
      (2L, 0.0, 0.3333),  // all distinct; every bigram unique → top = 1/3
      (3L, 0.0, 0.0)))    // single token: no bigrams
  }

  test("stratifiedSample is deterministic, partition-independent, and rate-shaped") {
    val df = (0L until 2000L).map(i => (i, s"s${i % 4}")).toDF("k", "stratum")
    val rates = Map("s0" -> 0.05, "s1" -> 0.5)
    val a = CorpusOps.stratifiedSample(df, "k", "stratum", rates, defaultRate = 0.95)
    val b = CorpusOps.stratifiedSample(df.repartition(13), "k", "stratum", rates, defaultRate = 0.95)
    assert(a.select("k").collect().map(_.getLong(0)).sorted ===
      b.select("k").collect().map(_.getLong(0)).sorted)
    val byStratum = a.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStratum("s0") < 60)                            // ~25 of 500
    assert(byStratum("s1") > 180 && byStratum("s1") < 320)  // ~250 of 500
    assert(byStratum("s2") > 420)                           // ~475 of 500
  }

  test("mixDomains cuts each domain to its token budget by the DetHash prefix, exactly") {
    import graft.functions.DetHash
    // 40 docs across two domains, 5 tokens each ("w w w w w") so the
    // cut arithmetic is trivial to replay: budget 12 keeps the first
    // 2 docs of the hash order (cum 5, 10 — the 3rd crosses at 15)
    val docs = (0L until 40L).map(i => (i, s"d${i % 2}", "w w w w w"))
      .toDF("doc_id", "domain", "text")
    val budgets = Seq(("d0", 12L), ("d1", 25L)).toDF("domain", "budget")
    val out = CorpusOps.mixDomains(docs, "doc_id", "text", "domain", budgets)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3)))
    val byDomain = out.groupBy(_._2)
    assert(byDomain("d0").length === 2, "budget 12 over 5-token docs must keep 2")
    assert(byDomain("d1").length === 5, "budget 25 over 5-token docs must keep 5")
    // the kept set is the detUnit-order prefix, not an arbitrary subset
    def prefix(dom: String, k: Int) = (0L until 40L).filter(i => s"d${i % 2}" == dom)
      .sortBy(i => (DetHash.Mult * (i % DetHash.KeyMod)) % DetHash.Mod)
      .take(k).toSet
    assert(byDomain("d0").map(_._1).toSet === prefix("d0", 2))
    assert(byDomain("d1").map(_._1).toSet === prefix("d1", 5))
    assert(out.forall(_._3 === 5) && byDomain("d1").map(_._4).max === 25L)
  }

  test("mixDomains drops domains absent from the budget list and is layout-invariant") {
    val docs = (0L until 60L).map(i => (i, s"d${i % 3}", "a b c")).toDF("doc_id", "domain", "text")
    val budgets = Seq(("d0", 30L), ("d1", 9L)).toDF("domain", "budget")
    val a = CorpusOps.mixDomains(docs, "doc_id", "text", "domain", budgets)
    assert(a.filter(col("domain") === "d2").count() === 0, "unbudgeted domain leaked through")
    val b = CorpusOps.mixDomains(docs.repartition(17), "doc_id", "text", "domain", budgets)
    assert(a.collect().map(_.toSeq).toSet === b.collect().map(_.toSeq).toSet)
  }

  test("temperatureResample hits the target size with sqrt-flattened source shares, deterministically") {
    // 900 docs in a 8:1 source imbalance; sqrt weights flatten it to 3:1
    val df = (0L until 900L).map(i => (i, if (i < 800) "big" else "small")).toDF("k", "src")
    val out = CorpusOps.temperatureResample(df, "k", "src", targetTotal = 450)
    val byS = out.groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = byS.values.sum
    assert(math.abs(total - 450L) <= 25, s"total $total")
    // sqrt(800):sqrt(100) ≈ 2.83:1 — the small source is upsampled
    // relative to its 1:8 share (docs repeat via copy_idx)
    val ratio = byS("big").toDouble / byS("small")
    assert(ratio > 2.0 && ratio < 4.0, s"ratio $ratio")
    assert(out.filter(col("src") === "small").groupBy("k").count()
      .filter(col("count") > 1).count() > 0, "small-source docs should repeat")
    // deterministic under repartitioning
    val again = CorpusOps.temperatureResample(df.repartition(13), "k", "src", targetTotal = 450)
      .select("k", "copy_idx").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(again === out.select("k", "copy_idx").collect().map(r => (r.getLong(0), r.getLong(1))).sorted)
  }

  test("redactPii replaces emails/IPs/phones with counts, in the documented order") {
    val df = Seq(
      (1L, "mail a.user+tag@sub.example.org and b@x.io today"),
      (2L, "server 192.168.1.255 dialed 555-123-4567 twice: 555-123-4567"),
      (3L, "clean text with no pii at all"),
      (4L, "edge bob@1.2.3.4 has a numeric host, not an alphabetic TLD")
    ).toDF("id", "text")
    val out = CorpusOps.redactPii(df, "text").orderBy("id")
      .select("redacted", "n_emails", "n_ips", "n_phones")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(out(0) === (("mail <EMAIL> and <EMAIL> today", 2, 0, 0)))
    assert(out(1) === (("server <IP> dialed <PHONE> twice: <PHONE>", 0, 1, 2)))
    assert(out(2) === (("clean text with no pii at all", 0, 0, 0)))
    // the email pattern requires an alphabetic TLD, so a numeric-host
    // address is NOT an email — the IP redaction catches it instead
    // (identical semantics in the RE2 oracle)
    assert(out(3) === (("edge bob@<IP> has a numeric host, not an alphabetic TLD", 0, 1, 0)))
  }

  test("contaminationCheck flags docs sharing enough shingles with a benchmark item") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "totally unrelated words live here in this document body now"),
      (3L, "prefix alpha beta gamma delta epsilon zeta eta theta iota suffix")
    ).toDF("doc_id", "text")
    val bench = Seq((10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("bench_id", "btext")
    val out = CorpusOps.contaminationCheck(corpus, "doc_id", "text",
        bench, "bench_id", "btext", w = 3, minShared = 6)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 1 contains the full bench item (8 shared trigrams), doc 3 a
    // 9-token run (7 shared); doc 2 shares nothing
    assert(out.map(_._1).toSeq === Seq(1L, 3L))
    assert(out.forall(_._2 == 10L))
    assert(out(0)._3 === 8L && out(1)._3 === 7L)
  }

  test("packSequences lays docs contiguously into token bins per shard") {
    val df = Seq(
      ("s0", 1L, "a b c d e"),        // 5 tokens → bin 0, offset 0
      ("s0", 2L, "f g h i j k l m"),  // 8 tokens → bin 0, offset 5
      ("s0", 3L, "n o p"),            // 3 tokens → starts at 13 → bin 1, offset 3
      ("s1", 9L, "x y")               // separate shard restarts at 0
    ).toDF("source", "doc_id", "text")
    val out = CorpusOps.packSequences(df, "doc_id", "text", "source", maxTokens = 10)
      .orderBy("source", "doc_id")
      .select("source", "doc_id", "n_tokens", "bin_id", "bin_offset")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out === Array(
      ("s0", 1L, 5L, 0L, 0L),
      ("s0", 2L, 8L, 0L, 5L),
      ("s0", 3L, 3L, 1L, 3L),
      ("s1", 9L, 2L, 0L, 0L)))
  }

  test("extractUrls pulls every link with its lowercased host") {
    val df = Seq(
      (1L, "intro https://Sub.Example.COM/a/b?q=1 mid http://plain.org tail"),
      (2L, "no links at all here")
    ).toDF("id", "text")
    val out = CorpusOps.extractUrls(df, "id", "text").orderBy("url")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(out === Array(
      (1L, "http://plain.org", "plain.org"),
      (1L, "https://Sub.Example.COM/a/b?q=1", "sub.example.com")))
  }

  test("chunkDocuments: stride windows, truncated tail, short docs yield one chunk") {
    val df = Seq(
      (1L, (1 to 100).map(i => s"t$i").mkString(" ")), // 100 tokens
      (2L, "a b c")                                     // 3 tokens < overlap
    ).toDF("doc_id", "text")
    val out = CorpusOps.chunkDocuments(df, "doc_id", "text", chunkSize = 40, overlap = 10)
      .orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    val d1 = out.filter(_._1 == 1L)
    // ceil((100-10)/30) = 3 chunks at starts 0/30/60
    assert(d1.map(_._2).toSeq === Seq(0, 1, 2))
    assert(d1(0)._3.startsWith("t1 ") && d1(0)._4 === 40)
    assert(d1(1)._3.startsWith("t31 ") && d1(1)._4 === 40)
    assert(d1(2)._3.startsWith("t61 ") && d1(2)._3.endsWith(" t100") && d1(2)._4 === 40)
    // consecutive chunks overlap by exactly `overlap` tokens
    assert(d1(0)._3.split(" ").takeRight(10).toSeq === d1(1)._3.split(" ").take(10).toSeq)
    val d2 = out.filter(_._1 == 2L)
    assert(d2.toSeq === Seq((2L, 0, "a b c", 3)))
  }

  test("canonicalUrl collapses crawl variants; dedupByUrl keeps min doc per key") {
    val df = Seq(
      (5L, "a http://WWW.Example.com/Page/ b"),
      (3L, "c https://example.com/Page?utm=1#x d"),
      (9L, "e https://example.com/page f"),
      (7L, "g http://other.org/ h")
    ).toDF("doc_id", "text")
    val out = CorpusOps.dedupByUrl(df, "doc_id", "text")
      .orderBy("canon").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq(
      // scheme/WWW/slash/query/case variants all merge; min doc id kept
      ("example.com/page", 3L, 3L),
      ("other.org", 7L, 1L)))
  }

  test("dedupIntraDoc drops only repeated spans, keeping first occurrences in order") {
    val span = (1 to 3).map(i => s"s$i").mkString(" ")   // 3-token span
    val df = Seq(
      // spans: [span][x y z][span AGAIN -> dropped][tail w] (window=3)
      (1L, s"$span x y z $span w"),
      // no repeats: everything survives, including the short tail
      (2L, "a b c d"),
      // three identical spans: only the first survives
      (3L, s"$span $span $span")
    ).toDF("doc_id", "text")
    val out = CorpusOps.dedupIntraDoc(df, "doc_id", "text", window = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(out(0) === ((1L, 4, 3, s"$span x y z w")))
    assert(out(1) === ((2L, 2, 2, "a b c d")))
    assert(out(2) === ((3L, 3, 1, span)))
  }

  test("dedupIntraDoc is shuffle-free (rides the scan)") {
    val df = GraftSession.table(spark, sf, "documents")
    val plan = CorpusOps.dedupIntraDoc(df, "doc_id", "text", window = 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"intra-doc dedup gained a shuffle:\n$plan")
  }

  test("dedupCrossDocSubstring cuts repeated cross-doc runs, keeping the corpus-first occurrence") {
    val df = Seq(
      (1L, "h1 h2 h3 a b c"),    // first carrier of the h-run: kept whole
      (2L, "x y z h1 h2 h3 q"),  // mid-doc repeat: exactly the run is cut
      (3L, "h1 h2 h3"),          // doc IS the run: cut to empty
      (4L, "p q"),               // shorter than the window: untouched
      (5L, "m h1 h2 h3 a n")     // overlapping dup windows ([h1 h2 h3] and
                                 // [h2 h3 a], both first in doc 1) merge
                                 // into one maximal covered span 1..4
    ).toDF("doc_id", "text")
    val out = CorpusOps.dedupCrossDocSubstring(df, "doc_id", "text", window = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(out(0) === ((1L, 6, 0, "h1 h2 h3 a b c")))
    assert(out(1) === ((2L, 7, 3, "x y z q")))
    assert(out(2) === ((3L, 3, 3, "")))
    assert(out(3) === ((4L, 2, 0, "p q")))
    assert(out(4) === ((5L, 6, 4, "m n")))
  }

  test("dedupCrossDocSubstring plans bucketed joins, never all-pairs") {
    val df = GraftSession.table(spark, sf, "documents")
    val plan = CorpusOps.dedupCrossDocSubstring(df, "doc_id", "text", window = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"cross-doc substring dedup planned an all-pairs join:\n$plan")
  }

  test("substring index probe cuts exactly the passages present in the base corpus") {
    val base = Seq(
      (1L, "h1 h2 h3 h4 a b c"),
      (2L, "x y z w q r s")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "h1 h2 h3 h4 fresh tail words"), // base passage + new tail
      (11L, "totally new content here only") // untouched
    ).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("sub-index-spec").toString
    CorpusOps.writeSubstringIndex(base, "doc_id", "text", path, window = 4)
    val out = CorpusOps.probeSubstringIndex(spark, path, fresh, "doc_id", "text", window = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(out(0) === ((10L, 7, 4, "fresh tail words")))
    assert(out(1) === ((11L, 5, 0, "totally new content here only")))
  }

  test("substring index over a corpus with no window-sized docs: probe passes increment through") {
    // an empty history must no-op the cut, not crash on schema
    // inference over the empty partitioned dir
    val base = Seq((1L, "a b"), (2L, "c")).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("sub-empty").toString
    CorpusOps.writeSubstringIndex(base, "doc_id", "text", path, window = 4)
    val fresh = Seq((10L, "fresh words here now ok")).toDF("doc_id", "text")
    val out = CorpusOps.probeSubstringIndex(spark, path, fresh, "doc_id", "text", window = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(out.toSeq === Seq((10L, 5, 0, "fresh words here now ok")))
  }

  test("substring index probe-after-append ≡ rebuilt-index probe") {
    val base = GraftSession.table(spark, sf, "documents")
      .select(col("doc_id").as("id"), col("text"))
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val inc = base.filter(col("id") < 10)
      .select((col("id") + 5000).as("id"),
        concat(array_join(slice(toks, 1, 10), " "), lit(" aa bb cc dd")).as("text"))
    val probes = base.filter(col("id") < 10)
      .select((col("id") + 9000).as("id"),
        concat(array_join(slice(toks, 1, 10), " "), lit(" aa bb cc dd ee")).as("text"))
    val pathA = java.nio.file.Files.createTempDirectory("sub-append").toString
    CorpusOps.writeSubstringIndex(base, "id", "text", pathA, window = 4)
    CorpusOps.appendToSubstringIndex(inc, "id", "text", pathA, window = 4)
    val pathR = java.nio.file.Files.createTempDirectory("sub-rebuild").toString
    CorpusOps.writeSubstringIndex(base.unionByName(inc), "id", "text", pathR, window = 4)
    def probe(p: String) = CorpusOps.probeSubstringIndex(spark, p, probes, "id", "text", window = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
    val appended = probe(pathA)
    assert(appended === probe(pathR))
    // probes share the base prefix AND the increment's appended tail
    // run ("aa bb cc dd"), so the append must contribute cut windows
    assert(appended.forall(_._3 > 0), "every probe doc carries planted passages")
  }

  test("shardShuffle: dense positions, exact resume offsets, layout-invariant, actually shuffled") {
    val d = GraftSession.table(spark, sf, "documents")
    def run(df: org.apache.spark.sql.DataFrame) =
      CorpusOps.shardShuffle(df, "doc_id", "text", shards = 8)
        .select("shard", "position", "doc_id", "n_tokens", "shard_offset")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .sortBy(t => (t._1, t._2))
    val out = run(d)
    assert(out.map(_._3).distinct.length === out.length, "every doc appears exactly once")
    out.groupBy(_._1).foreach { case (shard, rows) =>
      assert(shard >= 0 && shard < 8)
      // positions are dense 0..n-1 and offsets are the running token
      // sum of everything before — the exact-resume contract
      assert(rows.map(_._2).toSeq === rows.indices.map(_.toLong))
      var cum = 0L
      rows.foreach { r => assert(r._5 === cum, s"offset gap at $r"); cum += r._4 }
    }
    // deterministic under any partition layout (the DetHash guarantee)
    assert(run(d.repartition(13)).toSeq === out.toSeq)
    // and genuinely shuffled: within-shard order must not be id order
    val firstShard = out.filter(_._1 == out.head._1).map(_._3)
    assert(firstShard.toSeq !== firstShard.sorted.toSeq,
      "within-shard order is id-sorted — the shuffle is not shuffling")
  }

  test("shard manifest append laws: append(∅) ≡ id, replay ≡ once, appends compose, base frozen") {
    val d = GraftSession.table(spark, sf, "documents")
    val base = d.filter(col("doc_id") % 9 =!= 4)
    val inc1 = d.filter(col("doc_id") % 9 === 4)
    val inc2 = d.filter(col("doc_id") % 9 === 2)
      .select((col("doc_id") + 50000).as("doc_id"), col("text"))
    val path = java.nio.file.Files.createTempDirectory("shardman").toString
    CorpusOps.writeShardManifest(base, "doc_id", "text", shards = 8, path)
    def manifest() = spark.read.parquet(s"$path/parts")
      .groupBy("shard").agg(sum("n_docs").as("d"), sum("n_tokens").as("t"))
      .orderBy("shard").collect().map(_.toSeq).toSeq
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("shard", "position").collect().map(_.toSeq).toSeq
    val m0 = manifest()
    // law 1: the empty increment changes nothing and assigns nothing
    val empty = CorpusOps.appendToShards(spark, path, inc1.limit(0), "doc_id", "text", "e0")
    assert(empty.count() === 0L)
    assert(manifest() === m0, "append(∅) must leave the manifest counts unchanged")
    val a1 = canon(CorpusOps.appendToShards(spark, path, inc1, "doc_id", "text", "day1"))
    val m1 = manifest()
    // law 2: replaying the same increment id returns the identical
    // assignment and leaves the manifest counts identical (the fold
    // excludes its own prior partition, then overwrites it)
    assert(canon(CorpusOps.appendToShards(spark, path, inc1, "doc_id", "text", "day1")) === a1)
    assert(manifest() === m1, "replay must not double-count the increment")
    // law 3: a second, distinct increment starts after the first's tail
    val a2 = canon(CorpusOps.appendToShards(spark, path, inc2, "doc_id", "text", "day2"))
    val tail1 = a1.groupBy(_.head).map { case (s, rows) => s -> rows.size }
    a2.groupBy(_.head).foreach { case (shard, rows) =>
      val minPos = rows.map(_(1).asInstanceOf[Long]).min
      val baseN = m1.find(_.head == shard).get(1).asInstanceOf[Long]
      assert(minPos === baseN, s"day2 must start at day1's committed tail in shard $shard")
    }
    assert(tail1.nonEmpty)
    // law 4: base positions are frozen — the one-shot layout of base
    // alone is exactly what a loader saw before any append
    val baseLayout = canon(CorpusOps.shardShuffle(base, "doc_id", "text", 8)
      .select(col("shard"), col("position"), col("doc_id"), col("n_tokens"), col("shard_offset")))
    assert(baseLayout.map(_(2)).toSet.intersect(a1.map(_(2)).toSet).isEmpty)
    assert((a1 ++ a2).forall { r =>
      !baseLayout.exists(b => b.head == r.head && b(1) == r(1))
    }, "appended positions must never collide with committed base positions")
  }

  test("appendToShardsInline ≡ persisted-manifest fold (the x_shard_append_inline bisection contract)") {
    val d = GraftSession.table(spark, sf, "documents")
    val base = d.filter(col("doc_id") % 9 =!= 4)
    val inc = d.filter(col("doc_id") % 9 === 4)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("shard"), col("position"), col("doc_id"), col("n_tokens"), col("shard_offset"))
        .orderBy("shard", "position").collect().map(_.toSeq).toSeq
    val path = java.nio.file.Files.createTempDirectory("shardinline").toString + "/man"
    CorpusOps.writeShardManifest(base, "doc_id", "text", shards = 8, path)
    val viaManifest = canon(CorpusOps.appendToShards(spark, path, inc, "doc_id", "text", "day1"))
    val inline = canon(CorpusOps.appendToShardsInline(base, inc, "doc_id", "text", shards = 8))
    assert(inline === viaManifest,
      "inline (manifest-free) append diverged from the persisted fold — the bisection probe is broken")
    assert(inline.nonEmpty)
  }

  test("shard manifest fold-on-read audit: half-builds, foreign builds, truncated partitions all fail NAMED") {
    val d = GraftSession.table(spark, sf, "documents")
    val base = d.filter(col("doc_id") % 9 =!= 4)
    val inc = d.filter(col("doc_id") % 9 === 4)
    def named(body: => Any): Unit = {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage.contains("SHARD_MANIFEST_CORRUPT"), s"wrong error: ${e.getMessage}")
    }
    // (a) atomic publish: a completed build leaves no .inprogress
    // sibling and the manifest folds cleanly
    val path = java.nio.file.Files.createTempDirectory("shardaudit").toString + "/man"
    CorpusOps.writeShardManifest(base, "doc_id", "text", shards = 8, path)
    assert(!new java.io.File(path + ".inprogress").exists(),
      "atomic publish left the .inprogress staging dir behind")
    assert(CorpusOps.appendToShards(spark, path, inc, "doc_id", "text", "ok").count() > 0)
    // (b) foreign state: a parts partition stamped by a DIFFERENT
    // build (the recycled-scratch-dir scenario) must fail loudly, not
    // silently inflate the committed tail
    spark.range(8).select(col("id").as("shard"), lit(5L).as("n_docs"),
        lit(50L).as("n_tokens"), lit("other-build").as("build_id"), lit("stale").as("inc"))
      .repartition(1).write.mode("append").partitionBy("inc").parquet(s"$path/parts")
    named(CorpusOps.appendToShards(spark, path, inc, "doc_id", "text", "day1"))
    // (c) truncated partition: fewer than `shards` densified rows
    val path2 = java.nio.file.Files.createTempDirectory("shardaudit2").toString + "/man"
    CorpusOps.writeShardManifest(base, "doc_id", "text", shards = 8, path2)
    val bid2 = spark.read.parquet(s"$path2/meta").collect()(0).getAs[String]("build_id")
    spark.range(3).select(col("id").as("shard"), lit(1L).as("n_docs"),
        lit(10L).as("n_tokens"), lit(bid2).as("build_id"), lit("short").as("inc"))
      .repartition(1).write.mode("append").partitionBy("inc").parquet(s"$path2/parts")
    named(CorpusOps.appendToShards(spark, path2, inc, "doc_id", "text", "day1"))
    // (d) half-built manifest: meta without a base partition
    val path3 = java.nio.file.Files.createTempDirectory("shardaudit3").toString + "/man"
    spark.range(1).select(lit(8).as("shards"), lit("b3").as("build_id"))
      .coalesce(1).write.parquet(s"$path3/meta")
    spark.range(8).select(col("id").as("shard"), lit(0L).as("n_docs"),
        lit(0L).as("n_tokens"), lit("b3").as("build_id"), lit("notbase").as("inc"))
      .repartition(1).write.partitionBy("inc").parquet(s"$path3/parts")
    named(CorpusOps.appendToShards(spark, path3, inc, "doc_id", "text", "day1"))
  }

  test("curriculumShards laws: conservation, bucket length-monotonicity, dense per-shard positions, partition invariance") {
    val docs = GraftSession.table(spark, sf, "documents").select(col("doc_id"), col("text"))
    val out = CorpusOps.curriculumShards(docs, "doc_id", "text", shards = 4)
      .localCheckpoint()
    // conservation: every doc lands in exactly one (bucket, shard) slot
    assert(out.count() === docs.count())
    assert(out.select(col("doc_id")).distinct().count() === docs.count())
    // monotone curriculum: buckets are totally ordered by token length
    // (threshold bucketing: max of bucket i <= cut_i < min of bucket i+1)
    val stats = out.groupBy(col("bucket"))
      .agg(min(col("n_tokens")).as("lo"), max(col("n_tokens")).as("hi"))
      .orderBy(col("bucket")).collect()
    stats.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("hi") <= b.getAs[Long]("lo"),
          s"bucket ${a.getAs[Long]("bucket")} overlaps ${b.getAs[Long]("bucket")}")
      case _ => ()
    }
    // dense positions and exact resume offsets per (bucket, shard)
    val perShard = out.groupBy(col("bucket"), col("shard"))
      .agg(count(lit(1)).as("n"), min(col("position")).as("p0"),
        max(col("position")).as("p1"),
        sum(col("n_tokens")).as("tok"),
        max(col("shard_offset") + col("n_tokens")).as("endoff"))
      .collect()
    perShard.foreach { r =>
      assert(r.getAs[Long]("p0") === 0L)
      assert(r.getAs[Long]("p1") === r.getAs[Long]("n") - 1L, "positions not dense")
      assert(r.getAs[Long]("endoff") === r.getAs[Long]("tok"),
        "final offset+len must equal the shard's token total")
    }
    // layout invariance: any input partitioning produces the identical export
    val re = CorpusOps.curriculumShards(docs.repartition(7), "doc_id", "text", shards = 4)
    assert(re.orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
      === out.orderBy(col("doc_id")).collect().map(_.toSeq).toSeq)
  }

  test("curriculum fold laws: positions continue the committed tail; refold idempotent; distinct increments stack") {
    import graft.ops.CorpusOps
    val d = GraftSession.table(spark, sf, "documents").select(col("doc_id"), col("text"))
    val base = d.filter(pmod(col("doc_id"), lit(9)) =!= 4)
    val inc  = d.filter(pmod(col("doc_id"), lit(9)) === 4)
    val path = GraftSession.freshGatePath("currspec", sf)
    CorpusOps.writeCurriculumManifest(base, "doc_id", "text", shards = 4, path)
    val baseCounts = spark.read.parquet(s"$path/parts")
      .filter(col("inc") === "base").collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("shard")) -> r.getAs[Long]("n_docs")).toMap
    def slot(r: org.apache.spark.sql.Row) = (r.getAs[Long]("bucket"), r.getAs[Long]("shard"))
    val rows1 = CorpusOps.appendToCurriculum(spark, path, inc, "doc_id", "text", "g1").collect()
    // the fold's position contract: the first increment doc of every
    // (bucket, shard) lands exactly at the committed base count
    rows1.groupBy(slot).foreach { case (k, rs) =>
      assert(rs.map(_.getAs[Long]("position")).min === baseCounts.getOrElse(k, 0L),
        s"slot $k does not continue the committed tail")
    }
    // refold with the SAME increment id reads the same tail -> identical rows
    val rows2 = CorpusOps.appendToCurriculum(spark, path, inc, "doc_id", "text", "g1").collect()
    assert(rows2.map(_.toSeq).sortBy(_.toString) === rows1.map(_.toSeq).sortBy(_.toString),
      "same-id refold must be idempotent")
    // a DISTINCT second increment stacks after base + g1
    val inc2 = d.filter(pmod(col("doc_id"), lit(9)) === 5)
    val g1Counts = rows1.groupBy(slot).map { case (k, rs) => k -> rs.length.toLong }
    val rows3 = CorpusOps.appendToCurriculum(spark, path, inc2, "doc_id", "text", "g2").collect()
    rows3.groupBy(slot).foreach { case (k, rs) =>
      assert(rs.map(_.getAs[Long]("position")).min
        === baseCounts.getOrElse(k, 0L) + g1Counts.getOrElse(k, 0L),
        s"slot $k does not stack after base + g1")
    }
  }

  test("shard manifest concurrency laws: concurrent DISTINCT folds keep counts exact; same-id refold is idempotent") {
    val d = GraftSession.table(spark, sf, "documents")
    val base = d.filter(col("doc_id") % 9 =!= 4)
    val inc1 = d.filter(col("doc_id") % 9 === 4).select(col("doc_id"), col("text"))
    val inc2 = d.filter(col("doc_id") % 9 === 2)
      .select((col("doc_id") + 70000).as("doc_id"), col("text"))
    val path = java.nio.file.Files.createTempDirectory("shardconc").toString + "/man"
    CorpusOps.writeShardManifest(base, "doc_id", "text", shards = 8, path)
    def totals() = spark.read.parquet(s"$path/parts")
      .agg(sum("n_docs"), sum("n_tokens")).collect()(0).toSeq
    val expectDocs = base.count() + inc1.count() + inc2.count()
    // two folds of DISTINCT increments racing: since r16 the
    // single-writer lease SERIALIZES them — the loser fails loudly
    // with CONCURRENT_FOLD (instead of silently colliding on
    // assignments) and retries once the lease frees; after both land,
    // the manifest COUNTS compose exactly as the ledger guarantees
    // (FoldLeaseSpec pins the assignment-density half of the law)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    def foldRetrying(inc: org.apache.spark.sql.DataFrame, id: String): Long = {
      var attempts = 0
      while (true) {
        try return CorpusOps.appendToShards(spark, path, inc, "doc_id", "text", id).count()
        catch {
          case e: IllegalStateException if e.getMessage.contains("CONCURRENT_FOLD") =>
            attempts += 1
            assert(attempts < 240, "lease never freed")
            Thread.sleep(500)
        }
      }
      0L
    }
    val f1 = Future(foldRetrying(inc1, "ca"))
    val f2 = Future(foldRetrying(inc2, "cb"))
    Await.result(Future.sequence(Seq(f1, f2)), 5.minutes)
    assert(totals().head.asInstanceOf[Long] === expectDocs,
      "concurrent distinct-increment folds lost counts")
    val after = totals()
    // same-id refold (serial, the supported shape) is idempotent on counts
    CorpusOps.appendToShards(spark, path, inc1, "doc_id", "text", "ca").count()
    assert(totals() === after, "same-increment refold double-counted")
  }

  test("streamed shard fold survives a checkpoint wipe: replayed batch is exactly-once") {
    import graft.streaming.EventsStream
    val d = GraftSession.table(spark, sf, "documents")
    val base = d.filter(col("doc_id") % 9 =!= 4)
    val inc = d.filter(col("doc_id") % 9 === 4).select(col("doc_id"), col("text"))
    val tmp = java.nio.file.Files.createTempDirectory("shard-stream").toString
    CorpusOps.writeShardManifest(base, "doc_id", "text", shards = 8, s"$tmp/man")
    inc.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
    def stream(): Unit =
      EventsStream.ingest(spark, s"$tmp/in", inc.schema, s"$tmp/out", s"$tmp/ckpt") {
        (b, bid) => CorpusOps.appendToShards(spark, s"$tmp/man", b, "doc_id", "text", s"sb$bid")
      }.awaitTermination()
    def state() = (
      spark.read.parquet(s"$tmp/out").orderBy("shard", "position")
        .collect().map(_.toSeq).toSeq,
      spark.read.parquet(s"$tmp/man/parts").groupBy("shard")
        .agg(sum("n_docs"), sum("n_tokens")).orderBy("shard")
        .collect().map(_.toSeq).toSeq)
    stream()
    val once = state()
    // wipe the checkpoint: the source forgets all progress and
    // re-delivers the same file as batch 0 — both the assignment
    // partition and the manifest partition must be overwritten with
    // identical content, not appended a second time
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$tmp/ckpt"))
    stream()
    assert(state() === once,
      "checkpoint-wipe replay changed the shard layout — fold not idempotent")
    assert(once._1.nonEmpty)
  }

  test("sessionize splits on gaps and is stable under event-order ties") {
    val h = 3600L * 1000000000L // one hour in nanos
    val events = Seq(
      (1L, 0L), (1L, h / 2), (1L, h / 2),          // session 0 (tie inside)
      (1L, h * 3), (1L, h * 3 + 1),                // gap → session 1
      (2L, 0L), (2L, h * 2), (2L, h * 4)           // user 2: 3 single-event sessions
    ).toDF("user_id", "ts")
    val out = CorpusOps.sessionize(events, "user_id", "ts", gap = h)
      .orderBy("user_id", "session_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out === Array(
      (1L, 0L, 3L, 0L, h / 2),
      (1L, 1L, 2L, h * 3, h * 3 + 1),
      (2L, 0L, 1L, 0L, 0L),
      (2L, 1L, 1L, h * 2, h * 2),
      (2L, 2L, 1L, h * 4, h * 4)))
  }
}
