package graft

import org.apache.spark.sql.functions._
import graft.ops.{CorpusOps, Dedup, TextAnalysis}

/** Layout tripwire for the r14 verdict's one scale finding: persisted
  * CORPUS-SIZED index/model base builds must not funnel through a
  * single write task (`coalesce(1)`). Every builder below writes its
  * corpus-sized table via [[graft.ops.IndexLayout]], which sizes each
  * write's bucket count by Catalyst's plan-size estimate. Each fan-out
  * check therefore runs under a 1 KiB byte target ([[asLarge]]), which
  * makes the 3000-doc synthetic corpus count as large: a bucketed
  * builder then writes many part files, and a `coalesce(1)` builder
  * still writes ONE, the single-task signature this spec fails on.
  * Under the default target the same build stays small. One-row meta
  * tables are exempt by design.
  *
  * The behavioral contracts (probe-after-append ≡ rebuild, fold-on-
  * read, union law) are pinned by the existing Dedup/IndexMaintenance
  * specs and the driver oracle gate; this spec only guards the write
  * fan-out, which those cannot see.
  */
class IndexLayoutSpec extends SparkSpecBase {

  private def corpus(n: Int) = {
    // distinct multi-SENTENCE, multi-token texts: ≥3 sentences (span
    // index needs spanLen=3 sentence runs) and ≥7 tokens (winnow
    // k=4,w=4 needs k+w−1), with enough distinct unigrams, bigrams,
    // shingles, spans and prints that a bucketed layout MUST populate
    // many buckets
    spark.range(n.toLong).select(col("id").as("doc_id"),
      concat_ws(" ",
        concat(lit("alpha"), pmod(col("id"), lit(997))),
        concat(lit("beta"), pmod(col("id"), lit(991))),
        concat(lit("gamma"), col("id")), lit("one."),
        concat(lit("delta"), pmod(col("id") * 7, lit(983))),
        concat(lit("eps"), col("id") + 1),
        concat(lit("zeta"), col("id") + 2), lit("two."),
        concat(lit("eta"), col("id") + 3),
        concat(lit("theta"), pmod(col("id") * 3, lit(977))), lit("three."),
        concat(lit("iota"), col("id") + 4), lit("four.")).as("text"))
  }

  private def partFiles(dir: String): Int = {
    val d = new java.io.File(dir)
    if (!d.exists()) 0
    else d.listFiles().count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
  }

  private def tmp(tag: String): String = {
    val f = java.io.File.createTempFile(s"graft-layout-$tag", "")
    f.delete(); f.getAbsolutePath
  }

  private val docs = corpus(3000).localCheckpoint()

  /** Run `body` under a 1 KiB per-bucket byte target, so every write
    * of the 3000-doc corpus counts as large and must fan out.
    */
  private def asLarge[T](body: => T): T = {
    spark.conf.set("spark.graft.index.append.bytesPerBucket", "1024")
    try body
    finally spark.conf.unset("spark.graft.index.append.bytesPerBucket")
  }

  test("canon index base build fans out; appends are stats-sized") {
    val p = tmp("canon")
    asLarge(Dedup.writeCanonIndex(docs, "doc_id", "text", p))
    val base = partFiles(s"$p/canon")
    assert(base > 8, s"canon base build wrote $base part files — single-task signature")
    // r15 advice: a SMALL append must NOT shard into 64 near-empty
    // files (file-listing cost on every probe) — the stats heuristic
    // sizes it down while still adding its own ledger file set
    Dedup.appendToCanonIndex(docs.withColumn("doc_id", col("doc_id") + 100000L),
      "doc_id", "text", p)
    val afterSmall = partFiles(s"$p/canon")
    assert(afterSmall > base, "canon append did not add a file set of its own")
    assert(afterSmall - base < 16,
      s"small canon append added ${afterSmall - base} files — append sizing not applied")
    // a CORPUS-SIZED append must still fan out
    asLarge {
      Dedup.appendToCanonIndex(docs.withColumn("doc_id", col("doc_id") + 200000L),
        "doc_id", "text", p)
      assert(partFiles(s"$p/canon") > afterSmall + 8,
        "large canon append did not fan out — single-task append signature")
    }
    // under the default byte target the same 3000-doc base build is
    // small, and is sized like the small append
    val pd = tmp("canondefault")
    Dedup.writeCanonIndex(docs, "doc_id", "text", pd)
    assert(partFiles(s"$pd/canon") < 16,
      s"small canon base build wrote ${partFiles(s"$pd/canon")} files — write sizing not applied")
  }

  test("bucket fan-out follows spark.graft.index.buckets") {
    val p = tmp("canonconf")
    spark.conf.set("spark.graft.index.buckets", "8")
    try {
      asLarge(Dedup.writeCanonIndex(docs, "doc_id", "text", p))
      val n = partFiles(s"$p/canon")
      assert(n > 1 && n <= 8,
        s"configured 8 buckets but canon base build wrote $n part files")
    } finally spark.conf.unset("spark.graft.index.buckets")
    val p2 = tmp("canonconf2")
    spark.conf.set("spark.graft.index.buckets", "nope")
    try {
      val e = intercept[IllegalArgumentException] {
        Dedup.writeCanonIndex(docs, "doc_id", "text", p2)
      }
      assert(e.getMessage.contains("spark.graft.index.buckets"))
    } finally spark.conf.unset("spark.graft.index.buckets")
  }

  test("drift-ref base build + append write term counts through many tasks") {
    val p = tmp("driftref")
    asLarge(TextAnalysis.writeDriftRef(docs, "text", p))
    assert(partFiles(s"$p/counts") > 8,
      s"drift-ref base build wrote ${partFiles(s"$p/counts")} part files — single-task signature")
    // month-scale fold must fan out; the ledger partition dir carries
    // the files
    asLarge {
      TextAnalysis.appendToDriftRef(spark, p, docs, "text", "m1")
      assert(partFiles(s"$p/parts/inc=m1") > 8,
        s"drift-ref fold wrote ${partFiles(s"$p/parts/inc=m1")} part files — single-task signature")
    }
    // a small daily increment stays small
    TextAnalysis.appendToDriftRef(spark, p, docs.limit(50), "text", "d1")
    assert(partFiles(s"$p/parts/inc=d1") < 16,
      s"small drift-ref fold added ${partFiles(s"$p/parts/inc=d1")} files — append sizing not applied")
  }

  test("span index base build writes through many tasks") {
    val p = tmp("span")
    asLarge(Dedup.writeSpanIndex(docs, "doc_id", "text", p))
    assert(partFiles(s"$p/spans") > 8,
      s"span index wrote ${partFiles(s"$p/spans")} part files — single-task signature")
  }

  test("winnow print index base build writes through many tasks") {
    val p = tmp("winnow")
    asLarge(TextAnalysis.writeWinnowIndex(docs, "doc_id", "text", p))
    assert(partFiles(s"$p/prints") > 8,
      s"winnow index wrote ${partFiles(s"$p/prints")} part files — single-task signature")
  }

  test("contamination shingle index base build writes through many tasks") {
    val p = tmp("contam")
    asLarge(CorpusOps.writeContaminationIndex(docs, "doc_id", "text", p))
    assert(partFiles(s"$p/sh") > 8,
      s"contamination index wrote ${partFiles(s"$p/sh")} part files — single-task signature")
    // meta is a one-row scalar: single file is the CORRECT layout there
    assert(partFiles(s"$p/meta") == 1)
  }

  test("n-gram model base builds write count tables through many tasks") {
    val pb = tmp("bigram")
    asLarge(TextAnalysis.writeBigramCounts(docs, "text", pb, minCount = 1L))
    assert(partFiles(s"$pb/counts") > 8, "bigram counts: single-task signature")
    assert(partFiles(s"$pb/meta") == 1)

    val pk = tmp("backoff")
    asLarge(TextAnalysis.writeBackoffModel(docs, "text", pk, minCount = 1L))
    assert(partFiles(s"$pk/uni") > 8, "backoff uni: single-task signature")
    assert(partFiles(s"$pk/bigram") > 8, "backoff bigram: single-task signature")

    val pn = tmp("nb")
    asLarge(TextAnalysis.writeNbModel(
      docs.withColumn("pos", pmod(col("doc_id"), lit(2)) === 0),
      "text", "pos", pn, minCount = 1L))
    assert(partFiles(s"$pn/vocab") > 8, "nb vocab: single-task signature")

    val pq = tmp("kn")
    asLarge(TextAnalysis.writeKnModel(docs, "text", pq, minCount = 1L))
    assert(partFiles(s"$pq/bigram") > 8, "kn bigram: single-task signature")
    assert(partFiles(s"$pq/ctx") > 8, "kn ctx: single-task signature")
    assert(partFiles(s"$pq/cont") > 8, "kn cont: single-task signature")
  }
}
