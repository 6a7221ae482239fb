package graft

import graft.ops.Dedup

import org.apache.spark.sql.functions._

/** Reader-safe canon-index compaction (r16 verdict task 4): the old
  * contract conceded that a probe listing the directory before
  * [[Dedup.compactCanonIndex]]'s delete phase and reading after could
  * hit a dead part file ("run compaction in the maintenance window").
  * The probe now materializes its index slice under a bounded
  * missing-file retry, so compaction can run NEXT TO live probes —
  * every post-append directory state is value-identical (min
  * semilattice), which is exactly what makes retry-with-fresh-listing
  * return the uncontended answer.
  */
class CanonCompactRaceSpec extends SparkSpecBase {

  private def docs = GraftSession.table(spark, sf, "documents")
    .select(col("doc_id"), col("text"))

  test("retryOnMissingFiles: FNF-caused failures re-run the body, others propagate") {
    var n = 0
    val r = Dedup.retryOnMissingFiles(4) {
      n += 1
      if (n < 3) throw new org.apache.spark.SparkException(
        "task failed", new java.io.FileNotFoundException("part-00000 deleted mid-scan"))
      "ok"
    }
    assert(r === "ok" && n === 3)
    // message-only FNF (Spark sometimes flattens the cause into text)
    var m = 0
    Dedup.retryOnMissingFiles(2) {
      m += 1
      if (m < 2) throw new RuntimeException(
        "java.io.FileNotFoundException: file does not exist — listing raced a delete")
    }
    assert(m === 2)
    // a non-FNF failure must propagate on the first throw
    var k = 0
    intercept[IllegalArgumentException] {
      Dedup.retryOnMissingFiles(4) { k += 1; throw new IllegalArgumentException("real bug") }
    }
    assert(k === 1, "non-FNF errors must not be retried")
    // exhausted attempts propagate the last FNF
    var j = 0
    intercept[org.apache.spark.SparkException] {
      Dedup.retryOnMissingFiles(2) {
        j += 1
        throw new org.apache.spark.SparkException(
          "task failed", new java.io.FileNotFoundException("still missing"))
      }
    }
    assert(j === 2)
  }

  test("probe result is DETACHED from index files: collect after raw file deletion still answers") {
    val base = docs.filter(pmod(col("doc_id"), lit(7)) =!= 3)
      .select(col("doc_id").as("id"), col("text"))
    val fresh = base.filter(col("id") < 25)
      .select((col("id") + 10000).as("id"), concat(col("text"), lit(" zz yy")).as("text"))
    val path = java.nio.file.Files.createTempDirectory("lshdetach").toString + "/idx"
    Dedup.writeMinhashIndexMd5(base, "id", "text", path)
    val probeDf = Dedup.probeMinhashIndexMd5(spark, path, fresh, "id", "text")
    val before = probeDf.orderBy(col("id_a"), col("id_b")).collect().map(_.toSeq).toSeq
    assert(before.nonEmpty)
    // nuke every index file — if the returned frame still references
    // them (the reader-safety contract's load-bearing claim), the
    // re-collect below throws FILE_NOT_EXIST
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(path))
    val after = probeDf.orderBy(col("id_a"), col("id_b")).collect().map(_.toSeq).toSeq
    assert(after === before, "probe re-read index files after materialization")
  }

  test("minhash law: index probes racing append+compact cycles keep the uncontended answer") {
    val base = docs.filter(pmod(col("doc_id"), lit(7)) =!= 3)
      .select(col("doc_id").as("id"), col("text"))
    val appended = base.filter(col("id") < 15)
      .select((col("id") + 20000).as("id"), concat(col("text"), lit(" qq ww")).as("text"))
    val fresh = base.filter(col("id") < 25)
      .select((col("id") + 10000).as("id"), concat(col("text"), lit(" zz yy")).as("text"))
    val path = java.nio.file.Files.createTempDirectory("lshrace").toString + "/idx"
    Dedup.writeMinhashIndexMd5(base, "id", "text", path)
    // the churn crawl is appended once up front, then re-appended
    // every cycle: the index is a SET and the probe dropDuplicates,
    // so re-appends change file layout but never probe values
    Dedup.appendToMinhashIndex(appended, "id", "text", path)
    def probe() = Dedup.probeMinhashIndexMd5(spark, path, fresh, "id", "text")
      .orderBy(col("id_a"), col("id_b")).collect().map(_.toSeq).toSeq
    val expected = probe()
    assert(expected.nonEmpty, "planted near-dups must surface")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val compactor = new Thread(() => {
      try {
        var cycles = 0
        while (!stop.get() && cycles < 10) {
          Dedup.appendToMinhashIndex(appended, "id", "text", path)
          graft.ops.Scale.compactIndex(spark, path)
          cycles += 1
        }
      } catch { case e: Throwable => errs.add(e) } finally stop.set(true)
    })
    compactor.start()
    try {
      var probes = 0
      while (!stop.get() && probes < 6) {
        assert(probe() === expected, s"probe $probes diverged under live compaction")
        probes += 1
      }
      assert(probes > 0)
    } finally { stop.set(true); compactor.join(300000) }
    assert(errs.isEmpty, s"compactor failed: ${Option(errs.peek()).map(_.toString)}")
    // grace law: under the default TIME grace, the churn above never
    // reclaimed — garbage sits inert behind the manifest and probes
    // never see a delete. Two quiescent passes at graceMs = 0 (the
    // maintenance-window mode) age everything out: each band
    // partition folds to its single compacted file, the manifest is
    // gone, and the probe still matches.
    assert(new java.io.File(path, "_GARBAGE").exists(),
      "churn under the default grace must defer, not delete")
    graft.ops.Scale.compactIndex(spark, path, graceMs = 0L)
    graft.ops.Scale.compactIndex(spark, path, graceMs = 0L)
    val bandDirs = new java.io.File(path).listFiles().filter(_.getName.startsWith("band="))
    assert(bandDirs.nonEmpty)
    bandDirs.foreach { d =>
      val parts = d.listFiles().count(f => f.getName.endsWith(".parquet"))
      assert(parts === 1, s"${d.getName} not folded: $parts files")
    }
    assert(!new java.io.File(path, "_GARBAGE").exists(),
      "aged-out reclaim must clear the manifest")
    assert(probe() === expected)
  }

  test("sign-plane law: probes racing append+compact cycles keep the uncontended answer") {
    val base = GraftSession.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val appended = base.filter(col("vec_id") < 10)
      .select((col("vec_id") + 200000).as("vec_id"),
        transform(col("embedding"), x => (x * lit(3.0f)).cast("float")).as("embedding"))
    val fresh = base.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => (x * lit(2.0f)).cast("float")).as("embedding"))
    val path = java.nio.file.Files.createTempDirectory("sprace").toString + "/idx"
    Dedup.writeSignPlaneIndex(base, "vec_id", "embedding", path)
    Dedup.appendToSignPlaneIndex(appended, "vec_id", "embedding", path)
    def probe() = Dedup.probeSignPlaneIndex(spark, path, fresh, "vec_id", "embedding", 0.99)
      .orderBy(col("id_a"), col("id_b")).collect().map(_.toSeq).toSeq
    val expected = probe()
    assert(expected.nonEmpty, "colinear pairs must surface")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val compactor = new Thread(() => {
      try {
        var cycles = 0
        while (!stop.get() && cycles < 10) {
          Dedup.appendToSignPlaneIndex(appended, "vec_id", "embedding", path)
          graft.ops.Scale.compactIndex(spark, path)
          cycles += 1
        }
      } catch { case e: Throwable => errs.add(e) } finally stop.set(true)
    })
    compactor.start()
    try {
      var probes = 0
      while (!stop.get() && probes < 6) {
        assert(probe() === expected, s"probe $probes diverged under live compaction")
        probes += 1
      }
      assert(probes > 0)
    } finally { stop.set(true); compactor.join(300000) }
    assert(errs.isEmpty, s"compactor failed: ${Option(errs.peek()).map(_.toString)}")
  }

  test("substring law: probes racing append+compact cycles keep the uncontended answer") {
    import graft.ops.CorpusOps
    val base = docs.filter(pmod(col("doc_id"), lit(7)) =!= 3)
      .select(col("doc_id").as("id"), col("text"))
    val toksOf = filter(split(col("text"), " "), t => t =!= "")
    val fresh = docs.filter(col("doc_id") < 25)
      .select((col("doc_id") + 30000).as("id"),
        concat(array_join(slice(toksOf, 1, 12), " "),
          lit(" qq ww ee rr tt yy uu ii oo pp")).as("text"))
    val crawl = docs.filter(col("doc_id") < 15)
      .select((col("doc_id") + 40000).as("id"),
        lit("qq ww ee rr tt yy uu ii oo pp").as("text"))
    val path = java.nio.file.Files.createTempDirectory("subrace").toString + "/idx"
    CorpusOps.writeSubstringIndex(base, "id", "text", path, window = 8)
    CorpusOps.appendToSubstringIndex(crawl, "id", "text", path, window = 8)
    def probe() = CorpusOps.probeSubstringIndex(spark, path, fresh, "id", "text", window = 8)
      .orderBy(col("id")).collect().map(_.toSeq).toSeq
    val expected = probe()
    assert(expected.nonEmpty)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val compactor = new Thread(() => {
      try {
        var cycles = 0
        while (!stop.get() && cycles < 10) {
          CorpusOps.appendToSubstringIndex(crawl, "id", "text", path, window = 8)
          graft.ops.Scale.compactIndex(spark, path)
          cycles += 1
        }
      } catch { case e: Throwable => errs.add(e) } finally stop.set(true)
    })
    compactor.start()
    try {
      var probes = 0
      while (!stop.get() && probes < 6) {
        assert(probe() === expected, s"probe $probes diverged under live compaction")
        probes += 1
      }
      assert(probes > 0)
    } finally { stop.set(true); compactor.join(300000) }
    assert(errs.isEmpty, s"compactor failed: ${Option(errs.peek()).map(_.toString)}")
  }

  test("law: probes running concurrently with compactions keep returning the uncontended answer") {
    val base = docs.filter(pmod(col("doc_id"), lit(7)) =!= 3)
    val inc  = docs.filter(pmod(col("doc_id"), lit(7)) === 3)
    val path = java.nio.file.Files.createTempDirectory("canonrace").toString + "/idx"
    Dedup.writeCanonIndex(base, "doc_id", "text", path)
    // the churn increment is appended ONCE up front and then
    // re-appended every cycle: min is idempotent, so the re-appends
    // change file layout (what compaction folds) but never values —
    // the probe's expected answer stays constant through every cycle
    Dedup.appendToCanonIndex(inc.limit(40), "doc_id", "text", path)
    def probe() = Dedup.canonDedupWithIndex(spark, path, inc, "doc_id", "text")
      .collect().map(_.toSeq).toSeq
    val expected = probe()
    assert(expected.nonEmpty)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val compactor = new Thread(() => {
      try {
        var cycles = 0
        while (!stop.get() && cycles < 12) {
          Dedup.appendToCanonIndex(inc.limit(40), "doc_id", "text", path)
          Dedup.compactCanonIndex(spark, path)
          cycles += 1
        }
      } catch { case e: Throwable => errs.add(e) } finally stop.set(true)
    })
    compactor.start()
    try {
      var probes = 0
      while (!stop.get() && probes < 8) {
        assert(probe() === expected,
          s"probe $probes diverged while compaction was running")
        probes += 1
      }
      assert(probes > 0)
    } finally { stop.set(true); compactor.join(300000) }
    assert(errs.isEmpty, s"compactor failed: ${Option(errs.peek()).map(_.toString)}")
    // and the layout actually churned down to the compacted shape
    val (_, after) = Dedup.compactCanonIndex(spark, path)
    assert(after > 0)
  }
}
