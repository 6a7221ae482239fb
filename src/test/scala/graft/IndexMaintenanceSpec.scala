package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{CorpusOps, Dedup, Similarity, TextAnalysis}

/** The shared crash-consistency LAW spec for every persistent-index
  * append path — the round-8 BM25 NULL-meta bug was an instance of a
  * CLASS (an empty or replayed increment silently poisoning index
  * state), so the laws are asserted uniformly instead of per-bug:
  *
  *   1. append(∅) ≡ id — an empty increment changes no probe result.
  *   2. replay — append(x); append(x) ≡ append(x), at probe level.
  *      Two layout classes honor it differently:
  *        - exactly-once layouts (BM25 postings+meta ledger, IVF
  *          `inc=` dynamic overwrite): the replay converges storage
  *          itself;
  *        - set-semantics layouts (minhash bands, sign-plane,
  *          substring fingerprints): storage is at-least-once but the
  *          probe algebra (dropDuplicates / collect_set) is invariant
  *          under duplicated rows.
  *   3. crash-between-writes (BM25 only — the one layout with TWO
  *      ordered writes): a replay after "postings landed, meta did
  *      not" must double-count nothing.
  *
  *   4. deletes (BM25 — the one path with retraction support): the
  *      same laws in reverse — delete(∅) ≡ id, probe-after-delete ≡
  *      rebuild on the remaining corpus, replay-after-crash
  *      double-subtracts nothing, and compaction folds tombstones
  *      physically without changing probes.
  *
  * Concurrency is NOT law-tested: BM25's meta fold is documented
  * single-writer; the other paths are pure partition appends with no
  * shared scalar.
  */
class IndexMaintenanceSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"idx-law-$tag").toString

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case a: Array[_] => a.toSeq
      case x           => x
    }.toSeq).toSeq

  /** Recursive copy/restore — the crash simulator: snapshot meta
    * before an append, restore it after, leaving the postings of a
    * "half-committed" increment behind.
    */
  private def copyDir(src: String, dst: String): Unit = {
    val s = Paths.get(src); val d = Paths.get(dst)
    Files.walk(s).forEach { p =>
      val t = d.resolve(s.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else { Files.createDirectories(t.getParent); Files.copy(p, t) }
    }
  }
  private def deleteDir(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
  }

  private lazy val docsAll =
    GraftSession.table(spark, sf, "documents").select(col("doc_id").as("id"), col("text"))
  private lazy val embAll =
    GraftSession.table(spark, sf, "embeddings").select(col("vec_id"), col("embedding"))

  // ------------------------------------------------------------------
  // BM25 — the exactly-once layout with a meta ledger
  // ------------------------------------------------------------------

  private def bm25Queries =
    Seq((1L, "spark window agg"), (2L, "customer query data")).toDF("query_id", "qtext")
  private def bm25Probe(path: String) =
    TextAnalysis.probeBm25Index(spark, path, bm25Queries, "query_id", "qtext", k = 5)
      .orderBy("query_id", "rank")

  test("law: BM25 append(∅) ≡ id and replayed append ≡ single append (ledger short-circuit)") {
    val base = docsAll.filter(col("id") % 2 === 0)
    val inc  = docsAll.filter(col("id") % 2 === 1)
    val path = tmp("bm25-replay")
    TextAnalysis.writeBm25Index(base, "id", "text", path, buckets = 8)
    TextAnalysis.appendToBm25Index(inc, "id", "text", path, incrementId = "crawl-1")
    val once = rows(bm25Probe(path))
    // replay the SAME increment id: the applied ledger short-circuits
    TextAnalysis.appendToBm25Index(inc, "id", "text", path, incrementId = "crawl-1")
    assert(rows(bm25Probe(path)) === once, "replayed increment changed probe results")
    val meta = spark.read.parquet(s"$path/meta").collect()(0)
    assert(meta.getLong(meta.fieldIndex("n")) === docsAll.count(),
      "replay double-counted meta.n")
    assert(meta.getSeq[String](meta.fieldIndex("applied")) === Seq("crawl-1"))
    // empty increment: distinct id, zero rows — probe and meta unchanged
    TextAnalysis.appendToBm25Index(inc.filter(col("id") < 0), "id", "text", path,
      incrementId = "crawl-2")
    assert(rows(bm25Probe(path)) === once, "empty increment changed probe results")
    val meta2 = spark.read.parquet(s"$path/meta").collect()(0)
    assert(meta2.getLong(meta2.fieldIndex("n")) === docsAll.count())
    assert(meta2.getLong(meta2.fieldIndex("t")) === meta.getLong(meta.fieldIndex("t")))
  }

  test("law: BM25 replay AFTER a crash between postings and meta double-counts nothing") {
    val base = docsAll.filter(col("id") % 2 === 0)
    val inc  = docsAll.filter(col("id") % 2 === 1)
    val path = tmp("bm25-crash")
    TextAnalysis.writeBm25Index(base, "id", "text", path, buckets = 8)
    // simulate the crash window: run the full append, then restore
    // meta to its pre-append state — on disk this is EXACTLY
    // "postings committed, meta write never happened"
    val metaSnap = tmp("bm25-metasnap")
    deleteDir(metaSnap); copyDir(s"$path/meta", metaSnap)
    TextAnalysis.appendToBm25Index(inc, "id", "text", path, incrementId = "crawl-1")
    deleteDir(s"$path/meta"); copyDir(metaSnap, s"$path/meta")
    // the recovery replay: ledger does NOT contain crawl-1, so the
    // postings re-land (dynamic overwrite of inc=crawl-1 — no
    // duplicates) and the meta fold finally commits
    TextAnalysis.appendToBm25Index(inc, "id", "text", path, incrementId = "crawl-1")
    // ground truth: a from-scratch rebuild over the full corpus
    val full = tmp("bm25-full")
    TextAnalysis.writeBm25Index(docsAll, "id", "text", full, buckets = 8)
    assert(rows(bm25Probe(path)) === rows(bm25Probe(full)),
      "recovered index diverges from rebuild — tf/df or meta double-counted")
  }

  test("maintenance: BM25 compaction folds increments into one generation — " +
      "fewer files, same rows, same probes, ledger intact") {
    val base = docsAll.filter(col("id") % 3 === 0)
    val path = tmp("bm25-compact")
    TextAnalysis.writeBm25Index(base, "id", "text", path, buckets = 4)
    // three generations of postings files: base + two crawls
    TextAnalysis.appendToBm25Index(docsAll.filter(col("id") % 3 === 1),
      "id", "text", path, incrementId = "crawl-1")
    val crawl2 = docsAll.filter(col("id") % 3 === 2)
    TextAnalysis.appendToBm25Index(crawl2, "id", "text", path, incrementId = "crawl-2")
    val before     = rows(bm25Probe(path))
    val rowsBefore = spark.read.parquet(s"$path/postings").count()
    val (filesBefore, filesAfter) = TextAnalysis.compactBm25Index(spark, path)
    assert(filesAfter < filesBefore,
      s"file count did not shrink ($filesBefore -> $filesAfter)")
    assert(!new java.io.File(s"$path/postings").exists(),
      "old generation not deleted after the flip")
    assert(spark.read.parquet(s"$path/postings_g1").count() === rowsBefore,
      "compaction lost or duplicated postings rows")
    assert(rows(bm25Probe(path)) === before, "compaction changed probe results")
    // the applied ledger survives the flip: a replayed pre-compaction
    // increment must STILL short-circuit (its rows are in the folded base)
    TextAnalysis.appendToBm25Index(crawl2, "id", "text", path, incrementId = "crawl-2")
    assert(rows(bm25Probe(path)) === before,
      "replay of a folded increment escaped the ledger after compaction")
    // and maintenance keeps composing: append-after-compact then a
    // second compaction flips to the next generation
    TextAnalysis.appendToBm25Index(
      docsAll.filter(col("id") % 3 === 2)
        .select((col("id") + 90000).as("id"), col("text")),
      "id", "text", path, incrementId = "crawl-3")
    val after3 = rows(bm25Probe(path))
    val (_, _) = TextAnalysis.compactBm25Index(spark, path)
    assert(rows(bm25Probe(path)) === after3, "second flip changed probe results")
    assert(new java.io.File(s"$path/postings_g2").exists())
  }

  test("law: BM25 delete(∅) ≡ id; probe-after-delete ≡ rebuild on the remaining corpus") {
    val gone = docsAll.filter(col("id") % 5 === 2)
    val kept = docsAll.filter(col("id") % 5 =!= 2)
    val path = tmp("bm25-del")
    TextAnalysis.writeBm25Index(docsAll, "id", "text", path, buckets = 8)
    val before = rows(bm25Probe(path))
    // empty retraction batch: nothing changes, not even meta
    TextAnalysis.deleteFromBm25Index(docsAll.filter(col("id") < 0), "id", "text", path,
      deleteId = "noop")
    assert(rows(bm25Probe(path)) === before, "empty delete changed probe results")
    // the real retraction, before-image = the indexed rows
    TextAnalysis.deleteFromBm25Index(gone, "id", "text", path, deleteId = "retract-1")
    val remaining = tmp("bm25-del-rebuild")
    TextAnalysis.writeBm25Index(kept, "id", "text", remaining, buckets = 8)
    assert(rows(bm25Probe(path)) === rows(bm25Probe(remaining)),
      "probe after delete diverges from rebuild on the remaining corpus")
    // ledger short-circuit: replaying the committed retraction is a no-op
    val metaAfter = spark.read.parquet(s"$path/meta").collect()(0)
    TextAnalysis.deleteFromBm25Index(gone, "id", "text", path, deleteId = "retract-1")
    val metaReplay = spark.read.parquet(s"$path/meta").collect()(0)
    assert(metaReplay.getLong(metaReplay.fieldIndex("n")) ===
      metaAfter.getLong(metaAfter.fieldIndex("n")), "replayed delete re-folded meta.n")
    assert(metaReplay.getLong(metaReplay.fieldIndex("t")) ===
      metaAfter.getLong(metaAfter.fieldIndex("t")), "replayed delete re-folded meta.t")
    // a doc retracted AGAIN under a different deleteId subtracts nothing
    TextAnalysis.deleteFromBm25Index(gone, "id", "text", path, deleteId = "retract-2")
    val meta2 = spark.read.parquet(s"$path/meta").collect()(0)
    assert(meta2.getLong(meta2.fieldIndex("n")) ===
      metaAfter.getLong(metaAfter.fieldIndex("n")),
      "double retraction under a new id double-subtracted meta.n")
    assert(rows(bm25Probe(path)) === rows(bm25Probe(remaining)))
  }

  test("law: BM25 delete replay AFTER a crash between tombstones and meta double-subtracts nothing") {
    val gone = docsAll.filter(col("id") % 4 === 1)
    val path = tmp("bm25-del-crash")
    TextAnalysis.writeBm25Index(docsAll, "id", "text", path, buckets = 8)
    // crash simulator: full delete, then restore meta — on disk this
    // is "tombstones committed, meta unfold never happened"
    val metaSnap = tmp("bm25-del-metasnap")
    deleteDir(metaSnap); copyDir(s"$path/meta", metaSnap)
    TextAnalysis.deleteFromBm25Index(gone, "id", "text", path, deleteId = "retract-1")
    deleteDir(s"$path/meta"); copyDir(metaSnap, s"$path/meta")
    // recovery replay: the ledger lacks retract-1, so the victims are
    // recomputed IGNORING retract-1's own half-committed tombstones,
    // its del= partition is overwritten, and the meta unfold commits
    TextAnalysis.deleteFromBm25Index(gone, "id", "text", path, deleteId = "retract-1")
    val remaining = tmp("bm25-del-crash-rebuild")
    TextAnalysis.writeBm25Index(docsAll.filter(col("id") % 4 =!= 1), "id", "text",
      remaining, buckets = 8)
    assert(rows(bm25Probe(path)) === rows(bm25Probe(remaining)),
      "recovered delete diverges from rebuild — meta double-subtracted or victims lost")
  }

  test("law: a MIXED legacy+gen-stamped tombstone tree honors the legacy rows per-row " +
      "(mergeSchema read; null gen is current)") {
    // the round-9 advice bug: plain spark.read.parquet takes the
    // schema from ONE arbitrary footer — if the gen-stamped footer
    // wins over a legacy (pre-gen) del= partition, legacy rows
    // surface as gen=null and a bare gen===current filter silently
    // resurrects retracted docs in probes. The fix reads the tree
    // with mergeSchema and keeps null-gen rows as current, so the
    // conservative legacy semantics hold regardless of footer order.
    val path = tmp("bm25-del-legacy")
    // two PLANTED docs with globally-unique tokens: B is guaranteed
    // the (only) hit for its own tokens, so a dropped tombstone is
    // guaranteed visible
    val aId = 990001L; val bId = 990002L
    val planted = docsAll.unionByName(Seq(
      (aId, "zyxq wvut srqp onml"), (bId, "kjih gfed cbaz yxwv")).toDF("id", "text"))
    TextAnalysis.writeBm25Index(planted, "id", "text", path, buckets = 8)
    val bQuery = Seq((9L, "kjih gfed cbaz")).toDF("query_id", "qtext")
    assert(TextAnalysis.probeBm25Index(spark, path, bQuery, "query_id", "qtext", k = 5)
      .filter(col("doc_id") === bId).count() === 1L,
      "setup: planted doc B must rank for its own unique tokens")
    // gen-stamped tombstone for doc A via the real delete path...
    TextAnalysis.deleteFromBm25Index(planted.filter(col("id") === aId), "id", "text",
      path, deleteId = "retract-gen")
    // ...plus a LEGACY tombstone partition for doc B: doc_id+del
    // only, no gen column (the pre-stamping wire shape)
    Seq((bId, "legacy-del")).toDF("doc_id", "del")
      .coalesce(1).write.mode("append").partitionBy("del").parquet(s"$path/deletes")
    val hits = TextAnalysis.probeBm25Index(spark, path, bQuery, "query_id", "qtext", k = 5)
    assert(hits.filter(col("doc_id") === bId).count() === 0L,
      "legacy tombstone dropped in a mixed tree — retracted doc resurfaced in probe")
    val aQuery = Seq((8L, "zyxq wvut srqp")).toDF("query_id", "qtext")
    assert(TextAnalysis.probeBm25Index(spark, path, aQuery, "query_id", "qtext", k = 5)
      .filter(col("doc_id") === aId).count() === 0L,
      "gen-stamped tombstone must also hold in the mixed tree")
  }

  test("maintenance: BM25 compaction folds pending tombstones — dead postings dropped, " +
      "tombstone dir cleared, probes unchanged") {
    val gone = docsAll.filter(col("id") % 5 === 0)
    val path = tmp("bm25-del-compact")
    TextAnalysis.writeBm25Index(docsAll, "id", "text", path, buckets = 4)
    TextAnalysis.deleteFromBm25Index(gone, "id", "text", path, deleteId = "retract-1")
    val before = rows(bm25Probe(path))
    val deadIds = gone.select(col("id")).collect().map(_.getLong(0)).toSet
    TextAnalysis.compactBm25Index(spark, path)
    assert(rows(bm25Probe(path)) === before, "tombstone fold changed probe results")
    assert(!new java.io.File(s"$path/deletes").exists(),
      "tombstone dir not cleared after the flip")
    val live = spark.read.parquet(s"$path/postings_g1")
      .select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(live.intersect(deadIds).isEmpty,
      "dead docs' postings survived compaction physically")
    // the delete ledger survives the flip: a replayed pre-compaction
    // retraction must still short-circuit (its docs are gone already)
    TextAnalysis.deleteFromBm25Index(gone, "id", "text", path, deleteId = "retract-1")
    assert(rows(bm25Probe(path)) === before,
      "replay of a folded retraction escaped the ledger after compaction")
  }

  test("maintenance: BM25 CDC fold — update/insert/delete cycle ≡ rebuild on the new snapshot, " +
      "repeated updates net out, replay exactly-once, compaction clears both side-trees") {
    import graft.ops.ChangeCapture
    def mutate(df: DataFrame, tag: String): DataFrame = df
      .filter(col("id") % 13 =!= 3)
      .withColumn("text", when(col("id") % 11 === 5,
        concat(col("text"), lit(s" updated $tag"))).otherwise(col("text")))
    val old  = docsAll
    val snap1 = mutate(old, "v2")
      .unionByName(old.filter(col("id") < 5)
        .select((col("id") + 50000).as("id"), concat(col("text"), lit(" fresh")).as("text")))
    val path = tmp("bm25-cdc")
    TextAnalysis.writeBm25Index(old, "id", "text", path, buckets = 8)
    val diff1 = ChangeCapture.snapshotDiff(old, snap1, Seq("id"), Seq("text"))
    TextAnalysis.applyCdcToBm25Index(diff1, "id", "text", path, batchId = "b1")
    def rebuildProbe(snap: DataFrame, tag: String) = {
      val p = tmp(s"bm25-cdc-rebuild-$tag")
      TextAnalysis.writeBm25Index(snap, "id", "text", p, buckets = 8)
      rows(bm25Probe(p))
    }
    assert(rows(bm25Probe(path)) === rebuildProbe(snap1, "s1"),
      "CDC fold diverges from rebuild on the new snapshot")
    val metaN = spark.read.parquet(s"$path/meta").collect()(0)
    assert(metaN.getLong(metaN.fieldIndex("n")) === snap1.count(),
      "meta.n did not net out to the new snapshot's doc count")
    // replay the whole batch — both ledger entries short-circuit
    TextAnalysis.applyCdcToBm25Index(diff1, "id", "text", path, batchId = "b1")
    assert(rows(bm25Probe(path)) === rebuildProbe(snap1, "s1b"),
      "replayed CDC batch changed the index")
    // the repeated-update cycle: the SAME docs update again — their
    // earlier revive markers must outrank the b1 tombstones so the b2
    // retraction unfolds meta again instead of anti-joining to zero
    val snap2 = snap1.withColumn("text", when(col("id") % 11 === 5,
      concat(col("text"), lit(" again v3"))).otherwise(col("text")))
    val diff2 = ChangeCapture.snapshotDiff(snap1, snap2, Seq("id"), Seq("text"))
    TextAnalysis.applyCdcToBm25Index(diff2, "id", "text", path, batchId = "b2")
    assert(rows(bm25Probe(path)) === rebuildProbe(snap2, "s2"),
      "second update cycle diverges from rebuild — tombstone/revive ranks broken")
    val meta2 = spark.read.parquet(s"$path/meta").collect()(0)
    assert(meta2.getLong(meta2.fieldIndex("n")) === snap2.count(),
      "meta.n drifted across the repeated-update cycle")
    // compaction folds postings, tombstones AND revive markers
    val before = rows(bm25Probe(path))
    TextAnalysis.compactBm25Index(spark, path)
    assert(rows(bm25Probe(path)) === before, "compaction changed post-CDC probes")
    assert(!new java.io.File(s"$path/deletes").exists(), "tombstones not cleared")
    assert(!new java.io.File(s"$path/revives").exists(), "revive markers not cleared")
  }

  test("law: BM25 compaction crash between the meta flip and the side-tree clear is inert and replay-safe") {
    import graft.ops.ChangeCapture
    val old = docsAll
    // an UPDATE cycle so the index holds tombstoned + re-appended docs
    // — the population a stale tombstone would wrongly re-kill
    val snap = old.withColumn("text", when(col("id") % 11 === 5,
      concat(col("text"), lit(" updated"))).otherwise(col("text")))
    val path = tmp("bm25-crash-compact")
    TextAnalysis.writeBm25Index(old, "id", "text", path, buckets = 8)
    TextAnalysis.applyCdcToBm25Index(
      ChangeCapture.snapshotDiff(old, snap, Seq("id"), Seq("text")),
      "id", "text", path, batchId = "b1")
    val before = rows(bm25Probe(path))
    // snapshot the pending maintenance trees, compact, then restore
    // them — exactly the state a crash between the meta flip and the
    // tombstone/revive clear leaves behind
    val save = tmp("bm25-crash-save")
    copyDir(s"$path/deletes", s"$save/deletes")
    copyDir(s"$path/revives", s"$save/revives")
    TextAnalysis.compactBm25Index(spark, path)
    copyDir(s"$save/deletes", s"$path/deletes")
    copyDir(s"$save/revives", s"$path/revives")
    // the stale trees target the RETIRED generation: probes on the
    // new generation must ignore them (without gen scoping, every
    // re-appended doc's inc=base rows rank 0 and the stale b1
    // tombstones mask them)
    assert(rows(bm25Probe(path)) === before,
      "stale tombstones from the crash window masked re-appended docs")
    // the recovery protocol says: replay the interrupted op — the
    // replayed compaction must fold NOTHING from the stale trees
    // (without gen scoping it would permanently drop the re-appended
    // docs from the index)
    TextAnalysis.compactBm25Index(spark, path)
    assert(rows(bm25Probe(path)) === before,
      "replayed compaction dropped re-appended docs")
    assert(!new java.io.File(s"$path/deletes").exists, "replay did not clear the stale trees")
  }

  test("law: BM25 CDC replay after a crash BETWEEN the delete and append legs lands exactly-once") {
    import graft.ops.ChangeCapture
    val old = docsAll
    val snap = old.withColumn("text", when(col("id") % 2 === 0,
      concat(col("text"), lit(" changed"))).otherwise(col("text")))
    val path = tmp("bm25-cdc-crash")
    TextAnalysis.writeBm25Index(old, "id", "text", path, buckets = 8)
    val diff = ChangeCapture.snapshotDiff(old, snap, Seq("id"), Seq("text"))
    // the crash: only the delete leg committed (exactly what the
    // bridge runs first)
    TextAnalysis.deleteFromBm25Index(
      diff.filter(col("change_type").isin("delete", "update"))
        .select(col("id"), col("old_text").as("text")),
      "id", "text", path, deleteId = "cdc-b1")
    // recovery: replay the WHOLE batch — delete short-circuits on its
    // ledger entry, append lands
    TextAnalysis.applyCdcToBm25Index(diff, "id", "text", path, batchId = "b1")
    val rebuilt = tmp("bm25-cdc-crash-rebuild")
    TextAnalysis.writeBm25Index(snap, "id", "text", rebuilt, buckets = 8)
    assert(rows(bm25Probe(path)) === rows(bm25Probe(rebuilt)),
      "replay after a between-legs crash diverges from rebuild")
  }

  test("maintenance: BM25 delete composes with append — probe ≡ rebuild on (remaining ∪ increment)") {
    val gone = docsAll.filter(col("id") % 3 === 0)
    val inc  = docsAll.filter(col("id") % 3 === 0)
      .select((col("id") + 70000).as("id"), col("text"))
    val path = tmp("bm25-del-append")
    TextAnalysis.writeBm25Index(docsAll, "id", "text", path, buckets = 8)
    TextAnalysis.deleteFromBm25Index(gone, "id", "text", path, deleteId = "retract-1")
    TextAnalysis.appendToBm25Index(inc, "id", "text", path, incrementId = "crawl-1")
    val expect = tmp("bm25-del-append-rebuild")
    TextAnalysis.writeBm25Index(
      docsAll.filter(col("id") % 3 =!= 0).unionByName(inc), "id", "text",
      expect, buckets = 8)
    assert(rows(bm25Probe(path)) === rows(bm25Probe(expect)),
      "delete+append maintenance diverges from rebuild on the updated corpus")
  }

  // ------------------------------------------------------------------
  // IVF (full-precision + quantized) — exactly-once via inc= overwrite
  // ------------------------------------------------------------------

  private def layout(quant: Boolean): Similarity.IvfLayout =
    if (quant) Similarity.IvfLayout.Quantized else Similarity.IvfLayout.Probe

  test("law: IVF append(∅) ≡ id and replayed append ≡ single append (dynamic inc overwrite)") {
    val base = embAll
    val inc = base.filter(col("vec_id") < 10)
      .select((col("vec_id") + 5000).as("vec_id"),
        transform(col("embedding"), x => (x * lit(2.0f)).cast("float")).as("embedding"))
    val q = base.filter(col("vec_id") < 5)
    for (quant <- Seq(false, true)) {
      val path = tmp(s"ivf-replay-$quant")
      def append(df: DataFrame, id: String): Unit =
        Similarity.appendToIvfIndex(spark, df, "vec_id", "embedding", path, id)
      def probe() = rows(
        (if (quant) Similarity.probeIvfIndexQuantized(spark, path, q, "vec_id", "embedding", k = 3)
         else Similarity.probeIvfIndex(spark, path, q, "vec_id", "embedding", k = 3))
          .select("query_id", "rank", "neighbor_id").orderBy("query_id", "rank"))
      Similarity.writeIvfIndex(base, "vec_id", "embedding", path, nCells = 8, layout = layout(quant))
      append(inc, "inc-1")
      val once   = probe()
      val nFiles = spark.read.parquet(s"$path/assigned").count()
      append(inc, "inc-1") // replay: overwrites its own inc= partitions
      assert(probe() === once, s"replay changed probe results (quant=$quant)")
      assert(spark.read.parquet(s"$path/assigned").count() === nFiles,
        s"replay duplicated assigned rows (quant=$quant)")
      append(inc.filter(col("vec_id") < 0), "inc-2") // empty increment
      assert(probe() === once, s"empty increment changed probe results (quant=$quant)")
    }
  }

  test("law: IVF delete(∅) ≡ id; probe-after-delete ≡ rebuild on remaining (both layouts)") {
    // delete set avoids vec_id < 16 so the rebuild's sampled
    // centroids (smallest 16 ids) are identical — the equivalence is
    // then exact, not merely recall-equivalent
    val gone = embAll.filter(col("vec_id") >= 20 && col("vec_id") % 13 === 3)
    val kept = embAll.filter(!(col("vec_id") >= 20 && col("vec_id") % 13 === 3))
    val q    = embAll.filter(col("vec_id") < 5)
    for (quant <- Seq(false, true)) {
      val path = tmp(s"ivf-del-$quant")
      def probe(p: String) = rows(
        (if (quant) Similarity.probeIvfIndexQuantized(spark, p, q, "vec_id", "embedding", k = 3)
         else Similarity.probeIvfIndex(spark, p, q, "vec_id", "embedding", k = 3))
          .select("query_id", "rank", "neighbor_id").orderBy("query_id", "rank"))
      Similarity.writeIvfIndex(embAll, "vec_id", "embedding", path, nCells = 8, layout = layout(quant))
      val before = probe(path)
      Similarity.deleteFromIvfIndex(spark, embAll.filter(col("vec_id") < 0),
        "vec_id", path, deleteId = "noop")
      assert(probe(path) === before, s"empty delete changed probe results (quant=$quant)")
      Similarity.deleteFromIvfIndex(spark, gone, "vec_id", path, deleteId = "retract-1")
      Similarity.deleteFromIvfIndex(spark, gone, "vec_id", path, deleteId = "retract-1") // replay
      val rebuilt = tmp(s"ivf-del-rebuild-$quant")
      Similarity.writeIvfIndex(kept, "vec_id", "embedding", rebuilt, nCells = 8, layout = layout(quant))
      assert(probe(path) === probe(rebuilt),
        s"probe after delete diverges from rebuild on remaining (quant=$quant)")
    }
  }

  test("maintenance: IVF CDC fold ≡ rebuild with frozen centroids; repeated updates and " +
      "full-batch replay converge without any ledger") {
    import graft.ops.ChangeCapture
    // updates avoid vec_id < 16 so a rebuild on the new snapshot
    // samples THE SAME centroid vectors (frozen-centroid equivalence)
    def upd(df: DataFrame, delta: Float): DataFrame = df
      .withColumn("embedding", when(col("vec_id") >= 20 && col("vec_id") % 11 === 5,
        transform(col("embedding"), (x, i) => when(i === 0, x + lit(delta)).otherwise(x)))
        .otherwise(col("embedding")))
    val old   = embAll
    val snap1 = upd(old.filter(!(col("vec_id") >= 20 && col("vec_id") % 13 === 3)), 0.5f)
      .unionByName(old.filter(col("vec_id") < 5)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"), x => (x * lit(2.0f)).cast("float")).as("embedding")))
    val q    = old.filter(col("vec_id") < 5)
    val path = tmp("ivf-cdc")
    Similarity.writeIvfIndex(old, "vec_id", "embedding", path, nCells = 8)
    // rebuild comparator reuses the INDEX's centroids so equivalence
    // is against "rebuild with the same frozen cell geometry"
    def rebuildProbe(snap: DataFrame, tag: String) = {
      val p = tmp(s"ivf-cdc-rebuild-$tag")
      Similarity.writeIvfIndex(snap, "vec_id", "embedding", p, nCells = 8)
      rows(Similarity.probeIvfIndex(spark, p, q, "vec_id", "embedding", k = 3)
        .select("query_id", "rank", "neighbor_id").orderBy("query_id", "rank"))
    }
    def probe() = rows(Similarity.probeIvfIndex(spark, path, q, "vec_id", "embedding", k = 3)
      .select("query_id", "rank", "neighbor_id").orderBy("query_id", "rank"))
    val diff1 = ChangeCapture.snapshotDiff(old, snap1, Seq("vec_id"), Seq("embedding"))
    Similarity.applyCdcToIvfIndex(diff1, "vec_id", "embedding", path, batchId = "b1")
    assert(probe() === rebuildProbe(snap1, "s1"),
      "CDC fold diverges from rebuild on the new snapshot")
    // full-batch replay AFTER complete commit: the delete leg
    // excludes its own increment from the kill set, so the replayed
    // tombstones cannot kill the vectors the batch itself appended
    Similarity.applyCdcToIvfIndex(diff1, "vec_id", "embedding", path, batchId = "b1")
    assert(probe() === rebuildProbe(snap1, "s1b"), "replayed CDC batch changed the index")
    // second update round on the SAME vectors — re-appended versions
    // must be retractable again (inc-set tombstones, no ranks needed)
    val snap2 = upd(snap1, 0.25f)
    val diff2 = ChangeCapture.snapshotDiff(snap1, snap2, Seq("vec_id"), Seq("embedding"))
    Similarity.applyCdcToIvfIndex(diff2, "vec_id", "embedding", path, batchId = "b2")
    assert(probe() === rebuildProbe(snap2, "s2"),
      "second update cycle diverges — inc-set tombstones broken")
    // rebuild clears the tombstone tree
    Similarity.writeIvfIndex(snap2, "vec_id", "embedding", path, nCells = 8)
    assert(!new java.io.File(s"$path/deletes").exists(),
      "rebuild left stale tombstones behind")
  }

  // ------------------------------------------------------------------
  // Set-semantics layouts: minhash bands / sign-plane / substring fp —
  // at-least-once storage, exactly-once probes
  // ------------------------------------------------------------------

  test("law: minhash-LSH index — append(∅) ≡ id, replay invisible to probes") {
    val base = docsAll.filter(col("id") < 400)
    val inc  = docsAll.filter(col("id") >= 400 && col("id") < 450)
    val fresh = docsAll.filter(col("id") < 25)
      .select((col("id") + 10000).as("id"), concat(col("text"), lit(" zz yy")).as("text"))
    val path = tmp("lsh-replay")
    Dedup.writeMinhashIndexMd5(base, "id", "text", path)
    Dedup.appendToMinhashIndex(inc, "id", "text", path)
    def probe() = rows(Dedup.probeMinhashIndexMd5(spark, path, fresh, "id", "text")
      .orderBy("id_a", "id_b"))
    val once = probe()
    assert(once.nonEmpty, "vacuous probe — planted near-dups never surfaced")
    Dedup.appendToMinhashIndex(inc, "id", "text", path) // duplicate delivery
    assert(probe() === once, "replayed append leaked duplicate pairs through the probe")
    Dedup.appendToMinhashIndex(inc.filter(col("id") < 0), "id", "text", path)
    assert(probe() === once, "empty append changed probe results")
  }

  test("law: sign-plane index — append(∅) ≡ id, replay invisible to probes") {
    val base = embAll
    val inc = base.filter(col("vec_id") >= 20 && col("vec_id") < 40)
      .select((col("vec_id") + 200000).as("vec_id"),
        transform(col("embedding"), x => (x * lit(3.0f)).cast("float")).as("embedding"))
    val fresh = base.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => (x * lit(2.0f)).cast("float")).as("embedding"))
    val path = tmp("sp-replay")
    Dedup.writeSignPlaneIndex(base, "vec_id", "embedding", path)
    Dedup.appendToSignPlaneIndex(inc, "vec_id", "embedding", path)
    def probe() = rows(Dedup.probeSignPlaneIndex(spark, path, fresh, "vec_id", "embedding", 0.99)
      .orderBy("id_a", "id_b"))
    val once = probe()
    assert(once.nonEmpty, "vacuous probe — planted colinear vectors never surfaced")
    Dedup.appendToSignPlaneIndex(inc, "vec_id", "embedding", path) // duplicate delivery
    assert(probe() === once, "replayed append leaked duplicate pairs through the probe")
    Dedup.appendToSignPlaneIndex(inc.filter(col("vec_id") < 0), "vec_id", "embedding", path)
    assert(probe() === once, "empty append changed probe results")
  }

  test("law: sign-plane takedown — delete(∅) ≡ id, probe ≡ rebuild on survivors, " +
      "replay converges, rebuild clears tombstones") {
    val base = embAll
    val fresh = base.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => (x * lit(2.0f)).cast("float")).as("embedding"))
    val gone = base.filter(col("vec_id") < 10)
    val path = tmp("sp-del")
    Dedup.writeSignPlaneIndex(base, "vec_id", "embedding", path)
    def probe(p: String) = rows(
      Dedup.probeSignPlaneIndex(spark, p, fresh, "vec_id", "embedding", 0.99)
        .orderBy("id_a", "id_b"))
    val before = probe(path)
    Dedup.deleteFromSignPlaneIndex(spark, base.filter(col("vec_id") < 0),
      "vec_id", path, deleteId = "noop")
    assert(probe(path) === before, "empty takedown changed probe results")
    Dedup.deleteFromSignPlaneIndex(spark, gone, "vec_id", path, deleteId = "takedown-1")
    Dedup.deleteFromSignPlaneIndex(spark, gone, "vec_id", path, deleteId = "takedown-1") // replay
    val rebuilt = tmp("sp-del-rebuild")
    Dedup.writeSignPlaneIndex(base.filter(col("vec_id") >= 10), "vec_id", "embedding", rebuilt)
    val after = probe(path)
    assert(after === probe(rebuilt),
      "probe after takedown diverges from rebuild on survivors")
    assert(after.nonEmpty && after.size < before.size,
      "takedown law is vacuous — retired ids never matched anything")
    // rebuild clears the tombstone tree
    Dedup.writeSignPlaneIndex(base, "vec_id", "embedding", path)
    assert(!new java.io.File(s"${path}_deletes").exists(),
      "rebuild left stale takedown tombstones behind")
    assert(probe(path) === before, "rebuild did not restore the full index")
  }

  test("law: substring-fingerprint index — append(∅) ≡ id, replay invisible to probes") {
    val base = docsAll.filter(col("id") < 400)
    val inc  = docsAll.filter(col("id") >= 400 && col("id") < 450)
    val toksOf = filter(split(col("text"), " "), t => t =!= "")
    val fresh = docsAll.filter(col("id") < 25)
      .select((col("id") + 30000).as("id"),
        concat(array_join(slice(toksOf, 1, 12), " "),
          lit(" qq ww ee rr tt yy uu ii oo pp")).as("text"))
    val path = tmp("sub-replay")
    CorpusOps.writeSubstringIndex(base, "id", "text", path, window = 8)
    CorpusOps.appendToSubstringIndex(inc, "id", "text", path, window = 8)
    def probe() = rows(CorpusOps.probeSubstringIndex(spark, path, fresh, "id", "text", window = 8)
      .orderBy("id"))
    val once = probe()
    assert(once.exists(_(2).asInstanceOf[Int] > 0),
      "vacuous probe — no increment passage was ever cut")
    CorpusOps.appendToSubstringIndex(inc, "id", "text", path, window = 8) // duplicate delivery
    assert(probe() === once, "replayed append changed probe results")
    CorpusOps.appendToSubstringIndex(inc.filter(col("id") < 0), "id", "text", path, window = 8)
    assert(probe() === once, "empty append changed probe results")
  }

  test("annJoinWithIndex law: probe-from-index ≡ inline join; appends and takedowns flow through (r19)") {
    val emb = GraftSession.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val left = emb.filter(pmod(col("vec_id"), lit(7)) === 3)
    val base = emb.filter(pmod(col("vec_id"), lit(7)) =!= 3)
    val path = tmp("annj-idx")
    Similarity.writeIvfIndex(base, "vec_id", "embedding", path, nCells = 16)
    def idxJoin() = rows(Similarity.annJoinWithIndex(
      spark, path, left, "vec_id", "embedding", k = 2, nProbe = 2)
      .orderBy(col("left_id"), col("rank")))
    val inline = rows(Similarity.annJoin(left, base, "vec_id", "embedding",
      k = 2, nCells = 16, nProbe = 2).orderBy(col("left_id"), col("rank")))
    assert(inline.nonEmpty, "vacuous law — the inline join found nothing")
    assert(idxJoin() === inline,
      "the persisted-assignment join must equal the inline join on the same corpus")
    // an APPENDED crawl is visible to the join without base recompute:
    // colinear twins of base vectors land in their sources' cells and
    // take the rank-1 slot for their left twins (cosine 1.0)
    val appended = base.filter(col("vec_id") < 10)
      .select((col("vec_id") + 500000).as("vec_id"),
        transform(col("embedding"), x => (x * lit(2.0f)).cast("float")).as("embedding"))
    Similarity.appendToIvfIndex(spark, appended, "vec_id", "embedding", path, "crawl2")
    val afterAppend = idxJoin()
    assert(afterAppend !== inline, "appended vectors must be join candidates")
    val appendedIds = appended.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(afterAppend.exists(r => appendedIds.contains(r(2).asInstanceOf[Long])),
      "an appended colinear twin must surface among the top-k")
    // a REPLAYED append converges (inc-partition idempotency): no
    // duplicate candidate may burn a second top-k slot
    Similarity.appendToIvfIndex(spark, appended, "vec_id", "embedding", path, "crawl2")
    assert(idxJoin() === afterAppend, "replayed append changed the join result")
    // a TAKEDOWN masks the retired vectors from the join
    Similarity.deleteFromIvfIndex(spark,
      appended.select(col("vec_id")), "vec_id", path, deleteId = "takedown1")
    assert(idxJoin() === inline,
      "retiring the appended crawl must restore the pre-append join exactly")
  }

  test("a scan-layout IVF index refuses appends and CDC folds before writing (IVF_APPEND_SCAN_LAYOUT)") {
    import graft.ops.ChangeCapture
    val left = embAll.filter(pmod(col("vec_id"), lit(7)) === 3)
    val base = embAll.filter(pmod(col("vec_id"), lit(7)) =!= 3)
    val path = tmp("ivf-scan")
    Similarity.writeIvfIndex(base, "vec_id", "embedding", path, nCells = 16,
      layout = Similarity.IvfLayout.Scan)
    def tree(): Seq[String] = {
      val root = Paths.get(path)
      Files.walk(root).toArray.map(p => root.relativize(p.asInstanceOf[Path]).toString).sorted.toSeq
    }
    def idxJoin() = rows(Similarity.annJoinWithIndex(
      spark, path, left, "vec_id", "embedding", k = 2, nProbe = 2)
      .orderBy(col("left_id"), col("rank")))
    val before = (tree(), idxJoin())
    assert(before._2.nonEmpty, "vacuous — the scan-layout join found nothing")
    val inc = base.filter(col("vec_id") < 10)
      .select((col("vec_id") + 500000).as("vec_id"), col("embedding"))
    val e1 = intercept[IllegalStateException](
      Similarity.appendToIvfIndex(spark, inc, "vec_id", "embedding", path, "crawl2"))
    assert(e1.getMessage.startsWith("IVF_APPEND_SCAN_LAYOUT"), e1.getMessage)
    assert((tree(), idxJoin()) === before, "a refused append still changed the index")
    // the CDC bridge's delete leg would land tombstones before its
    // append leg — it must refuse up front too
    val changed = base.withColumn("embedding",
      when(col("vec_id") === 20, transform(col("embedding"), x => x * lit(2.0f))).otherwise(col("embedding")))
    val diff = ChangeCapture.snapshotDiff(base, changed, Seq("vec_id"), Seq("embedding"))
    val e2 = intercept[IllegalStateException](
      Similarity.applyCdcToIvfIndex(diff, "vec_id", "embedding", path, batchId = "b1"))
    assert(e2.getMessage.startsWith("IVF_APPEND_SCAN_LAYOUT"), e2.getMessage)
    assert((tree(), idxJoin()) === before, "a refused CDC fold still changed the index")
  }

  test("stream-static probe outliving the grace fails STALE_PINNED_LISTING, not an FNF (r18 task 5)") {
    import graft.ops.Scale
    // deterministic unit-ish embeddings: 8 dims from the id
    val emb = spark.range(0, 64).selectExpr("id AS vec_id",
      "transform(sequence(0, 7), i -> CAST(pmod(vec_id * 7 + i * 3, 13) - 6 AS FLOAT)) AS embedding")
    val idx = tmp("stale-guard-idx")
    Dedup.writeSignPlaneIndex(emb, "vec_id", "embedding", idx)
    val incDir = tmp("stale-guard-inc")
    emb.filter(col("vec_id") < 8)
      .select((col("vec_id") + 1000).as("vec_id"),
        transform(col("embedding"), x => (x * lit(2.0f)).cast("float")).as("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(incDir)
    val incSchema = spark.read.parquet(incDir).schema
    // grace window tiny so the test ages past it in ms, not minutes;
    // set BEFORE the probe is built — the guard captures the budget
    // at plan construction, alongside the pinned listing
    System.setProperty("graft.pinned.listing.grace.ms", "200")
    try {
      val stream = spark.readStream.schema(incSchema).parquet(incDir)
      val probe = Dedup.probeSignPlaneIndex(spark, idx, stream, "vec_id", "embedding", 0.99)
      // a compaction pass runs while the stream-static plan holds its
      // pinned listing, and the listing ages past the grace
      graft.ops.Scale.compactIndex(spark, idx, graceMs = 200)
      Thread.sleep(500)
      val q = probe.writeStream.format("memory").queryName("staleguard")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      val e = intercept[Throwable] { q.awaitTermination() }
      val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains("STALE_PINNED_LISTING"),
        s"expected the named guard, got: $msgs")
      assert(!msgs.contains("FileNotFoundException"),
        "the guard must fire BEFORE any reclaimed-file read")
    } finally { System.clearProperty("graft.pinned.listing.grace.ms"); () }
  }

  test("stream-static probe WITHIN the grace still answers (guard passes through)") {
    import graft.ops.Scale
    val emb = spark.range(0, 64).selectExpr("id AS vec_id",
      "transform(sequence(0, 7), i -> CAST(pmod(vec_id * 7 + i * 3, 13) - 6 AS FLOAT)) AS embedding")
    val idx = tmp("fresh-guard-idx")
    Dedup.writeSignPlaneIndex(emb, "vec_id", "embedding", idx)
    val incDir = tmp("fresh-guard-inc")
    emb.filter(col("vec_id") < 8)
      .select((col("vec_id") + 1000).as("vec_id"),
        transform(col("embedding"), x => (x * lit(2.0f)).cast("float")).as("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(incDir)
    val incSchema = spark.read.parquet(incDir).schema
    val stream = spark.readStream.schema(incSchema).parquet(incDir)
    val probe = Dedup.probeSignPlaneIndex(spark, idx, stream, "vec_id", "embedding", 0.99)
    val q = probe.writeStream.format("memory").queryName("freshguard")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // the embedding pattern pmod(vec_id*7 + 3i, 13) repeats every 13
    // ids, so each of the 8 increment vectors is colinear with 5 base
    // vectors (k, k+13, k+26, k+39, k+52 < 64): 8 × 5 = 40 pairs
    val got = spark.sql("SELECT * FROM freshguard").count()
    assert(got === 40L, s"colinear increment must pair with its 40 base twins, got $got")
  }
}
