package graft

import graft.ops.ChangeCapture

import org.apache.spark.sql.functions._

class ChangeCaptureSpec extends SparkSpecBase {
  import spark.implicits._

  private val oldSnap = Seq(
    (1L, "a", Some(10L)),  // unchanged
    (2L, "b", Some(20L)),  // value update
    (3L, "c", None),       // null -> value update
    (4L, "d", Some(40L)),  // deleted
    (5L, "e", Some(50L))   // attr update
  ).toDF("k", "attr", "v")

  private val newSnap = Seq(
    (1L, "a", Some(10L)),
    (2L, "b", Some(21L)),
    (3L, "c", Some(30L)),
    (5L, "E", Some(50L)),
    (6L, "f", None)        // insert with null value
  ).toDF("k", "attr", "v")

  private def diff() =
    ChangeCapture.snapshotDiff(oldSnap, newSnap, Seq("k"), Seq("attr", "v"))

  test("snapshotDiff classifies insert/delete/update and skips unchanged rows") {
    val out = diff().orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out === Seq((2L, "update"), (3L, "update"), (4L, "delete"),
      (5L, "update"), (6L, "insert")))
  }

  test("snapshotDiff carries old and new values, null-safe compare") {
    val byK = diff().collect().map(r => r.getLong(0) -> r).toMap
    // null -> 30 is an update (null-safe compare), old side preserved as null
    assert(byK(3L).isNullAt(byK(3L).fieldIndex("old_v")))
    assert(byK(3L).getAs[Long]("new_v") === 30L)
    // delete: new side null
    assert(byK(4L).isNullAt(byK(4L).fieldIndex("new_attr")))
    assert(byK(4L).getAs[Long]("old_v") === 40L)
    // attr-only update keeps both values
    assert(byK(5L).getAs[String]("old_attr") === "e" &&
      byK(5L).getAs[String]("new_attr") === "E")
  }

  test("round-trip law: applyChanges(old, diff) equals the new snapshot") {
    val applied = ChangeCapture.applyChanges(oldSnap, diff(), Seq("k"), Seq("attr", "v"))
    val got  = applied.orderBy("k").collect().map(_.toSeq).toSeq
    val want = newSnap.orderBy("k").collect().map(_.toSeq).toSeq
    assert(got === want)
  }

  test("applyChanges is an idempotent upsert: re-applying the same diff is a no-op") {
    // the at-least-once replay scenario: the snapshot overwrite
    // committed but the checkpoint didn't, so the same change set
    // folds into the ALREADY-merged base — inserts must not duplicate
    val once  = ChangeCapture.applyChanges(oldSnap, diff(), Seq("k"), Seq("attr", "v"))
    val twice = ChangeCapture.applyChanges(once, diff(), Seq("k"), Seq("attr", "v"))
    assert(twice.orderBy("k").collect().map(_.toSeq).toSeq ===
      once.orderBy("k").collect().map(_.toSeq).toSeq)
  }

  test("empty diff on identical snapshots; apply of empty diff is identity") {
    val d = ChangeCapture.snapshotDiff(oldSnap, oldSnap, Seq("k"), Seq("attr", "v"))
    assert(d.count() === 0L)
    val applied = ChangeCapture.applyChanges(oldSnap, d, Seq("k"), Seq("attr", "v"))
    assert(applied.orderBy("k").collect().map(_.toSeq).toSeq ===
      oldSnap.orderBy("k").collect().map(_.toSeq).toSeq)
  }

  test("streaming CDC: the same change file re-delivered across a CHECKPOINT WIPE " +
      "leaves the snapshot identical") {
    // the adversarial at-least-once scenario end to end: run the
    // stream to completion, then destroy the checkpoint — the next
    // run re-delivers EVERY change file as if never seen. Because
    // applyChanges is an idempotent upsert, the replayed merges must
    // reproduce the same snapshot, row for row.
    import graft.streaming.EventsStream
    val base = java.nio.file.Files.createTempDirectory("cdc-replay").toString
    val snap = s"$base/snap"; val feed = s"$base/feed"; val ckpt = s"$base/ckpt"
    oldSnap.write.mode("overwrite").parquet(snap)
    val changes = diff()
    changes.filter(col("k") % 2 === 0).coalesce(1).write.mode("append").parquet(feed)
    changes.filter(col("k") % 2 =!= 0).coalesce(1).write.mode("append").parquet(feed)
    def runStream(): Unit =
      EventsStream.foreachIncrement(spark, feed, changes.schema, ckpt,
          maxFilesPerTrigger = Some(1)) { (b, _) =>
        // eager: the write below overwrites the files `base` reads
        val base = spark.read.parquet(snap).localCheckpoint()
        ChangeCapture.applyChanges(base, b, Seq("k"), Seq("attr", "v"))
          .write.mode("overwrite").parquet(snap)
      }.awaitTermination()
    runStream()
    val once = spark.read.parquet(snap).orderBy("k").collect().map(_.toSeq).toSeq
    assert(once === newSnap.orderBy("k").collect().map(_.toSeq).toSeq,
      "first pass must land exactly the new snapshot")
    // wipe the checkpoint: the source forgets all progress
    val p = java.nio.file.Paths.get(ckpt)
    java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(java.nio.file.Files.delete(_))
    runStream() // full re-delivery of both change files
    assert(spark.read.parquet(snap).orderBy("k").collect().map(_.toSeq).toSeq === once,
      "checkpoint-wipe replay changed the snapshot — merge not idempotent")
  }

  test("composite keys diff on the full key tuple") {
    val o = Seq((1L, 1L, 10L), (1L, 2L, 20L)).toDF("k1", "k2", "v")
    val n = Seq((1L, 1L, 10L), (1L, 2L, 25L), (2L, 1L, 30L)).toDF("k1", "k2", "v")
    val out = ChangeCapture.snapshotDiff(o, n, Seq("k1", "k2"), Seq("v"))
      .orderBy("k1", "k2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(out === Seq((1L, 2L, "update"), (2L, 1L, "insert")))
  }
}
