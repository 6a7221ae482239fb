package graft

import graft.ops.Similarity
import graft.ops.Similarity.IvfLayout.Quantized

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** The quantized persistent IVF index: probe parity with the
  * in-memory int8 flavor (exact — dot_i8 integer arithmetic is
  * bit-identical to the array<int> path), and the 4× at-rest size
  * claim measured against the full-precision index on the same
  * corpus.
  */
class QuantizedIndexSpec extends SparkSpecBase {

  private def emb = GraftSession.table(spark, sf, "embeddings")

  private def dirSize(p: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(walk).sum else f.length()
    walk(new java.io.File(p))
  }

  test("single-cell quantized probe == in-memory int8 brute force, exactly") {
    val q    = emb.filter(col("vec_id") < 5)
    val path = Files.createTempDirectory("graft-qivf1").toString
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", path, nCells = 1, layout = Quantized)
    val probed = Similarity
      .probeIvfIndexQuantized(spark, path, q, "vec_id", "embedding", k = 3, nProbe = 1)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("qcosine"))
    val brute = Similarity.int8CosineTopK(emb, q, "vec_id", "embedding", k = 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("qcosine"))
    assert(probed.except(brute).count() === 0)
    assert(brute.except(probed).count() === 0)
    assert(probed.count() === brute.count())
  }

  test("quantized probe reads ONLY the probed cells' partitions (metric-proven)") {
    // the round-9 finding: the DPP route this probe used to rely on
    // falls back to dynamicpruningexpression(true) under AQE when the
    // probe-side broadcast can't be reused — the scan silently read
    // every cell. The probes now pin a static IN-list of probed cell
    // ids (envelope-sized driver fetch); this metric assert is the
    // regression gate.
    val path = Files.createTempDirectory("graft-qivf-prune").toString
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", path, nCells = 16, layout = Quantized)
    val df = Similarity.probeIvfIndexQuantized(spark, path,
      emb.filter(col("vec_id") === 0), "vec_id", "embedding", k = 3, nProbe = 2)
    df.collect()
    val partitioned = fileScans(df.queryExecution.executedPlan)
      .filter(_.relation.partitionSchema.nonEmpty)
    assert(partitioned.nonEmpty, "no partitioned scan in the probe plan")
    val read  = partitioned.head.metrics("numPartitions").value
    val total = partitioned.head.relation.location.listFiles(Nil, Nil).size
    assert(read > 0 && read <= 2 && read < total,
      s"probe read $read of $total cell partitions — static cell pruning lost")
  }

  test("probing every cell of a multi-cell quantized index == int8 brute force") {
    // nProbe = nCells ⇒ the probe scores the whole corpus, so the
    // multi-cell layout (partition columns, per-cell files, byte
    // round-trip through parquet) must reproduce brute force exactly
    val q    = emb.filter(col("vec_id") < 3)
    val path = Files.createTempDirectory("graft-qivf4").toString
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", path, nCells = 4, layout = Quantized)
    val probed = Similarity
      .probeIvfIndexQuantized(spark, path, q, "vec_id", "embedding", k = 3, nProbe = 4)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("qcosine"))
    val brute = Similarity.int8CosineTopK(emb, q, "vec_id", "embedding", k = 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("qcosine"))
    assert(probed.except(brute).count() === 0)
    assert(brute.except(probed).count() === 0)
  }

  test("IVF probe-after-append ≡ rebuilt-index probe (frozen centroids)") {
    val base = emb.select(col("vec_id"), col("embedding"))
    // increment ids sit ABOVE every base id, so a from-scratch rebuild
    // over base ∪ increment samples the SAME centroids (smallest ids)
    // the append-path index froze — making exact equality provable
    val inc = base.filter(col("vec_id") < 10)
      .select((col("vec_id") + 5000).as("vec_id"),
        transform(col("embedding"), x => (x * lit(3.0f)).cast("float")).as("embedding"))
    val q = base.filter(col("vec_id") < 5)

    val pathA = Files.createTempDirectory("ivf-append").toString
    Similarity.writeIvfIndex(base, "vec_id", "embedding", pathA, nCells = 8)
    Similarity.appendToIvfIndex(spark, inc, "vec_id", "embedding", pathA, incrementId = "inc1")

    val pathR = Files.createTempDirectory("ivf-rebuild").toString
    Similarity.writeIvfIndex(base.unionByName(inc), "vec_id", "embedding", pathR, nCells = 8)

    def probe(p: String) =
      Similarity.probeIvfIndex(spark, p, q, "vec_id", "embedding", k = 3)
        .select("query_id", "neighbor_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val appended = probe(pathA)
    assert(appended === probe(pathR))
    // the appended colinear copies must actually surface as neighbors
    assert(appended.exists(_._2 >= 5000), "increment vectors never probed — vacuous append")

    // quantized flavor: same contract
    val pathQA = Files.createTempDirectory("ivfq-append").toString
    Similarity.writeIvfIndex(base, "vec_id", "embedding", pathQA, nCells = 8, layout = Quantized)
    Similarity.appendToIvfIndex(spark, inc, "vec_id", "embedding", pathQA, incrementId = "inc1")
    val pathQR = Files.createTempDirectory("ivfq-rebuild").toString
    Similarity.writeIvfIndex(base.unionByName(inc), "vec_id", "embedding", pathQR, nCells = 8, layout = Quantized)
    def probeQ(p: String) =
      Similarity.probeIvfIndexQuantized(spark, p, q, "vec_id", "embedding", k = 3)
        .select("query_id", "neighbor_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(probeQ(pathQA) === probeQ(pathQR))
  }

  test("quantized index assigned data is ~4x smaller at rest") {
    val pathF = Files.createTempDirectory("graft-ivf-full").toString
    val pathQ = Files.createTempDirectory("graft-ivf-quant").toString
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", pathF, nCells = 4)
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", pathQ, nCells = 4, layout = Quantized)
    val full  = dirSize(s"$pathF/assigned")
    val quant = dirSize(s"$pathQ/assigned")
    // 4 bytes/component → 1 byte/component (+ one double scale per
    // vector, parquet framing); accept anything beyond 2.5× to keep
    // the assertion robust to metadata overhead on a small corpus
    assert(quant * 5 / 2 < full,
      s"expected ~4x smaller: full=$full quantized=$quant (${full.toDouble / quant}x)")
  }

  test("quantized probe recall: top-1 matches exact cosine top-1 on the test corpus") {
    val q    = emb.filter(col("vec_id") < 5)
    val path = Files.createTempDirectory("graft-qivf-r").toString
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", path, nCells = 1, layout = Quantized)
    val top1q = Similarity
      .probeIvfIndexQuantized(spark, path, q, "vec_id", "embedding", k = 1, nProbe = 1)
      .select(col("query_id"), col("neighbor_id"))
    val top1x = Similarity.cosineTopK(emb, q, "vec_id", "embedding", k = 1)
      .select(col("query_id"), col("neighbor_id"))
    assert(top1q.except(top1x).count() === 0, "int8 rounding changed a top-1 neighbor")
  }
}
