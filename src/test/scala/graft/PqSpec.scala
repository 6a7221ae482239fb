package graft

import graft.ops.Similarity

import org.apache.spark.sql.functions._

/** Product-quantization ANN laws ([[graft.ops.Similarity.pqTopK]]).
  *
  * The crisp one: quantization is LOSSLESS when the corpus is a subset
  * of the codebook (every vector's nearest codeword in every subspace
  * is itself, distance 0), so PQ/ADC must reproduce exact brute-force
  * cosine rank-for-rank and score-for-score. Plus the layout
  * invariances the whole gate family relies on.
  */
class PqSpec extends SparkSpecBase {

  private def embeddings = GraftSession.table(spark, sf, "embeddings")

  test("PQ ≡ exact cosine when corpus ⊆ codebook (lossless quantization)") {
    val corpus = embeddings.filter(col("vec_id") < 16)
    val queries = embeddings.filter(col("vec_id") >= 100 && col("vec_id") < 103)
      .unionByName(corpus.limit(0)) // keep schema; queries disjoint from corpus ids
    val pq = Similarity.pqTopK(corpus, queries, "vec_id", "embedding",
        k = 5, nSub = 4, ks = 16)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_adc"))
    val exact = Similarity.cosineTopK(corpus, queries, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine").as("cos_adc"))
    assert(pq.exceptAll(exact).count() === 0L && exact.exceptAll(pq).count() === 0L,
      "PQ diverged from exact cosine on a corpus fully contained in the codebook")
  }

  test("PQ self-codes: a codebook member encodes to its own position in every subspace") {
    val corpus = embeddings.filter(col("vec_id") < 16)
    // rebuild the encode stage through the public API by probing with a
    // far-away query and checking the reconstructed norm is the true norm
    val enc = Similarity.pqTopK(corpus,
        embeddings.filter(col("vec_id") === 200), "vec_id", "embedding",
        k = 16, nSub = 4, ks = 16)
    val withTrue = enc.join(
        corpus.select(col("vec_id").as("neighbor_id"),
          round(Similarity.cosine(col("embedding"), col("embedding")), 4).as("self_cos")),
        Seq("neighbor_id"))
    // lossless ⇒ cos_adc of (q, v) equals round(exact cosine): checked
    // indirectly by the first law; here assert every corpus member came
    // back (no codeword lost in encoding) with a finite score
    assert(withTrue.count() === 15L || withTrue.count() === 16L)
    assert(withTrue.filter(col("cos_adc").isNull || isnan(col("cos_adc"))).count() === 0L)
  }

  test("PQ is partition-layout invariant") {
    val corpus = embeddings.filter(col("vec_id") < 200)
    val queries = embeddings.filter(col("vec_id") < 3)
    val one = Similarity.pqTopK(corpus.repartition(1), queries, "vec_id", "embedding", k = 4)
    val many = Similarity.pqTopK(corpus.repartition(13), queries, "vec_id", "embedding", k = 4)
    assert(one.exceptAll(many).count() === 0L && many.exceptAll(one).count() === 0L)
  }

  test("IVFPQ index probe with nProbe = nCells ≡ inline pqTopK (cell cut is the only approximation)") {
    val e = embeddings
    val path = java.nio.file.Files.createTempDirectory("ivfpq-law").toString
    Similarity.writeIvfPqIndex(e, "vec_id", "embedding", path,
      nCells = 8, nSub = 4, ks = 16)
    val queries = e.filter(col("vec_id") < 4)
    val probed = Similarity.probeIvfPqIndex(spark, path, queries,
        "vec_id", "embedding", k = 5, nProbe = 8)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_adc"))
    val inline = Similarity.pqTopK(e, queries, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_adc"))
    assert(probed.exceptAll(inline).count() === 0L && inline.exceptAll(probed).count() === 0L,
      "full-probe IVFPQ diverged from inline PQ")
  }

  test("IVFPQ probe reads ONLY the probed cells' partitions") {
    val e = embeddings
    val path = java.nio.file.Files.createTempDirectory("ivfpq-prune").toString
    Similarity.writeIvfPqIndex(e, "vec_id", "embedding", path,
      nCells = 16, nSub = 4, ks = 16)
    val df = Similarity.probeIvfPqIndex(spark, path,
      e.filter(col("vec_id") === 0), "vec_id", "embedding", k = 3, nProbe = 2)
    df.collect()
    val partitioned = fileScans(df.queryExecution.executedPlan)
      .filter(_.relation.partitionSchema.nonEmpty)
    assert(partitioned.nonEmpty, "no partitioned scan in the probe plan")
    val scan  = partitioned.head
    val read  = scan.metrics("numPartitions").value
    val total = scan.relation.location.listFiles(Nil, Nil).size
    assert(read > 0 && read <= 2 && read < total,
      s"probe read $read of $total cell partitions — cell pruning did not bite")
  }

  test("PQ recall against exact top-k is usable on the gate corpus") {
    val corpus = embeddings
    val queries = embeddings.filter(col("vec_id") < 5)
    val pq = Similarity.pqTopK(corpus, queries, "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("neighbor_id"))
    val exact = Similarity.cosineTopK(corpus, queries, "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("neighbor_id"))
    val hit = pq.intersect(exact).count()
    // 500 vectors, 16 codewords/subspace: coarse, but the ADC ordering
    // must still surface a nontrivial share of the true top-10
    assert(hit >= 10, s"PQ recall collapsed: $hit/50 true top-10 pairs found")
  }

  test("refined codebook recall ≥ id-sampled codebook recall on the gate corpus") {
    // the round-9 verdict gate for the Lloyd swap-in: refinement must
    // never LOSE ranking fidelity vs the id-sampled seed on the gate
    // data (it should gain — codewords track the subvector
    // distribution instead of whichever vectors had the smallest ids)
    val corpus = embeddings
    val queries = embeddings.filter(col("vec_id") < 5)
    val exact = Similarity.cosineTopK(corpus, queries, "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("neighbor_id"))
    def recall(df: org.apache.spark.sql.DataFrame): Long =
      df.select(col("query_id"), col("neighbor_id")).intersect(exact).count()
    val sampled = recall(Similarity.pqTopK(corpus, queries, "vec_id", "embedding", k = 10))
    val refined = recall(Similarity.pqTopK(corpus, queries, "vec_id", "embedding", k = 10, refineIters = 1))
    assert(refined >= sampled,
      s"codebook refinement LOST recall: refined $refined < sampled $sampled (of 50)")
    assert(refined >= 10, s"refined PQ recall collapsed: $refined/50")
  }

  test("refined codebook with zero corpus drift beyond the seed is layout-invariant") {
    val corpus = embeddings
    val queries = embeddings.filter(col("vec_id") < 3)
    val one = Similarity.pqTopK(corpus.repartition(1), queries, "vec_id", "embedding", k = 4, refineIters = 1)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val many = Similarity.pqTopK(corpus.repartition(13), queries, "vec_id", "embedding", k = 4, refineIters = 1)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(one === many, "refined PQ ranking depends on partition layout — decimal re-centering leaked order")
  }
}
