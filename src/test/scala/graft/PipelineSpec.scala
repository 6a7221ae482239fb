package graft

import graft.ops.Pipeline
import graft.scorer.{MockQaScorer, MockRelevanceScorer}

import java.nio.file.Files

import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpecBase {

  test("inference pipeline end to end: extraction JSON -> relevance -> KPI -> ORC table -> distribution") {
    val dir = Files.createTempDirectory("pipe").toFile
    val para = "emissions were reduced by a substantial margin across all scopes this year"
    Files.writeString(new java.io.File(dir, "acme.json").toPath,
      s"""{"pages": {"0": ["$para", "another paragraph about production volumes and targets"],
         | "1": ["the company employs several thousand people worldwide"]}}""".stripMargin.replace("\n", ""))
    Files.writeString(new java.io.File(dir, "beta.json").toPath,
      s"""{"pages": {"2": ["$para again with different framing and words"]}}""")
    val questions = spark.createDataFrame(Seq(
      ("what is the annual emission reduction?", 2.1),
      ("how many employees does the company have?", 3.3)
    )).toDF("question", "kpi_id")

    val dist = Pipeline.runInference(spark, dir.getAbsolutePath, questions,
      new MockRelevanceScorer, new MockQaScorer(nBest = 2), "graft_test_results",
      relevanceThreshold = 0.2)
    assert(dist.count() > 0)

    val t = spark.table("graft_test_results")
    assert(t.count() > 0)
    assert(t.columns.toSeq === Seq("pdf_name", "kpi", "kpi_id", "answer", "page",
      "paragraph", "source", "score", "no_ans_score", "no_answer_score_plus_boost"))
    // per-(pdf, question) top-k bound holds through the warehouse round-trip
    assert(t.groupBy("pdf_name", "kpi").count().agg(max("count")).head().getLong(0) <= 4)
  }

  test("skipProcessed: second run sees only unprocessed keys; missing output skips nothing") {
    val out = Files.createTempDirectory("proc").toFile.getAbsolutePath + "/results"
    val all = GraftSession.table(spark, sf, "documents").select(col("doc_id"), col("source"))
    // nothing processed yet → everything passes through
    assert(Pipeline.skipProcessed(all, out, "doc_id").count() === all.count())
    // "process" half of them
    all.filter(col("doc_id") % 2 === 0).write.parquet(out)
    val remaining = Pipeline.skipProcessed(all, out, "doc_id")
    assert(remaining.count() === all.filter(col("doc_id") % 2 =!= 0).count())
    assert(remaining.filter(col("doc_id") % 2 === 0).count() === 0)
  }

  test("parquet external publish: snakified DDL table round-trip (S7)") {
    val src = GraftSession.table(spark, sf, "customer")
      .withColumnRenamed("c_name", "Customer Name (Full)")
    val smoke = Pipeline.publishParquetExternal(spark, src, "/tmp/graft-test-pq", "graft_test_pq")
    assert(smoke.columns.contains("customer_name_full"))
    assert(spark.table("graft_test_pq").count() ===
      GraftSession.table(spark, sf, "customer").count())
  }

  test("partitioned external publish: partition dirs on disk, static pruning in the plan") {
    val src = GraftSession.table(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    val path = Files.createTempDirectory("graft-part-pub").toFile.getAbsolutePath + "/orders_part"
    val smoke = Pipeline.publishParquetExternal(
      spark, src, path, "graft_test_part", Seq("o_orderpriority"))
    assert(smoke.count() === 5)
    // physical layout: one directory per priority value
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("o_orderpriority=")).toSeq
    assert(dirs.size === 5, s"expected 5 partition dirs, got: $dirs")
    // a partition-column filter prunes STATICALLY: scan lists 1 of 5 dirs
    val q = spark.table("graft_test_part").filter(col("o_orderpriority") === "1-URGENT")
    // collect() executes THIS QueryExecution (count() builds another one)
    assert(q.collect().length ===
      src.filter(col("o_orderpriority") === "1-URGENT").count())
    val scan = fileScans(q.queryExecution.executedPlan).headOption
    assert(scan.exists(_.metrics("numPartitions").value === 1),
      s"partition filter did not prune the listing")
  }

  test("text-curation entry point writes a deduped pos+neg CSV with positives winning") {
    import spark.implicits._
    val annotations = Seq(
      ("ACME", "acme.pdf", "[2]", 1.0, 2019, "TEXT", """["shared paragraph text body", "para two"]"""),
      ("ACME", "acme.pdf", "[3]", 2.0, 2019, "TEXT", """["shared paragraph text body"]"""),
      ("SKIP", "skip.pdf", "[1]", 1.0, 2019, "TEXT", """["p"]""")
    ).toDF("company", "source_file", "source_page", "kpi_id", "year", "data_type", "relevant_paragraphs")
    val paragraphs = Seq(
      ("acme.pdf", 4, 0, "a long enough negative candidate paragraph body"),
      ("acme.pdf", 5, 0, "another long enough negative candidate body here")
    ).toDF("pdf_name", "page", "para_idx", "paragraph")
    val kpi = Seq((1.0, "what is one?", false), (2.0, "what is two?", false))
      .toDF("kpi_id", "question", "add_year")
    val out = Files.createTempDirectory("textcur").toFile.getAbsolutePath + "/esg"
    val n = Pipeline.runTextCuration(spark, annotations, paragraphs, kpi, out,
      excludeCompanies = Seq("SKIP"), negPosRatio = 1, minLength = 10)
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() === n)
    assert(back.filter(col("label") === "1").count() === 3) // 2 paras + 1 single
    assert(back.filter(col("label") === "0").count() >= 1)  // negatives present
    // same (question, context) in pos and neg → positive survives
    assert(back.groupBy("question", "context").count()
      .agg(max("count")).head().getLong(0) === 1)
  }

  test("table-curation entry point cleans annotations and writes pos+neg rows") {
    import spark.implicits._
    val annotations = Seq(
      ("ACME", "acme", "[2]", 1.0, 2019, "total co2 42", "TABLE"),
      ("ACME", "acme", "bad-page", 1.0, 2019, "dropped", "TABLE"),   // unparseable page
      ("ACME", "acme", "[2]", 9.0, 2019, "invalid kpi", "TABLE"),    // no kpi mapping
      ("GONE", "acme", "[2]", 1.0, 2019, "excluded", "TABLE")
    ).toDF("company", "source_file", "source_page", "kpi_id", "year", "answer", "data_type")
    val tables = Seq(
      ("acme_page2_0.csv", "total co2 42 tonnes"),
      ("acme_page2_1.csv", "unrelated numbers"),
      ("beta_page1_0.csv", "other pdf table")
    ).toDF("table_filename", "table_text")
    val kpi = Seq((1.0, "what is co2?")).toDF("kpi_id", "question")
    val out = Files.createTempDirectory("tablecur").toFile.getAbsolutePath + "/esg_table"
    val n = Pipeline.runTableCuration(spark, annotations, tables, kpi, out,
      score = graft.functions.Fuzzy.token_set_ratio,
      excludeCompanies = Seq("GONE"), negPosRatio = 2, poolSize = 3)
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() === n)
    // one surviving annotation: 1 positive (the matching table) + 2 negatives
    assert(back.filter(col("label") === "1").count() === 1)
    assert(back.filter(col("label") === "1").select("table_filename").head().getString(0)
      === "acme_page2_0.csv")
    assert(back.filter(col("label") === "0").count() === 2)
  }

  test("QA-curation product: split SQuAD files round-trip through the reader") {
    import spark.implicits._
    val d = GraftSession.table(spark, sf, "documents").filter(col("doc_id") < 60)
    val dataset = d.select(
      col("source").as("source_file"),
      concat(lit("q"), pmod(col("doc_id"), lit(3))).as("question"),
      col("text").as("paragraph"),
      when(pmod(col("doc_id"), lit(4)) === 0, lit("")).otherwise(lit("answer me")).as("answer"),
      when(pmod(col("doc_id"), lit(4)) === 0, array().cast("array<int>"))
        .otherwise(array(lit(3))).as("answer_start"))
    val out = Files.createTempDirectory("squadout").toFile.getAbsolutePath
    val (nTrain, nVal) = Pipeline.runQaCuration(spark, dataset, out, valRatio = 0.25)
    assert(nTrain + nVal === 60)
    assert(nVal > 2 && nVal < 30) // ~15 expected; deterministic but ratio-shaped
    val train = graft.sources.ExtractionJson.readSquad(spark, s"$out/train")
    val valDf = graft.sources.ExtractionJson.readSquad(spark, s"$out/val")
    // impossible rows round-trip; every (question, context) lands in exactly one split
    assert(train.count() + valDf.count() === 60)
    assert(valDf.filter(col("is_impossible")).count() ===
      dataset.filter(col("answer") === "").join(
        valDf.select(col("question"), col("context").as("paragraph")).distinct(),
        Seq("question", "paragraph"), "left_semi").count())
    val overlap = train.select("question", "context")
      .intersect(valDf.select("question", "context")).count()
    assert(overlap === 0)
  }
}
