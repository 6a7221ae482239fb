package graft.ops

import graft.scorer.{QaScorer, RelevanceScorer}
import graft.sources.ExtractionJson

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's three entry points as runnable jobs (SURVEY §3).
  *
  * Process/node boundaries in the reference (one Kubeflow pod per
  * notebook, state via S3) become plain DataFrame hand-offs here; the
  * publish step keeps the warehouse contract (ORC/Parquet tables with
  * SQL DDL) so Superset-style consumers are unchanged.
  */
object Pipeline {

  /** §3.1 inference pipeline: extraction-JSON dir → question×paragraph
    * pairs → relevance filter → KPI QA chain → ORC warehouse table →
    * the demo2 "KPI answers distribution" aggregate over it.
    *
    * `questions` is the kpi_mapping dim (question, kpi_id). The pair
    * key feeding the scorer is an xxhash64 of the pair identity —
    * deterministic under any partitioning.
    */
  def runInference(
      spark: SparkSession,
      extractionDir: String,
      questions: DataFrame,
      relevanceScorer: RelevanceScorer,
      qaScorer: QaScorer,
      outTable: String,
      relevanceThreshold: Double = 0.7,
      topK: Int = 4
  ): DataFrame = {
    val paras = ExtractionJson.readExtraction(spark, extractionDir)
    val pairs = Relevance
      .questionParagraphPairs(paras, questions)
      .withColumn("key", xxhash64(col("pdf_name"), col("page"), col("text"), col("text_b")))
    val relevant = Relevance.relevantPairs(pairs, relevanceScorer, "key", relevanceThreshold)
    val results  = KpiPost.kpiChain(relevant, qaScorer, questions, "key", topK)
    // S8: ORC warehouse table (create_results_table.ipynb cell 12).
    // Overwrite must also clear an orphaned managed location (catalog
    // entry lost, files left behind by a previous session/run).
    spark.sql(s"DROP TABLE IF EXISTS $outTable")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + "/" + outTable.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    results.write.format("orc").mode("overwrite").saveAsTable(outTable)
    // A1: Superset demo2 "KPI Answers Distribution" (data/superset/demo2.json)
    spark.sql(s"SELECT answer, COUNT(*) AS n FROM $outTable GROUP BY answer ORDER BY answer")
  }

  /** §3.2 TEXT-curation entry point (text_curator.py `run`): cleaned
    * annotations → positives (KPI broadcast join + year templating +
    * clean) → deterministic negatives from the paragraph corpus →
    * keep-first dedup with positives winning (the reference concats
    * pos before neg, then drop_duplicates keep='first') → the
    * esg_TEXT_dataset CSV. Returns the dataset row count.
    */
  def runTextCuration(
      spark: SparkSession,
      annotations: DataFrame, // reference excel columns (stringified list cells)
      paragraphs: DataFrame,  // (pdf_name, page, para_idx, paragraph)
      kpiMapping: DataFrame,  // (kpi_id, question, add_year)
      outDir: String,
      dataType: String = "TEXT",
      excludeCompanies: Seq[String] = Nil,
      negPosRatio: Int = 1,
      minLength: Int = 30
  ): Long = {
    val parsed = Curation.parseListCells(
      Curation.curationFilter(annotations, dataType, excludeCompanies))
    val outCols = Seq("question", "context", "label", "kpi_id", "source_file").map(col)
    val pos = Curation.posExamples(parsed, kpiMapping).select(outCols: _*)
    // bounded key: negExamples multiplies it by ~1e6 for the pick
    // hash, and a raw |xxhash64| would overflow under ANSI
    val negBase = parsed.withColumn("row_key",
      pmod(abs(xxhash64(col("source_file"), col("kpi_id"), col("year"))), lit(1000000007L)))
    val neg = Curation.negExamples(negBase, paragraphs, negPosRatio, minLength)
      .join(broadcast(kpiMapping.select(col("kpi_id"), col("question"), col("add_year"))), Seq("kpi_id"))
      .withColumn("question",
        graft.functions.TextFns.templateQuestion(col("question"), col("year"), col("add_year")))
      .select(outCols: _*)
    val deduped = Curation.dedupExamples(pos.unionByName(neg),
      Seq(col("label").desc, col("source_file").asc, col("kpi_id").asc))
    deduped.write.mode("overwrite").option("header", "true").csv(outDir)
    deduped.count()
  }

  /** §3.2 TABLE-curation entry point (table_curator.py `run`): cleaned
    * annotations (data-type filter, company exclusion, kpi mapping,
    * pdf-name fix, source-page parse) → fuzzy argmax positives +
    * same-pdf/pooled negatives → the esg_TABLE_dataset CSV. Returns
    * the dataset row count.
    */
  def runTableCuration(
      spark: SparkSession,
      annotations: DataFrame, // (company, source_file, source_page, kpi_id, year, answer, data_type)
      tables: DataFrame,      // (table_filename, table_text)
      kpiMapping: DataFrame,  // (kpi_id, question)
      outDir: String,
      score: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
      excludeCompanies: Seq[String] = Nil,
      negPosRatio: Int = 2,
      poolSize: Int = 32
  ): Long = {
    val ann = annotations
      .filter(col("data_type") === "TABLE" && !col("company").isin(excludeCompanies: _*))
      .join(broadcast(kpiMapping.select(col("kpi_id"), col("question"))), Seq("kpi_id"))
      .withColumn("source_file", graft.functions.TextFns.fixPdfName(col("source_file")))
      .withColumn("pages", graft.functions.ListParse.parseSourcePages(col("source_page")))
      .filter(col("pages").isNotNull)
      .withColumn("row_key", abs(xxhash64(col("source_file"), col("kpi_id"), col("answer"))))
    val dataset = TableCuration.dataset(
      ann.select(col("row_key"), col("company"), col("year"), col("question"),
        col("answer"), col("source_file"), col("pages")),
      tables, score, negPosRatio, poolSize)
    dataset.write.mode("overwrite").option("header", "true").csv(outDir)
    dataset.count()
  }

  /** NQ-curation entry point (nq_curator.py `run`/`_run`): real NQ
    * JSONL → candidate extraction → text/table relevance datasets →
    * balanced CSVs (the reference's `NQ_text_relevance_balanced.csv` /
    * `NQ_table_relevance_balanced.csv` file products). The reference
    * loops over extractor CSV chunks and concatenates per-chunk
    * balanced sets; one Spark job over all lines is the same dataset
    * with the chunk loop gone — balancing keys on `question`, which is
    * chunk-invariant here because the DetHash negative pick replaces
    * the per-chunk RNG. Returns (text rows, table rows).
    */
  def runNqCuration(
      spark: SparkSession,
      nqJsonlPath: String,
      outDir: String,
      extractText: Boolean = true,
      extractTables: Boolean = false,
      negativeFromOtherDocs: Boolean = true
  ): (Long, Long) = {
    val rows = NqCuration.relevanceRows(NqCuration.readNqJsonl(spark, nqJsonlPath))
    val nText =
      if (!extractText) 0L
      else {
        val ds = NqCuration.balancedDataset(NqCuration.textDataset(rows), negativeFromOtherDocs)
        ds.write.mode("overwrite").option("header", "true")
          .csv(s"$outDir/NQ_text_relevance_balanced.csv")
        ds.count()
      }
    val nTable =
      if (!extractTables) 0L
      else {
        val ds = NqCuration.balancedDataset(NqCuration.tableDataset(rows), negativeFromOtherDocs)
        ds.write.mode("overwrite").option("header", "true")
          .csv(s"$outDir/NQ_table_relevance_balanced.csv")
        ds.count()
      }
    (nText, nTable)
  }

  /** §3.2 QA-curation product: curated examples → deterministic
    * train/val split → one SQuAD v2 JSON file per split (the
    * reference's train_kpi_extraction input,
    * kpi_inference_curator.py:404-425 + the squad file hand-off).
    * Example ids are xxhash64 of the natural key — stable across runs
    * and partitionings, unlike the reference's positional index.
    *
    * The JSON envelope aggregates to a single row (squadJson), so the
    * final write is one small text file per split — correct for the
    * dim-scale training sets QA curation produces; a fact-scale corpus
    * would shard `buildSquad` output by title instead of enveloping.
    *
    * Returns (train rows, val rows).
    */
  def runQaCuration(
      spark: SparkSession,
      dataset: DataFrame,
      outDir: String,
      valRatio: Double = 0.2
  ): (Long, Long) = {
    val withId = dataset.withColumn("id",
      abs(xxhash64(col("source_file"), col("question"), col("paragraph"), col("answer"))))
    val (train, valSet) = Curation.trainValSplit(withId, col("id"), valRatio)
    def writeSplit(df: DataFrame, name: String): Long = {
      Curation.squadJson(Curation.buildSquad(df))
        .coalesce(1).write.mode("overwrite").text(s"$outDir/$name")
      df.count()
    }
    (writeSplit(train, "train"), writeSplit(valSet, "val"))
  }

  /** §3.3 warehouse publish: write a DataFrame as parquet at `path`
    * and register an external table over it (S7: demo1-create-tables
    * parquet + external DDL), with snakified column names.
    *
    * With `partitionCols` it is the fact-table layout for 100 TB: one
    * directory per partition value (the S3 prefix layout of the
    * reference's external Trino tables, demo1-create-tables.ipynb cells
    * 14-19), so downstream dim-filtered joins scan only the matching
    * partitions (dynamic partition pruning — proven live in
    * PlanAssertSpec j10). The external DDL infers data+partition schema
    * from the written layout; MSCK keeps the catalog's partition list
    * in sync on re-publish.
    */
  def publishParquetExternal(
      spark: SparkSession,
      df: DataFrame,
      path: String,
      table: String,
      partitionCols: Seq[String] = Nil
  ): DataFrame = {
    import graft.functions.TextFns
    val renamed = TextFns.snakifyColumns(df.columns.toIndexedSeq).foldLeft(df) {
      case (d, (from, to)) => if (from == to) d else d.withColumnRenamed(from, to)
    }
    renamed.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"CREATE TABLE $table USING PARQUET LOCATION '$path'")
    if (partitionCols.nonEmpty) spark.sql(s"MSCK REPAIR TABLE $table")
    spark.sql(s"SELECT * FROM $table LIMIT 5") // smoke readback, reference cells 20-21
  }

  /** Idempotent skip-processed memoization (the reference's
    * "incremental" behavior: pdf_text_extractor.py:129-139,
    * relevance_infer.py:79-92): drop input rows whose key already
    * appears in the output dataset, so re-running a partially-complete
    * pipeline only does the remaining work. Left-anti join against the
    * (distinct, skinny) processed-keys projection; an absent/empty
    * output location means nothing is skipped.
    */
  def skipProcessed(
      inputs: DataFrame,
      processedPath: String,
      keyCol: String
  ): DataFrame = {
    val spark = inputs.sparkSession
    val fsPath = new org.apache.hadoop.fs.Path(processedPath)
    val fs     = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(fsPath)) inputs
    else {
      val done = spark.read.parquet(processedPath).select(col(keyCol)).distinct()
      inputs.join(done, Seq(keyCol), "left_anti")
    }
  }

  /** S11: Kubeflow-style metrics JSON sink
    * (`{"metrics":[{"name":…,"numberValue":…}]}`;
    * demo1-create-tables.ipynb cells 22-23). Driver-side write — one
    * tiny artifact, not a distributed dataset.
    */
  def writeMetricsJson(metrics: Seq[(String, Double)], path: String): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val items = metrics
      .map { case (n, v) => s"""{"name": ${q(n)}, "numberValue": $v}""" }
      .mkString("[", ", ", "]")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path), s"""{"metrics": $items}""")
  }
}
