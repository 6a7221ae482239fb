package graft.ops

import graft.scorer.QaScorer

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** KPI QA stage: pluggable span extraction plus the post-processing
  * chain the reference runs per PDF
  * (src/models/text_kpi_infer.py:180-301): attach rank columns → melt
  * → split tuple column → no-answer aggregation → top-k per
  * (pdf, question) → reverse kpi_id map → column order.
  *
  * The Spark form gathers each (pdf, question) group's candidates into
  * one array and derives the melt (W4/R4/R5), the no-answer row (A4)
  * and the top-k (A5) from it with array expressions — one exchange,
  * and the scorer's output has exactly one consumer.
  */
object KpiPost {

  private val candType = ArrayType(StructType(Seq(
    StructField("rank", IntegerType, nullable = false),
    StructField("answer", StringType, nullable = true),
    StructField("score", DoubleType, nullable = false),
    StructField("noAnsScore", DoubleType, nullable = false),
    StructField("noAnswerScorePlusBoost", DoubleType, nullable = false)
  )))

  /** M2: batched QA inference adding a `candidates` array column. */
  def scoreQa(
      df: DataFrame,
      scorer: QaScorer,
      keyCol: String,
      questionCol: String = "text",
      contextCol: String = "text_b",
      chunkSize: Int = 1000
  ): DataFrame =
    Relevance.appendScores(df, StructField("candidates", candType, nullable = true),
        keyCol, questionCol, contextCol, chunkSize)(scorer.scoreBatch) { cands =>
      cands.map(c => Row(c.rank, c.answer, c.score, c.noAnsScore, c.noAnswerScorePlusBoost))
    }

  /** One melted row: a candidate with its input row's columns. */
  private def entry(rank: Column, answer: Column, score: Column, noAns: Column, noAnsPlus: Column,
      page: Column, paragraph: Column, source: Column, key: Column): Column =
    struct(rank.as("rank"), answer.as("answer"), score.as("score"), noAns.as("no_ans_score"),
      noAnsPlus.as("no_answer_score_plus_boost"), page.as("page"), paragraph.as("paragraph"),
      source.as("source"), key.as("key"))

  /** Ascending with nulls first, as an `array_sort` comparator term. */
  private def ascNullsFirst(l: Column, r: Column): Column =
    when(l.isNull && r.isNull, 0).when(l.isNull, -1).when(r.isNull, 1)
      .when(l < r, -1).when(l > r, 1).otherwise(0)

  /** Full chain: QA scoring → per-(pdf_name, text) candidate array →
    * spans + A4 no-answer row → A5 top-k → kpi_id reverse lookup →
    * reference column order (text_kpi_infer.py:251-297). `questions`
    * is the kpi_mapping dim (question, kpi_id) — broadcast for the
    * reverse map.
    */
  def kpiChain(
      relevant: DataFrame,
      scorer: QaScorer,
      questions: DataFrame,
      keyCol: String,
      topK: Int = 4
  ): DataFrame = {
    val scored = scoreQa(relevant, scorer, keyCol)
    def nullOf(c: String) = lit(null).cast(scored.schema(c).dataType)
    val melted = transform(col("candidates"), c => entry(c("rank"), c("answer"), c("score"),
      c("noAnsScore"), c("noAnswerScorePlusBoost"),
      col("page"), col("text_b"), col("source"), col(keyCol)))
    val groups = scored.groupBy(col("pdf_name"), col("text"))
      .agg(flatten(collect_list(melted)).as("e"))
    val spans = filter(col("e"), _("answer") =!= "no_answer")
    // A4 (text_kpi_infer.py:17-29, 251-265): the group's non-null
    // rank-1 answers exist and are all no_answer → one no_answer row
    // carrying the max rank-1 score
    val rank1 = filter(col("e"), _("rank") === 1)
    val allNoAnswer = exists(rank1, _("answer").isNotNull) &&
      forall(rank1, c => c("answer").isNull || c("answer") === "no_answer")
    val noAnswer = entry(lit(null).cast(IntegerType), lit("no_answer"),
      array_max(transform(rank1, _("score"))), lit(null).cast(DoubleType), lit(null).cast(DoubleType),
      nullOf("page"), nullOf("text_b"), lit("Text"), nullOf(keyCol))
    // A5: `nlargest` tie order is pandas-positional; engine semantics
    // are a total order (score desc, then rank and key asc with nulls
    // first) so results are deterministic under any partitioning
    val byScoreRankKey = (l: Column, r: Column) =>
      Seq(ascNullsFirst(r("score"), l("score")), ascNullsFirst(l("rank"), r("rank")),
        ascNullsFirst(l("key"), r("key")))
        .reduceRight((c, rest) => when(c =!= 0, c).otherwise(rest))
    // the spans, plus the no-answer entry when the group qualifies
    val kept = concat(spans, filter(array(noAnswer), _ => allNoAnswer))
    val top = groups.select(col("pdf_name"), col("text").as("kpi"),
      explode(slice(array_sort(kept, byScoreRankKey), 1, topK)).as("r"))
    top
      .join(broadcast(questions.select(col("question"), col("kpi_id"))),
        top("kpi") === col("question"), "left")
      .select(
        Seq(col("pdf_name"), col("kpi"), col("kpi_id")) ++
          Seq("answer", "page", "paragraph", "source", "score", "no_ans_score",
            "no_answer_score_plus_boost").map(f => col(s"r.$f").as(f)): _*
      )
  }
}
