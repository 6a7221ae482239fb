package graft.ops

import graft.scorer.RelevanceScorer

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Relevance stage: question × paragraph pairing plus pluggable
  * classifier inference (SURVEY §2.3 J3, §2.8 M1).
  */
object Relevance {

  /** J3: every KPI question paired with every extracted paragraph,
    * keyed by pdf/page. The reference loops per PDF
    * (src/models/relevance_infer.py:196-231); distributed form is a
    * broadcast cross join — the question side is tiny (~20 rows), so
    * the pair space streams out of the paragraph scan without any
    * shuffle, pre-partitioned by pdf for the scorer stage.
    */
  def questionParagraphPairs(paragraphs: DataFrame, questions: DataFrame): DataFrame =
    paragraphs
      .select(
        col("page"),
        col("pdf_name"),
        col("paragraph").as("text_b")
      )
      .crossJoin(broadcast(questions.select(col("question").as("text"))))
      .withColumn("source", lit("Text"))
      .select("page", "pdf_name", "text", "text_b", "source")

  /** M1: partition-batched model inference adding a `prob` column.
    * Batches of `chunkSize` mirror the reference's
    * `inference_from_dicts` slices of 1000
    * (relevance_infer.py:99-109); the scorer sees an iterator per
    * batch so an ONNX session can amortize across rows. Rows with
    * prob >= threshold are the "label == 1" set the reference keeps
    * (relevance_infer.py:113-117).
    */
  def scoreRelevance(
      pairs: DataFrame,
      scorer: RelevanceScorer,
      keyCol: String,
      textCol: String = "text",
      textBCol: String = "text_b",
      chunkSize: Int = 1000
  ): DataFrame =
    appendScores(pairs, StructField("prob", DoubleType, nullable = false),
      keyCol, textCol, textBCol, chunkSize)(scorer.scoreBatch)(identity)

  /** The scorer seam shared by M1 and M2: `chunkSize`-row batches of
    * (key, a, b) per partition go to `scoreBatch`, and each input row
    * comes out with one appended `out` column holding `toCell` of its
    * score. A scorer must answer each batch with one score per row, in
    * row order and under the row's key; one that drops, adds or
    * reorders rows fails the task with SCORER_ROW_MISMATCH instead of
    * losing or mis-scoring rows.
    */
  private[ops] def appendScores[S](
      df: DataFrame,
      out: StructField,
      keyCol: String,
      aCol: String,
      bCol: String,
      chunkSize: Int
  )(
      scoreBatch: Iterator[(Long, String, String)] => Iterator[(Long, S)]
  )(toCell: S => Any): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ out)
    val kIdx = df.schema.fieldIndex(keyCol)
    val aIdx = df.schema.fieldIndex(aCol)
    val bIdx = df.schema.fieldIndex(bCol)
    df.mapPartitions { rows =>
      rows.grouped(chunkSize).flatMap { chunk =>
        val batch  = chunk.iterator.map(r => (r.getLong(kIdx), r.getString(aIdx), r.getString(bIdx)))
        val scores = scoreBatch(batch).toArray
        if (scores.length != chunk.length)
          throw new IllegalStateException(
            s"SCORER_ROW_MISMATCH: the scorer returned ${scores.length} scores for a batch of ${chunk.length} rows")
        chunk.iterator.zip(scores.iterator).map { case (r, (k, s)) =>
          if (k != r.getLong(kIdx))
            throw new IllegalStateException(
              s"SCORER_ROW_MISMATCH: the scorer returned key $k for the row keyed ${r.getLong(kIdx)}")
          Row.fromSeq(r.toSeq :+ toCell(s))
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Full relevance filter: score then keep predicted-relevant rows. */
  def relevantPairs(pairs: DataFrame, scorer: RelevanceScorer, keyCol: String, threshold: Double): DataFrame =
    scoreRelevance(pairs, scorer, keyCol).filter(col("prob") >= threshold)
}
