package graft

import graft.ops.Relevance
import graft.scorer.RelevanceScorer
import graft.sources.ExtractionJson

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Returns one score fewer than the rows it was given. */
final class RowDroppingScorer extends RelevanceScorer {
  def scoreBatch(batch: Iterator[(Long, String, String)]): Iterator[(Long, Double)] =
    batch.drop(1).map { case (key, _, _) => (key, 0.5) }
}

/** Scores every row, but hands the scores back in reverse row order. */
final class RowReorderingScorer extends RelevanceScorer {
  def scoreBatch(batch: Iterator[(Long, String, String)]): Iterator[(Long, Double)] =
    batch.toVector.reverseIterator.map { case (key, _, _) => (key, key.toDouble) }
}

/** The scorer seam's contracts in both directions: what it demands of
  * a scorer (one score per row, in row order, under the row's key), and
  * what the question × paragraph pairs give the scorer (each
  * paragraph's question rows back to back, so they share a seam batch
  * and the relevance head's per-batch paragraph memo hits on them).
  */
class ScorerSeamSpec extends SparkSpecBase {

  private def pairs = spark.range(0, 12).select(
    col("id").as("key"), concat(lit("q "), col("id")).as("text"), lit("paragraph").as("text_b"))
    .coalesce(1)

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).mkString(" | ")

  test("a scorer that drops or reorders rows fails the seam with SCORER_ROW_MISMATCH") {
    for (scorer <- Seq(new RowDroppingScorer, new RowReorderingScorer)) {
      val e = intercept[Exception](Relevance.scoreRelevance(pairs, scorer, "key").collect())
      assert(messages(e).contains("SCORER_ROW_MISMATCH"), messages(e))
    }
    // a scorer keeping the contract passes every row through, scored
    val ok = Relevance.scoreRelevance(pairs, new graft.scorer.MockRelevanceScorer, "key")
    assert(ok.count() === 12)
  }

  test("question x paragraph pairs keep each paragraph's question rows contiguous per partition") {
    val dir = Files.createTempDirectory("pairs").toFile
    (1 to 3).foreach { d =>
      val pages = (0 until 4).map { p =>
        val paras = (0 until 5).map(i => s""""report $d page $p paragraph $i"""").mkString(", ")
        s""""$p": [$paras]"""
      }
      Files.writeString(new java.io.File(dir, s"report_$d.json").toPath, pages.mkString("""{"pages": {""", ", ", "}}"))
    }
    val paragraphs = ExtractionJson.readExtraction(spark, dir.getAbsolutePath)
    val questions = spark.range(0, 7).select(concat(lit("question "), col("id")).as("question"))
    for (paras <- Seq(paragraphs, paragraphs.repartition(3))) {
      // the pairs as Pipeline.runInference keys them for the scorer
      val runs = Relevance.questionParagraphPairs(paras, questions)
        .withColumn("key", xxhash64(col("pdf_name"), col("page"), col("text"), col("text_b")))
        .rdd.mapPartitions { rows =>
          val paragraphOrder = rows.map(_.getAs[String]("text_b")).toVector
          // consecutive runs of one paragraph: (paragraph, run length)
          val runs = paragraphOrder.foldLeft(Vector.empty[(String, Int)]) {
            case (acc :+ ((p, n)), q) if p == q => acc :+ ((p, n + 1))
            case (acc, q)                       => acc :+ ((q, 1))
          }
          Iterator(runs)
        }.collect().toSeq
      assert(runs.flatten.size === 60)
      assert(runs.count(_.size > 1) >= 1)
      runs.foreach { r =>
        assert(r.map(_._1).distinct.size === r.size, s"a paragraph's rows are split across runs: $r")
        assert(r.forall(_._2 == 7), s"a paragraph run is not all 7 questions: $r")
      }
    }
  }
}
