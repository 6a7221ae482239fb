package graft.scorer

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.ml.feature.{HashingTF, RegexTokenizer}

/** [[RelevanceScorer]] backed by a *trained* MLlib pipeline
  * (RegexTokenizer → HashingTF → LogisticRegression) — the non-mock
  * proof of the Scorer seam. The reference runs its relevance head as
  * batch inference over question/paragraph dicts
  * (src/models/relevance_infer.py:96-125); here the trained model's
  * featurization + linear head are re-expressed as pure row math so
  * scoring runs inside [[graft.ops.Relevance.scoreRelevance]]'s
  * partition batches: no nested session, no per-batch `transform()`,
  * just the same iterator contract every scorer implementation gets.
  *
  * Parity with `model.transform` is spec-asserted (ScorerPipelineSpec):
  * tokenization replays RegexTokenizer's lowercase/gaps/minTokenLength
  * semantics, bucketing delegates to the fitted stage's own
  * `HashingTF.indexOf`, and the probability is the sigmoid of the
  * linear margin — bit-for-bit the binary LogisticRegressionModel path.
  *
  * Factorized batches: the margin is a left fold — intercept, then the
  * question's coefficients, then the text's. Where that fold splits at
  * the question/text boundary ([[splitsAtSeparator]]), `scoreBatch`
  * folds each distinct question and featurizes each distinct text once
  * per call, whatever order the pairs come in, then continues the
  * question's prefix with the text's coefficients in the same order:
  * the same additions as [[score]], so the same bits (spec-asserted in
  * LogisticScorerSpec). A call sees one seam batch (≤ 1000 rows), so
  * both memos stay small. The hits do not depend on the order within a
  * batch, only on a paragraph's pairs sharing one; the cross join emits
  * them together (ScorerSeamSpec), so with 20 questions a paragraph is
  * featurized once for its 20 pairs, bar those a batch boundary cuts.
  *
  * Scale note: the closure carries the dense coefficient array
  * (numFeatures doubles, 128 KiB at the default 2^14) — small enough
  * to ship per task; wrap the scorer construction in
  * `spark.sparkContext.broadcast` if numFeatures grows to 2^20+.
  */
final class LogisticRelevanceScorer private (
    hashingTF: HashingTF,
    coefficients: Array[Double],
    intercept: Double,
    lowercase: Boolean,
    pattern: String,
    gaps: Boolean,
    minTokenLength: Int,
    binary: Boolean,
    combineSep: String
) extends RelevanceScorer {

  @transient private lazy val regex = new scala.util.matching.Regex(pattern)

  private def tokensOf(raw: String): Array[String] = {
    val str = if (lowercase) raw.toLowerCase else raw
    val toks =
      if (gaps) regex.split(str)
      else regex.findAllIn(str).toArray
    toks.filter(_.length >= minTokenLength)
  }

  /** P(positive) for one (question, text) pair — the per-pair
    * reference path the factorized batches must reproduce bit for bit.
    */
  def score(question: String, text: String): Double = {
    val toks = tokensOf(question + combineSep + text)
    val buckets =
      if (binary) toks.map(hashingTF.indexOf(_: Any)).distinct
      else toks.map(hashingTF.indexOf(_: Any))
    var margin = intercept
    var i      = 0
    while (i < buckets.length) { margin += coefficients(buckets(i)); i += 1 }
    sigmoid(margin)
  }

  /** Whether `tokensOf(q + combineSep + t) == tokensOf(q) ++ tokensOf(t)`
    * for every q and t, so the margin fold splits at the boundary. It
    * does for a whitespace-gaps split (`\s+`, non-empty tokens) over a
    * whitespace separator: no token spans the separator, and
    * lowercasing looks no further than the word it is in (the Greek
    * final sigma is decided inside its word). It does not for a binary
    * head, which de-duplicates buckets across the whole concatenation,
    * for any other tokenizer, or for an empty or non-whitespace
    * separator, which joins the last question token to the first text
    * token.
    */
  private[scorer] val splitsAtSeparator: Boolean =
    !binary && gaps && pattern == "\\s+" && minTokenLength >= 1 &&
      combineSep.nonEmpty && combineSep.forall(c => " \t\n\u000B\f\r".indexOf(c) >= 0)

  /** The coefficient of each token of `text`, in token order (a null
    * text tokenizes as "null", as it does inside [[score]]'s concatenation).
    */
  private[scorer] def termsOf(text: String): Array[Double] = {
    val toks  = tokensOf(String.valueOf(text))
    val terms = new Array[Double](toks.length)
    var i     = 0
    while (i < toks.length) { terms(i) = coefficients(hashingTF.indexOf(toks(i): Any)); i += 1 }
    terms
  }

  /** `margin` with `terms` added left to right. */
  private[scorer] def fold(margin: Double, terms: Array[Double]): Double = {
    var m = margin
    var i = 0
    while (i < terms.length) { m += terms(i); i += 1 }
    m
  }

  private[scorer] def sigmoid(margin: Double): Double = 1.0 / (1.0 + math.exp(-margin))

  /** A memo of the question-prefix margin (intercept, then the
    * question's coefficients), for the life of one batch.
    */
  private[scorer] def prefixMargins(): String => Double = {
    val memo = scala.collection.mutable.HashMap.empty[String, Double]
    q => memo.getOrElseUpdate(q, fold(intercept, termsOf(q)))
  }

  def scoreBatch(batch: Iterator[(Long, String, String)]): Iterator[(Long, Double)] =
    if (!splitsAtSeparator)
      batch.map { case (key, question, paragraph) => (key, score(question, paragraph)) }
    else {
      val prefixOf = prefixMargins()
      val termsMemo = scala.collection.mutable.HashMap.empty[String, Array[Double]]
      batch.map { case (key, question, paragraph) =>
        (key, sigmoid(fold(prefixOf(question), termsMemo.getOrElseUpdate(paragraph, termsOf(paragraph)))))
      }
    }
}

object LogisticRelevanceScorer {

  /** Extract the trained stages of a
    * [[graft.ops.MlPipelines.trainRelevanceClassifier]] pipeline.
    * `combineSep` must match how the training `text` column was built
    * from (question, paragraph) — default single space.
    */
  def fromModel(model: PipelineModel, combineSep: String = " "): LogisticRelevanceScorer = {
    def stage[T](pf: PartialFunction[Any, T], what: String): T =
      model.stages.collectFirst(pf).getOrElse(
        throw new IllegalArgumentException(s"pipeline has no $what stage"))
    val tok = stage({ case t: RegexTokenizer => t }, "RegexTokenizer")
    val tf  = stage({ case t: HashingTF => t }, "HashingTF")
    val lr  = stage({ case m: LogisticRegressionModel => m }, "LogisticRegressionModel")
    new LogisticRelevanceScorer(
      tf,
      lr.coefficients.toArray,
      lr.intercept,
      tok.getToLowercase,
      tok.getPattern,
      tok.getGaps,
      tok.getMinTokenLength,
      tf.getBinary,
      combineSep)
  }
}
