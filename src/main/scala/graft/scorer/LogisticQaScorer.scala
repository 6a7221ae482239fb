package graft.scorer

/** [[QaScorer]] backed by a *trained* model — the classical-ML
  * extractive-QA baseline: candidate answers are the token n-grams of
  * the context, each ranked by a trained logistic head scoring
  * P(answer | question ⊕ span), with FARM-shaped n-best output
  * (rank, answer, score, no-answer score + boost) so the whole
  * [[graft.ops.KpiPost]] chain runs unchanged on a real model
  * (reference: src/models/text_kpi_infer.py:180-232 — the transformer
  * span head's n-best dicts; same output contract, linear model).
  *
  * Determinism: spans are ranked by (-p, start, length) and repeated
  * span text keeps its first span in that order, so the n-best list is
  * independent of partition layout — the property every graft operator
  * guarantees.
  *
  * Scale shape: a row costs one featurization of its context tokens
  * plus O(tokens × maxSpanTokens) additions. The head's margin is a
  * left fold (intercept, question coefficients, span coefficients), and
  * a span's coefficients are its tokens' coefficients in order, so each
  * context token is bucketed once and the spans starting at one token
  * extend one running fold from the question's cached prefix margin:
  * the same additions in the same order as the per-pair
  * `rel.score(question, span)`, hence the same bits. Probabilities stay
  * in a primitive array; the n-best sorts span slots, not strings, and
  * compares repeated text by tokens, building strings only for the
  * spans it keeps. Where the fold does not split (a binary head, a
  * tokenizer other than a `\s+` split, a non-whitespace separator; see
  * [[LogisticRelevanceScorer.splitsAtSeparator]]) each span goes
  * through `rel.score` instead, and the selection is unchanged.
  * `maxContextTokens` bounds the quadratic-ish worst case the way
  * FARM's max_seq_len does; the scorer runs inside the same
  * partition-batched `mapPartitions` as every other scorer, so no
  * driver involvement and no shuffle.
  */
final class LogisticQaScorer(
    rel: LogisticRelevanceScorer,
    nBest: Int = 2,
    maxSpanTokens: Int = 3,
    maxContextTokens: Int = 64,
    noAnsBoost: Double = -15.0
) extends QaScorer {

  // span (start, len) lives at start * w + len - 1 of a row's arrays
  private val w = math.max(maxSpanTokens, 0)

  def scoreBatch(batch: Iterator[(Long, String, String)]): Iterator[(Long, Seq[QaCandidate])] = {
    val prefixOf = rel.prefixMargins()
    batch.map { case (key, question, context) =>
      val toks  = context.split(" ").filter(_.nonEmpty).take(maxContextTokens)
      val p     = spanProbs(question, toks, prefixOf)
      val best  = nBestSpans(p, toks)
      val top   = best.headOption.map(p(_)).getOrElse(0.0)
      val noAns = 1.0 - top
      val cands = best.zipWithIndex.map { case (s, i) =>
        QaCandidate(i + 1, toks.slice(s / w, s / w + s % w + 1).mkString(" "), p(s), noAns, noAns + noAnsBoost)
      }
      (key, cands)
    }
  }

  /** P(answer | question ⊕ span) of every span of `toks`, at
    * `start * w + len - 1`; slots past the last token stay unused.
    */
  private def spanProbs(question: String, toks: Array[String], prefixOf: String => Double): Array[Double] = {
    val n = toks.length
    val p = new Array[Double](n * w)
    if (rel.splitsAtSeparator) {
      val terms  = toks.map(rel.termsOf)
      val prefix = prefixOf(question)
      var start = 0
      while (start < n) {
        var m   = prefix
        var len = 1
        while (len <= math.min(w, n - start)) {
          m = rel.fold(m, terms(start + len - 1))
          p(start * w + len - 1) = rel.sigmoid(m)
          len += 1
        }
        start += 1
      }
    } else
      for (start <- 0 until n; len <- 1 to math.min(w, n - start))
        p(start * w + len - 1) = rel.score(question, toks.slice(start, start + len).mkString(" "))
    p
  }

  /** The n-best span slots: spans sorted by (-p, start, len) — slot
    * order is (start, len) order — keeping each text's first span, which
    * is what grouping by text, keeping each group's best and sorting
    * would give. Tokens hold no spaces, so equal text means equal
    * length and equal tokens.
    */
  private def nBestSpans(p: Array[Double], toks: Array[String]): Seq[Int] = {
    val n = toks.length
    def isSpan(i: Int) = i % w < n - i / w
    def sameText(a: Int, b: Int) =
      a % w == b % w && (0 to a % w).forall(j => toks(a / w + j) == toks(b / w + j))
    val kept = scala.collection.mutable.ArrayBuffer.empty[Int]
    val byP  = (0 until p.length).filter(isSpan).sortBy(i => (-p(i), i)).iterator
    while (kept.length < nBest && byP.hasNext) {
      val s = byP.next()
      if (!kept.exists(sameText(_, s))) kept += s
    }
    kept.toSeq
  }
}
