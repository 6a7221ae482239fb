package graft.scorer

import graft.SparkSpecBase
import graft.ops.MlPipelines

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.ml.feature.{HashingTF, RegexTokenizer}

/** The factorized batch paths of the two logistic heads against their
  * per-pair references: `LogisticRelevanceScorer.scoreBatch` against
  * `score`, bit for bit, and `LogisticQaScorer`'s n-best walk against
  * the group-by-text → best-of-group → sort selection it replaced.
  *
  * The heads hash into 16 buckets, so nearly every bucket carries a
  * trained, non-zero coefficient and a fold taken in another order
  * shows up in the low bits.
  */
class LogisticScorerSpec extends SparkSpecBase {

  private val Buckets = 16

  private lazy val trained: PipelineModel = {
    import spark.implicits._
    val pos = Seq("total scope one emissions rose", "scope two emissions fell sharply",
      "ΟΔΟΣ emissions ΣΑΣ total", "water use in cubic metres", "energy use total mwh")
    val neg = Seq("the weather was mild", "board meeting minutes follow", "a a a b b",
      "mixed Case words here", "tab\tseparated\nlines of text", "σας οδος random greek")
    MlPipelines.trainRelevanceClassifier(
      (pos.map((_, 1.0)) ++ neg.map((_, 0.0))).toDF("text", "label"), numFeatures = Buckets, maxIter = 10)
  }

  /** The trained coefficients behind another tokenizer / hashing stage. */
  private def head(tok: RegexTokenizer, tf: HashingTF, combineSep: String = " "): LogisticRelevanceScorer = {
    import spark.implicits._
    val lr = trained.stages.collectFirst { case m: LogisticRegressionModel => m }.get
    val model = new Pipeline()
      .setStages(Array(tok.setInputCol("text").setOutputCol("tokens"),
        tf.setInputCol("tokens").setOutputCol("features").setNumFeatures(Buckets), lr))
      .fit(Seq("x").toDF("text"))
    LogisticRelevanceScorer.fromModel(model, combineSep)
  }

  private val questions = Seq(
    "What is the TOTAL scope one emissions?", "  ΟΔΟΣ\tσας  ", "", "a a a", "\n total \t")
  private val paragraphs = Seq(
    " Total\temissions\n rose 5 % ", "ΟΔΟΣ ΟΔΟΣ", "ΟΔΟΣ", "ΣΑΣ σας Σ", "", "   \t\n",
    "repeat repeat repeat", "MiXeD CaSe ΟΔΟΣ TeXt", "energy use total mwh")

  /** Paragraph-major, as the pair cross join emits them, then the same
    * pairs question-major so no paragraph repeats back to back.
    */
  private val batch: Seq[(Long, String, String)] = {
    val byParagraph = for (p <- paragraphs; q <- questions) yield (q, p)
    val byQuestion  = for (q <- questions; p <- paragraphs) yield (q, p)
    (byParagraph ++ byQuestion).zipWithIndex.map { case ((q, p), i) => (i.toLong, q, p) }
  }

  private def bits(ps: Seq[Double]) = ps.map(java.lang.Double.doubleToRawLongBits)

  private def assertBatchIsPerPair(s: LogisticRelevanceScorer): Unit = {
    val got = s.scoreBatch(batch.iterator).toSeq
    assert(got.map(_._1) === batch.map(_._1))
    assert(bits(got.map(_._2)) === bits(batch.map { case (_, q, p) => s.score(q, p) }))
  }

  /** What `scoreBatch` would return if it factorized `s` regardless. */
  private def forcedSplit(s: LogisticRelevanceScorer): Seq[Double] = {
    val prefixOf = s.prefixMargins()
    batch.map { case (_, q, p) => s.sigmoid(s.fold(prefixOf(q), s.termsOf(p))) }
  }

  test("relevance scoreBatch folds question prefix and paragraph terms to the same bits as score") {
    val s = LogisticRelevanceScorer.fromModel(trained)
    assert(s.splitsAtSeparator)
    assertBatchIsPerPair(s)
    // the fixture holds context-sensitive lowercasing: the Greek
    // capital sigma lowercases to ς word-finally and to σ elsewhere
    assert("ΟΔΟΣ ΣΑΣ".toLowerCase === "οδος σας")
    // a margin summed in another order (paragraph first) changes bits
    val reordered = batch.map { case (_, q, p) =>
      s.sigmoid(s.fold(s.prefixMargins()(q), Array(s.fold(0.0, s.termsOf(p)))))
    }
    assert(bits(reordered) !== bits(batch.map { case (_, q, p) => s.score(q, p) }))
  }

  test("relevance heads whose fold does not split score every pair through score") {
    val fallbacks = Seq(
      "binary HashingTF" -> head(new RegexTokenizer().setPattern("\\s+"), new HashingTF().setBinary(true)),
      "gaps=false tokenizer" -> head(new RegexTokenizer().setPattern(".").setGaps(false), new HashingTF()),
      "non-\\s+ gaps tokenizer" -> head(new RegexTokenizer().setPattern(","), new HashingTF()),
      "empty tokens kept" -> head(new RegexTokenizer().setPattern("\\s+").setMinTokenLength(0), new HashingTF()),
      "non-whitespace combineSep" -> head(new RegexTokenizer().setPattern("\\s+"), new HashingTF(), "|"),
      "empty combineSep" -> head(new RegexTokenizer().setPattern("\\s+"), new HashingTF(), ""))
    fallbacks.foreach { case (what, s) =>
      withClue(what) {
        assertBatchIsPerPair(s)
        // the fixture holds pairs a forced split would score wrongly
        assert(bits(forcedSplit(s)) !== bits(batch.map { case (_, q, p) => s.score(q, p) }))
        assert(!s.splitsAtSeparator)
      }
    }
    // a whitespace separator other than one space still splits
    val tabbed = head(new RegexTokenizer().setPattern("\\s+"), new HashingTF(), "\t\n")
    assert(tabbed.splitsAtSeparator)
    assertBatchIsPerPair(tabbed)
  }

  /** The n-best selection the QA head shipped with: every span scored
    * per pair, repeated text keeping its best span, then sorted.
    */
  private def groupSortReference(rel: LogisticRelevanceScorer, nBest: Int, maxSpanTokens: Int,
      maxContextTokens: Int, noAnsBoost: Double)(question: String, context: String): Seq[QaCandidate] = {
    val toks = context.split(" ").filter(_.nonEmpty).take(maxContextTokens)
    val scored =
      for {
        start <- toks.indices
        len   <- 1 to math.min(maxSpanTokens, toks.length - start)
      } yield {
        val span = toks.slice(start, start + len).mkString(" ")
        (start, len, span, rel.score(question, span))
      }
    val best = scored
      .groupBy(_._3).valuesIterator
      .map(_.maxBy(s => (s._4, -s._1, -s._2)))
      .toSeq
      .sortBy { case (start, len, _, p) => (-p, start, len) }
      .take(nBest)
    val top   = best.headOption.map(_._4).getOrElse(0.0)
    val noAns = 1.0 - top
    best.zipWithIndex.map { case ((_, _, span, p), i) =>
      QaCandidate(i + 1, span, p, noAns, noAns + noAnsBoost)
    }
  }

  test("QA n-best walk returns the group/sort reference's candidates") {
    // two tokens in one bucket score alike: probability ties between
    // different span texts
    val tf = new HashingTF().setNumFeatures(Buckets)
    val (t1, t2) = (0 until 100).map(i => s"w$i").combinations(2).map(c => (c(0), c(1)))
      .find { case (a, b) => tf.indexOf(a: Any) == tf.indexOf(b: Any) }.get
    val contexts = Seq(
      "a b a b a",
      s"$t1 $t2 $t1 $t2 $t2 $t1",
      s"total $t1 emissions $t2 total",
      (1 to 80).map(i => Seq("total", "scope", "one", t1, "a", "b", "rose")(i % 7)).mkString(" "),
      "emissions",
      "",
      "   ",
      "  Tabbed\tword  ΟΔΟΣ  ΟΔΟΣ\nend ")
    val heads = Seq(
      "factorized" -> LogisticRelevanceScorer.fromModel(trained),
      "binary fallback" -> head(new RegexTokenizer().setPattern("\\s+"), new HashingTF().setBinary(true)))
    val shapes = Seq((2, 3, 64), (1, 3, 64), (5, 3, 64), (3, 1, 64), (4, 2, 5), (2, 0, 64))
    val q = "What is the total scope one emissions"
    for ((what, rel) <- heads; (nBest, maxSpan, maxCtx) <- shapes) {
      val qa  = new LogisticQaScorer(rel, nBest, maxSpan, maxCtx, noAnsBoost = -15.0)
      val ref = groupSortReference(rel, nBest, maxSpan, maxCtx, -15.0) _
      val got = qa.scoreBatch(contexts.zipWithIndex.iterator.map { case (c, i) => (i.toLong, q, c) }).toSeq
      assert(got.map(_._1) === contexts.indices.map(_.toLong))
      contexts.zip(got).foreach { case (c, (_, cands)) =>
        withClue(s"$what nBest=$nBest maxSpanTokens=$maxSpan maxContextTokens=$maxCtx context='$c'") {
          val want = ref(q, c)
          assert(cands === want)
          assert(bits(cands.map(_.score)) === bits(want.map(_.score)))
        }
      }
    }
  }
}
