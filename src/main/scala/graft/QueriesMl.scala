package graft

import graft.GraftSession.table
import graft.ops.{Dedup, KpiPost, MlPipelines, Relevance}
import graft.scorer.{LogisticQaScorer, LogisticRelevanceScorer, MockQaScorer, MockRelevanceScorer, OnnxQaScorer, OnnxRelevanceScorer, OnnxScorer, QaScorer, RelevanceScorer, WordPieceVocab}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** M1 with a *trained* (non-mock) model through the Scorer seam:
  * train the MLlib relevance head
  * ([[graft.ops.MlPipelines.trainRelevanceClassifier]]) on a
  * deterministically-labeled question/paragraph set, extract it into a
  * [[graft.scorer.LogisticRelevanceScorer]], and run the SAME
  * partition-batched inference operator the mock pipeline uses
  * (reference: src/models/relevance_infer.py:96-125 — the trained FARM
  * head scoring question×paragraph pairs in chunks).
  *
  * The learned coefficients are not expressible as a static SQL
  * string — but the LAWS the pipeline must satisfy are (r15 verdict
  * task 4, the `_fast`-row promotion pattern): each trained row emits
  * a ONE-ROW VERDICT frame whose class populations (n_pos/n_neg — the
  * gold labels are plain token-containment, SQL-derivable) the DuckDB
  * oracle recomputes independently, and whose per-class accuracy-bar
  * bits (pass_pos/pass_neg) the oracle pins to the literal 1 the law
  * demands. A model that stops learning flips a pass bit to 0 → hash
  * red; a broken span/score pipeline changes a population → hash red.
  * Numeric parity of the scorer vs `model.transform` is spec-asserted
  * in ScorerPipelineSpec.
  */
object QueriesMl {

  private val Question = "does the document mention the vector primitive"

  /** The corpus-built WordPiece vocab shared by both ONNX gate rows —
    * vocab-sized driver materialization (the BPE/Lloyd bound):
    * top-2000 corpus words by (count desc, word asc) + specials. ONE
    * definition so the relevance and QA encode contracts cannot
    * drift apart.
    */
  private def corpusVocab(d: DataFrame): WordPieceVocab = {
    val top = d.select(explode(Dedup.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w")).limit(2000)
      .collect().map(_.getString(0)).toSeq
    WordPieceVocab.fromTokens(WordPieceVocab.Specials ++ top)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m1_relevance_trained" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      // perfectly-learnable relevance signal: the paragraph contains
      // the token the question asks about
      val gold = when(array_contains(Dedup.tokens(col("text")), "vector"), 1.0).otherwise(0.0)
      val labeled = d.select(
        concat(lit(Question), lit(" "), col("text")).as("text"),
        gold.as("label"))
      val model  = MlPipelines.trainRelevanceClassifier(labeled)
      val scorer = LogisticRelevanceScorer.fromModel(model)
      val pairs = d.select(
        col("doc_id"),
        lit(Question).as("text"),
        col("text").as("text_b"),
        gold.cast("long").as("gold"))
        .withColumn("key", col("doc_id"))
      Relevance.scoreRelevance(pairs, scorer, "key")
        .withColumn("pred", when(col("prob") >= 0.5, 1L).otherwise(0L))
        .groupBy("gold")
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("pred") === col("gold"), 1L).otherwise(0L)).as("n_correct"))
        // one-row verdict (oracled since r16): class populations are
        // SQL-derivable, the >= 95% per-class accuracy law pins to 1
        .agg(
          coalesce(sum(when(col("gold") === 1L, col("n"))), lit(0L)).as("n_pos"),
          coalesce(sum(when(col("gold") === 0L, col("n"))), lit(0L)).as("n_neg"),
          coalesce(max(when(col("gold") === 1L,
            (col("n_correct") >= col("n") * lit(0.95)).cast("long"))), lit(0L)).as("pass_pos"),
          coalesce(max(when(col("gold") === 0L,
            (col("n_correct") >= col("n") * lit(0.95)).cast("long"))), lit(0L)).as("pass_neg"))
    }),

    // M2 with a *trained* span ranker through the QaScorer seam: the
    // classical extractive-QA baseline — token n-gram candidate spans
    // ranked by the logistic head trained on (question ⊕ span) pairs
    // labeled by whether the span carries the asked-about token. The
    // KpiPost melt consumes the trained n-best output unchanged
    // (reference: text_kpi_infer.py:180-232). Rows-only: learned
    // coefficients are not expressible as static SQL.
    "m2_qa_trained" -> ((s, dir) => {
      val d    = table(s, dir, "documents")
      val toks = Dedup.tokens(col("text"))
      // training set: every 3-gram span of the first 150 docs, labeled
      // by containing the asked-about token
      val spans = d.filter(col("doc_id") < 150).select(
          explode(transform(
            sequence(lit(1), greatest(size(toks) - 2, lit(1))),
            i => array_join(slice(toks, i, lit(3)), " "))).as("span"))
      val labeled = spans.select(
        concat(lit(Question), lit(" "), col("span")).as("text"),
        when(col("span").contains("vector"), 1.0).otherwise(0.0).as("label"))
      val model  = MlPipelines.trainRelevanceClassifier(labeled)
      val qa     = new LogisticQaScorer(LogisticRelevanceScorer.fromModel(model), nBest = 2)
      val pairs = d.select(
        col("doc_id").as("key"),
        lit(Question).as("text"),
        col("text").as("text_b"),
        when(array_contains(toks, "vector"), 1L).otherwise(0L).as("gold"))
      val top1 = KpiPost.scoreQa(pairs, qa, "key")
        .select(col("key"),
          explode(transform(filter(col("candidates"), _("rank") === 1), _("answer"))).as("answer"))
      // populations count over ALL docs (left join): a doc the span
      // generator yields no candidates for (e.g. empty text) would
      // otherwise VANISH from the Spark side while the oracle counts
      // it — a latent false hash-red; here it counts as a wrong
      // prediction instead, which the accuracy bar absorbs or flags
      pairs.join(top1, Seq("key"), "left")
        .withColumn("pred",
          when(coalesce(col("answer"), lit("")).contains("vector"), 1L).otherwise(0L))
        .groupBy("gold")
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("pred") === col("gold"), 1L).otherwise(0L)).as("n_correct"))
        // one-row verdict (oracled since r16): class populations are
        // SQL-derivable, the >= 0.9 per-class top-1 accuracy law pins
        // to 1 (trained accuracy measured 490/500 — the 0.9 bar keeps
        // the check sharp without flaking on the known ~2% span noise)
        .agg(
          coalesce(sum(when(col("gold") === 1L, col("n"))), lit(0L)).as("n_pos"),
          coalesce(sum(when(col("gold") === 0L, col("n"))), lit(0L)).as("n_neg"),
          coalesce(max(when(col("gold") === 1L,
            (col("n_correct") >= col("n") * lit(0.9)).cast("long"))), lit(0L)).as("pass_pos"),
          coalesce(max(when(col("gold") === 0L,
            (col("n_correct") >= col("n") * lit(0.9)).cast("long"))), lit(0L)).as("pass_neg"))
    }),

    // M1 through the PRODUCTION encode contract: a WordPiece vocab
    // built from the corpus (deterministic top-k words + specials)
    // feeds the OnnxRelevanceScorer's `encode` — so the full
    // tokenizer → ids → scorer plumbing runs without site code. With
    // onnxruntime + a model on the classpath the ONNX session scores;
    // offline the seam swaps in the mock scorer (same operator shape,
    // same row count — the rows-only check is env-independent).
    // Self-validating: rows keep only docs the tokenizer encodes with
    // a minority of [UNK] pieces — if the loader or the greedy match
    // breaks, everything degrades to [UNK] and 0 rows survive.
    "m1_relevance_onnx" -> ((s, dir) => {
      val d     = table(s, dir, "documents")
      val vocab = corpusVocab(d)
      val enc: (String, String) => Array[Long] =
        (q, p) => vocab.encodePair(q, p).take(128)
      val scorer: RelevanceScorer =
        sys.env.get("GRAFT_ONNX_RELEVANCE_MODEL").filter(_ => OnnxScorer.available)
          .map(new OnnxRelevanceScorer(_, enc, maxLen = 128))
          .getOrElse(new MockRelevanceScorer)
      val unkId = vocab.unkId.toLong
      val wpStats = udf { (q: String, p: String) =>
        val ids = enc(q, p)
        (ids.length, ids.count(_ == unkId))
      }
      val pairs = d.select(col("doc_id").as("key"),
        lit(Question).as("text"), col("text").as("text_b"))
      Relevance.scoreRelevance(pairs, scorer, "key")
        .withColumn("wp", wpStats(col("text"), col("text_b")))
        .select(col("key").as("doc_id"),
          col("wp._1").as("n_wordpieces"), col("wp._2").as("n_unk"),
          round(col("prob"), 4).as("prob"))
        .filter(col("n_unk") * 2 < col("n_wordpieces"))
        .orderBy(col("doc_id"))
    }),

    // M2 through the PRODUCTION QA encode contract — the span-head
    // twin of m1_relevance_onnx: the corpus-built WordPiece vocab
    // feeds `encodeQa` (ids + context-token char offsets), the scorer
    // is the ONNX span head when a runtime + model are present
    // (GRAFT_ONNX_QA_MODEL) and the mock-QA scorer offline (same
    // operator shape either env), and the output runs the SAME
    // kpiChain the oracle-gated m2 pipeline exercises (melt →
    // no-answer agg → top-k → reverse kpi map;
    // reference: src/models/text_kpi_infer.py:180-297).
    // Self-validating: rows keep only contexts whose QA encoding
    // (a) tokenizes with a minority of [UNK] pieces and (b) carries
    // char offsets that slice the context back out cleanly — the
    // exact map OnnxQaScorer uses to turn a winning token span into
    // answer text. A broken loader/offset computation drops
    // everything to 0 rows, so the driver's rows-only check cannot
    // pass vacuously.
    "m2_kpi_onnx" -> ((s, dir) => {
      import s.implicits._
      val d     = table(s, dir, "documents")
      val vocab = corpusVocab(d)
      val qa: QaScorer =
        sys.env.get("GRAFT_ONNX_QA_MODEL").filter(_ => OnnxScorer.available)
          .map(p => new OnnxQaScorer(p, vocab.encodeQa(_, _), nBest = 2, maxLen = 256))
          .getOrElse(new MockQaScorer(nBest = 2))
      val unkId = vocab.unkId.toLong
      val qaStats = udf { (q: String, c: String) =>
        val e = vocab.encodeQa(q, c)
        val offsetsOk = e.contextTokenOffsets.nonEmpty &&
          e.contextTokenOffsets.forall { case (a, b) =>
            a >= 0 && a < b && b <= c.length && !c.substring(a, b).contains(" ")
          }
        (e.ids.length, e.ids.count(_ == unkId), offsetsOk)
      }
      val pairs = d.select(
          col("source").as("pdf_name"),
          pmod(col("doc_id"), lit(20)).cast("long").as("page"),
          col("doc_id"),
          col("text").as("text_b"))
        .withColumn("text", lit(Question))
        .withColumn("source", lit("Text"))
        .withColumn("key", col("doc_id"))
        .withColumn("qs", qaStats(col("text"), col("text_b")))
        .filter(col("qs._3") && col("qs._2") * 2 < col("qs._1"))
        .drop("qs")
      val questions = Seq((Question, 7.1)).toDF("question", "kpi_id")
      KpiPost.kpiChain(pairs, qa, questions, "key", topK = 4)
        .select(col("pdf_name"), col("kpi"), col("kpi_id"), col("answer"), col("page"),
          col("paragraph"), col("source"), round(col("score"), 4).as("score"),
          round(col("no_ans_score"), 4).as("no_ans_score"),
          round(col("no_answer_score_plus_boost"), 4).as("no_answer_score_plus_boost"))
        .orderBy(col("pdf_name"), col("kpi"), col("score").desc, col("answer"),
          col("page").asc_nulls_first, col("paragraph").asc_nulls_first)
    })
  )

  /** Verdict-law oracles for the trained rows (the `_fast` promotion
    * pattern): class populations recomputed independently from the
    * gold-label definition (token containment — the same
    * space-split/empty-drop tokenization every other oracle uses);
    * the accuracy-bar bits pinned to the literal 1 the law demands.
    * The ONNX pair stays rows-only (env-impossible — COVERAGE.md) and
    * the coefficients themselves stay spec-gated (ScorerPipelineSpec).
    */
  val oracleSql: Map[String, String] = Map(
    "m1_relevance_trained" ->
      """WITH tk AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents)
        |SELECT
        |  CAST((SELECT count(*) FROM tk WHERE list_contains(t, 'vector')) AS BIGINT) AS n_pos,
        |  CAST((SELECT count(*) FROM tk WHERE NOT list_contains(t, 'vector')) AS BIGINT) AS n_neg,
        |  CAST(1 AS BIGINT) AS pass_pos,
        |  CAST(1 AS BIGINT) AS pass_neg""".stripMargin,
    "m2_qa_trained" ->
      """WITH tk AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents)
        |SELECT
        |  CAST((SELECT count(*) FROM tk WHERE list_contains(t, 'vector')) AS BIGINT) AS n_pos,
        |  CAST((SELECT count(*) FROM tk WHERE NOT list_contains(t, 'vector')) AS BIGINT) AS n_neg,
        |  CAST(1 AS BIGINT) AS pass_pos,
        |  CAST(1 AS BIGINT) AS pass_neg""".stripMargin
  )
}
