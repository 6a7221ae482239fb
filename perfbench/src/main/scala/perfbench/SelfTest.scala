package perfbench

import java.io.File

/** The benchmark's own test: its output checks pass on a clean run and
  * fail when a fault is planted. Run with `run.py --selftest`.
  *
  *   - esg_batch with a relevance decorator that drops one relevant
  *     pair must fail its relevant-pair recount;
  *   - doc_ingest with one sink partition deleted before the check
  *     must fail its per-drop admitted-set check.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val work = new File(args.sliding(2).collectFirst { case Array("--work", v) => v }
      .getOrElse(sys.error("--work is required")))
    Files2.fresh(work)
    val cases: Seq[(String, () => Workload, Boolean)] = Seq(
      ("esg_batch, clean", () => new EsgBatch(), false),
      ("esg_batch, one relevant pair dropped", () => new EsgBatch(drop = true), true),
      ("doc_ingest, clean", () => new DocIngest(), false),
      ("doc_ingest, one sink partition deleted", () => new DocIngest(deleteSinkPartition = true), true))
    var spark: org.apache.spark.sql.SparkSession = null
    val results = cases.zipWithIndex.map { case ((name, mk, mustFail), i) =>
      val ctx = Ctx(new File(work, s"case$i"), Runtime.getRuntime.availableProcessors(), seed = 7L,
        seconds = 2.0, trace = false)
      if (spark == null) spark = Main.startSession(ctx)
      val w = mk()
      w.setup(spark, ctx, new Phase)
      val ops    = w.run(spark, ctx, new Tracer(spark), System.nanoTime() + 2000000000L)
      val failed = w.check(spark, ctx, ops)
      val pass   = (failed > 0) == mustFail
      System.err.println(s"[perfbench] selftest ${if (pass) "PASS" else "FAIL"}: $name " +
        s"(failed $failed of ${ops.size} operations, expected ${if (mustFail) "failures" else "none"})")
      pass
    }
    Main.stopSession(spark)
    Files2.rm(work)
    System.exit(if (results.forall(identity)) 0 else 1)
  }
}
