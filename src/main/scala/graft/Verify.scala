package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // correctness pass: gate artifacts (persisted indexes, shard
    // manifests) build FRESH for every query invocation — never
    // reused from a per-JVM memo — so a gate row can never fold
    // against stale or foreign state (the round-9 x_shard_append /
    // s9_stream_shard stale-state failures). Fresh-build is the
    // queries-map DEFAULT under any entry point (round 12); only
    // graft.gate.memo, which Verify never sets, turns the memo on.
    // gate scratch lives INSIDE the driver-provided outDir
    // (per-invocation-private) — the strongest form of the round-11
    // countermeasure; entry points that never set the property get
    // the per-JVM-private tmpdir subdir default instead
    // (GraftSession.gatePath also salts the leaf with a per-JVM
    // nonce).
    System.setProperty("graft.gate.root",
      new java.io.File(outDir, ".gate-scratch").toString)
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, "graft-verify")
    new java.io.File(outDir).mkdirs()
    // layout contract FIRST: a testdata-layout drift fails fast here
    // with one named LAYOUT_DRIFT line instead of scattering analysis
    // errors across the query map; the fingerprints land in the gate
    // output for cross-round comparison
    val layout = GraftSession.layoutReport(spark, sfDir)
    layout.foreach(System.err.println)
    Files.writeString(Paths.get(s"$outDir/layout.txt"), layout.mkString("", "\n", "\n"))
    // SPARK_GRAFT_VERIFY_ONLY=a,b,c — dump a subset (local dev loop;
    // the driver runs the full map)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
