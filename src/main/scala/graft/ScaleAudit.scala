package graft

import org.apache.spark.sql.functions._

/** One-shot scale-pricing instrument (r18 verdict task 3): rebuild the
  * exact persistent-index layout `x_dedup_inc_compact` benches —
  * base corpus indexed, a second crawl appended, file sets folded by
  * `Scale.compactIndex` — then price BOTH halves of the decade-up
  * cost with the audits built for it:
  *
  *   - `Dedup.lshCandidateStats` over the index CONTENT (base ∪
  *     appended): Σ C(bucket, 2) and max-bucket — the self-join
  *     density the banding config carries at this corpus scale;
  *   - `Dedup.probeCandidateStats` against the index FILES: the
  *     pre-verify (band, bucket) join volume the incremental probe
  *     actually pays — the number that must grow sublinearly for the
  *     probe to stay increment-bounded a decade up.
  *
  * Prints ONE JSON line; run at two scale factors and compare:
  * {{{
  * sbt "runMain graft.ScaleAudit benchdata/sf1"
  * sbt "runMain graft.ScaleAudit benchdata/sf10"
  * }}}
  */
object ScaleAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-scale-audit")
    val base = GraftSession.table(spark, sfDir, "documents")
      .select(col("doc_id").as("id"), col("text"))
    val appended = base.filter(col("id") < 15)
      .select((col("id") + 20000).as("id"), concat(col("text"), lit(" qq ww")).as("text"))
    val fresh = base.filter(col("id") < 25)
      .select((col("id") + 10000).as("id"), concat(col("text"), lit(" zz yy")).as("text"))
    val path = java.nio.file.Files.createTempDirectory("scale-audit-lsh").toString + "/idx"
    graft.ops.Dedup.writeMinhashIndexMd5(base, "id", "text", path)
    graft.ops.Dedup.appendToMinhashIndex(appended, "id", "text", path)
    graft.ops.Scale.compactIndex(spark, path): Unit
    val idx = graft.ops.Dedup
      .lshCandidateStats(base.unionByName(appended), "id", "text", w = 3, numHashes = 12, bands = 4)
      .head()
    val probe = graft.ops.Dedup.probeCandidateStats(spark, path, fresh, "id", "text").head()
    val line =
      s"""{"sf":"$sfDir"""" +
        s""","index_self":{"n_docs":${idx.getLong(0)},"n_buckets":${idx.getLong(1)}""" +
        s""","candidate_pairs":${idx.getLong(2)},"max_bucket":${idx.getLong(3)}}""" +
        s""","probe":{"n_index_rows":${probe.getLong(0)},"n_probe_rows":${probe.getLong(1)}""" +
        s""","cells_touched":${probe.getLong(2)},"candidate_pairs":${probe.getLong(3)}""" +
        s""","max_cell_pairs":${probe.getLong(4)},"max_index_cell":${probe.getLong(5)}}}"""
    spark.stop()
    println(line)
  }
}
