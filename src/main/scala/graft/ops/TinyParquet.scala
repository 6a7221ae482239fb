package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

/** DRIVER-SIDE reader for the engine's own TINY parquet layouts —
  * one-row meta scalars, generation pointers, frozen cutpoints,
  * per-shard count ledgers (rows ≈ shard count).
  *
  * Why (r20, guide §1 "measure first"): a `spark.read.parquet(meta)
  * .collect()` of a ONE-ROW file costs ~110 ms of pure fixed overhead
  * on a warm local[32] session (measured: ~60 ms footer/schema read +
  * ~50 ms SQL action; an empty `range(1).count()` alone is ~70 ms),
  * and every persisted-index probe pays it once per probe — it is the
  * single largest slice of the serving paths' per-probe floor. Meta
  * reads are metadata, not data: at 100 TB they belong on the driver
  * (the manifest-read discipline of Iceberg/Delta), not on the
  * cluster as a scheduled job.
  *
  * Scope guard: [[rows]] REFUSES layouts whose total footprint
  * exceeds [[MaxBytes]] (16 MiB) — this must never quietly become a
  * driver-side table scan. Decoding covers exactly the types the
  * engine's meta writers emit (int32/int64/float/double/boolean/
  * binary-UTF8, and LIST of strings for the BM25 applied ledger);
  * anything else, a date or decimal stored as an int included, fails
  * loudly so a schema change cannot be silently misread. Readers keep
  * identical VALUES to the old `spark.read.parquet(...).collect()` —
  * every converted call site stays gated by the oracle rows that
  * consume it.
  */
object TinyParquet {

  /** Refuse layouts larger than this — metadata, not data. */
  val MaxBytes: Long = 16L << 20

  /** One decoded row: field name → JVM value (null for absent). */
  final class TinyRow(private val m: Map[String, Any]) extends Serializable {
    def has(f: String): Boolean = m.contains(f) && m(f) != null
    def getInt(f: String): Int = m(f) match {
      case i: Int  => i
      case l: Long => Math.toIntExact(l)
      case v       => throw new IllegalStateException(s"TinyParquet: field $f is not an int: $v")
    }
    def getLong(f: String): Long = m(f) match {
      case l: Long => l
      case i: Int  => i.toLong
      case v       => throw new IllegalStateException(s"TinyParquet: field $f is not a long: $v")
    }
    def getDouble(f: String): Double = m(f) match {
      case d: Double => d
      case fl: Float => fl.toDouble
      case l: Long   => l.toDouble
      case i: Int    => i.toDouble
      case v => throw new IllegalStateException(s"TinyParquet: field $f is not a double: $v")
    }
    def getString(f: String): String = m(f) match {
      case s: String => s
      case v => throw new IllegalStateException(s"TinyParquet: field $f is not a string: $v")
    }
    def getStringSeq(f: String): Seq[String] = m(f) match {
      case s: Seq[_] => s.map(_.asInstanceOf[String])
      case v => throw new IllegalStateException(s"TinyParquet: field $f is not a string list: $v")
    }
  }

  /** All rows of the tiny layout at `dir` (non-recursive; `_`/`.`
    * control files skipped), files in name order. Fails loudly on an
    * oversized layout or an undecodable type.
    */
  def rows(spark: org.apache.spark.sql.SparkSession, dir: String): Seq[TinyRow] = {
    val p  = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
    val bytes = files.map(_.getLen).sum
    require(bytes <= MaxBytes,
      s"TinyParquet.rows($dir): ${bytes} bytes exceeds the $MaxBytes-byte tiny-layout bound — " +
        "this reader is for meta scalars, not data; use spark.read")
    val conf = spark.sparkContext.hadoopConfiguration
    files.flatMap { st =>
      val reader = ParquetReader.builder(new GroupReadSupport(), st.getPath)
        .withConf(conf).build()
      try Iterator.continually(reader.read()).takeWhile(_ != null).map(decode).toVector
      finally reader.close()
    }
  }

  /** The single row of a one-row meta layout. */
  def row(spark: org.apache.spark.sql.SparkSession, dir: String): TinyRow = {
    val rs = rows(spark, dir)
    require(rs.nonEmpty, s"TinyParquet.row($dir): layout holds no rows")
    rs.head
  }

  private def decode(g: Group): TinyRow = {
    val t = g.getType
    val m = (0 until t.getFieldCount).map { i =>
      val f = t.getType(i)
      val n = g.getFieldRepetitionCount(i)
      val v: Any =
        if (n == 0) null
        else if (f.isPrimitive) prim(g, i)
        else decodeStringList(g, i, f.getName)
      f.getName -> v
    }.toMap
    new TinyRow(m)
  }

  private def prim(g: Group, i: Int): Any = {
    val pt  = g.getType.getType(i).asPrimitiveType()
    val ann = pt.getLogicalTypeAnnotation
    // integers carry no annotation or a plain signed int one: a DATE,
    // DECIMAL or TIMESTAMP int must not decode as its raw number
    val plainInt = ann == null || (ann match {
      case a: LogicalTypeAnnotation.IntLogicalTypeAnnotation => a.isSigned
      case _                                                 => false
    })
    pt.getPrimitiveTypeName match {
      case INT32 if plainInt => g.getInteger(i, 0)
      case INT64 if plainInt => g.getLong(i, 0)
      case FLOAT             => g.getFloat(i, 0)
      case DOUBLE            => g.getDouble(i, 0)
      case BOOLEAN           => g.getBoolean(i, 0)
      case BINARY if ann == LogicalTypeAnnotation.stringType() => g.getString(i, 0)
      case other => throw new IllegalStateException(
        s"TinyParquet: unsupported primitive ${other} (annotation $ann) for field ${pt.getName} — " +
          "extend the decoder rather than letting a meta field be misread")
    }
  }

  /** Spark writes array<string> as the 3-level LIST shape:
    * `optional group f (LIST) { repeated group list { optional binary
    * element (STRING) } }`.
    */
  private def decodeStringList(g: Group, i: Int, name: String): Seq[String] = {
    val lg = g.getGroup(i, 0)
    val reps = lg.getFieldRepetitionCount(0)
    (0 until reps).map { j =>
      val el = lg.getGroup(0, j)
      if (el.getFieldRepetitionCount(0) == 0) null
      else el.getString(0, 0)
    }
  }
}
