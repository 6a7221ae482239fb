package graft

import graft.ops.TinyParquet

import java.nio.file.Files

import org.apache.spark.sql.functions._

class TinyParquetSpec extends SparkSpecBase {

  private def tmp(name: String): String =
    Files.createTempDirectory("graft-tiny").toFile.getAbsolutePath + "/" + name

  test("meta vocabulary: int, long, double, boolean, string and string list decode") {
    val dir = tmp("meta")
    spark.range(1).select(lit(7).as("i"), lit(8L).as("l"), lit(0.5).as("d"), lit(true).as("b"),
        lit("s").as("str"), array(lit("x"), lit("y")).as("xs"))
      .coalesce(1).write.parquet(dir)
    val r = TinyParquet.row(spark, dir)
    assert(r.getInt("i") === 7 && r.getLong("l") === 8L && r.getDouble("d") === 0.5)
    assert(r.getString("str") === "s" && r.getStringSeq("xs") === Seq("x", "y"))
  }

  test("a date or decimal stored as an int fails loudly instead of decoding as its raw number") {
    Seq(
      "date"    -> to_date(lit("2024-03-01")),
      "decimal" -> lit(BigDecimal("12.34")).cast("decimal(10,2)")
    ).foreach { case (name, value) =>
      val dir = tmp(name)
      spark.range(1).select(lit(1L).as("n"), value.as("v")).coalesce(1).write.parquet(dir)
      val e = intercept[IllegalStateException](TinyParquet.row(spark, dir))
      assert(e.getMessage.contains("field v"), s"$name: ${e.getMessage}")
    }
  }

  test("rows come back in file-name order") {
    val dir = tmp("ordered")
    val out = new java.io.File(dir)
    out.mkdirs()
    Seq("c" -> 3L, "a" -> 1L, "b" -> 2L).foreach { case (name, v) =>
      val one = tmp(name)
      spark.range(1).select(lit(v).as("v")).coalesce(1).write.parquet(one)
      val part = new java.io.File(one).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, new java.io.File(out, s"$name.parquet").toPath)
    }
    assert(TinyParquet.rows(spark, dir).map(_.getLong("v")) === Seq(1L, 2L, 3L))
  }
}
