package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Static kernel shared by interpreted eval and generated code. */
object QuantizeInt8 {
  /** round-half-away-from-zero — what both Spark's `round()` and
    * DuckDB's `round()` do (Java's `Math.round` floors at −x.5 and
    * would diverge from the SQL oracle).
    */
  private def halfUp(x: Double): Int =
    (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toInt

  def quantize(arr: ArrayData): InternalRow = {
    val n  = arr.numElements()
    var mx = 0.0
    var i  = 0
    while (i < n) {
      val a = math.abs(arr.getFloat(i).toDouble)
      if (a > mx) mx = a
      i += 1
    }
    val scale = math.max(mx, 1e-30) / 127.0
    val q     = new Array[Int](n)
    i = 0
    while (i < n) { q(i) = halfUp(arr.getFloat(i).toDouble / scale); i += 1 }
    new GenericInternalRow(Array[Any](new GenericArrayData(q), scale))
  }

  /** Same quantization, PACKED: one signed byte per component (the
    * values are in [-127,127] by construction, so the int8 range is
    * exact). `binary` is what actually realizes the 4× storage claim —
    * a parquet `array<int>` column still carries 4-byte physical ints
    * plus per-element repetition levels, whereas a dim-d vector packs
    * to exactly d bytes here.
    */
  def quantizeBytes(arr: ArrayData): InternalRow = {
    val n  = arr.numElements()
    var mx = 0.0
    var i  = 0
    while (i < n) {
      val a = math.abs(arr.getFloat(i).toDouble)
      if (a > mx) mx = a
      i += 1
    }
    val scale = math.max(mx, 1e-30) / 127.0
    val q     = new Array[Byte](n)
    i = 0
    while (i < n) { q(i) = halfUp(arr.getFloat(i).toDouble / scale).toByte; i += 1 }
    new GenericInternalRow(Array[Any](q, scale))
  }
}

/** Symmetric per-vector int8 quantization of an `array<float>`
  * embedding: `struct(q: array<int> in [-127,127], scale: double)`
  * with `scale = max(|x|)/127` — the 4×-memory-reduction layout a
  * 100 TB embedding store runs ANN over. One fused pass (max-abs then
  * quantize); a column-algebra formulation would capture the scale
  * inside a `transform` lambda and re-evaluate the max per element
  * (the measured HOF-capture trap — see the Dedup scaladoc).
  *
  * Cross-engine determinism: max/divide are IEEE-exact and rounding is
  * half-away-from-zero, matching DuckDB's `round()` — so the
  * quantized vectors (and any cosine computed from them) hash-match a
  * plain SQL oracle. Quantized cosine is scale-free (the two scales
  * cancel), so ranking only needs the int arrays.
  *
  * Registered as SQL function `quantize_i8` via [[graft.GraftExtensions]].
  */
case class QuantizeInt8Expr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"quantize_i8 requires array<float>, got ${other.sql}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("q", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("scale", DoubleType, nullable = false)))

  override def prettyName: String = "quantize_i8"

  override protected def nullSafeEval(a: Any): Any =
    QuantizeInt8.quantize(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.QuantizeInt8.quantize($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[QuantizeInt8Expr]]'s packed flavor: `array<float>` →
  * `struct(qb: binary, scale: double)` with one signed byte per
  * component — identical quantized values (same max-abs scale, same
  * half-away rounding), 4× smaller at rest. The layout
  * [[graft.ops.Similarity.writeIvfIndex]] persists under
  * `IvfLayout.Quantized`.
  *
  * Registered as SQL function `quantize_i8b` via
  * [[graft.GraftExtensions]].
  */
case class QuantizeInt8BytesExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"quantize_i8b requires array<float>, got ${other.sql}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("qb", BinaryType, nullable = false),
    StructField("scale", DoubleType, nullable = false)))

  override def prettyName: String = "quantize_i8b"

  override protected def nullSafeEval(a: Any): Any =
    QuantizeInt8.quantizeBytes(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.QuantizeInt8.quantizeBytes($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
