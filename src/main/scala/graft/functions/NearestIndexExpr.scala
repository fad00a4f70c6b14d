package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * Argmax-by-dot-product against a bounded in-plan table:
 * `nearest_index(vec, table, offset, len)` returns the 0-based index
 * of the table row maximizing the float64 dot product with
 * `vec[offset, offset + len)` (sequential element-order accumulation,
 * ties to the LOWEST index).
 *
 * Semantics equal the literal-score formulation it replaces
 * (`array_max` over `struct(dot_f64(slice(vec, ...), lit-array),
 * -index)`): same per-element float64 products in the same order,
 * and struct-max's (score desc, -index max) tie-break is exactly
 * first-wins on equal scores. Null/missing elements inside the
 * scanned slice yield null (the literal form degraded per-entry; the
 * engine's embedding tables are dense, and OpsSpec + the oracle gate
 * the dense case at all SFs).
 *
 * One divergence from that form: NaN scores. The strict `acc >
 * bestScore` test means a NaN score (e.g. Inf * 0 from unnormalized
 * data) never wins, so the best finite row is returned, and when
 * every score is NaN the result is index 0. The struct max ordered
 * NaN above every double and picked the NaN row instead.
 *
 * WHY (r7): inlining k x len dot products as expression trees made
 * the enclosing whole-stage-codegen method exceed the JVM's JIT
 * limit (`Generated method too long to be JIT compiled: ... 34219
 * bytes` on the IVF-PQ list projection), silently running the hot
 * projection in the bytecode INTERPRETER. This expression emits ONE
 * static call; the helper loop is small, monomorphic and JIT-hot.
 */
case class NearestIndexExpr(child: Expression, table: Seq[Seq[Double]],
                            offset: Int, len: Int)
  extends UnaryExpression {

  require(table.nonEmpty && table.forall(_.length == len),
    s"table must be non-empty with rows of length $len")
  require(offset >= 0, "offset must be >= 0")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_index"

  @transient private lazy val flatTable: Array[Double] =
    table.flatten.toArray

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_index needs array<float|double>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val idx = NearestIndexExpr.nearestIndex(
      input.asInstanceOf[ArrayData], flatTable, table.size, offset, len, isFloat)
    if (idx < 0) null else idx
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef = ctx.addReferenceObj("nearestTable", flatTable, "double[]")
    nullSafeCodeGen(ctx, ev, c => {
      val idx = ctx.freshName("idx")
      s"""
         |long $idx = graft.functions.NearestIndexExpr.nearestIndex(
         |  $c, $tableRef, ${table.size}, $offset, $len, $isFloat);
         |if ($idx < 0) { ${ev.isNull} = true; } else { ${ev.value} = $idx; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestIndexExpr {

  /** Returns the argmax row index, or -1 when the slice is missing or
    * carries a null element (caller converts to SQL null). */
  def nearestIndex(arr: ArrayData, flat: Array[Double], k: Int,
                   offset: Int, len: Int, isFloat: Boolean): Long = {
    if (arr.numElements() < offset + len) return -1L
    var i = 0
    while (i < len) {
      if (arr.isNullAt(offset + i)) return -1L
      i += 1
    }
    var best = 0
    var bestScore = Double.NegativeInfinity
    var r = 0
    while (r < k) {
      val base = r * len
      var acc = 0.0
      var j = 0
      if (isFloat) {
        while (j < len) {
          acc += arr.getFloat(offset + j).toDouble * flat(base + j)
          j += 1
        }
      } else {
        while (j < len) {
          acc += arr.getDouble(offset + j) * flat(base + j)
          j += 1
        }
      }
      if (acc > bestScore) { bestScore = acc; best = r }
      r += 1
    }
    best.toLong
  }

  def nearestIndex(vec: Column, table: Seq[Seq[Double]],
                   offset: Int, len: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      NearestIndexExpr(ColumnBridge.expression(vec), table, offset, len))
  }
}
