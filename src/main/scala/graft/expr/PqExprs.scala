package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Product-quantization encode as ONE codegen'd loop.
  *
  * The declarative PQ/IVF-PQ encodes ([[graft.llm.Pq.encode]],
  * [[graft.llm.IvfPq.encode]]) are correct and codegen'd, but their
  * plans carry m×k dot-product expressions (256 at the engine's
  * default m=16, k=16) plus argmin scaffolding — the per-query
  * Catalyst analyze/codegen cost dominates the runtime at bench SF.
  * This expression computes the same codes in a single tight loop
  * over driver-built literal tensors, collapsing the plan to one
  * node. Bit-parity with the declarative twin is pinned by
  * NativeExprSpec (same accumulation order, same first-wins argmin).
  */
object PqCore extends Serializable {

  /** Nested ArrayData (array<array<array<double>>> literal) →
    * JVM tensor, evaluated once per plan. */
  def tensor3(a: Any): Array[Array[Array[Double]]] = {
    val ad = a.asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements()) { i =>
      val mi = ad.getArray(i)
      Array.tabulate(mi.numElements())(j => mi.getArray(j).toDoubleArray())
    }
  }

  /** codes(s) = argmin_c [ bias(cell)(s)(c) − v_s · cb(s)(c) ], the
    * residual/plain-PQ identity score with the SAME accumulation
    * order and first-wins tie-break as the declarative twin. Null on
    * any null vector element (the twin's dot would be null there). */
  def encode(vec: ArrayData, isFloat: Boolean,
             cb: Array[Array[Array[Double]]],
             bias: Array[Array[Array[Double]]], cell: Int): ArrayData = {
    val m = cb.length
    val k = cb(0).length
    val dsub = cb(0)(0).length
    if (vec.numElements() < m * dsub) return null
    var i = 0
    val n = m * dsub
    while (i < n) { if (vec.isNullAt(i)) return null; i += 1 }
    // a cell id outside the bias tensor means the cell assignment
    // and the codebook come from DIFFERENT training runs (nCells
    // mismatch) — say so, instead of an ArrayIndexOutOfBounds deep
    // in the scoring loop
    require(cell >= 0 && cell < bias.length,
      s"pq_encode: cell id $cell outside the ${bias.length}-cell " +
        "bias tensor (codebook from a different nCells run?)")
    val b = bias(cell)
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      val base = s * dsub
      var best = 0
      var bestScore = Double.NaN
      var c = 0
      while (c < k) {
        val cw = cb(s)(c)
        var dot = 0.0
        var j = 0
        while (j < dsub) {
          val v = if (isFloat) vec.getFloat(base + j).toDouble
                  else vec.getDouble(base + j)
          dot += v * cw(j)
          j += 1
        }
        val score = b(s)(c) - dot
        if (c == 0 || score < bestScore) { bestScore = score; best = c }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    new GenericArrayData(codes)
  }
}

/** `pq_encode(vec, codebook, bias, cell)` → array<int> of length m.
  *
  *  - `codebook`: FOLDABLE m×k×dsub double tensor
  *  - `bias`: FOLDABLE nCells×m×k tensor — plain PQ passes one cell
  *    of `‖c‖²/2`; IVF-PQ passes `‖c‖²/2 + u_cell,s·c` per cell
  *  - `cell`: int column (0 for plain PQ)
  */
case class PqEncodeExpr(vec: Expression, codebook: Expression,
                        bias: Expression, cell: Expression)
  extends QuaternaryExpression {

  override def first: Expression = vec
  override def second: Expression = codebook
  override def third: Expression = bias
  override def fourth: Expression = cell

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  // Pure, but declared non-deterministic so filter-pushdown alias
  // substitution cannot duplicate the m x k x dsub distance pass (and
  // the embedded codebook literal, which doubled the generated-code
  // size) into a Filter below the encoding projection — the q_ann_pq /
  // q_ann_ivfpq plans carried `isnotnull(element_at(pqencodeexpr(..)))`
  // on the raw scan plus the same encode again in the Project.
  // Project it before use: see the restriction in [[graft.GraftFunctions]].
  override lazy val deterministic: Boolean = false

  override def checkInputDataTypes()
  : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (!codebook.foldable || !bias.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure("pq_encode codebook and bias must be literals")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val cbT: Array[Array[Array[Double]]] =
    PqCore.tensor3(codebook.eval(null))
  @transient private lazy val biasT: Array[Array[Array[Double]]] =
    PqCore.tensor3(bias.eval(null))
  @transient private lazy val vecIsFloat: Boolean =
    vec.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def eval(input: InternalRow): Any = {
    val v = vec.eval(input)
    val c = cell.eval(input)
    if (v == null || c == null) null
    else PqCore.encode(v.asInstanceOf[ArrayData], vecIsFloat, cbT, biasT,
      c.asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val v = vec.genCode(ctx)
    val c = cell.genCode(ctx)
    val core = ctx.addReferenceObj("pqCore", PqCore, PqCore.getClass.getName)
    val cbRef = ctx.addReferenceObj("pqCb", cbT, "double[][][]")
    val biasRef = ctx.addReferenceObj("pqBias", biasT, "double[][][]")
    val isF = if (vecIsFloat) "true" else "false"
    ev.copy(code =
      code"""
        ${v.code}
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          (${v.isNull} || ${c.isNull}) ? null
          : $core.encode(${v.value}, $isF, $cbRef, $biasRef, ${c.value});
        boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression)
  : Expression = copy(vec = f, codebook = s, bias = t, cell = q)
}
