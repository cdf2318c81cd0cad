package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** One left-to-right double accumulation over the shorter of two
  * `array<float|double>` columns, null elements contributing nothing:
  * [[VectorDot]] and [[VectorL2Sq]] differ only in the accumulated
  * term. The HOF formulation this replaced (`aggregate(zip_with(...))`)
  * evaluated an interpreted lambda per element per row; this loop stays
  * inside whole-stage codegen and accumulates in the HOF's order, so
  * results are bit-identical (the DuckDB cosine oracle keeps matching).
  *
  * Why a generated loop at each call site and not a call to a shared
  * Scala kernel, as the three fused expressions below do: these two run
  * once per candidate PAIR, where the loop is the whole cost. On a
  * 4-core VM (`graft.Bench` at sf0.1, the 14 vector queries, min-of-3
  * per query), shared kernels reading element by element read 1.15×
  * the generated loops in total (s09 1.30×, s10 1.28×, s11 1.33×, s14
  * 1.19×), and kernels copying the row once into a `double[]` read s14
  * 1.82× and s03 1.31×, both dot-bound. The likely cause (unverified):
  * one shared call site sees several array classes (`ColumnarArray`
  * from the parquet reader, `UnsafeArrayData`, `GenericArrayData`),
  * while each generated loop sees only one.
  */
abstract class VectorPairLoop extends BinaryExpression {

  /** The accumulated term, interpreted and as Java source. */
  protected def term(x: Double, y: Double): Double
  protected def termCode(x: String, y: String): String

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    VectorKernels.checkInputs(prettyName, Seq(left, right))

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lf = VectorKernels.isFloat(left)
    val rf = VectorKernels.isFloat(right)
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
        val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
        acc += term(xv, yv)
      }
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      def get(arr: String, e: Expression) =
        if (VectorKernels.isFloat(e)) s"(double) $arr.getFloat($i)"
        else s"$arr.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() < $n) $n = $b.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    double $x = ${get(a, left)};
         |    double $y = ${get(b, right)};
         |    $acc += ${termCode(x, y)};
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
}

/** Native dot product over `array<float>` / `array<double>` columns. */
case class VectorDot(left: Expression, right: Expression)
    extends VectorPairLoop {

  override def prettyName: String = "vector_dot"

  override protected def term(x: Double, y: Double): Double = x * y
  override protected def termCode(x: String, y: String): String =
    s"$x * $y"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}

/** Native squared-L2 sibling of [[VectorDot]] (`sqrt` by the wrapper). */
case class VectorL2Sq(left: Expression, right: Expression)
    extends VectorPairLoop {

  override def prettyName: String = "vector_l2sq"

  override protected def term(x: Double, y: Double): Double =
    (x - y) * (x - y)
  override protected def termCode(x: String, y: String): String =
    s"($x - $y) * ($x - $y)"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorL2Sq =
    copy(left = newLeft, right = newRight)
}

/** Kernels of the fused vector expressions ([[PqEncode]], [[MatVec]],
  * [[NearestCentroids]]) and the checks all five vector expressions
  * share. Each kernel is the one copy of its arithmetic: `nullSafeEval`
  * calls it, and generated code calls it with the plan-time matrix
  * passed by `ctx.addReferenceObj` (the [[DupCover]] convention).
  * A kernel reads the input row once, into a `double[]` plus null
  * flags; null elements contribute nothing.
  */
object VectorKernels {

  def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Every input must be `array<float|double>`; the failure names the
    * function and every input type. */
  def checkInputs(fn: String, inputs: Seq[Expression]): TypeCheckResult =
    if (inputs.forall(_.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fn needs array<float|double>, got " +
        inputs.map(_.dataType.sql).mkString(", "))

  /** One input row, each element widened to double once. */
  private final class Vec(x: ArrayData, float: Boolean) {
    val n: Int = x.numElements()
    val v = new Array[Double](n)
    val isNull = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) isNull(i) = true
      else v(i) = if (float) x.getFloat(i).toDouble else x.getDouble(i)
      i += 1
    }
  }

  /** Squared L2 of `x(off until off + len)` against `w(0 until len)`. */
  private def l2Sq(x: Vec, off: Int, w: Array[Double], len: Int): Double = {
    var acc = 0.0
    var i = 0
    while (i < len) {
      if (!x.isNull(off + i)) {
        val d = x.v(off + i) - w(i)
        acc += d * d
      }
      i += 1
    }
    acc
  }

  /** Per subspace `s`, 1 + the index of the nearest codeword
    * `codebook(s * k + c)` over the window `min(subDim, remaining)`;
    * ties (and NaN distances) keep the smaller code. */
  def pqEncode(x: ArrayData, float: Boolean,
               codebook: Array[Array[Double]], m: Int,
               subDim: Int): UnsafeArrayData = {
    val row = new Vec(x, float)
    val k = codebook.length / m
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val off = s * subDim
      val len = math.min(subDim, row.n - off)
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < k) {
        val d = l2Sq(row, off, codebook(s * k + c), len)
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best + 1
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** `out(r) = rows(r) · x` over `min(matrix width, vector length)`. */
  def matVec(x: ArrayData, float: Boolean,
             rows: Array[Array[Double]]): UnsafeArrayData = {
    val row = new Vec(x, float)
    val n = math.min(rows.head.length, row.n)
    val out = new Array[Double](rows.length)
    var r = 0
    while (r < rows.length) {
      val w = rows(r)
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (!row.isNull(i)) acc += w(i) * row.v(i)
        i += 1
      }
      out(r) = acc
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** The `min(n, k)` nearest centroid ids, see [[NearestCentroids]]. */
  def nearestCentroids(x: ArrayData, float: Boolean,
                       centroids: Array[Array[Double]],
                       n: Int): UnsafeArrayData = {
    val m = math.min(n, centroids.length)
    val bestD = Array.fill(m)(Double.PositiveInfinity)
    val bestC = new Array[Int](m)
    if (m > 0) {
      val row = new Vec(x, float)
      var c = 0
      while (c < centroids.length) {
        val cw = centroids(c)
        var d = l2Sq(row, 0, cw, math.min(cw.length, row.n))
        // NaN ranks after every finite distance but before the +∞
        // sentinel (Spark's NaN-last ordering), so every slot fills
        if (java.lang.Double.isNaN(d)) d = Double.MaxValue
        // ascending c ⇒ strict < keeps the smaller id on distance ties
        if (d < bestD(m - 1)) {
          var p = m - 1
          while (p > 0 && d < bestD(p - 1)) {
            bestD(p) = bestD(p - 1); bestC(p) = bestC(p - 1); p -= 1
          }
          bestD(p) = d; bestC(p) = c + 1
        }
        c += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(bestC)
  }
}

/** Full PQ encoding as ONE expression: for each of `m` subspaces, the
  * (1-based) code of the nearest codeword to the vector's subspace
  * window, ties to the smallest code. `codebook(s*k + c)` is the
  * codeword for subspace `s`, code `c+1`; all length `subDim`.
  *
  * Why one expression instead of composing slice/l2sq/array_min: an
  * m·k-term composed tree (128 sub-expressions for m=8, k=16) exceeds
  * whole-stage codegen limits, and the interpreted fallback costs
  * ~0.5 ms/row — this expression is one kernel call that stays inside
  * WholeStageCodegen at ~µs/row, and keeps `encode` a pure projection
  * (the property that lets it run unchanged on unbounded streams).
  */
case class PqEncode(child: Expression, m: Int, subDim: Int,
                    codebook: Seq[Seq[Double]]) extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override def checkInputDataTypes(): TypeCheckResult =
    VectorKernels.checkInputs(prettyName, Seq(child))

  @transient private lazy val cbArr: Array[Array[Double]] =
    codebook.map(_.toArray).toArray

  override protected def nullSafeEval(a: Any): Any =
    VectorKernels.pqEncode(a.asInstanceOf[ArrayData],
      VectorKernels.isFloat(child), cbArr, m, subDim)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("cb", cbArr, "double[][]")
    defineCodeGen(ctx, ev, a => "graft.functions.VectorKernels.pqEncode(" +
      s"$a, ${VectorKernels.isFloat(child)}, $cb, $m, $subDim)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): PqEncode = copy(child = newChild)
}

/** Dense matrix × vector as ONE expression: `rows` is a plan-time
  * rotation/projection matrix carried as a reference object (never
  * serialized into the generated source). A formulation of one
  * [[VectorDot]] per output row works but costs `d` separate expressions
  * — at d=64 the array constructor's tree blows past whole-stage-codegen
  * thresholds and the whole projection falls back to interpreted eval
  * (the same failure mode [[PqEncode]] fixed for encoding). The fused
  * kernel stays codegen'd regardless of d.
  *
  * Null elements contribute 0; a vector shorter than the matrix width
  * uses the available prefix (same conventions as [[VectorDot]]).
  */
case class MatVec(child: Expression, rows: Seq[Seq[Double]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "mat_vec"

  override def checkInputDataTypes(): TypeCheckResult =
    VectorKernels.checkInputs(prettyName, Seq(child))

  @transient private lazy val matArr: Array[Array[Double]] =
    rows.map(_.toArray).toArray

  override protected def nullSafeEval(a: Any): Any =
    VectorKernels.matVec(a.asInstanceOf[ArrayData],
      VectorKernels.isFloat(child), matArr)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val mat = ctx.addReferenceObj("mat", matArr, "double[][]")
    defineCodeGen(ctx, ev, a => "graft.functions.VectorKernels.matVec(" +
      s"$a, ${VectorKernels.isFloat(child)}, $mat)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): MatVec = copy(child = newChild)
}

/** The `n` nearest centroids (1-based ids, ordered by (squared L2
  * distance, id) ascending) as ONE expression — the fused form of
  * `array_min`/`array_sort` over k per-centroid [[VectorL2Sq]] structs.
  *
  * Why fuse: the composed tree is O(k) EXPRESSIONS, each carrying a
  * dim-wide literal — at k=8 it codegens fine, but raising k with the
  * corpus (the IVF/SemDeDup scale knob: k ≈ corpus/target_cell_size)
  * makes plan construction, Janino compilation, and the interpreted
  * fallback all scale with k. Measured on the ~sf1 corpus: k=80 via the
  * composed tree ran 65 s for a query whose k=8 form ran 7.5 s — the
  * knob was unusable. This expression keeps generated-code size CONSTANT
  * in k (the centroid matrix is a referenced `double[][]`, the argmin
  * one kernel call), so runtime scales as the arithmetic O(k·dim) per
  * row and nothing else.
  *
  * Semantics match the composed form exactly: per-element contribution
  * over the min(vector, centroid) length, null elements skipped, ties on
  * distance broken by the smaller centroid id ((d, id) struct ordering),
  * and NaN distances (NaN vector elements) ranking after every finite
  * distance with ties by id (Spark's NaN-last ordering — an all-NaN row
  * yields ids 1..n, never an unfilled slot). Returns min(n, k) ids
  * (empty array when n = 0); n=1 callers take `.getItem(0)`.
  */
case class NearestCentroids(child: Expression,
                            centroids: Seq[Seq[Double]], n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_centroids"

  override def checkInputDataTypes(): TypeCheckResult =
    VectorKernels.checkInputs(prettyName, Seq(child))

  @transient private lazy val centArr: Array[Array[Double]] =
    centroids.map(_.toArray).toArray

  override protected def nullSafeEval(a: Any): Any =
    VectorKernels.nearestCentroids(a.asInstanceOf[ArrayData],
      VectorKernels.isFloat(child), centArr, n)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val cents = ctx.addReferenceObj("cents", centArr, "double[][]")
    defineCodeGen(ctx, ev, a =>
      "graft.functions.VectorKernels.nearestCentroids(" +
        s"$a, ${VectorKernels.isFloat(child)}, $cents, $n)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): NearestCentroids = copy(child = newChild)
}
