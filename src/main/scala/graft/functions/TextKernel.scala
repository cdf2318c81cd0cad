package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The one Catalyst expression around graft's string kernels: a native
  * expression WITH `doGenCode`, so each kernel is a static call inside
  * whole-stage codegen — the preferred extension point over a Scala UDF
  * (which would box, break codegen spans, and serialize per-row).
  *
  * The shell owns what every kernel shares: the string input check,
  * null propagation, the SQL name and child replacement. What differs
  * lives in the kernel's [[TextKernel.Kernel]] descriptor, next to the
  * kernel method it calls; plans render as `name(child, parameters…)`.
  */
case class TextKernel(child: Expression, kernel: TextKernel.Kernel)
    extends UnaryExpression {

  override def dataType: DataType = kernel.dataType
  override def prettyName: String = kernel.name
  override protected def stringArgs: Iterator[Any] =
    Iterator(child) ++ kernel.productIterator

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"${kernel.name} needs a string column, got ${dt.sql}")
  }

  override protected def nullSafeEval(input: Any): Any =
    kernel.eval(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, kernel.call(ctx))

  override protected def withNewChildInternal(
      newChild: Expression): TextKernel = copy(child = newChild)
}

object TextKernel {

  /** One string kernel: its parameters (the case class fields), SQL
    * name, result type, interpreted call, and generated call. */
  trait Kernel extends Product with Serializable {
    def name: String
    def dataType: DataType
    def eval(text: UTF8String): Any
    /** The Java expression for the child's value `c`; references the
      * call needs are added to `ctx` before the child's code is. */
    def call(ctx: CodegenContext): String => String
  }

  /** Column API: `kernel` over a text column. */
  def column(c: Column, kernel: Kernel): Column =
    ColumnBridge.column(TextKernel(ColumnBridge.expression(c), kernel))

  /** A kernel's SQL surface, `name(text, params…)`: every parameter is
    * an integer literal >= 1, because the kernel bakes it into
    * generated code (the Column API's own lower bounds then apply in
    * the descriptor); with `varargs` the last one repeats. */
  final case class Sql(name: String, params: String*)(
      val kernel: Seq[Int] => Kernel, varargs: Boolean = false) {

    def build(exprs: Seq[Expression]): Expression = {
      val sig = (("text" +: params) ++ (if (varargs) Seq("...") else Nil))
        .mkString(s"$name(", ", ", ")")
      def refuse(why: String) = throw new IllegalArgumentException(sig + why)
      val arity = params.length + 1
      if (exprs.length < arity || (!varargs && exprs.length != arity))
        refuse(s" takes ${if (varargs) "at least" else "exactly"} $arity " +
          s"argument${if (arity > 1) "s" else ""}, got ${exprs.length}")
      TextKernel(exprs.head, kernel(exprs.tail.zipWithIndex.map {
        case (e, i) =>
          val p = params(math.min(i, params.length - 1))
          e match {
            case Literal(v: Int, IntegerType) if v >= 1 => v
            case Literal(v: Int, IntegerType) =>
              refuse(s": $p must be >= 1, got $v")
            case other => refuse(s": $p must be an integer literal, got $other")
          }
      }))
    }
  }

  /** Every string kernel on the SQL surface, in one list. */
  val sql: Seq[Sql] = Seq(
    Sql("poly_hash")(_ => PolyHash),
    Sql("quality_stats")(_ => QualityStats),
    Sql("word_shingles", "n")(a => WordShingles(a(0))),
    Sql("word_shingle_hashes", "n")(a => WordShingleHashes(a(0))),
    Sql("gram_hashes", "n")(a => GramHashes(a(0))),
    Sql("gram_rows", "n")(a => GramRows(a(0))),
    Sql("cdc_segments", "divisor")(a => CdcSegments(a(0))),
    Sql("winnow_fingerprints", "k", "w")(a => WinnowFingerprints(a(0), a(1))),
    Sql("dup_cover", "n")(DupCover(_), varargs = true),
    Sql("top_grams", "n")(TopGrams(_), varargs = true))
}
