package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** How every graft scalar expression binds its arithmetic into
  * whole-stage codegen: the arithmetic is ONE public Scala method,
  * `kernel`, on the expression itself. It takes the children's Catalyst
  * values (`ArrayData`, `UTF8String`, `InternalRow`) and returns the
  * result's Java type (`double`, `int`, `long`, `ArrayData`, …). `eval`
  * calls it, and the code generated here calls it through a reference
  * to the expression object, so interpreted and generated rows run the
  * same lines; the per-row cost of the one virtual call is noise beside
  * the kernel's O(d) loop. ExtensionsSpec pins eval against codegen for
  * every expression on edge inputs.
  *
  * Null handling takes one of two forms:
  *   - null-propagating (the default, the Unary/BinaryExpression
  *     contract): a null child makes the row null and the kernel is not
  *     called;
  *   - null-seeing ([[kernelSeesNull]]): the kernel receives null
  *     children and decides the result, which is never null — children
  *     must then be object-typed (arrays, strings, structs).
  * A null-propagating kernel may also return a boxed result or null
  * ([[kernelMayReturnNull]]), for edges whose row is null although no
  * child is.
  *
  * A new expression mixes this in, defines `kernel`, and builds its type
  * check with [[KernelCall.check]]; it writes no `doGenCode`. */
private[graft] trait KernelCall extends Expression {

  /** The kernel takes null children and returns a non-null result. */
  protected def kernelSeesNull: Boolean = false

  /** The kernel returns a boxed value, or null for a null row. */
  protected def kernelMayReturnNull: Boolean = false

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj(prettyName, this, getClass.getName)
    val args = children.map(_.genCode(ctx))
    val javaType = CodeGenerator.javaType(dataType)
    if (kernelSeesNull) {
      val call = args.map(a => s"${a.isNull} ? null : ${a.value}")
        .mkString(s"$self.kernel(", ", ", ")")
      ev.copy(isNull = FalseLiteral, code = code"""
        ${args.map(_.code.toString).mkString("\n")}
        $javaType ${ev.value} = $call;""")
    } else {
      val call = args.map(_.value).mkString(s"$self.kernel(", ", ", ")")
      val result =
        if (!kernelMayReturnNull) s"${ev.value} = $call;"
        else {
          val boxed = ctx.freshName("boxed")
          s"""Object $boxed = $call;
             |if ($boxed == null) ${ev.isNull} = true;
             |else ${ev.value} = ((${CodeGenerator.boxedType(dataType)}) $boxed).${javaType}Value();
             |""".stripMargin
        }
      // each child is evaluated only when every earlier one is non-null
      val body = children.zip(args).foldRight(s"${ev.isNull} = false;\n$result") {
        case ((c, a), inner) => s"${a.code}\n${ctx.nullSafeExec(c.nullable, a.isNull)(inner)}"
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        $body""")
    }
  }
}

private[graft] object KernelCall {

  /** The type check of `e`: success when `ok` holds for its children's
    * types, else a failure reading `<prettyName> requires <expected>,
    * got <child types>`. Aggregates use it too. */
  def check(e: Expression, expected: String)(ok: Seq[DataType] => Boolean): TypeCheckResult = {
    val types = e.children.map(_.dataType)
    if (ok(types)) TypeCheckSuccess
    else TypeCheckFailure(
      s"${e.prettyName} requires $expected, got ${types.map(_.catalogString).mkString(", ")}")
  }

  /** `array<float>` or `array<double>`, the embedding column types. */
  def isVector(t: DataType): Boolean = t match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  /** `array<bigint>`: packed bits, shingle hashes, sketch tables. */
  def isLongs(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  /** Whether vector child `e` holds floats; resolve once per expression. */
  def floatElements(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Element `i` of a non-null vector slot, widened to double. */
  @inline def at(arr: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
}
