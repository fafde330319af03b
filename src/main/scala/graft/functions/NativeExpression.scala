package graft.functions

import java.lang.invoke.{MethodHandle, MethodHandles, MethodType}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression,
  UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.Platform

/** The shell every native expression shares: the expression names one
  * static kernel on its companion object, and interpreted eval and
  * generated code both call that kernel — eval through a method handle,
  * the generated code as one static call. There is no second copy of a
  * kernel to keep in agreement, and a whole-stage codegen stage holds a
  * call per expression instead of an inlined loop.
  *
  * The kernel takes the children's values in their Catalyst Java types
  * (`UTF8String`, `ArrayData`, `byte[]`), then the expression's constant
  * [[params]], and returns the Java type of `dataType`; a primitive
  * result (`long`, `int`, `double`) stays unboxed in generated code. A
  * null child yields null without calling the kernel. A null ELEMENT of
  * an array child is malformed input: the kernel fails with
  * [[NativeExpression.requireNoNullElements]] and never reads it as 0. */
sealed trait NativeExpression extends Expression {

  /** Name of the static kernel on the companion object. */
  protected def kernel: String

  /** Constant kernel arguments after the children's values: `Int`,
    * `Long`, or an array (`byte[]`, `int[]`, `double[][]`) that generated
    * code receives as a reference object. Mixing an `Int` and a `Long`
    * needs `Seq[Any](…)`: plain `Seq(…)` would widen the `Int`. */
  protected def params: Seq[Any] = Nil

  /** The type each child must have; nullability, including an array's
    * `containsNull`, is not checked. */
  protected def inputTypes: Seq[DataType]

  /** The condition the constant parameters must meet, as the type check
    * failure states it, and whether they meet it. */
  protected def paramRule: String = ""
  protected def paramsValid: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val got = children.map(_.dataType)
    val typesOk = got.length == inputTypes.length &&
      got.zip(inputTypes).forall { case (g, e) => DataTypeUtils.equalsIgnoreNullability(g, e) }
    if (typesOk && paramsValid) TypeCheckResult.TypeCheckSuccess
    else {
      val (rule, consts) =
        if (paramRule.isEmpty) ("", "")
        else (s" and $paramRule",
          " with " + stringArgs.filterNot(_.isInstanceOf[Expression]).mkString(", "))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (${inputTypes.map(_.simpleString).mkString(", ")})$rule, " +
          s"got (${got.map(_.simpleString).mkString(", ")})$consts")
    }
  }

  /** The kernel with the constants bound, typed `(Object, …) → Object`
    * so eval can call it with the children's values as they come. */
  @transient private[functions] lazy val kernelHandle: MethodHandle = {
    val m = getClass.getMethod(kernel,
      children.map(c => CodeGenerator.javaClass(c.dataType)) ++ params.map {
        case _: Int => classOf[Int]
        case _: Long => classOf[Long]
        case p: AnyRef => p.getClass
      }: _*)
    MethodHandles.insertArguments(MethodHandles.publicLookup().unreflect(m),
      children.length, params.map(_.asInstanceOf[AnyRef]): _*)
      .asType(MethodType.genericMethodType(children.length))
  }

  protected final def kernelCall(ctx: CodegenContext, values: Seq[String]): String = {
    val consts = params.map {
      case i: Int => i.toString
      case l: Long => s"${l}L"
      case p: AnyRef => ctx.addReferenceObj("param", p, p.getClass.getCanonicalName)
    }
    s"${getClass.getName}.$kernel(${(values ++ consts).mkString(", ")})"
  }

  /** The Column-DSL form of this expression. */
  final def toColumn: Column = bridge.column(this)
}

object NativeExpression {
  /** The Catalyst expression of a Column argument. */
  def expr(c: Column): Expression = bridge.expression(c)

  /** The rule for array arguments: every element is non-null. A kernel
    * calls this on each array before its loop; a null element throws
    * `IllegalArgumentException("<name>: null element <i> of <what>")` on
    * both evaluation paths. The unsafe layout's null bits (after its
    * 8-byte element count) are read 64 at a time, so the loops stay
    * check-free. */
  def requireNoNullElements(name: String, what: String, a: ArrayData): Unit = {
    val n = a.numElements()
    var i = 0
    a match {
      case u: UnsafeArrayData =>
        while (i < n && Platform.getLong(u.getBaseObject, u.getBaseOffset + 8L + i / 8) == 0L)
          i += 64
      case _ =>
    }
    while (i < n && !a.isNullAt(i)) i += 1
    if (i < n) throw new IllegalArgumentException(s"$name: null element $i of $what")
  }
}

abstract class NativeUnary extends UnaryExpression with NativeExpression {
  // `invokeExact` is signature-polymorphic: the ascription sets its type
  override def nullSafeEval(v: Any): Any =
    kernelHandle.invokeExact(v.asInstanceOf[AnyRef]): AnyRef

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = ${kernelCall(ctx, Seq(a))};")
}

abstract class NativeBinary extends BinaryExpression with NativeExpression {
  override def nullSafeEval(a: Any, b: Any): Any =
    kernelHandle.invokeExact(a.asInstanceOf[AnyRef], b.asInstanceOf[AnyRef]): AnyRef

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = ${kernelCall(ctx, Seq(a, b))};")
}
