package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._

/** Whole-stage codegen for a null-intolerant kernel whose one
  * implementation is its Scala `nullSafeEval`: mix it into a
  * `UnaryExpression` or `BinaryExpression`, whose `nullSafeEval` takes
  * one argument per child. The generated code
  * evaluates the children and, when none of them is null, calls the
  * expression's own `nullSafeEval` through a reference object.
  * Primitive children are boxed into locals first, as Spark's
  * `ScalaUDF` does; a null result is a null value. So the interpreted
  * path (`eval`) and the generated one run the same code, and the
  * operator holding the expression stays inside whole-stage codegen,
  * which a `CodegenFallback` expression would keep it out of.
  */
trait KernelCodegen extends Expression {
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("kernel", this)
    val evals = children.map(_.genCode(ctx))
    val args = children.zip(evals).map { case (child, e) =>
      val arg = ctx.freshName("arg")
      val value =
        if (CodeGenerator.isPrimitiveType(child.dataType))
          s"${CodeGenerator.boxedType(child.dataType)}.valueOf(${e.value})"
        else e.value.toString
      (arg, s"Object $arg = $value;")
    }
    val anyNull = evals.map(_.isNull.toString).mkString(" || ")
    val result = ctx.freshName("result")
    ev.copy(code = code"""
      |${evals.map(_.code.toString).mkString("\n")}
      |boolean ${ev.isNull} = true;
      |${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      |if (!($anyNull)) {
      |  ${args.map(_._2).mkString("\n")}
      |  Object $result = $kernel.nullSafeEval(${args.map(_._1).mkString(", ")});
      |  if ($result != null) {
      |    ${ev.isNull} = false;
      |    ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $result;
      |  }
      |}
      """.stripMargin)
  }
}
