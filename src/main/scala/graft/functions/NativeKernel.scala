package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.KernelInputTypes

/** The Catalyst boilerplate every native kernel in this package shares:
  *   - input checking by Spark's `ExpectsInputTypes` ([[KernelInputTypes]]):
  *     each argument must have one of `argTypes`, and no implicit cast is
  *     inserted;
  *   - `prettyName`, the name plans and SQL show;
  *   - the null-safe codegen shell: evaluate every child, and only when
  *     none is null run [[kernelCode]] — for most kernels one static call
  *     ([[staticCall]]) into the same method interpreted `eval` uses, so
  *     the kernel stays fused into its whole-stage-codegen stage. A null
  *     input gives a null result; when `nullable` is false the shell drops
  *     the null checks, as Unary/BinaryExpression's `nullSafeCodeGen` does.
  * NativeKernelConformanceSpec checks that interpreted and generated
  * results agree bit for bit. */
private[functions] trait NativeKernel extends KernelInputTypes {

  /** The SQL and plan-string name (`graft_*`). */
  protected def sqlName: String

  /** Java statements that set `ev.value` from the children's non-null
    * values `inputs` (one Java expression per child, in order). */
  protected def kernelCode(ctx: CodegenContext, ev: ExprCode, inputs: Seq[String]): String

  /** `ev.value = method(args);` */
  protected def staticCall(ev: ExprCode, method: String, args: String*): String =
    s"${ev.value} = $method(${args.mkString(", ")});"

  final override def prettyName: String = sqlName

  final override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val childCode = Block.blocksToBlock(gens.map(_.code))
    val body = kernelCode(ctx, ev, gens.map(_.value.toString))
    val decl = s"${CodeGenerator.javaType(dataType)} ${ev.value} = " +
      s"${CodeGenerator.defaultValue(dataType)};"
    if (nullable) {
      val anyNull = gens.map(_.isNull.toString).mkString(" || ")
      ev.copy(code = code"""
        $childCode
        boolean ${ev.isNull} = $anyNull;
        $decl
        if (!${ev.isNull}) { $body }""")
    } else {
      ev.copy(code = code"""
        $childCode
        $decl
        $body""", isNull = FalseLiteral)
    }
  }
}
