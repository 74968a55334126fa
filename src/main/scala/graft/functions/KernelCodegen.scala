package graft.functions

import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}

/** Real `doGenCode` for a unary expression whose evaluation is already one
  * compiled JVM kernel (a tight `while` loop in `nullSafeEval`).
  *
  * Why not `CodegenFallback`: `CollapseCodegenStages` refuses whole-stage
  * compilation for ANY plan node containing a CodegenFallback expression,
  * so one sketch/shingle/score column in a `Project` pushes the whole
  * projection — and the operators fused around it — out of the `*(n)`
  * span: the scan→project pipeline then runs row-at-a-time through
  * interpreted `UnsafeProjection`s, and the fallback path additionally
  * materializes an input row per call just to re-extract the one child
  * value (optimization guide §4 — prefer codegen-friendly expressions on
  * hot paths). The expressions mixing this in sit on exactly those paths:
  * per-document scan-side projections of the dedup/LM operators.
  *
  * What this emits instead: the child is evaluated by the surrounding
  * generated code as usual, and the kernel is invoked directly on the
  * plan-referenced expression instance — no input-row materialization, no
  * interpreted child re-evaluation, and the enclosing projection stays
  * inside its WholeStageCodegen span. The kernel body itself is the same
  * compiled Scala loop either way; results are bit-identical.
  *
  * A kernel may return null for a non-null input (e.g. an empty-signature
  * document): the generated code maps that to `isNull`, matching the
  * interpreted `eval` contract. So the expression is always nullable: for
  * a non-nullable child Spark declares no `isNull` variable, and the
  * generated assignment would not compile. */
trait KernelCodegen extends UnaryExpression {

  override def nullable: Boolean = true

  /** Public bridge so generated Java can reach the protected kernel. */
  final def kernel(input: Any): Any = nullSafeEval(input)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kernelExpr", this,
      classOf[KernelCodegen].getName)
    val boxed = CodeGenerator.boxedType(dataType)
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("kernelOut")
      s"""
         |Object $r = $ref.kernel($c);
         |if ($r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ($boxed) $r;
         |}
       """.stripMargin
    })
  }
}
