package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A comparison constant of a `FilterExec` held as a runtime parameter of
  * the generated class rather than spelled into its source.
  *
  * Spark inlines a `Literal` into whole-stage code as a Java constant
  * (`value >= 1704793711000000L`), so two range reads that differ only in
  * their bounds generate different source text, miss the codegen class
  * cache and Janino-compile the stage again. This leaf generates the same
  * text for every value: the value travels in the plan's `references`
  * array and is unboxed once into a primitive field when the generated
  * object is initialised; the per-row code reads that field.
  *
  * Equality, hashing and canonicalisation include the value (it is a case
  * class field), so exchange/subquery reuse never merges two plans with
  * different bounds. `toString` and `sql` are the literal's, so EXPLAIN
  * output is unchanged. */
case class GraftParam(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  // Not foldable: a later constant-folding pass must not turn it back
  // into a Literal.
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = CodeGenerator.boxedType(dataType)
    val ref = ctx.addReferenceObj("graftParam", value, boxed)
    val field = ctx.addMutableState(javaType, "graftParam",
      v => s"$v = $ref.${javaType}Value();", forceInline = true)
    ev.copy(isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }
}

/** Physical rule: inside `FilterExec.condition`, replaces each non-null
  * primitive-typed `Literal` that is a direct child of a comparison with a
  * [[GraftParam]], so a stage whose only difference from a cached one is
  * its comparison constants reuses the compiled class.
  *
  * Runs as a pre-columnar-transition rule, i.e. after planning (the scan's
  * partition filters, data filters and Parquet pushdown were taken from
  * the logical plan and keep their literals) and just before
  * `CollapseCodegenStages`, on the AQE and non-AQE paths alike. */
object StableCodegenLiterals extends Rule[SparkPlan] {

  private def parameterisable(t: DataType): Boolean = t match {
    case LongType | IntegerType | ShortType | ByteType | DoubleType | FloatType |
         DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def param(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && parameterisable(t) => GraftParam(v, t)
    case other => other
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val cond = f.condition.transformUp {
        case c: BinaryComparison => c.withNewChildren(c.children.map(param))
      }
      if (cond fastEquals f.condition) f else f.copy(condition = cond)
  }
}
