package graft.expr

import org.apache.spark.sql.{Column, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.types.DataType

/** A non-null constant that generated code reads by reference
  * (`ctx.addReferenceObj`, as [[NamespacedUuid]] does for its namespace
  * bytes) instead of inlining its value into the Java source. Spark
  * inlines primitive literals, so two plans that differ only in such a
  * value (a per-run ingestion timestamp) compile two classes; with the
  * value passed by reference their generated code is identical and the
  * second plan reuses the first one's compiled class from Spark's
  * codegen cache.
  *
  * Not foldable, or `ConstantFolding` would turn it back into an inlined
  * `Literal`. `value` is Catalyst's internal form for `dataType` (a
  * `Long` of microseconds for a timestamp); `nullable` is the replaced
  * column's, so the frame's schema does not change. */
case class ReferenceConstant(value: Any, dataType: DataType, nullable: Boolean)
    extends LeafExpression {

  require(value != null, "ReferenceConstant holds a non-null value")

  override def foldable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("constant", value, CodeGenerator.boxedType(dataType))
    ev.copy(
      code = code"final ${CodeGenerator.javaType(dataType)} ${ev.value} = $ref;",
      isNull = FalseLiteral)
  }

  override def toString: String = s"ref(${Literal(value, dataType)})"
}

object ReferenceConstant {

  /** `c` as a [[ReferenceConstant]] when `spark`'s optimizer folds it to
    * a non-null literal (`current_timestamp()`, a cast literal), resolved
    * here on the driver without running a job; any other column is
    * returned unchanged. */
  def of(spark: SparkSession, c: Column): Column = {
    val qe = spark.range(1).select(c).queryExecution
    qe.optimizedPlan match {
      case Project(Seq(Alias(l: Literal, _)), _) if l.value != null =>
        GraftColumnBridge.column(
          ReferenceConstant(l.value, l.dataType, qe.analyzed.output.head.nullable))
      case _ => c
    }
  }
}
