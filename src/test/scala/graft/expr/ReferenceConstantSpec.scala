package graft.expr

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** A constant passed to generated code by reference: plans that differ
  * only in its value share one generated source, it writes what the
  * literal would, and a column that does not fold is left alone. */
class ReferenceConstantSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def ts(s: String): Column = lit(s).cast("timestamp")

  private def stamped(c: Column): DataFrame =
    spark.range(3).select(col("id"), c.as("t"))

  /** The Java source of every whole-stage codegen stage of `df`. */
  private def stageCode(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w.doCodeGen()._2.body
    }

  test("frames differing only in the constant generate identical code") {
    val (a, b) = (ts("2024-01-01 00:00:00"), ts("2025-06-30 12:34:56"))
    val code = stageCode(stamped(ReferenceConstant.of(spark, a)))
    assert(code.nonEmpty)
    assert(code == stageCode(stamped(ReferenceConstant.of(spark, b))))
    // the literals themselves are inlined, so their code differs
    assert(stageCode(stamped(a)) != stageCode(stamped(b)))
  }

  test("the written value equals the literal's") {
    val c = ts("2024-01-01 00:00:00")
    val ref = ReferenceConstant.of(spark, c)
    assert(GraftColumnBridge.expression(ref).isInstanceOf[ReferenceConstant])
    assert(stamped(ref).collect().toSeq == stamped(c).collect().toSeq)
    assert(stamped(ref).schema == stamped(c).schema)
    assert(ReferenceConstant(1706745600000000L, TimestampType, nullable = false).eval() ==
      1706745600000000L)
  }

  test("current_timestamp is fixed once; a column that does not fold is kept") {
    val now = ReferenceConstant.of(spark, current_timestamp())
    assert(GraftColumnBridge.expression(now).isInstanceOf[ReferenceConstant])
    val first = stamped(now).head().getTimestamp(1)
    Thread.sleep(5)
    assert(stamped(now).head().getTimestamp(1) == first)
    val perRow = col("id").cast("timestamp")
    assert(ReferenceConstant.of(spark, perRow) eq perRow)
    val nullTs = lit(null).cast("timestamp")
    assert(ReferenceConstant.of(spark, nullTs) eq nullTs)
  }
}
