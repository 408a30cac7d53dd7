package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** PORTABLE natural log of a positive rational `a/b` — the same result
  * bit-for-bit on every engine, by running the same explicit algorithm
  * instead of calling a libm.
  *
  * Why: no two libms agree on the last ulp. On this machine glibc's
  * `log` (DuckDB's), HotSpot's `Math.log` intrinsic, and fdlibm's
  * `StrictMath.log` disagree pairwise on ~0.1-7% of random rational
  * inputs (measured, PERF.md round-10 record), and none is correctly rounded —
  * so ANY oracle gate whose doubles pass through a native log is
  * betting on per-dataset luck. This expression removes the bet: both
  * sides compute
  *
  *   1. `e = bitlen(a) − bitlen(b)`; `m = (a/b)·2⁻ᵉ`, nudged once into
  *      [1, 2) (scaling by a power of two is exact),
  *   2. `t = (m−1)/(m+1)`, `ln m = (2t)·Horner(t², 1/3, 1/5, …, 1/27)`
  *      (atanh series, |t| ≤ ⅓ so 14 coefficients reach ~1e−16
  *      relative; the Horner chain fixes the op order),
  *   3. `ln(a/b) = e·ln2 + ln m` with `ln2` an embedded literal,
  *
  * every step a deterministic IEEE-754 double op. [[sqlStages]] emits
  * the SAME steps as oracle CTE stages (DuckDB `bin()` for bitlen),
  * generated from the same coefficient array so the two sides cannot
  * drift. Accuracy: ~1 ulp of the LARGER of the two reduction terms
  * (`e·ln2`, `ln m`) — when they cancel (a/b just under a power of
  * two) the final value carries a few ulps of absolute error, like any
  * single-double split-reduction log. Both sides are off by the
  * identical amount, which is what a hash-matched gate needs. Overflow
  * note: build the rational so `a` and `b` each fit a signed 64-bit
  * integer (e.g. `n_xy·n` at ≤ 3·10⁹ rows).
  */
case class PortableLnRatio(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType | IntegerType, LongType | IntegerType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"portable_ln needs two integral columns, got " +
            s"(${l.catalogString}, ${r.catalogString})")
    }

  private def toLong(v: Any): Long = v match {
    case l: Long => l
    case i: Int  => i.toLong
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    PortableLnRatio.compute(toLong(a), toLong(b))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.expr.PortableLnRatio$$.MODULE$$.compute((long)$a, (long)$b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PortableLnRatio =
    copy(left = newLeft, right = newRight)
}

object PortableLnRatio {

  /** ln 2, shortest-round-trip literal (embedded verbatim in SQL). */
  val Ln2 = 0.6931471805599453

  /** Atanh-series coefficients 1/(2i+1): single IEEE divisions, so the
    * SQL side can embed their shortest-repr literals bit-identically. */
  val Coef: Array[Double] = Array.tabulate(14)(i => 1.0 / (2 * i + 1))

  def compute(a: Long, b: Long): Double = {
    require(a > 0 && b > 0, s"portable_ln domain: positive integers, got ($a, $b)")
    val e1 = java.lang.Long.numberOfLeadingZeros(b) -
      java.lang.Long.numberOfLeadingZeros(a) // bitlen(a) - bitlen(b)
    var m = (a.toDouble / b.toDouble) * Math.scalb(1.0, -e1)
    var e = e1
    if (m >= 2.0) { m *= 0.5; e += 1 }
    else if (m < 1.0) { m *= 2.0; e -= 1 }
    val t = (m - 1.0) / (m + 1.0)
    val t2 = t * t
    var s = Coef(13)
    var i = 12
    while (i >= 0) { s = Coef(i) + t2 * s; i -= 1 }
    e * Ln2 + 2.0 * t * s
  }

  def ln(a: Column, b: Column): Column =
    GraftColumnBridge.column(PortableLnRatio(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** The oracle replica: CTE stages (prefixed `px…` so several chains
    * can coexist in one query) computing `pln` = ln(aExpr/bExpr) with
    * the EXACT step/op order of [[compute]]. `from` supplies the input
    * relation; `carryCols` ride along unchanged. The final stage is
    * named `<prefix>ln` and exposes `pln` + carries. */
  def sqlStages(
      prefix: String, from: String, aExpr: String, bExpr: String,
      carryCols: Seq[String]): String = {
    val carry = carryCols.map(c => s", $c").mkString
    val horner = (0 until 13).foldRight(Coef(13).toString) { (i, acc) =>
      s"(${Coef(i)} + t2_$prefix * ($acc))"
    }
    s"""${prefix}0 AS (SELECT CAST($aExpr AS BIGINT) AS a_$prefix,
       |    CAST($bExpr AS BIGINT) AS b_$prefix$carry FROM $from),
       |${prefix}1 AS (SELECT a_$prefix, b_$prefix,
       |    length(bin(a_$prefix)) - length(bin(b_$prefix)) AS e1_$prefix$carry
       |  FROM ${prefix}0),
       |${prefix}2 AS (SELECT e1_$prefix,
       |    CAST(a_$prefix AS DOUBLE) / CAST(b_$prefix AS DOUBLE) *
       |      pow(2.0, CAST(-e1_$prefix AS DOUBLE)) AS m1_$prefix$carry
       |  FROM ${prefix}1),
       |${prefix}3 AS (SELECT
       |    CASE WHEN m1_$prefix >= 2.0 THEN m1_$prefix * 0.5
       |         WHEN m1_$prefix < 1.0 THEN m1_$prefix * 2.0
       |         ELSE m1_$prefix END AS m_$prefix,
       |    CASE WHEN m1_$prefix >= 2.0 THEN e1_$prefix + 1
       |         WHEN m1_$prefix < 1.0 THEN e1_$prefix - 1
       |         ELSE e1_$prefix END AS e_$prefix$carry
       |  FROM ${prefix}2),
       |${prefix}4 AS (SELECT e_$prefix,
       |    (m_$prefix - 1.0) / (m_$prefix + 1.0) AS t_$prefix$carry
       |  FROM ${prefix}3),
       |${prefix}5 AS (SELECT e_$prefix, t_$prefix,
       |    t_$prefix * t_$prefix AS t2_$prefix$carry
       |  FROM ${prefix}4),
       |${prefix}ln AS (SELECT
       |    CAST(e_$prefix AS DOUBLE) * $Ln2 +
       |      (2.0 * t_$prefix) * ($horner) AS pln$carry
       |  FROM ${prefix}5)""".stripMargin
  }
}
