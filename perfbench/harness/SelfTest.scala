package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

/** Checks of the result canonicalization; exits non-zero on a failure.
  * Usage: SelfTest (no Spark session needed). */
object SelfTest {
  private var failures = 0

  private def check(what: String, ok: Boolean): Unit =
    if (ok) println(s"ok   $what") else { failures += 1; println(s"FAIL $what") }

  private def row(schema: StructType, vs: Any*): Row = new GenericRowWithSchema(vs.toArray, schema)

  def main(args: Array[String]): Unit = {
    val ab = StructType(Seq(StructField("a", LongType), StructField("b", DoubleType)))
    val ba = StructType(Seq(StructField("b", DoubleType), StructField("a", LongType)))
    val r1 = row(ab, 1L, 0.5)
    val r2 = row(ab, 2L, 1.25)

    check("row order does not change the hash",
      Canon.digest(Seq(r1, r2)) == Canon.digest(Seq(r2, r1)))
    check("column order does not change a row",
      Canon.row(r1) == Canon.row(row(ba, 0.5, 1L)))
    check("a duplicate row changes the hash and the count",
      Canon.digest(Seq(r1, r1, r2)) != Canon.digest(Seq(r1, r2)) &&
        Canon.digest(Seq(r1, r1, r2))._1 == 3L)
    check("-0.0 and 0.0 are one value", Canon.value(-0.0) == Canon.value(0.0))
    check("doubles agree to 12 significant digits",
      Canon.value(0.1 + 0.2) == Canon.value(0.3))
    check("doubles differing in the 9th digit differ",
      Canon.value(1.00000001) != Canon.value(1.00000002))
    check("float and double of one value agree", Canon.value(1.5f) == Canon.value(1.5))
    check("NULL differs from the string \"null\"", Canon.value(null) != Canon.value("null"))
    check("decimal trailing zeros are dropped",
      Canon.value(new java.math.BigDecimal("2.500")) == Canon.value(new java.math.BigDecimal("2.5")))
    check("timestamps render as epoch microseconds",
      Canon.value(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1, 2000))) == "ts:1000002")
    check("arrays keep their order",
      Canon.value(Seq(1, 2)) != Canon.value(Seq(2, 1)))
    check("maps ignore entry order",
      Canon.value(Map("x" -> 1, "y" -> 2)) == Canon.value(Map("y" -> 2, "x" -> 1)))
    check("string hash matches the generator's login hash",
      Canon.digestStrings(Seq("dev-0000001", "org-000001"))._2 == "%016x".format(
        Seq("dev-0000001", "org-000001").map(Canon.hash64).sum))
    if (failures > 0) sys.exit(1)
  }
}
