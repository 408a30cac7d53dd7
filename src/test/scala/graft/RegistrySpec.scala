package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  // the deployment-grade SQL surface: the test session is built by the
  // mains' recipe, which loads graft.GraftExtensions the way a cluster
  // user would, so specs can assert the config-only path end-to-end
  // (GraftExtensionsSpec)
  lazy val spark: SparkSession = Session.local(4)
}

class RegistrySpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query executes on sf0.001") {
    Registry.all.foreach { q =>
      val n = q.fn(spark, sf).count()
      assert(n >= 0, s"${q.name} failed")
    }
  }

  test("every oracle key has a query and column names line up") {
    val qm = SparkEntry.queries
    SparkEntry.oracleSql.keys.foreach(k => assert(qm.contains(k)))
  }

  test("gate output schemas ban hasher-divergent types (decimal/array/map)") {
    // The driver's hasher diverges on Spark-vs-DuckDB decimals (round-1
    // e5_casts; round-12 u4/do_num shipped because nothing inspected what a
    // gate physically EMITS) and its comparator crashes on array cells
    // (round-9). Schema ACCESS is analysis-only, but frame CONSTRUCTION
    // runs jobs for the pinned iterative ops (stagePin = eager
    // localCheckpoint inside g.fn), so this test executes the heavy tier
    // — acceptable while the suite budget holds; lint from Verify's
    // schemas.json dump instead if it stops holding.
    // timestamp_ntz is deliberately allowed: the corpus's tz-naive
    // timestamps hash identically on both engines (4 long-green gates)
    import org.apache.spark.sql.types._
    def offending(dt: DataType): Boolean = dt match {
      case _: DecimalType                => true
      case _: ArrayType                  => true
      case _: MapType                    => true
      case StructType(fs)                => fs.exists(f => offending(f.dataType))
      case _                             => false
    }
    Registry.all.foreach { g =>
      val bad = g.fn(spark, sf).schema.fields
        .filter(f => offending(f.dataType))
        .map(f => s"${f.name}: ${f.dataType.catalogString}")
      assert(bad.isEmpty,
        s"${g.name} emits hasher-divergent output column(s) ${bad.mkString(", ")} — " +
          "cast the final value to DOUBLE/STRING on both engine and oracle sides")
    }
    // the lint itself must fire: a deliberately-decimal frame is flagged
    val dec = spark.range(1).selectExpr("cast(id as decimal(38,0)) as d")
    assert(dec.schema.fields.exists(f => offending(f.dataType)),
      "lint failed to flag a deliberately-DECIMAL output schema")
  }

  test("registry names are unique and snake_case — map building drops nothing") {
    val names = Registry.all.map(_.name)
    val dupes = names.groupBy(identity).collect { case (n, vs) if vs.size > 1 => n }
    assert(dupes.isEmpty,
      s"duplicate query names silently shadow each other in queryMap: $dupes")
    names.foreach(n => assert(n.matches("[a-z0-9_]+"), s"non-snake name: $n"))
  }

  test("keep-last dedupe picks the later record") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), 10.0),
      (2L, "a", java.sql.Timestamp.valueOf("2024-01-01 00:00:02"), 20.0),
      (3L, "b", java.sql.Timestamp.valueOf("2024-01-01 00:00:03"), 30.0))
      .toDF("event_id", "event_type", "ts", "value")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy("event_type").orderBy(col("ts").desc, col("event_id").desc)
    val out = df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    val kept = out.select("event_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L, 3L))
  }
}
