package graft

import org.scalatest.funsuite.AnyFunSuite

/** The test session is built by `Session.local(4)`, the mains' recipe:
  * read its confs back, including two Spark defaults the mains rely on
  * without setting them. */
class SessionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("the recipe's session reads back the confs every main shares") {
    val conf = spark.conf
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "4000")
    assert(conf.get("spark.sql.shuffle.partitions").toInt ==
      spark.sparkContext.defaultParallelism)
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    // The periodic-GC interval is a core entry with no public reader;
    // read it the way Spark's ContextCleaner does, in seconds.
    val config = Class.forName("org.apache.spark.internal.config.package$")
    val entry = config.getMethod("CLEANER_PERIODIC_GC_INTERVAL")
      .invoke(config.getField("MODULE$").get(null))
    val periodicGc = spark.sparkContext.getConf.getClass
      .getMethod("get", Class.forName("org.apache.spark.internal.config.ConfigEntry"))
      .invoke(spark.sparkContext.getConf, entry)
    assert(periodicGc == java.lang.Long.valueOf(30 * 60))
    assert(spark.sql("SELECT fingerprint64('graft') AS fp").head().getLong(0) != 0L)
  }
}
