package graft

import org.apache.spark.sql.SparkSession

/** The one recipe for a Spark session: every main and the test session
  * call [[local]], so they differ only in the cpus and the few confs each
  * passes. */
object Session {

  /** A `local[cpus]` session with one shuffle partition per core, UTC
    * session time, no UI, the `graft.GraftExtensions` SQL functions and a
    * 4000-class codegen cache, at log level WARN. `confs` are applied
    * last, so they override the recipe.
    *
    * The whole-stage-codegen cache defaults to 100 entries. Bench's suite
    * compiles ~5 stages x 55 queries per pass, so the default LRU evicts
    * everything every pass and Janino recompiles the world: the warmup
    * pass only pays off if its compiled classes survive. A `Runner.run` +
    * `Validate.warehouse` batch alone needs ~142 classes, so with 100 every
    * warm batch compiles most of them again. */
  def local(cpus: Int, confs: (String, String)*): SparkSession = {
    val recipe = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
    val spark = confs.foldLeft(recipe) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `spark.local.dir` on tmpfs, so shuffle and spill files stay in
    * memory; the JVM's temp dir where /dev/shm is not writable. */
  def tmpfsLocalDir: (String, String) = {
    val d = new java.io.File("/dev/shm/graft-spark-local")
    "spark.local.dir" ->
      (if (d.exists() || d.mkdirs()) d.getAbsolutePath
       else System.getProperty("java.io.tmpdir"))
  }
}
