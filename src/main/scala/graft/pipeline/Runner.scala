package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end pipeline orchestration: the reference's module-level run
  * (transform.py:492-497) as one idempotent function. Order preserved —
  * repos → owners → branches → issues → users — because owners accumulate
  * from repos and users from issues; unlike the reference, the ordering is
  * explicit here rather than an import side effect.
  *
  * Re-runs are idempotent by construction: deterministic uuid5 keys, keep-
  * last dedupe, and union-accumulate dimensions built on the stored
  * generation — current, else the backup a crash left ([[Sinks.readGeneration]];
  * the reference's `self.users_df` instance state, made durable). Every
  * entity write is a [[Sinks.commit]] (stage → rotate → rename, one backup
  * generation kept) and reports before/after row counts (the A1/A3 audits). */
object Runner {

  final case class Audit(entity: String, rowsIn: Long, rowsOut: Long)

  private def rawOrNone(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): Option[DataFrame] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(Transform.withIngestOrd(
      spark.read.schema(schema).option("multiLine", "true").json(path)))
  }

  /** Run the full clean layer over a raw directory. Returns audits in
    * execution order. */
  def run(
      spark: SparkSession,
      rawDir: String,
      outDir: String,
      ingestedAt: Column = current_timestamp()): Seq[Audit] = {

    var audits = Vector.empty[Audit]

    // Single-pass audits (SURVEY §4): the in/out row counts ride the write
    // job as Observation metrics instead of the reference's len(df)
    // double-scan pattern (transform.py:121,140) — at warehouse scale a
    // count() audit is a second full scan of the entity. Raw inputs get an
    // input-side observe node; dimension sinks (owners/users) consume an
    // upstream CLEAN entity whose row count is already known from that
    // entity's own out-observation (cleanUsers reads its input twice —
    // authors ∪ assignees — so an input observe there would double-count).
    def observedIn(entity: String, df: DataFrame): (DataFrame, Observation) = {
      val obs = Observation(s"${entity}_in")
      (df.observe(obs, count(lit(1)).as("n")), obs)
    }
    // `rowsIn` is by-name: evaluated only after the write action completes,
    // when the input observation (if any) has its value.
    def sink(entity: String, cleaned: DataFrame, rowsIn: => Long): Unit = {
      val outObs = Observation(s"${entity}_out")
      Sinks.writeParquetWithRotation(
        cleaned.observe(outObs, count(lit(1)).as("n")),
        s"$outDir/${entity}_clean")
      audits :+= Audit(entity, rowsIn, outObs.get("n").asInstanceOf[Long])
    }
    // Only entities a later step consumes are read back: each read-back
    // costs a schema-inference job.
    def stored(entity: String): DataFrame =
      spark.read.parquet(s"$outDir/${entity}_clean")
    def rowsOut(entity: String): Long =
      audits.find(_.entity == entity).get.rowsOut

    val reposRaw = rawOrNone(spark, s"$rawDir/repos_raw.json", Schemas.reposRaw)
      .getOrElse(sys.error(s"missing $rawDir/repos_raw.json"))
    val (reposRawObs, reposIn) = observedIn("repos", reposRaw)
    sink("repos", Transform.cleanRepos(reposRawObs),
      reposIn.get("n").asInstanceOf[Long])
    val reposClean = stored("repos")

    sink("owners",
      Transform.cleanOwners(reposClean,
        Sinks.readGeneration(spark, s"$outDir/owners_clean")),
      rowsOut("repos"))

    rawOrNone(spark, s"$rawDir/branches_raw.json", Schemas.branchesRaw)
      .foreach { braw =>
        val (brawObs, brIn) = observedIn("branches", braw)
        sink("branches",
          Transform.cleanBranches(brawObs, reposClean, ingestedAt),
          brIn.get("n").asInstanceOf[Long])
      }

    rawOrNone(spark, s"$rawDir/issues_raw.json", Schemas.issuesRaw)
      .foreach { iraw =>
        val (irawObs, iIn) = observedIn("issues", iraw)
        sink("issues",
          Transform.cleanIssues(irawObs, reposClean),
          iIn.get("n").asInstanceOf[Long])
        sink("users",
          Transform.cleanUsers(stored("issues"),
            Sinks.readGeneration(spark, s"$outDir/users_clean")),
          rowsOut("issues"))
      }

    audits
  }

  /** CLI: run over the reference's committed raw fixtures. */
  def main(args: Array[String]): Unit = {
    val rawDir = if (args.nonEmpty) args(0) else "/root/reference/data/raw_data"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_pipeline_out"
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val audits = run(spark, rawDir, outDir)
    audits.foreach(a =>
      println(s"AUDIT ${a.entity}: in=${a.rowsIn} out=${a.rowsOut} " +
        s"dropped=${a.rowsIn - a.rowsOut}"))
    spark.stop()
  }
}
