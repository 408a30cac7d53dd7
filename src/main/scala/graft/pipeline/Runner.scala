package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Session
import graft.expr.ReferenceConstant
import graft.ops.Staging

/** End-to-end pipeline orchestration: the reference's module-level run
  * (transform.py:492-497) as one idempotent function, planned along its
  * data dependencies — repos → {owners, branches, issues} → users —
  * rather than the reference's import order:
  *
  *  1. repos is staged ([[Sinks.stage]]) first;
  *  1. owners, branches and issues are staged concurrently
  *     ([[graft.ops.Staging.concurrently]]) from the staged repos frame,
  *     and users from the staged issues;
  *  1. all five tables are swapped in one pass ([[Sinks.swap]]: rotate,
  *     then rename, per table). Nothing rotates unless every staged write
  *     succeeded, so a failed run leaves the whole warehouse at its
  *     previous generation.
  *
  * Re-runs are idempotent by construction: deterministic uuid5 keys, keep-
  * last dedupe, and union-accumulate dimensions built on the stored
  * generation — current, else the backup a crash left ([[Sinks.readGeneration]];
  * the reference's `self.users_df` instance state, made durable). Nothing
  * moves before the swap, so that is still the previous window's
  * generation. Each entity reports before/after row counts (the A1/A3
  * audits), returned in the fixed order repos, owners, branches, issues,
  * users whatever order the stages finished in.
  *
  * `ingestedAt` is resolved once per run on the driver and reaches the
  * branches write by reference ([[graft.expr.ReferenceConstant]]), not
  * as an inlined literal, so a run over a window shaped like an earlier
  * one reuses that run's generated code and compiles nothing. */
object Runner {

  final case class Audit(entity: String, rowsIn: Long, rowsOut: Long)

  /** Entities whose rows accumulate over every window seen, so their
    * `rowsOut` is not `rowsIn` minus drops. */
  private val Dimensions = Set("owners", "users")

  private def rawOrNone(spark: SparkSession, path: String,
      schema: StructType): Option[DataFrame] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(Transform.withIngestOrd(
      spark.read.schema(schema).option("multiLine", "true").json(path)))
  }

  /** Run the full clean layer over a raw directory. Returns audits in
    * entity order. `ingestedAt` stamps every branch row; a column that
    * folds to one value (the default, a cast literal) is fixed when the
    * run starts. */
  def run(
      spark: SparkSession,
      rawDir: String,
      outDir: String,
      ingestedAt: Column = current_timestamp()): Seq[Audit] = {

    def dir(entity: String) = s"$outDir/${entity}_clean"

    // Single-pass audits (SURVEY §4): the in/out row counts ride the write
    // job as Observation metrics instead of the reference's len(df)
    // double-scan pattern (transform.py:121,140) — at warehouse scale a
    // count() audit is a second full scan of the entity. Raw inputs get an
    // input-side observe node; dimension sinks (owners/users) consume an
    // upstream CLEAN entity whose row count is already known from that
    // entity's own out-observation (cleanUsers reads its input twice —
    // authors ∪ assignees — so an input observe there would double-count).
    //
    // `rowsIn` is by-name: evaluated only after the write action completes,
    // when the input observation (if any) has its value.
    def stage(entity: String, cleaned: DataFrame, rowsIn: => Long): (DataFrame, Audit) = {
      val outObs = Observation(s"${entity}_out")
      val staged = Sinks.stage(dir(entity), cleaned.observe(outObs, count(lit(1)).as("n")))
      (staged, Audit(entity, rowsIn, outObs.get("n").asInstanceOf[Long]))
    }
    def stageRaw(entity: String, input: DataFrame)(clean: DataFrame => DataFrame)
        : (DataFrame, Audit) = {
      val inObs = Observation(s"${entity}_in")
      stage(entity, clean(input.observe(inObs, count(lit(1)).as("n"))),
        inObs.get("n").asInstanceOf[Long])
    }

    val reposRaw = rawOrNone(spark, s"$rawDir/repos_raw.json", Schemas.reposRaw)
      .getOrElse(sys.error(s"missing $rawDir/repos_raw.json"))
    val (repos, reposAudit) = stageRaw("repos", reposRaw)(Transform.cleanRepos)

    val branchesRaw = rawOrNone(spark, s"$rawDir/branches_raw.json", Schemas.branchesRaw)
    val issuesRaw = rawOrNone(spark, s"$rawDir/issues_raw.json", Schemas.issuesRaw)
    val ingested = ReferenceConstant.of(spark, ingestedAt)
    def generation(entity: String, schema: StructType) =
      Sinks.readGeneration(spark, dir(entity), Some(schema))
    val dependents = Staging.concurrently(Seq(
      () => Seq(stage("owners",
        Transform.cleanOwners(repos, generation("owners", Schemas.ownersClean)),
        reposAudit.rowsOut)._2),
      () => branchesRaw.toSeq.map(b =>
        stageRaw("branches", b)(Transform.cleanBranches(_, repos, ingested))._2),
      () => issuesRaw.toSeq.flatMap { i =>
        val (issues, issuesAudit) = stageRaw("issues", i)(Transform.cleanIssues(_, repos))
        Seq(issuesAudit, stage("users",
          Transform.cleanUsers(issues, generation("users", Schemas.usersClean)),
          issuesAudit.rowsOut)._2)
      })).flatten

    val audits = reposAudit +: dependents
    Sinks.swap(spark, audits.map(a => dir(a.entity)))
    audits
  }

  /** The CLI's line for one audit. A fact table's line carries the rows
    * its cleaning dropped; a dimension's rows accumulate over every window
    * seen, so its line gives the source rows and the dimension rows
    * without a difference. */
  def auditLine(a: Audit): String =
    if (Dimensions(a.entity))
      s"AUDIT ${a.entity}: source=${a.rowsIn} rows=${a.rowsOut}"
    else
      s"AUDIT ${a.entity}: in=${a.rowsIn} out=${a.rowsOut} " +
        s"dropped=${a.rowsIn - a.rowsOut}"

  /** CLI: run over the reference's committed raw fixtures, then check the
    * warehouse against the DDL's rules. */
  def main(args: Array[String]): Unit = {
    val rawDir = if (args.nonEmpty) args(0) else "/root/reference/data/raw_data"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_pipeline_out"
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    run(spark, rawDir, outDir).foreach(a => println(auditLine(a)))
    Validate.warehouse(spark, outDir).filter(_.count > 0)
      .foreach(v => println(s"VIOLATION ${v.rule}: ${v.count}"))
    spark.stop()
  }
}
