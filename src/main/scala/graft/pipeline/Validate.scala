package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Constraint operators replacing the warehouse DDL's enforcement
  * (migrations/001_core_schema.sql:45-192): Spark enforces nothing, so
  * each PK/UNIQUE/FK/CHECK becomes an audit that returns violations.
  * All audits are single-pass aggregates or joins — no collect loops —
  * so they run at any scale the underlying tables do. */
object Validate {

  final case class Violation(rule: String, count: Long)

  /** PK / UNIQUE: groups with more than one row (001_core_schema.sql:46...). */
  def uniqueViolations(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /** FK: child rows whose key has no parent (left-anti = orphan set). */
  def fkOrphans(child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String): DataFrame =
    child.join(parent.select(col(parentKey)),
      child(childKey) === parent(parentKey), "left_anti")

  /** CHECK: rows violating a boolean predicate. */
  def checkViolations(df: DataFrame, predicate: Column): DataFrame =
    df.filter(!coalesce(predicate, lit(false)))

  /** All five warehouse-table rule families in one report, one Spark action
    * for every rule: each rule's violation rows are tagged with its
    * position, the tagged frames are unioned, and one `groupBy` counts
    * the tags; a rule with no violations has no tag and counts 0.
    * Per-job overhead, not scan work, dominated the one-count-per-rule
    * audit (19 rules over a 25k-record window on 4 cores: 0.385 s of busy
    * tasks in 2.67 s), so one plan lets AQE submit every independent
    * scan, shuffle and broadcast stage together. The single aggregate
    * also keeps the generated code the same from call to call: AQE names
    * whole-stage classes in stage-creation order, and a count exchange
    * per rule would be created as each racing child stage finished, so
    * every call over the same tables compiled classes anew. The union's
    * one exchange is created only after every child stage has finished.
    * Results come back in the order of `rules`. Timestamp-ordering, enum,
    * non-negative and hex checks are the DDL's
    * (001_core_schema.sql:104-119,187-190). */
  def report(rules: Seq[(String, DataFrame)]): Seq[Violation] =
    if (rules.isEmpty) Nil
    else {
      val counts = rules.zipWithIndex
        .map { case ((_, viol), i) => viol.select(lit(i).as("i")) }
        .reduce(_ union _)
        .groupBy("i").count()
        .collect()
        .map(r => r.getInt(0) -> r.getLong(1))
        .toMap
      rules.zipWithIndex.map { case ((name, _), i) =>
        Violation(name, counts.getOrElse(i, 0L))
      }
    }

  /** The warehouse DDL's 19 PK / UNIQUE / FK / CHECK rules
    * (001_core_schema.sql:46-190) over the five clean tables under `dir`
    * (`<dir>/<entity>_clean`), counted by one [[report]] in a fixed
    * order. NULL passes the timestamp-order and commit-sha checks; every
    * other CHECK counts a NULL as a violation. */
  def warehouse(spark: SparkSession, dir: String): Seq[Violation] = {
    def clean(entity: String) = spark.read.parquet(s"$dir/${entity}_clean")
    val repos = clean("repos")
    val owners = clean("owners")
    val users = clean("users")
    val issues = clean("issues")
    val branches = clean("branches")
    def orNull(c: String, pred: Column) = col(c).isNull || pred
    report(Seq(
      "pk_repos" -> uniqueViolations(repos, Seq("repo_id")),
      "pk_owners" -> uniqueViolations(owners, Seq("owner_id")),
      "pk_users" -> uniqueViolations(users, Seq("user_id")),
      "pk_issues" -> uniqueViolations(issues, Seq("issue_id")),
      "pk_branches" -> uniqueViolations(branches, Seq("branch_id")),
      "uq_owner_login" -> uniqueViolations(owners, Seq("owner_login")),
      "uq_user_login" -> uniqueViolations(users, Seq("user_login")),
      "uq_repo_full_name" -> uniqueViolations(repos, Seq("full_name")),
      "uq_branch_name" -> uniqueViolations(branches, Seq("repo_id", "branch_name")),
      "fk_repo_owner" -> fkOrphans(repos, "owner_id", owners, "owner_id"),
      "fk_issue_author" -> fkOrphans(issues, "author_id", users, "user_id"),
      "fk_issue_assignee" -> fkOrphans(
        issues.filter(col("assignee_id").isNotNull), "assignee_id", users, "user_id"),
      "fk_issue_repo" -> fkOrphans(issues, "repo_id", repos, "repo_id"),
      "fk_branch_repo" -> fkOrphans(branches, "repo_id", repos, "repo_id"),
      "ck_visibility" -> checkViolations(repos, visibilityValid(col("visibility"))),
      "ck_nonneg_counts" -> checkViolations(repos,
        col("stargazers_count") >= 0 && col("watchers_count") >= 0 &&
          col("forks_count") >= 0 && col("open_issues_count") >= 0),
      "ck_repo_ts_order" -> checkViolations(repos,
        orNull("updated_at", col("updated_at") >= col("created_at")) &&
          orNull("pushed_at", col("pushed_at") >= col("created_at"))),
      "ck_issue_ts_order" -> checkViolations(issues,
        orNull("updated_at", col("updated_at") >= col("created_at")) &&
          orNull("closed_at", col("closed_at") >= col("created_at"))),
      "ck_commit_sha_hex" -> checkViolations(branches,
        orNull("commit_sha", isHexSha(col("commit_sha"))))))
  }

  val ShaHex = "^[0-9a-fA-F]{40}$"

  def isHexSha(c: Column): Column = c.rlike(ShaHex)

  def visibilityValid(c: Column): Column =
    c.isin("public", "private", "internal")
}
