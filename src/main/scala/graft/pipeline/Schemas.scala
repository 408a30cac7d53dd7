package graft.pipeline

import org.apache.spark.sql.types._

/** Explicit raw-layer schemas (keep-list fields only — Catalyst prunes the
  * rest of the GitHub payload at the scan). Nested objects stay nested:
  * Spark reads `owner.id` etc. directly, replacing the reference's
  * json_normalize flattening pass (reference: transform.py:83,213,352).
  */
object Schemas {

  /** transform.py:85-108 keep-list; sample data/raw_data/repos_raw.json. */
  val reposRaw: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("full_name", StringType),
    StructField("description", StringType),
    StructField("topics", ArrayType(StringType)),
    StructField("language", StringType),
    StructField("owner", StructType(Seq(
      StructField("id", LongType),
      StructField("login", StringType)))),
    StructField("visibility", StringType),
    StructField("private", BooleanType),
    StructField("disabled", BooleanType),
    StructField("fork", BooleanType),
    StructField("archived", BooleanType),
    StructField("default_branch", StringType),
    StructField("stargazers_count", LongType),
    StructField("watchers_count", LongType),
    StructField("forks_count", LongType),
    StructField("forks", LongType),
    StructField("open_issues_count", LongType),
    StructField("created_at", StringType),
    StructField("updated_at", StringType),
    StructField("pushed_at", StringType)))

  /** transform.py:215-232 keep-list; `repo_name` injected at extraction
    * (extract.py:108-110). GitHub /issues returns PRs too — kept, with
    * pull_request.merged_at surfacing as pr_merged_at. */
  val issuesRaw: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("repo_name", StringType),
    StructField("number", LongType),
    StructField("title", StringType),
    StructField("user", StructType(Seq(
      StructField("id", LongType),
      StructField("login", StringType)))),
    StructField("state", StringType),
    StructField("locked", BooleanType),
    StructField("comments", LongType),
    StructField("pull_request", StructType(Seq(
      StructField("merged_at", StringType)))),
    StructField("created_at", StringType),
    StructField("updated_at", StringType),
    StructField("closed_at", StringType),
    StructField("labels", ArrayType(StructType(Seq(
      StructField("name", StringType))))),
    StructField("assignee", StructType(Seq(
      StructField("id", LongType),
      StructField("login", StringType))))))

  /** transform.py:354-359 keep-list; sample data/raw_data/branches_raw.json. */
  val branchesRaw: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("protected", BooleanType),
    StructField("repo_name", StringType),
    StructField("commit", StructType(Seq(
      StructField("sha", StringType),
      StructField("url", StringType))))))

  /** Clean-layer output column orders (transform.py:199-206,341-345,411). */
  val reposCleanCols: Seq[String] = Seq(
    "repo_id", "github_repo_id", "repo_name", "full_name", "description",
    "topics", "language", "owner_id", "github_owner_id", "owner_login",
    "visibility", "private", "disabled", "fork", "archived",
    "default_branch", "stargazers_count", "watchers_count", "forks_count",
    "forks", "open_issues_count", "created_at", "updated_at", "pushed_at")

  val issuesCleanCols: Seq[String] = Seq(
    "issue_id", "github_issue_id", "number", "author_id",
    "github_author_id", "author_login", "title", "state", "locked",
    "comments", "pr_merged_at", "created_at", "updated_at", "closed_at",
    "labels", "assignee_id", "assignee_login", "repo_id")

  val branchesCleanCols: Seq[String] = Seq(
    "branch_id", "branch_name", "protected", "commit_sha", "repo_id",
    "ingested_at")

  /** The accumulated dimensions as stored (transform.py:442-451,
    * 466-489): uuid5 key and login, both strings. Reading a stored
    * generation with these starts no schema-inference job. */
  val ownersClean: StructType = StructType(Seq(
    StructField("owner_id", StringType),
    StructField("owner_login", StringType)))

  val usersClean: StructType = StructType(Seq(
    StructField("user_id", StringType),
    StructField("user_login", StringType)))
}
