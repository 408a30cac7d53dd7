package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.expr.GraftFunctions._

/** The five clean-layer transformations of the reference pipeline
  * (transform.py:81-497), re-expressed as pure `DataFrame => DataFrame`
  * functions. Data semantics are preserved exactly — drop rules, keep-last
  * dedupe, key formulas, null handling, PR passthrough — while the
  * reference's incidental bugs (`_log_issues` typo, duplicate astype key,
  * transform.py:143/458) are not reproduced.
  *
  * Every step is declarative so Catalyst prunes columns into the JSON/
  * parquet scan and picks broadcast joins for the dimension lookups. The
  * only shuffles are the keep-last window (partitioned by natural key) and
  * the final FK join when the repo dimension exceeds the broadcast
  * threshold — both scale linearly with input on a real cluster.
  */
object Transform {

  /** Keep-last dedupe (transform.py:135-138 semantics). pandas gets row
    * order implicitly; a distributed engine must carry an explicit
    * ingestion ordinal — attach one with [[withIngestOrd]] at the source,
    * or pass the column that encodes arrival order. */
  def dedupeKeepLast(df: DataFrame, keys: Seq[String], ord: Column): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord.desc)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Ingestion ordinal for a freshly-read raw batch. Files read with
    * multiLine=true land one partition per file, so
    * monotonically_increasing_id reproduces file order — the same
    * "later page wins" order the reference relies on. */
  def withIngestOrd(df: DataFrame): DataFrame =
    df.withColumn("_ingest_ord", monotonically_increasing_id())

  private def parseTs(c: Column): Column = try_to_timestamp(c)

  private def boolToInt(c: Column): Column = c.cast(IntegerType)

  /** transform.py:81-209 — project/rename, dropna, keep-last dedupe,
    * uuid5 keys, casts, topics join, timestamp coercion, column order. */
  def cleanRepos(raw: DataFrame): DataFrame = {
    val ord =
      if (raw.columns.contains("_ingest_ord")) col("_ingest_ord")
      else lit(0)
    val projected = raw.select(
      col("id").cast(LongType).as("github_repo_id"),
      col("name").cast(StringType).as("repo_name"),
      col("full_name").cast(StringType).as("full_name"),
      col("description").cast(StringType).as("description"),
      col("topics").as("topics_arr"),
      col("language").cast(StringType).as("language"),
      col("owner.id").cast(LongType).as("github_owner_id"),
      col("owner.login").cast(StringType).as("owner_login"),
      col("visibility").cast(StringType).as("visibility"),
      col("private").as("private_b"),
      col("disabled").as("disabled_b"),
      col("fork").as("fork_b"),
      col("archived").as("archived_b"),
      col("default_branch").cast(StringType).as("default_branch"),
      col("stargazers_count").cast(LongType).as("stargazers_count"),
      col("watchers_count").cast(LongType).as("watchers_count"),
      col("forks_count").cast(LongType).as("forks_count"),
      col("forks").cast(LongType).as("forks"),
      col("open_issues_count").cast(LongType).as("open_issues_count"),
      col("created_at").as("created_at_s"),
      col("updated_at").as("updated_at_s"),
      col("pushed_at").as("pushed_at_s"),
      ord.as("_ord"))

    val filtered = projected.na.drop(
      Seq("github_repo_id", "github_owner_id", "owner_login"))

    val deduped =
      dedupeKeepLast(filtered, Seq("github_repo_id"), col("_ord"))

    deduped
      .withColumn("repo_id",
        repoKey(concat_ws("|", col("owner_login"), col("repo_name"))))
      .withColumn("owner_id", ownerKey(col("owner_login")))
      .withColumn("topics",
        when(size(col("topics_arr")) > 0, array_join(col("topics_arr"), ","))
          .otherwise(lit(null).cast(StringType)))
      .withColumn("created_at", parseTs(col("created_at_s")))
      .withColumn("updated_at", parseTs(col("updated_at_s")))
      .withColumn("pushed_at", parseTs(col("pushed_at_s")))
      .withColumn("private", boolToInt(col("private_b")))
      .withColumn("disabled", boolToInt(col("disabled_b")))
      .withColumn("fork", boolToInt(col("fork_b")))
      .withColumn("archived", boolToInt(col("archived_b")))
      .select(Schemas.reposCleanCols.map(col): _*)
  }

  /** Deterministic dimension upsert: existing rows win over incoming for
    * the same key (pandas `drop_duplicates(keep='first')` after a
    * concat([existing, incoming]) — transform.py:442-451). A plain
    * `dropDuplicates` keeps an ARBITRARY row after a shuffle; the priority
    * window pins the semantics. */
  private def upsertKeepExisting(
      existing: Option[DataFrame], incoming: DataFrame,
      key: String): DataFrame = {
    val unioned = existing match {
      case Some(e) =>
        e.select(incoming.columns.map(col): _*).withColumn("_pri", lit(0))
          .unionByName(incoming.withColumn("_pri", lit(1)))
      case None => incoming.withColumn("_pri", lit(0))
    }
    val w = Window.partitionBy(key).orderBy(col("_pri").asc)
    unioned
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_pri", "_rn")
  }

  /** transform.py:466-489 — owner dimension via union-accumulate upsert:
    * project distinct owners from clean repos, union into the accumulated
    * dimension, existing wins per key. */
  def cleanOwners(reposClean: DataFrame, existing: Option[DataFrame] = None): DataFrame = {
    val incoming = reposClean
      .select(col("owner_id"), col("owner_login"))
      .na.drop(Seq("owner_id", "owner_login"))
      .dropDuplicates("owner_id") // id => login is functional (uuid5 of login)
    upsertKeepExisting(existing.map(_.select("owner_id", "owner_login")),
      incoming, "owner_id")
  }

  /** transform.py:350-414 — branches: dropna, keep-last on the composite
    * natural key, uuid5 branch key, FK-resolving left join to repos
    * (dimension side broadcast when small), bool encode, injectable
    * ingestion timestamp for deterministic testing (E7). A foldable
    * `ingestedAt` is inlined into the generated code as a literal, so
    * each new value compiles the write stage anew; `Runner` passes its
    * per-run value by reference ([[graft.expr.ReferenceConstant]]) so
    * every run reuses one compiled stage. */
  def cleanBranches(
      raw: DataFrame,
      reposClean: DataFrame,
      ingestedAt: Column = current_timestamp()): DataFrame = {
    val ord =
      if (raw.columns.contains("_ingest_ord")) col("_ingest_ord") else lit(0)
    val projected = raw.select(
      col("name").cast(StringType).as("branch_name"),
      col("protected").as("protected_b"),
      col("commit.sha").cast(StringType).as("commit_sha"),
      col("repo_name").cast(StringType).as("repo_name"),
      ord.as("_ord"))

    val filtered = projected.na.drop(Seq("branch_name"))
    val deduped =
      dedupeKeepLast(filtered, Seq("repo_name", "branch_name"), col("_ord"))

    deduped
      .withColumn("branch_id",
        branchKey(concat_ws("|", col("repo_name"), col("branch_name"))))
      .join(broadcast(reposClean.select("repo_id", "repo_name")),
        Seq("repo_name"), "left")
      .drop("repo_name")
      .withColumn("protected", boolToInt(col("protected_b")))
      .withColumn("ingested_at", ingestedAt)
      .select(Schemas.branchesCleanCols.map(col): _*)
  }

  /** transform.py:211-348 — issues (and PRs): dropna, keep-last dedupe,
    * author/assignee/issue uuid5 keys (assignee conditional — F7), FK join
    * to repos with orphan audit-drop (F6), 4-way timestamp coercion,
    * labels array-of-structs to comma-joined names (E3). */
  def cleanIssues(raw: DataFrame, reposClean: DataFrame): DataFrame = {
    val ord =
      if (raw.columns.contains("_ingest_ord")) col("_ingest_ord") else lit(0)
    val projected = raw.select(
      col("id").cast(LongType).as("github_issue_id"),
      col("repo_name").cast(StringType).as("repo_name"),
      col("number").cast(LongType).as("number"),
      col("title").cast(StringType).as("title"),
      col("user.id").cast(LongType).as("github_author_id"),
      col("user.login").cast(StringType).as("author_login"),
      col("state").cast(StringType).as("state"),
      col("locked").as("locked_b"),
      col("comments").cast(LongType).as("comments"),
      col("pull_request.merged_at").as("pr_merged_at_s"),
      col("created_at").as("created_at_s"),
      col("updated_at").as("updated_at_s"),
      col("closed_at").as("closed_at_s"),
      col("labels").as("labels_arr"),
      col("assignee.login").cast(StringType).as("assignee_login"),
      ord.as("_ord"))

    val filtered = projected.na.drop(
      Seq("github_issue_id", "repo_name", "author_login", "github_author_id"))

    val deduped =
      dedupeKeepLast(filtered, Seq("github_issue_id"), col("_ord"))

    val keyed = deduped
      .withColumn("issue_id",
        issueKey(concat_ws("|", col("repo_name"), col("number"))))
      .withColumn("author_id", userKey(col("author_login")))
      .withColumn("assignee_id",
        when(col("assignee_login").isNotNull, userKey(col("assignee_login")))
          .otherwise(lit(null).cast(StringType)))

    // F6: left join + drop orphans recovers inner-join semantics, but keeps
    // the orphan count observable for the audit log (transform.py:301-308).
    keyed
      .join(broadcast(reposClean.select("repo_id", "repo_name")),
        Seq("repo_name"), "left")
      .filter(col("repo_id").isNotNull)
      .drop("repo_name")
      .withColumn("locked", boolToInt(col("locked_b")))
      .withColumn("pr_merged_at", parseTs(col("pr_merged_at_s")))
      .withColumn("created_at", parseTs(col("created_at_s")))
      .withColumn("updated_at", parseTs(col("updated_at_s")))
      .withColumn("closed_at", parseTs(col("closed_at_s")))
      .withColumn("labels",
        when(size(col("labels_arr")) > 0,
          array_join(transform(col("labels_arr"), l => l("name")), ","))
          .otherwise(lit(null).cast(StringType)))
      .select(Schemas.issuesCleanCols.map(col): _*)
  }

  /** transform.py:416-464 — user dimension: authors ∪ assignees, dropna,
    * keep-first dedupe, union-accumulate into the existing dimension. */
  def cleanUsers(issuesClean: DataFrame, existing: Option[DataFrame] = None): DataFrame = {
    val authors = issuesClean
      .select(col("author_id").as("user_id"), col("author_login").as("user_login"))
    val assignees = issuesClean
      .select(col("assignee_id").as("user_id"), col("assignee_login").as("user_login"))
    val incoming = authors
      .unionByName(assignees)
      .na.drop(Seq("user_id", "user_login"))
      .dropDuplicates("user_id") // id => login is functional (uuid5 of login)
    upsertKeepExisting(existing.map(_.select("user_id", "user_login")),
      incoming, "user_id")
  }
}
