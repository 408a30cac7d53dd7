package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Issue-path semantics over a synthetic raw fixture (issues_raw.json is
  * missing from the reference snapshot): F3 dropna, D2 keep-last, F6
  * FK-orphan drop, F7 conditional assignee key, E3 labels join, PR
  * passthrough, plus cleanUsers union/dedupe/accumulate and the Validate
  * operators and their one-action report. */
class PipelineSemanticsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def issuesFixture = {
    val page1 =
      """[
        |{"id": 1, "number": 449, "title": "old title", "user": {"id": 10, "login": "alice"},
        | "state": "open", "locked": false, "comments": 0,
        | "created_at": "2026-01-21T04:55:45Z", "updated_at": "2026-01-21T04:55:45Z",
        | "closed_at": null, "labels": [], "assignee": null},
        |{"id": 2, "number": 450, "title": "a PR", "user": {"id": 11, "login": "bob"},
        | "state": "closed", "locked": true, "comments": 3,
        | "pull_request": {"merged_at": "2026-01-22T10:00:00Z"},
        | "created_at": "2026-01-20T00:00:00Z", "updated_at": "2026-01-22T10:00:00Z",
        | "closed_at": "2026-01-22T10:00:00Z",
        | "labels": [{"name": "bug"}, {"name": "p1"}],
        | "assignee": {"id": 12, "login": "carol"}},
        |{"id": 3, "number": 451, "title": "no author", "user": null,
        | "state": "open", "locked": false, "comments": 0,
        | "created_at": "2026-01-21T00:00:00Z", "updated_at": null,
        | "closed_at": null, "labels": [], "assignee": null}
        |]""".stripMargin
    val page2 =
      """[
        |{"id": 1, "number": 449, "title": "new title", "user": {"id": 10, "login": "alice"},
        | "state": "closed", "locked": false, "comments": 5,
        | "created_at": "2026-01-21T04:55:45Z", "updated_at": "2026-01-23T00:00:00Z",
        | "closed_at": "2026-01-23T00:00:00Z", "labels": [], "assignee": null}
        |]""".stripMargin
    Seq(page1, page2)
  }

  private def reposDim = {
    import spark.implicits._
    Seq(("repo-uuid-1", ".github")).toDF("repo_id", "repo_name")
  }

  private lazy val cleaned = {
    val schema = Schemas.issuesRaw.copy(fields =
      Schemas.issuesRaw.fields.filterNot(_.name == "repo_name"))
    val raw = Extract.parsePages(spark, issuesFixture, schema,
      tag = Some("repo_name" -> ".github"))
    Transform.cleanIssues(raw, reposDim)
  }

  test("keep-last dedupe: the page-2 version of issue 1 wins") {
    val r = cleaned.filter(col("github_issue_id") === 1).collect()
    assert(r.length == 1)
    assert(r.head.getAs[String]("title") == "new title")
    assert(r.head.getAs[Long]("comments") == 5L)
  }

  test("dropna: authorless issue 3 is dropped") {
    assert(cleaned.filter(col("github_issue_id") === 3).count() == 0)
  }

  test("issue key formula matches the reference vector") {
    // uuid5(github.issue, ".github|449") from the reference's own output
    val r = cleaned.filter(col("github_issue_id") === 1).head()
    assert(r.getAs[String]("issue_id") == "da33bf29-9415-5d28-8475-d5dd2093296e")
  }

  test("conditional assignee key (F7) and labels join (E3) and PR passthrough") {
    val pr = cleaned.filter(col("github_issue_id") === 2).head()
    assert(pr.getAs[String]("assignee_login") == "carol")
    assert(pr.getAs[String]("assignee_id") != null)
    assert(pr.getAs[String]("labels") == "bug,p1")
    assert(pr.getAs[java.sql.Timestamp]("pr_merged_at") != null)
    val plain = cleaned.filter(col("github_issue_id") === 1).head()
    assert(plain.getAs[String]("assignee_id") == null)
    assert(plain.getAs[String]("labels") == null)
    assert(plain.getAs[java.sql.Timestamp]("pr_merged_at") == null)
  }

  test("F6: issues for unknown repos are dropped after the FK join") {
    val schema = Schemas.issuesRaw.copy(fields =
      Schemas.issuesRaw.fields.filterNot(_.name == "repo_name"))
    val raw = Extract.parsePages(spark, issuesFixture, schema,
      tag = Some("repo_name" -> "not-a-repo"))
    assert(Transform.cleanIssues(raw, reposDim).count() == 0)
  }

  test("cleanUsers: authors ∪ assignees, dedupe, union-accumulate") {
    import spark.implicits._
    val users = Transform.cleanUsers(cleaned)
    val logins = users.select("user_login").as[String].collect().toSet
    assert(logins == Set("alice", "bob", "carol"))

    // accumulate: existing dimension wins, new users appended
    val existing = Seq(("u-old", "dave")).toDF("user_id", "user_login")
    val acc = Transform.cleanUsers(cleaned, Some(existing))
    assert(acc.count() == 4)
  }

  test("validation operators: unique, fk, check") {
    import spark.implicits._
    val df = Seq((1, "a"), (1, "b"), (2, "c")).toDF("k", "v")
    assert(Validate.uniqueViolations(df, Seq("k")).count() == 1)
    val parent = Seq(2).toDF("k2")
    assert(Validate.fkOrphans(df, "k", parent, "k2").count() == 2)
    assert(Validate.checkViolations(df, col("k") >= 0).count() == 0)
    assert(Validate.checkViolations(df, col("k") > 1).count() == 2)
  }

  private def reportRules = {
    import spark.implicits._
    val df = Seq((1, "a"), (1, "b"), (2, "c"), (3, "c")).toDF("k", "v")
    val parent = Seq(2).toDF("k2")
    val empty = df.filter(lit(false))
    Seq(
      "fk_k" -> Validate.fkOrphans(df, "k", parent, "k2"),
      "pk_k" -> Validate.uniqueViolations(df, Seq("k")),
      "ck_nonneg" -> Validate.checkViolations(df, col("k") >= 0),
      "uq_v" -> Validate.uniqueViolations(df, Seq("v")),
      "pk_k" -> Validate.uniqueViolations(df, Seq("k", "v")),
      "ck_empty" -> Validate.checkViolations(empty, col("k") > 100),
      "ck_small" -> Validate.checkViolations(df, col("k") < 3))
  }

  test("validation report: one violation per rule, in rule order") {
    val rules = reportRules
    val expected = rules.map { case (name, viol) =>
      Validate.Violation(name, viol.count()) }
    assert(expected.map(_.count) == Seq(3L, 1L, 0L, 1L, 0L, 0L, 1L))
    assert(Validate.report(rules) == expected)
    assert(Validate.report(Nil) == Nil)
  }

  test("validation report runs every rule in one action") {
    val rules = reportRules
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        actions.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, error: Exception): Unit =
        failures.incrementAndGet()
    }
    spark.listenerManager.register(listener)
    try {
      Validate.report(rules)
      Thread.sleep(2000) // listener bus is async; let the events drain
    } finally spark.listenerManager.unregister(listener)
    assert(failures.get() == 0)
    assert(actions.get() == 1,
      s"report over ${rules.size} rules ran ${actions.get()} actions")
  }
}
