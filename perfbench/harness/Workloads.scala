package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.GraftFunctions._
import graft.pipeline.{Runner, Schemas, Sinks, Transform, Validate}

object LocalDirs {
  def exists(p: String): Boolean = Files.exists(Paths.get(p))

  def delete(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val all = Files.walk(root).iterator().asScala.toSeq.reverse
      all.foreach(Files.delete)
    }
  }

  private def files(p: String): Seq[Path] = {
    val root = Paths.get(p)
    if (!Files.exists(root)) Nil
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
  }

  def bytes(p: String): Long = files(p).map(Files.size).sum

  /** Data files (not checksums or markers) under a directory. */
  def dataFiles(p: String): Int =
    files(p).count(f => f.getFileName.toString.startsWith("part-"))
}

/** `ingest_backfill` and `ingest_incremental`: batches of
  * `Runner.run` followed by the DDL's constraint checks via `Validate`.
  * Backfill gives each batch an empty warehouse; incremental applies its
  * windows in order to one warehouse that set-up pre-populated. */
final class Ingest(spark: SparkSession, tracer: Tracer, work: String,
    warmWindows: Seq[String], history: Option[String], windows: Seq[String],
    backfill: Boolean) {

  private val entities = Seq("repos", "owners", "branches", "issues", "users")

  private def clean(wh: String, e: String): DataFrame =
    spark.read.parquet(s"$wh/${e}_clean")

  /** PK / UNIQUE / FK / CHECK rules of the warehouse DDL on the five clean
    * tables; returns violations per rule. */
  def validate(wh: String): Seq[Validate.Violation] = {
    val repos = clean(wh, "repos")
    val owners = clean(wh, "owners")
    val users = clean(wh, "users")
    val issues = clean(wh, "issues")
    val branches = clean(wh, "branches")
    def orNull(c: String, pred: org.apache.spark.sql.Column) = col(c).isNull || pred
    Validate.report(Seq(
      "pk_repos" -> Validate.uniqueViolations(repos, Seq("repo_id")),
      "pk_owners" -> Validate.uniqueViolations(owners, Seq("owner_id")),
      "pk_users" -> Validate.uniqueViolations(users, Seq("user_id")),
      "pk_issues" -> Validate.uniqueViolations(issues, Seq("issue_id")),
      "pk_branches" -> Validate.uniqueViolations(branches, Seq("branch_id")),
      "uq_owner_login" -> Validate.uniqueViolations(owners, Seq("owner_login")),
      "uq_user_login" -> Validate.uniqueViolations(users, Seq("user_login")),
      "uq_repo_full_name" -> Validate.uniqueViolations(repos, Seq("full_name")),
      "uq_branch_name" -> Validate.uniqueViolations(branches, Seq("repo_id", "branch_name")),
      "fk_repo_owner" -> Validate.fkOrphans(repos, "owner_id", owners, "owner_id"),
      "fk_issue_author" -> Validate.fkOrphans(issues, "author_id", users, "user_id"),
      "fk_issue_assignee" -> Validate.fkOrphans(
        issues.filter(col("assignee_id").isNotNull), "assignee_id", users, "user_id"),
      "fk_issue_repo" -> Validate.fkOrphans(issues, "repo_id", repos, "repo_id"),
      "fk_branch_repo" -> Validate.fkOrphans(branches, "repo_id", repos, "repo_id"),
      "ck_visibility" -> Validate.checkViolations(repos, Validate.visibilityValid(col("visibility"))),
      "ck_nonneg_counts" -> Validate.checkViolations(repos,
        col("stargazers_count") >= 0 && col("watchers_count") >= 0 &&
          col("forks_count") >= 0 && col("open_issues_count") >= 0),
      "ck_repo_ts_order" -> Validate.checkViolations(repos,
        orNull("updated_at", col("updated_at") >= col("created_at")) &&
          orNull("pushed_at", col("pushed_at") >= col("created_at"))),
      "ck_issue_ts_order" -> Validate.checkViolations(issues,
        orNull("updated_at", col("updated_at") >= col("created_at")) &&
          orNull("closed_at", col("closed_at") >= col("created_at"))),
      "ck_commit_sha_hex" -> Validate.checkViolations(branches,
        orNull("commit_sha", Validate.isHexSha(col("commit_sha"))))))
  }

  private def dimDigest(wh: String, e: String, loginCol: String): Option[(Long, String)] =
    try Some(Canon.digestStrings(
      clean(wh, e).select(loginCol).collect().map(_.getString(0)).toSeq))
    catch { case NonFatal(_) => None }

  def run(seconds: Double, trace: Boolean, setup: Main.Setup): Seq[Any] = {
    setup("warmup_s") {
      warmWindows.zipWithIndex.foreach { case (raw, i) =>
        val wh = s"$work/warm-$i"
        Runner.run(spark, raw, wh)
        validate(wh)
        LocalDirs.delete(wh)
      }
    }
    val shared = s"$work/warehouse"
    history.foreach(h => setup("prepopulate_s")(Runner.run(spark, h, shared)))
    setup.done()

    val ops = mutable.ArrayBuffer.empty[Any]
    Main.loop(seconds) { i =>
      val raw = if (backfill) windows.head else windows(i)
      val wh = if (backfill) s"$work/wh-$i" else shared
      val rotating = entities.filter(e => LocalDirs.exists(s"$wh/${e}_clean"))
      val traced = trace && i % 2 == 1
      tracer.enabled = traced
      var audits = Seq.empty[Runner.Audit]
      var violations = Seq.empty[Validate.Violation]
      var error: String = null
      val t0 = System.nanoTime()
      try tracer.span("batch", "window" -> raw) {
        audits = tracer.span("runner")(Runner.run(spark, raw, wh))
        violations = tracer.span("validate")(validate(wh))
      } catch { case NonFatal(e) => error = Main.errorText(e) }
      val latency = (System.nanoTime() - t0) / 1e9
      if (traced && error == null) probes(raw, wh)
      tracer.enabled = false
      val op = mutable.LinkedHashMap[String, Any](
        "kind" -> "batch", "index" -> i, "window" -> raw, "latency_s" -> latency,
        "traced" -> traced, "error" -> error,
        "audits" -> audits.map(a => Map("entity" -> a.entity, "in" -> a.rowsIn, "out" -> a.rowsOut)),
        "violations" -> violations.map(v => v.rule -> v.count).toMap,
        "dims" -> Map(
          "owners" -> dimDigest(wh, "owners", "owner_login").map { case (n, h) => Seq(n, h) },
          "users" -> dimDigest(wh, "users", "user_login").map { case (n, h) => Seq(n, h) }),
        "stored_bytes" -> LocalDirs.bytes(wh),
        "files_written" -> entities.map(e => LocalDirs.dataFiles(s"$wh/${e}_clean")).sum,
        "rotations" -> rotating.size)
      ops += op
      if (backfill) LocalDirs.delete(wh)
      Main.settle()
      backfill || i + 1 < windows.size
    }
    ops.toSeq
  }

  /** Traced batches only, after the batch's clock stopped: time each
    * pipeline layer alone by calling its public functions on the batch's
    * own input — raw scan, uuid5 keys, Transform, Sinks. */
  private def probes(rawDir: String, wh: String): Unit = tracer.span("probe") {
    def read(name: String, schema: org.apache.spark.sql.types.StructType) =
      spark.read.schema(schema).option("multiLine", "true").json(s"$rawDir/$name")
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val raws = Seq("repos_raw.json" -> Schemas.reposRaw,
      "branches_raw.json" -> Schemas.branchesRaw, "issues_raw.json" -> Schemas.issuesRaw)
    tracer.span("probe.scan")(raws.foreach { case (n, s) => noop(read(n, s)) })

    val Seq(repos, branches, issues) =
      raws.map { case (n, s) => Transform.withIngestOrd(read(n, s)).cache() }
    Seq(repos, branches, issues).foreach(_.count())
    val keys = Seq(
      repos.select(col("owner.login").as("o"),
        concat_ws("|", col("owner.login"), col("name")).as("r")),
      branches.select(concat_ws("|", col("repo_name"), col("name")).as("b")),
      issues.select(concat_ws("|", col("repo_name"), col("number")).as("i"),
        col("user.login").as("u"))).map(_.cache())
    val nKeys = keys.map(k => k.count() * k.columns.length).sum
    tracer.span("probe.expr", "keys" -> nKeys.toString) {
      noop(keys(0).select(ownerKey(col("o")), repoKey(col("r"))))
      noop(keys(1).select(branchKey(col("b"))))
      noop(keys(2).select(issueKey(col("i")), userKey(col("u"))))
    }
    keys.foreach(_.unpersist())

    val existingOwners = Some(clean(wh, "owners"))
    val existingUsers = Some(clean(wh, "users"))
    val cleaned = tracer.span("probe.transform") {
      val r = Transform.cleanRepos(repos).cache()
      val is = Transform.cleanIssues(issues, r).cache()
      val out = Seq(
        "repos" -> r,
        "owners" -> Transform.cleanOwners(r, existingOwners).cache(),
        "branches" -> Transform.cleanBranches(branches, r).cache(),
        "issues" -> is,
        "users" -> Transform.cleanUsers(is, existingUsers).cache())
      out.foreach(_._2.count())
      out
    }
    tracer.span("probe.sinks") {
      cleaned.foreach { case (e, df) =>
        Sinks.writeParquetWithRotation(df, s"$work/probe-sinks/$e")
      }
    }
    (cleaned.map(_._2) ++ Seq(repos, branches, issues)).foreach(_.unpersist())
    LocalDirs.delete(s"$work/probe-sinks")
  }
}

/** `analytics_mix`: passes over a frozen gate list in seeded orders. */
final class Mix(spark: SparkSession, tracer: Tracer, tables: TableCounter,
    data: String, warmPasses: Int, gates: Seq[String], orders: Seq[Seq[String]]) {

  import graft.queries._
  private val modules: Map[String, String] = Seq(
    "Relational" -> RelationalQueries.all, "Pipeline" -> PipelineQueries.all,
    "Dedup" -> DedupQueries.all, "Similarity" -> SimilarityQueries.all,
    "Text" -> TextQueries.all, "Multimodal" -> MultimodalQueries.all,
    "Advanced" -> AdvancedQueries.all, "Analytics" -> AnalyticsQueries.all,
    "Behavior" -> BehaviorQueries.all, "Corpus" -> CorpusQueries.all,
    "Graph" -> GraphQueries.all, "Incremental" -> IncrementalQueries.all,
    "Sketch" -> SketchQueries.all, "Layout" -> LayoutQueries.all,
    "Profiling" -> ProfilingQueries.all, "Linkage" -> LinkageQueries.all,
    "Eval" -> EvalQueries.all
  ).flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap
  private val fns = graft.SparkEntry.queries

  def run(seconds: Double, trace: Boolean, setup: Main.Setup): Seq[Any] = {
    val warmErrors = mutable.ArrayBuffer.empty[String]
    def warm(dir: String): Unit = gates.foreach { g =>
      try fns(g)(spark, dir).collect()
      catch { case NonFatal(e) => warmErrors += s"$g@$dir: ${Main.errorText(e)}" }
    }
    setup("warmup_s")((1 to warmPasses).foreach { _ =>
      GraphQueries.clearSweepMemos()
      warm(data)
    })
    setup.done()

    val ops = mutable.ArrayBuffer.empty[Any]
    ops += Map("kind" -> "warmup", "errors" -> warmErrors.toSeq)
    Main.loop(seconds) { k =>
      // Sweep memos would turn the next pass's sweep gates into pinned
      // reads; every pass pays them, as graft.Bench's passes do.
      GraphQueries.clearSweepMemos()
      Main.settle()
      val traced = trace && k % 2 == 1
      tracer.enabled = traced
      val t0 = System.nanoTime()
      tracer.span("pass") {
        orders(k % orders.size).foreach(g => ops += gate(g, k, traced))
      }
      ops += Map("kind" -> "pass", "index" -> k, "traced" -> traced,
        "latency_s" -> (System.nanoTime() - t0) / 1e9)
      tracer.enabled = false
      true
    }
    ops.toSeq
  }

  private def gate(g: String, pass: Int, traced: Boolean): Any = {
    var rows: Array[org.apache.spark.sql.Row] = null
    var planS = 0.0
    var error: String = null
    val (calls0, loads0) = (tables.calls.get, tables.loads.get)
    val t0 = System.nanoTime()
    try tracer.span(s"queries.${modules(g)}", "gate" -> g) {
      val df = tracer.span("plan") {
        val d = fns(g)(spark, data)
        d.queryExecution.executedPlan
        d
      }
      planS = (System.nanoTime() - t0) / 1e9
      rows = tracer.span("exec")(df.collect())
    } catch { case NonFatal(e) => error = Main.errorText(e) }
    val latency = (System.nanoTime() - t0) / 1e9
    val digest = Option(rows).map(r => Canon.digest(r.toSeq))
    mutable.LinkedHashMap[String, Any](
      "kind" -> "gate", "gate" -> g, "module" -> modules(g), "pass" -> pass,
      "traced" -> traced, "latency_s" -> latency, "plan_s" -> planS,
      "error" -> error, "rows" -> digest.map(_._1), "hash" -> digest.map(_._2),
      "table_calls" -> (tables.calls.get - calls0), "table_loads" -> (tables.loads.get - loads0))
  }
}
