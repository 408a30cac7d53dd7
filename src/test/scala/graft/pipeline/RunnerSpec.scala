package graft.pipeline

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** End-to-end: full pipeline over the reference's committed raw fixtures,
  * run twice — outputs must match the reference counts and be identical
  * across re-runs (the pipeline's core incremental invariant) — and over
  * distinct windows into one warehouse, where the dimensions must
  * accumulate every window seen so far, a failed run must move no table,
  * a re-delivered window must change no clean table, every Spark job
  * must carry the caller's local properties, and a warm batch must
  * compile no classes. */
class RunnerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val rawDir = "/root/reference/data/raw_data"

  test("full run produces reference row counts; re-run is idempotent") {
    val outDir = Files.createTempDirectory("graft_runner").toString
    val ts = lit("2026-02-02 18:38:47").cast("timestamp")

    // Audits must ride the write jobs as Observation metrics (SURVEY §4) —
    // no job may originate from a count() in Runner (the reference's
    // len(df) double-scan audit, transform.py:121,140).
    val countJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        // a job's call site is its stages' name
        if (js.stageInfos.exists(si =>
            si.name.startsWith("count at") && si.name.contains("Runner")))
          countJobs.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val audits1 = Runner.run(spark, rawDir, outDir, ts)
    Thread.sleep(2000) // listener bus is async; let job-start events drain
    spark.sparkContext.removeSparkListener(listener)
    assert(countJobs.get() == 0,
      s"audits spawned ${countJobs.get()} count() scan jobs — must be observe()-only")
    val byEntity = audits1.map(a => a.entity -> a.rowsOut).toMap
    assert(byEntity("repos") == 300)
    assert(byEntity("owners") == 1)
    assert(byEntity("branches") == 2628)

    val repos1 = spark.read.parquet(s"$outDir/repos_clean").collect().toSet

    val audits2 = Runner.run(spark, rawDir, outDir, ts)
    assert(audits2.map(a => a.entity -> a.rowsOut).toMap == byEntity)
    val repos2 = spark.read.parquet(s"$outDir/repos_clean").collect().toSet
    assert(repos1 == repos2, "re-run must reproduce identical clean output")

    // rotation: after the second run the backup generation exists and is
    // itself the first run's output
    val backup = spark.read.parquet(s"$outDir/repos_clean_backup").collect().toSet
    assert(backup == repos1)
  }

  /** Raw window `w` under `root`: repo w (owner o<w>) plus re-deliveries
    * of the earlier `repos`, one branch and one issue on repo w by author
    * a<w> assigned to s<w>. Every field the DDL's CHECK rules read is
    * set, with counts and timestamps that change per window, so a table
    * that advanced to a later window differs from an earlier one. */
  private def window(root: java.nio.file.Path, w: Int, repos: Seq[Int]): String = {
    val dir = Files.createDirectories(root.resolve(s"raw$w"))
    def write(name: String, rows: Seq[String]): Unit =
      Files.writeString(dir.resolve(name), rows.mkString("[", ",\n", "]"))
    val ts = f"2024-01-$w%02dT00:00:00Z"
    write("repos_raw.json", repos.map(r =>
      s"""{"id": $r, "name": "r$r", "full_name": "o$r/r$r",
         | "owner": {"id": ${100 + r}, "login": "o$r"}, "visibility": "public",
         | "stargazers_count": ${10 * w + r}, "watchers_count": $w,
         | "forks_count": 0, "forks": 0, "open_issues_count": 1,
         | "created_at": "2024-01-01T00:00:00Z", "updated_at": "$ts",
         | "pushed_at": "$ts"}""".stripMargin))
    write("branches_raw.json", Seq(
      s"""{"name": "main", "repo_name": "r$w", "protected": false,
         | "commit": {"sha": "${"%040x".format(w)}"}}""".stripMargin))
    write("issues_raw.json", Seq(
      s"""{"id": ${1000 + w}, "repo_name": "r$w", "number": $w,
         | "user": {"id": ${200 + w}, "login": "a$w"},
         | "assignee": {"id": ${300 + w}, "login": "s$w"}, "state": "open",
         | "created_at": "$ts", "updated_at": "$ts"}""".stripMargin))
    dir.toString
  }

  private val entities = Seq("repos", "owners", "branches", "issues", "users")
  private val fixedTs = lit("2026-02-02 18:38:47").cast("timestamp")

  private def exists(path: String): Boolean =
    Files.exists(java.nio.file.Paths.get(path))

  /** Rows of every clean table and backup generation under `outDir`. */
  private def contents(outDir: String): Map[String, Set[org.apache.spark.sql.Row]] =
    entities.flatMap(e => Seq(s"${e}_clean", s"${e}_clean_backup"))
      .filter(t => exists(s"$outDir/$t"))
      .map(t => t -> spark.read.parquet(s"$outDir/$t").collect().toSet)
      .toMap

  /** The DDL's 19 rules all hold over the warehouse at `outDir`. */
  private def assertNoViolations(outDir: String): Unit = {
    val violations = Validate.warehouse(spark, outDir)
    assert(violations.size == 19)
    assert(violations.forall(_.count == 0), violations.filter(_.count > 0))
  }

  test("re-runs over distinct windows accumulate owners and users") {
    val root = Files.createTempDirectory("graft_rerun")
    val outDir = root.resolve("out").toString
    val windows = Seq(window(root, 1, Seq(1)), window(root, 2, Seq(2)),
      window(root, 3, Seq(3, 1)))
    def logins(entity: String, c: String): Set[String] =
      spark.read.parquet(s"$outDir/${entity}_clean").select(c)
        .collect().map(_.getString(0)).toSet

    for ((raw, i) <- windows.zipWithIndex) {
      val seen = 1 to i + 1
      Runner.run(spark, raw, outDir)
      assert(logins("owners", "owner_login") == seen.map(w => s"o$w").toSet,
        s"run ${i + 1} owners")
      assert(logins("users", "user_login") ==
        seen.flatMap(w => Seq(s"a$w", s"s$w")).toSet, s"run ${i + 1} users")
    }
  }

  test("a failed stage moves no table; the re-run equals an uninterrupted run") {
    val root = Files.createTempDirectory("graft_fail")
    val w1 = window(root, 1, Seq(1))
    val w2 = window(root, 2, Seq(2, 1))
    // the same window with an issues input whose scan throws: a directory
    // holding a .gz part of non-gzip bytes
    val broken = Files.createDirectories(root.resolve("raw2_broken"))
    for (f <- Seq("repos_raw.json", "branches_raw.json"))
      Files.copy(java.nio.file.Paths.get(w2, f), broken.resolve(f))
    Files.write(
      Files.createDirectories(broken.resolve("issues_raw.json")).resolve("part.json.gz"),
      "not gzip".getBytes("UTF-8"))

    val outDir = root.resolve("out").toString
    Runner.run(spark, w1, outDir, fixedTs)
    val afterW1 = contents(outDir)
    assert(afterW1.keySet == entities.map(e => s"${e}_clean").toSet)

    intercept[Exception](Runner.run(spark, broken.toString, outDir, fixedTs))
    assert(contents(outDir) == afterW1,
      "a failed run must leave every table at the previous window, with no backup")

    Runner.run(spark, w2, outDir, fixedTs)
    val uninterrupted = root.resolve("uninterrupted").toString
    Runner.run(spark, w1, uninterrupted, fixedTs)
    Runner.run(spark, w2, uninterrupted, fixedTs)
    assert(contents(outDir) == contents(uninterrupted))
    assert(contents(outDir)("repos_clean") != afterW1("repos_clean"))
    assert(Files.list(root.resolve("out")).iterator().asScala
      .forall(!_.getFileName.toString.endsWith("_staging")), "staging left behind")
    assertNoViolations(outDir)
  }

  test("re-delivering a whole window changes no clean table") {
    val root = Files.createTempDirectory("graft_redeliver")
    val w1 = window(root, 1, Seq(1))
    val w2 = window(root, 2, Seq(2, 1))
    val outDir = root.resolve("out").toString
    Runner.run(spark, w1, outDir, fixedTs)
    val audits2 = Runner.run(spark, w2, outDir, fixedTs)
    val afterW2 = contents(outDir)
    assert(Runner.run(spark, w2, outDir, fixedTs) == audits2)
    val replayed = contents(outDir)
    for (e <- entities) {
      assert(replayed(s"${e}_clean") == afterW2(s"${e}_clean"), e)
      assert(replayed(s"${e}_clean_backup") == afterW2(s"${e}_clean"),
        s"$e backup is not the replaced generation")
    }
    assertNoViolations(outDir)
  }

  test("every job of a run carries the caller's local properties; staged " +
      "frames are read back without schema inference") {
    val root = Files.createTempDirectory("graft_jobs")
    val outDir = root.resolve("out").toString
    val windows = Seq(window(root, 1, Seq(1)), window(root, 2, Seq(2, 1)))
    // Each run sets its own value of `prop` on the calling thread, so a
    // job from a thread made before the run (a shared pool) carries an
    // earlier run's value or none. A job's call site is its stages' name,
    // `<Spark method> at <file>:<line>` of the first frame outside Spark.
    val prop = "graft.test.runner"
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val tag = Option(js.properties).flatMap(p => Option(p.getProperty(prop)))
        js.stageInfos.foreach(si => sites.add(tag.getOrElse("none") -> si.name))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try windows.zipWithIndex.foreach { case (raw, i) =>
      spark.sparkContext.setLocalProperty(prop, s"run$i")
      Runner.run(spark, raw, outDir)
    } finally spark.sparkContext.setLocalProperty(prop, null)
    Thread.sleep(2000) // listener bus is async; let job-start events drain
    spark.sparkContext.removeSparkListener(listener)

    val tags = sites.asScala.toSeq.map(_._1)
    assert(tags.distinct == Seq("run0", "run1") && tags == tags.sorted,
      s"job tags in start order: $tags")
    val byRun = sites.asScala.toSeq.groupMap(_._1)(_._2)
    def parquetReads(run: String) = byRun(run).filter(_.startsWith("parquet at"))
    // no run infers a schema: the fresh warehouse reads only staged
    // frames, and the second run also the two dimension generations it
    // builds on, all with known schemas
    assert(parquetReads("run0").isEmpty, parquetReads("run0"))
    assert(parquetReads("run1").isEmpty, parquetReads("run1"))
  }

  test("a warm batch compiles no classes") {
    // Spark caches compiled classes by their generated source. A Runner.run
    // + Validate.warehouse batch needs ~142 classes, so the cache must hold
    // them all for a warm batch to reuse them; Spark's default of 100
    // recompiles most of them on every batch.
    import org.apache.spark.metrics.source.CodegenMetrics
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val root = Files.createTempDirectory("graft_codegen")
    val raw = window(root, 1, Seq(1))
    val after = (1 to 3).map { i =>
      val outDir = root.resolve(s"out$i").toString
      Runner.run(spark, raw, outDir)
      assertNoViolations(outDir)
      compiled
    }
    assert(after(2) == after(0),
      s"classes compiled after each batch: ${after.mkString(", ")}")
  }

  test("the CLI's audit line gives drops for facts only") {
    assert(Runner.auditLine(Runner.Audit("issues", 3000, 2900)) ==
      "AUDIT issues: in=3000 out=2900 dropped=100")
    assert(Runner.auditLine(Runner.Audit("owners", 300, 143)) ==
      "AUDIT owners: source=300 rows=143")
    assert(Runner.auditLine(Runner.Audit("users", 2276, 2355)) ==
      "AUDIT users: source=2276 rows=2355")
  }
}
