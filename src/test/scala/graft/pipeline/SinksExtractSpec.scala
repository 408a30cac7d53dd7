package graft.pipeline

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class SinksExtractSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("rotation sink keeps exactly one backup generation (S5/S7)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_rot").toString + "/repos_clean"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    Sinks.writeParquetWithRotation(Seq((1L, "gen1")).toDF("id", "v"), base)
    assert(spark.read.parquet(base).select("v").head().getString(0) == "gen1")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(base + "_backup")))

    Sinks.writeParquetWithRotation(Seq((1L, "gen2")).toDF("id", "v"), base)
    assert(spark.read.parquet(base).select("v").head().getString(0) == "gen2")
    assert(spark.read.parquet(base + "_backup")
      .select("v").head().getString(0) == "gen1")

    Sinks.writeParquetWithRotation(Seq((1L, "gen3")).toDF("id", "v"), base)
    // one generation deep: gen1 is gone, backup is gen2
    assert(spark.read.parquet(base + "_backup")
      .select("v").head().getString(0) == "gen2")

    // a frame that fails at execution time must leave both generations
    // byte-identical: nothing moves until every output is staged
    def snapshot(dir: String): Map[String, Seq[Byte]] = {
      val root = java.nio.file.Paths.get(dir)
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => root.relativize(f).toString -> Files.readAllBytes(f).toSeq)
        .toMap
      finally walk.close()
    }
    val before = (snapshot(base), snapshot(base + "_backup"))
    intercept[Exception] {
      Sinks.writeParquetWithRotation(Seq(1L).toDF("id")
        .withColumn("v", raise_error(lit("boom")).cast("string")), base)
    }
    assert((snapshot(base), snapshot(base + "_backup")) == before)
    assert(spark.read.parquet(base).select("v").head().getString(0) == "gen3")
  }

  test("auth probe fail-stop semantics (S4)") {
    assert(Extract.authProbe(None, _ => 200).isLeft)
    assert(Extract.authProbe(Some(""), _ => 200).isLeft)
    assert(Extract.authProbe(Some("t"), _ => 401)
      == Left("token rejected (401)"))
    assert(Extract.authProbe(Some("t"), _ => 500).isLeft)
    assert(Extract.authProbe(Some("t"), _ => 200).isRight)
  }

  test("raw payload validation (S6): empty / invalid / non-list / ok") {
    assert(Extract.validateRawPayload("").isLeft)
    assert(Extract.validateRawPayload("   ").isLeft)
    assert(Extract.validateRawPayload("{not json").isLeft)
    assert(Extract.validateRawPayload("""{"a": 1}""")
      == Left("top-level JSON is not a list"))
    assert(Extract.validateRawPayload("""[{"a": 1}]""").isRight)
  }

  test("page loop stops on empty page and honors the page cap (S1)") {
    val cfg = Extract.Config("o", perPage = 2, maxPages = 3)
    var calls = List.empty[Int]
    val fetcher: Extract.Fetcher = (_, page) => {
      calls = calls :+ page
      if (page <= 2) Some(s"""[{"p": $page}]""") else None
    }
    val pages = Extract.fetchPages(fetcher, "/x", cfg)
    assert(pages.length == 2)
    assert(calls == List(1, 2, 3))
    // cap: never fetches page 4 even if data continues
    val endless: Extract.Fetcher = (_, p) => Some(s"""[{"p": $p}]""")
    assert(Extract.fetchPages(endless, "/x", cfg).length == 3)
  }

  test("transient fetch failures back off exponentially and then succeed") {
    val cfg = Extract.Config("o", maxPages = 2)
    var delays = List.empty[Long]
    val policy = Extract.RetryPolicy(
      maxAttempts = 4, baseDelayMs = 100, maxDelayMs = 5000,
      sleep = d => delays = delays :+ d)
    // page 1 fails twice (503-ish) before succeeding; page 2 ends cleanly
    var failuresLeft = 2
    var calls = 0
    val flaky: Extract.Fetcher = (_, page) => {
      calls += 1
      if (page == 1 && failuresLeft > 0) {
        failuresLeft -= 1
        throw Extract.TransientFetchError("503")
      }
      if (page == 1) Some("""[{"p": 1}]""") else None
    }
    val pages = Extract.fetchPages(flaky, "/x", cfg, policy)
    assert(pages == Seq("""[{"p": 1}]"""))
    assert(calls == 4) // 3 attempts for page 1 + the end-of-pages probe
    assert(delays == List(100L, 200L)) // exponential, per-attempt doubling
  }

  test("retry gives up after maxAttempts and 4xx fails fast, never retried") {
    val cfg = Extract.Config("o", maxPages = 2)
    var delays = List.empty[Long]
    val policy = Extract.RetryPolicy(maxAttempts = 3,
      sleep = d => delays = delays :+ d)
    var calls = 0
    val down: Extract.Fetcher = (_, _) => {
      calls += 1; throw Extract.TransientFetchError("timeout")
    }
    intercept[Extract.TransientFetchError] {
      Extract.fetchPages(down, "/x", cfg, policy)
    }
    assert(calls == 3 && delays.size == 2, "bounded attempts")

    // 401 is permanent: one call, no sleeps, propagates (auth.py:24-39)
    calls = 0; delays = Nil
    val rejected: Extract.Fetcher = (_, _) => {
      calls += 1; throw Extract.PermanentFetchError(401, "bad credentials")
    }
    intercept[Extract.PermanentFetchError] {
      Extract.fetchPages(rejected, "/x", cfg, policy)
    }
    assert(calls == 1 && delays.isEmpty, "4xx must fail fast")
  }

  test("httpFetcher maps status classes to the typed failure model") {
    val cfg = Extract.Config("o", maxPages = 5)
    var sleeps = 0
    val policy = Extract.RetryPolicy(maxAttempts = 3, sleep = _ => sleeps += 1)

    // 2xx payload pages, then a 2xx empty array ending pagination
    val ok = Extract.httpFetcher((_, p) =>
      if (p <= 2) (200, s"""[{"p": $p}]""") else (200, "[]"))
    assert(Extract.fetchPages(ok, "/x", cfg, policy).length == 2)

    // 404 = no data for this endpoint, not an error (reference semantics)
    val missing = Extract.httpFetcher((_, _) => (404, "Not Found"))
    assert(Extract.fetchPages(missing, "/x", cfg, policy).isEmpty)

    // 429 rate limit is transient: retried with backoff, then succeeds
    var rateLimited = true
    val limited = Extract.httpFetcher { (_, p) =>
      if (p == 1 && rateLimited) { rateLimited = false; (429, "slow down") }
      else if (p == 1) (200, """[{"p": 1}]""")
      else (200, "[]")
    }
    assert(Extract.fetchPages(limited, "/x", cfg, policy).length == 1)
    assert(sleeps == 1, "the 429 must back off once")

    // 403 is permanent: fail-stop without retry
    intercept[Extract.PermanentFetchError] {
      Extract.fetchPages(
        Extract.httpFetcher((_, _) => (403, "forbidden")), "/x", cfg, policy)
    }
    // 500 exhausts retries as transient
    intercept[Extract.TransientFetchError] {
      Extract.fetchPages(
        Extract.httpFetcher((_, _) => (500, "boom")), "/x", cfg, policy)
    }
  }

  test("merge sink upserts on key and re-merge is idempotent") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_merge").toString + "/users"

    val batch1 = Seq((1L, "alice", "v1"), (2L, "bob", "v1")).toDF("id", "login", "gen")
    val out1 = Sinks.mergeParquetOnKey(batch1, dir, Seq("id"))
    assert(out1.collect().toSet == batch1.collect().toSet)

    // batch2 updates key 2, adds key 3; key 1 must survive untouched
    val batch2 = Seq((2L, "bob", "v2"), (3L, "carol", "v2")).toDF("id", "login", "gen")
    val out2 = Sinks.mergeParquetOnKey(batch2, dir, Seq("id"))
    val expected = Seq((1L, "alice", "v1"), (2L, "bob", "v2"), (3L, "carol", "v2"))
      .toDF("id", "login", "gen").collect().toSet
    assert(out2.collect().toSet == expected)

    // idempotence: re-merging the identical batch converges to the same table
    val out3 = Sinks.mergeParquetOnKey(batch2, dir, Seq("id"))
    assert(out3.collect().toSet == expected)
    // rotation: previous generation retained one deep
    assert(spark.read.parquet(dir + "_backup").collect().toSet == expected)

    // crash-window recovery: simulate a death between rotate and rename
    // (current generation gone, backup intact) — the next merge must base
    // on the backup, not silently reinitialize from its own batch
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir + "_backup"), true)
    fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "_backup"))
    val batch3 = Seq((4L, "dan", "v3")).toDF("id", "login", "gen")
    val out4 = Sinks.mergeParquetOnKey(batch3, dir, Seq("id"))
    assert(out4.collect().toSet ==
      expected + org.apache.spark.sql.Row(4L, "dan", "v3"))
  }

  test("a merge reads its new generation back without schema inference") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_merge_schema").toString + "/t"
    // A job's call site is its stages' name. A read without a schema
    // infers one in a `parquet at <file>:<line>` job that, unlike a
    // write's jobs, runs outside any SQL execution.
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties)
            .forall(_.getProperty("spark.sql.execution.id") == null))
          js.stageInfos.foreach(si => sites.add(si.name))
    }
    spark.sparkContext.addSparkListener(listener)
    val merged = try {
      Sinks.mergeParquetOnKey(Seq((1L, "a")).toDF("id", "v"), dir, Seq("id"))
      Sinks.mergeParquetOnKey(Seq((2L, "b")).toDF("id", "v"), dir, Seq("id"))
    } finally {
      Thread.sleep(2000) // listener bus is async; let job-start events drain
      spark.sparkContext.removeSparkListener(listener)
    }
    val inference = sites.asScala.filter(_.startsWith("parquet at Sinks"))
    assert(inference.isEmpty, inference)
    assert(merged.as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
  }

  test("compaction rewrites many small files into few range-sorted ones") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_compact").toString + "/t"
    // 20 one-row files — the shape a streaming sink leaves behind
    (0 until 20).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(20).write.parquet(dir)
    def dataFiles = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(dataFiles >= 5, "fixture must actually be fragmented")
    val n = Sinks.compactParquet(spark, dir, targetRowsPerFile = 10, "id")
    assert(n == 2 && dataFiles <= 2,
      s"20 rows at 10 rows/file must compact to 2 files, got $dataFiles")
    val out = spark.read.parquet(dir).as[(Long, String)].collect().toSet
    assert(out == (0 until 20).map(i => (i.toLong, s"v$i")).toSet,
      "compaction must be byte-for-byte content-preserving")
    // range layout: per-file min/max must not overlap across files
    val ranges = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => spark.read.parquet(f.getAbsolutePath)
        .agg(min($"id"), max($"id")).as[(Long, Long)].head())
      .sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Array((_, hi), (lo, _)) => hi < lo
      case _ => true
    }, s"file ranges must be disjoint for tight stats: ${ranges.toSeq}")
    // one backup generation of the fragmented layout retained
    assert(spark.read.parquet(dir + "_backup").count() == 20)
  }

  test("mergeFrames: storage-free MERGE plan is upsert-correct and idempotent") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    def upd = Seq((2L, "B"), (4L, "D")).toDF("id", "v")
    val once = Sinks.mergeFrames(base, upd, Seq("id"))
    val expected = Set((1L, "a"), (2L, "B"), (3L, "c"), (4L, "D"))
    assert(once.as[(Long, String)].collect().toSet == expected)
    val twice = Sinks.mergeFrames(once, upd, Seq("id"))
    assert(twice.as[(Long, String)].collect().toSet == expected,
      "re-applying the same batch must be a no-op")
  }

  test("JDBC MERGE upserts through Derby and pins the T-SQL dialect text") {
    import spark.implicits._
    val url = "jdbc:derby:memory:graftmerge;create=true"
    val props = new java.util.Properties()

    // first load bootstraps the target, second updates key 2 / adds key 3,
    // third replays batch 2 — idempotent (the reference's intended load)
    val batch1 = Seq((1L, "alice", 101L), (2L, "bob", 102L))
      .toDF("user_id", "login", "github_user_id")
    Sinks.mergeJdbc(batch1, "m_users", Seq("user_id"), url, props)
    val batch2 = Seq((2L, "bobby"), (3L, "carol")).toDF("user_id", "login")
    Sinks.mergeJdbc(batch2, "m_users", Seq("user_id"), url, props)
    Sinks.mergeJdbc(batch2, "m_users", Seq("user_id"), url, props)

    val back = spark.read.jdbc(url, "m_users", props)
    assert(back.columns.toSet == Set("user_id", "login"), "lineage dropped")
    assert(back.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "alice"), (2L, "bobby"), (3L, "carol")))

    // staging table cleaned up after the merge
    val conn = java.sql.DriverManager.getConnection(url, props)
    try assert(!conn.getMetaData
      .getTables(null, null, "M_USERS_STAGING", null).next())
    finally conn.close()

    // the SQL Server dialect emits the T-SQL the reference's target runs
    assert(Sinks.TsqlMergeDialect.mergeSql(
      "m_users", "m_users_staging", Seq("user_id", "login"), Seq("user_id")) ==
      "MERGE INTO [m_users] AS t USING [m_users_staging] AS s " +
        "ON t.[user_id] = s.[user_id] " +
        "WHEN MATCHED THEN UPDATE SET t.[login] = s.[login] " +
        "WHEN NOT MATCHED THEN INSERT ([user_id], [login]) " +
        "VALUES (s.[user_id], s.[login]);")
  }

  test("executor-side fan-out plans one scan node, not an N-branch union") {
    val fetcher: Extract.Fetcher = (path, page) =>
      if (page > 1) None
      else Some(s"""[{"name": "b-${path.split('/')(3)}", "protected": false,
                   | "commit": {"sha": "a", "url": "u"}}]""".stripMargin)
    val many = (1 to 40).map(i => f"repo$i%02d")
    val branches = Extract.extractBranches(spark, fetcher, Extract.Config("o"), many)
    val optimized = branches.queryExecution.optimizedPlan
    assert(optimized.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.isEmpty, "fan-out must not be a driver-built union")
    assert(optimized.collectLeaves().size == 1, "exactly one scan node")
    assert(branches.count() == 40)
    assert(branches.select("repo_name").distinct().count() == 40)
  }

  test("per-repo fan-out tags rows and eligibility filters the fan-out (S2/F1)") {
    val reposJson =
      """[
        |{"id": 1, "name": "ok", "full_name": "o/ok", "private": false,
        | "archived": false, "fork": false, "owner": {"id": 1, "login": "o"}},
        |{"id": 2, "name": "arch", "full_name": "o/arch", "private": false,
        | "archived": true, "fork": false, "owner": {"id": 1, "login": "o"}},
        |{"id": 3, "name": "frk", "full_name": "o/frk", "private": false,
        | "archived": false, "fork": true, "owner": {"id": 1, "login": "o"}}
        |]""".stripMargin
    val fetcher: Extract.Fetcher = (path, page) =>
      if (page > 1) None
      else if (path.endsWith("/repos")) Some(reposJson)
      else if (path.contains("/ok/")) Some("""[{"name": "main", "protected": false, "commit": {"sha": "a", "url": "u"}}]""")
      else Some("[]")
    val cfg = Extract.Config("o")
    val repos = Extract.extractRepos(spark, fetcher, cfg)
    assert(repos.count() == 3) // raw keeps ALL repos (extract.py:65 asymmetry)
    val eligible = Extract.eligibleRepoNames(repos)
    assert(eligible == Seq("ok"))
    val branches = Extract.extractBranches(spark, fetcher, cfg, eligible)
    assert(branches.select("repo_name").head().getString(0) == "ok")
  }

  test("issues fan-out tags each repo's rows and parses the raw issue schema") {
    val fetcher: Extract.Fetcher = (path, page) => {
      val repo = path.split('/')(3)
      val n = repo.last.asDigit
      if (page > 1) None
      else Some(s"""[{"id": ${10 * n}, "number": 1, "title": "t-$repo",
                   | "user": {"id": $n, "login": "u$n"}, "state": "open",
                   | "labels": [{"name": "bug"}]},
                   |{"id": ${10 * n + 1}, "number": 2, "title": "t2-$repo",
                   | "pull_request": {"merged_at": "2024-01-0${n}T00:00:00Z"},
                   | "unknown_field": true}]""".stripMargin)
    }
    val issues = Extract.extractIssues(
      spark, fetcher, Extract.Config("o"), Seq("r1", "r2"))
    assert(issues.schema.fieldNames.toSeq ==
      Schemas.issuesRaw.fieldNames.filterNot(_ == "repo_name").toSeq ++
        Seq("_ingest_ord", "repo_name"))
    val rows = issues
      .select("repo_name", "id", "number", "title", "user.login",
        "pull_request.merged_at", "labels.name", "_ingest_ord")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3), Option(r.getString(4)), Option(r.getString(5)),
        Option(r.getSeq[String](6)), r.getLong(7)))
      .toSet
    assert(rows == Set(
      ("r1", 10L, 1L, "t-r1", Some("u1"), None, Some(Seq("bug")), 0L),
      ("r1", 11L, 2L, "t2-r1", None, Some("2024-01-01T00:00:00Z"), None, 1L),
      ("r2", 20L, 1L, "t-r2", Some("u2"), None, Some(Seq("bug")), 0L),
      ("r2", 21L, 2L, "t2-r2", None, Some("2024-01-02T00:00:00Z"), None, 1L)))
  }

  /** In-process HTTP stub on a real socket for the [[Extract.http]]
    * transport tests: records every request (path, query, auth header)
    * and serves a programmable handler. */
  private def withStubServer[A](
      handler: (String, String) => (Int, String))(
      body: (String, () => Seq[(String, String, String)]) => A): A = {
    val server = com.sun.net.httpserver.HttpServer
      .create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val seen = new java.util.concurrent.CopyOnWriteArrayList[(String, String, String)]
    server.createContext("/", { exchange =>
      val path = exchange.getRequestURI.getPath
      val query = Option(exchange.getRequestURI.getQuery).getOrElse("")
      val auth = Option(exchange.getRequestHeaders.getFirst("Authorization")).getOrElse("")
      seen.add((path, query, auth))
      val (status, payload) = handler(path, query)
      val bytes = payload.getBytes("UTF-8")
      exchange.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
      if (bytes.nonEmpty) exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}",
      () => { import scala.jdk.CollectionConverters._; seen.asScala.toSeq })
    finally server.stop(0)
  }

  test("HttpClient fetcher over a real socket: pages, auth header, empty-page stop") {
    withStubServer((path, query) =>
      if (path == "/users/o/repos") {
        val page = query.split("&").collectFirst {
          case s if s.startsWith("page=") => s.drop(5).toInt
        }.getOrElse(1)
        if (page <= 2) (200, s"""[{"p": $page}]""") else (200, "[]")
      } else (404, "nope")
    ) { (base, seen) =>
      val fetcher = Extract.http("tok123", baseUrl = base, perPage = 2)
      val cfg = Extract.Config("o", perPage = 2, maxPages = 5)
      val pages = Extract.fetchPages(fetcher, "/users/o/repos", cfg)
      assert(pages == Seq("""[{"p": 1}]""", """[{"p": 2}]"""))
      val reqs = seen()
      assert(reqs.length == 3, "two payload pages + the empty stop page")
      assert(reqs.forall(_._3 == "Bearer tok123"),
        "every request carries the bearer token (auth.py:24-39)")
      assert(reqs.map(_._2) ==
        Seq("per_page=2&page=1", "per_page=2&page=2", "per_page=2&page=3"))
      // 404 endpoint = no data, not an error (reference semantics)
      assert(Extract.fetchPages(fetcher, "/repos/o/gone/issues", cfg).isEmpty)
    }
  }

  test("HttpClient fetcher over a real socket: 429 retries, 401 fails fast") {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    withStubServer((path, _) =>
      path match {
        case "/flaky" =>
          if (hits.incrementAndGet() == 1) (429, "slow down")
          else (200, """[{"ok": true}]""")
        case "/rejected" => (401, "bad credentials")
        case _ => (200, "[]")
      }
    ) { (base, seen) =>
      val fetcher = Extract.http("tok123", baseUrl = base)
      var sleeps = List.empty[Long]
      val policy = Extract.RetryPolicy(maxAttempts = 3, sleep = sleeps :+= _)
      val cfg = Extract.Config("o", maxPages = 1)

      // 429 → one backoff, then the retried request succeeds
      assert(Extract.fetchPages(fetcher, "/flaky", cfg, policy)
        == Seq("""[{"ok": true}]"""))
      assert(sleeps.length == 1, "exactly one backoff for the one 429")

      // 401 → PermanentFetchError without ANY retry (fail-stop)
      val before = seen().count(_._1 == "/rejected")
      val e = intercept[Extract.PermanentFetchError] {
        Extract.fetchPages(fetcher, "/rejected", cfg, policy)
      }
      assert(e.status == 401)
      assert(seen().count(_._1 == "/rejected") == before + 1,
        "a rejected token must not be retried")
    }
  }

  test("HttpClient fetcher: connection failure is transient (retried), and executors can use it") {
    // unroutable port: connect fails → TransientFetchError → withRetry
    var sleeps = 0
    val policy = Extract.RetryPolicy(maxAttempts = 2, sleep = _ => sleeps += 1)
    val dead = Extract.http("t", baseUrl = "http://127.0.0.1:1",
      connectTimeoutMs = 200, requestTimeoutMs = 200)
    intercept[Extract.TransientFetchError] {
      Extract.withRetry(policy)(dead("/x", 1))
    }
    assert(sleeps == 1, "connect-refused backs off like a 5xx")

    // the transport must survive the executor closure (Serializable with
    // a @transient lazy client): run the per-repo fan-out through Spark
    withStubServer((path, query) =>
      // endsWith, not contains: "per_page=100" also contains "page=1"
      if (path.endsWith("/branches") && query.endsWith("&page=1"))
        (200, """[{"name": "main", "protected": true, "commit": {"sha": "a", "url": "u"}}]""")
      else (200, "[]")
    ) { (base, _) =>
      val fetcher = Extract.http("tok", baseUrl = base)
      val cfg = Extract.Config("o", maxPages = 2)
      val branches = Extract.extractBranches(
        spark, fetcher, cfg, Seq("r1", "r2"))
      assert(branches.select("repo_name").collect().map(_.getString(0)).sorted
        .toSeq == Seq("r1", "r2"))
    }
  }
}
