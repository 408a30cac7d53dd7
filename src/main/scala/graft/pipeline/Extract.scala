package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}

/** Paginated REST extraction (extract.py:43-162) with the network boundary
  * behind an injectable fetcher, so the whole pipeline runs offline against
  * fixtures and the fetch policy (page cap, per_page, fail-stop on 4xx,
  * bounded-backoff retry on transient faults) is testable.
  *
  * The pagination loop is driver-side, exactly like the reference — page
  * counts are tiny (3×100) relative to the data they gate. The per-repo
  * fan-out (issues/branches for each eligible repo) is where scale lives:
  * each repo's pages land as rows tagged with `repo_name`
  * (extract.py:108-110), and the resulting Dataset[String] of raw JSON is
  * parsed into columns by Spark, not the driver.
  */
object Extract {

  /** (endpointPath, page) => JSON array text, or None when the page is
    * empty / past the end. Real impl would call the GitHub REST API with a
    * bearer token (auth.py:24-39); tests inject fixture readers. */
  type Fetcher = (String, Int) => Option[String]

  /** S4 auth probe (auth.py:24-39): fail-fast on missing token or a
    * non-OK response from the identity endpoint. The HTTP call itself is
    * injected — this encodes the decision logic. */
  def authProbe(token: Option[String], probe: String => Int): Either[String, Unit] =
    token match {
      case None | Some("") => Left("GITHUB_TOKEN missing")
      case Some(t) =>
        probe(t) match {
          case 200 => Right(())
          case 401 => Left("token rejected (401)")
          case other => Left(s"auth probe failed ($other)")
        }
    }

  /** S6 raw-payload validation (transform.py:57-79): non-empty, parses,
    * top-level JSON array — fail-stop with a reason, like the reference's
    * log+raise. Uses Jackson (already on the Spark classpath). */
  def validateRawPayload(payload: String): Either[String, Unit] = {
    if (payload == null || payload.trim.isEmpty) Left("payload is empty")
    else {
      try {
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(payload)
        if (node.isArray) Right(()) else Left("top-level JSON is not a list")
      } catch {
        case e: Exception => Left(s"invalid JSON: ${e.getMessage}")
      }
    }
  }

  final case class Config(owner: String, perPage: Int = 100, maxPages: Int = 3)

  /** A retryable fetch failure: 5xx, timeout, connection reset. */
  final case class TransientFetchError(msg: String) extends RuntimeException(msg)

  /** A non-retryable failure: 4xx auth/permission — the reference
    * fail-stops on these (auth.py:24-39), and retrying a rejected token
    * only burns rate limit. */
  final case class PermanentFetchError(status: Int, msg: String)
      extends RuntimeException(s"$status: $msg")

  /** Bounded exponential backoff for transient fetch failures:
    * `baseDelayMs * 2^(attempt-1)` capped at `maxDelayMs`, at most
    * `maxAttempts` tries. `sleep` is injectable so tests assert the
    * schedule without waiting it out. Serializable — the per-repo fan-out
    * ships it to executors. */
  final case class RetryPolicy(
      maxAttempts: Int = 4,
      baseDelayMs: Long = 100,
      maxDelayMs: Long = 5000,
      sleep: Long => Unit = Thread.sleep) extends Serializable {
    require(maxAttempts >= 1 && baseDelayMs >= 0 &&
      maxDelayMs >= 0 && maxDelayMs <= Long.MaxValue / 2)
  }

  /** Adapt a raw HTTP transport into a [[Fetcher]] with the reference's
    * loop semantics (extract.py:43-83) expressed in the typed failure
    * model:
    *
    *  - 2xx with a non-empty JSON array → the page payload
    *  - 2xx with `[]` (or blank) → end of pagination (None)
    *  - 404 → None: the reference treats a missing issues/branches
    *    endpoint as "no data for this repo", not an error
    *  - 408 / 429 / 5xx → [[TransientFetchError]] (so [[withRetry]]
    *    backs off: timeouts, rate limits, server hiccups)
    *  - any other 4xx → [[PermanentFetchError]] (fail-stop: bad token,
    *    forbidden — retrying burns rate limit for nothing)
    *
    * `send` is the transport ((path, page) → (status, body)); [[http]]
    * binds it to `java.net.http.HttpClient` with the bearer token header
    * (auth.py:24-39), tests bind stubs — the decision logic above is what
    * this function owns and what the specs pin. */
  def httpFetcher(send: (String, Int) => (Int, String)): Fetcher =
    (path, page) => {
      val (status, body) = send(path, page)
      status match {
        case s if s >= 200 && s < 300 =>
          if (body == null || body.trim.isEmpty || body.trim == "[]") None
          else Some(body)
        case 404 => None
        case 408 | 429 => throw TransientFetchError(s"HTTP $status on $path p$page")
        case s if s >= 500 => throw TransientFetchError(s"HTTP $s on $path p$page")
        case s => throw PermanentFetchError(s, s"$path p$page")
      }
    }

  /** The real transport: `java.net.http.HttpClient` GETs of
    * `<baseUrl><path>?per_page=<n>&page=<p>` with the bearer-token and
    * GitHub media-type headers (auth.py:24-39; pagination params
    * extract.py:43-56). Serializable so the per-repo fan-out can ship it
    * to executors — what travels is the CONFIG (base URL, token,
    * timeouts); the client itself is `@transient lazy`, built once per
    * JVM. I/O faults (connect refused, read timeout) surface as
    * [[TransientFetchError]] so [[withRetry]] backs off exactly as for a
    * 5xx. */
  final class HttpTransport(
      baseUrl: String, token: String, perPage: Int,
      connectTimeoutMs: Long, requestTimeoutMs: Long)
      extends ((String, Int) => (Int, String)) with Serializable {

    @transient private lazy val client: java.net.http.HttpClient =
      java.net.http.HttpClient.newBuilder()
        .connectTimeout(java.time.Duration.ofMillis(connectTimeoutMs))
        .followRedirects(java.net.http.HttpClient.Redirect.NORMAL)
        .build()

    override def apply(path: String, page: Int): (Int, String) = {
      val sep = if (path.contains("?")) "&" else "?"
      val uri = java.net.URI.create(
        s"$baseUrl$path${sep}per_page=$perPage&page=$page")
      val req = java.net.http.HttpRequest.newBuilder(uri)
        .timeout(java.time.Duration.ofMillis(requestTimeoutMs))
        .header("Authorization", s"Bearer $token")
        .header("Accept", "application/vnd.github+json")
        .GET().build()
      try {
        val resp = client.send(
          req, java.net.http.HttpResponse.BodyHandlers.ofString())
        (resp.statusCode(), resp.body())
      } catch {
        case e: java.io.IOException =>
          throw TransientFetchError(s"I/O on $uri: ${e.getMessage}")
        case _: InterruptedException =>
          Thread.currentThread().interrupt()
          throw TransientFetchError(s"interrupted on $uri")
      }
    }
  }

  /** Networked [[Fetcher]]: [[HttpTransport]] routed through
    * [[httpFetcher]]'s status mapping. `baseUrl` defaults to the public
    * GitHub API; tests point it at a local stub server. */
  def http(
      token: String,
      baseUrl: String = "https://api.github.com",
      perPage: Int = 100,
      connectTimeoutMs: Long = 10000,
      requestTimeoutMs: Long = 30000): Fetcher =
    httpFetcher(new HttpTransport(
      baseUrl, token, perPage, connectTimeoutMs, requestTimeoutMs))

  /** Run `op`, retrying [[TransientFetchError]] per `policy`.
    * [[PermanentFetchError]] (and anything else) propagates immediately —
    * fail-stop is the reference's contract, backoff only softens genuinely
    * transient faults. */
  def withRetry[A](policy: RetryPolicy)(op: => A): A = {
    var attempt = 1
    // saturating doubling: a shift (base << attempt) would wrap negative
    // past attempt ~57 and feed Thread.sleep a negative delay
    var delay = policy.baseDelayMs
    while (true) {
      try return op
      catch {
        case _: TransientFetchError if attempt < policy.maxAttempts =>
          policy.sleep(math.min(policy.maxDelayMs, delay))
          if (delay < policy.maxDelayMs) delay *= 2
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Page loop: accumulate page payloads until empty page or page cap,
    * with bounded-backoff retry around each page fetch. */
  def fetchPages(
      fetcher: Fetcher, path: String, cfg: Config,
      retry: RetryPolicy = RetryPolicy()): Seq[String] =
    (1 to cfg.maxPages).iterator
      .map(p => withRetry(retry)(fetcher(path, p)))
      .takeWhile(_.isDefined)
      .flatten
      .toSeq

  /** Parse raw JSON page payloads into rows with an explicit ingestion
    * ordinal — the keep-last dedupe key order (`explodePages`). */
  def parsePages(
      spark: SparkSession,
      pages: Seq[String],
      schema: StructType,
      tag: Option[(String, String)] = None): DataFrame = {
    import spark.implicits._
    val ds: Dataset[(Int, String)] = pages.zipWithIndex
      .map { case (payload, i) => (i, payload) }.toDS()
    val df = explodePages(ds.toDF("_page", "_payload"), schema)
    tag.fold(df) { case (k, v) => df.withColumn(k, lit(v)) }
  }

  /** One row per record of `pages`' JSON-array payloads (`_page`,
    * `_payload`), then `_ingest_ord`, then the `carried` columns.
    * `from_json` + `posexplode` keeps within-page order, and the ordinal
    * `_page * 1000000 + position` gives a total arrival order that
    * survives any repartitioning (SURVEY §7.6 hard part #1). */
  private def explodePages(
      pages: DataFrame, schema: StructType,
      carried: Seq[String] = Nil): DataFrame =
    pages
      .select(carried.map(col) ++ Seq(col("_page"),
        posexplode(from_json(col("_payload"), ArrayType(schema)))
          .as(Seq("_pos", "rec"))): _*)
      .withColumn("_ingest_ord",
        col("_page").cast("long") * 1000000L + col("_pos"))
      .select((col("rec.*") +: col("_ingest_ord") +: carried.map(col)): _*)

  /** repos → eligibility filter (extract.py:67-69) drives the fan-out:
    * issues and branches are fetched only for non-private, non-archived,
    * non-fork repos, but the raw repos batch keeps ALL fetched repos
    * (extract.py:65 extends before filtering — asymmetry preserved). */
  def eligibleRepoNames(reposRaw: DataFrame): Seq[String] =
    reposRaw
      .filter(!coalesce(col("private"), lit(false)) &&
        !coalesce(col("archived"), lit(false)) &&
        !coalesce(col("fork"), lit(false)))
      .select("name").distinct()
      .collect().map(_.getString(0)).toSeq.sorted

  def extractRepos(spark: SparkSession, fetcher: Fetcher, cfg: Config): DataFrame =
    parsePages(spark,
      fetchPages(fetcher, s"/users/${cfg.owner}/repos", cfg), Schemas.reposRaw)

  /** Per-repo fan-out, executor-side: the page loop for every repo runs
    * inside ONE `mapPartitions` over a Dataset of repo names — the plan
    * has a single scan node however many repos there are, instead of the
    * reference's per-repo driver loop (extract.py:85-122) re-expressed as
    * an N-branch union. At a thousand repos the union plan is a thousand
    * driver-built branches; this is one narrow stage whose parallelism is
    * the repo partitioning. The fetcher ships to executors (tests inject
    * serializable fixture readers; a real impl carries connection config,
    * not connections, and opens them per partition).
    *
    * Each repo runs the page loop of [[fetchPages]], and its payloads
    * parse like [[parsePages]]' (`explodePages`), with a per-repo
    * `(page, index)` ingestion ordinal. NOTE: extraction is lazy — the
    * Runner persists the raw layer immediately, so a Spark retry
    * re-fetches at most one partition's repos, and downstream reads hit
    * the sink. */
  def extractPerRepo(
      spark: SparkSession, fetcher: Fetcher, cfg: Config,
      repoNames: Seq[String], kind: String, schema: StructType,
      retry: RetryPolicy = RetryPolicy()): DataFrame = {
    import spark.implicits._
    val base = schema.copy(fields = schema.fields.filterNot(_.name == "repo_name"))
    val slices = math.max(1, math.min(repoNames.size, 32))
    val pages: Dataset[(String, Int, String)] = spark
      .createDataset(repoNames)(Encoders.STRING)
      .repartition(slices)
      .mapPartitions(_.flatMap { r =>
        fetchPages(fetcher, s"/repos/${cfg.owner}/$r/$kind", cfg, retry)
          .zipWithIndex.map { case (payload, p) => (r, p, payload) }
      })
    explodePages(pages.toDF("repo_name", "_page", "_payload"), base,
      Seq("repo_name"))
  }

  def extractIssues(
      spark: SparkSession, fetcher: Fetcher, cfg: Config,
      repoNames: Seq[String]): DataFrame =
    extractPerRepo(spark, fetcher, cfg, repoNames, "issues", Schemas.issuesRaw)

  def extractBranches(
      spark: SparkSession, fetcher: Fetcher, cfg: Config,
      repoNames: Seq[String]): DataFrame =
    extractPerRepo(spark, fetcher, cfg, repoNames, "branches", Schemas.branchesRaw)
}
