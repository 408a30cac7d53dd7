package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional third arg: comma-separated query-name filter for fast local
    // iteration (the driver always passes exactly two args).
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // Hash64Oracle's SQL replicas equate characters with UTF-8 bytes
    // (DuckDB `unicode(substr(text,i,1))` == byte i) — sound only for a
    // pure-ASCII corpus. Enforce that assumption HERE, where the corpus
    // meets the gates, so a future non-ASCII corpus fails with this
    // message instead of as three opaque hash-gate mismatches.
    val hashGates = Set("dedup_simhash", "text_fingerprint",
      "text_winnow_native", "dedup_winnow", "sql_native_surface")
    if (only.forall(_.exists(hashGates.contains))) {
      val nonAscii = spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(org.apache.spark.sql.functions.col("text").rlike("[^\\u0000-\\u007f]"))
        .count()
      require(nonAscii == 0L,
        s"$nonAscii documents contain non-ASCII text: graft.queries.Hash64Oracle " +
          "replays the engine's byte-level hashes via per-CHARACTER DuckDB SQL, " +
          "which only matches UTF-8 bytes for ASCII — extend the oracle to " +
          "byte-level (or re-scope the hash gates) before gating this corpus")
    }
    // Per-gate OUTPUT SCHEMA sentinel: any hasher-sensitive type that
    // reaches the driver seam (decimal, array, map, timestamp_ntz — the
    // round-1 e5_casts and round-12 u4/do_num false-green classes) must be
    // visible in the artifact the driver diffs, not only in a local pandas
    // view that silently normalizes it away. tools/check.py consumes this.
    val schemas = scala.collection.mutable.LinkedHashMap.empty[String, Seq[(String, String)]]
    // Per-gate PLAN FINGERPRINT (plans.json): counts of the plan-shape-
    // bearing physical nodes in the gate's initial executed plan. The
    // shape twin of schemas.json: bytes (Bench) catch a plan
    // regression's cost, these name its cause — a silently added
    // Exchange or a broadcast join fallen to sort-merge shows up as a
    // count delta tools/check.py reports against the committed baseline
    // (informational, not failing: AQE/stats legitimately move shapes).
    // Counted from the PRE-EXECUTION tree (AQE's initial plan), which is
    // deterministic per (code, scale factor) — runtime re-plans are not.
    val planKeys = Seq("ex" -> "Exchange", "bex" -> "BroadcastExchange",
      "smj" -> "SortMergeJoin", "bhj" -> "BroadcastHashJoin",
      "shj" -> "ShuffledHashJoin", "bnl" -> "BroadcastNestedLoopJoin",
      "cart" -> "CartesianProduct", "win" -> "Window", "gen" -> "Generate",
      "agg" -> "HashAggregate", "sort" -> "Sort")
    def fingerprint(df: org.apache.spark.sql.DataFrame): Seq[(String, Int)] = {
      val nodes = df.queryExecution.executedPlan.treeString
        .split("\n")
        .flatMap { l =>
          val s = l.dropWhile(c => !c.isLetter)
          val t = s.takeWhile(_.isLetter)
          if (t.nonEmpty) Some(t) else None
        }
      val tally = nodes.groupBy(identity).map { case (k, v) => k -> v.length }
      planKeys.map { case (short, node) => short -> tally.getOrElse(node, 0) }
    }
    val plans = scala.collection.mutable.LinkedHashMap.empty[String, Seq[(String, Int)]]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        schemas(name) = df.schema.fields.toSeq
          .map(f => f.name -> f.dataType.catalogString)
        plans(name) = fingerprint(df)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val schemaJson = schemas
      .map { case (g, fields) =>
        s"${q(g)}: ${fields.map { case (n, t) => s"${q(n)}: ${q(t)}" }
          .mkString("{", ",", "}")}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/schemas.json"), schemaJson)
    val planJson = plans
      .map { case (g, counts) =>
        s"${q(g)}: ${counts.map { case (k, n) => s"${q(k)}: $n" }
          .mkString("{", ",", "}")}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/plans.json"), planJson)
    spark.stop()
  }
}
