package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** [[Staging]]: the pin caps the stats its checkpoint leaf carries, and
  * every job the concurrent stages start runs under its caller's Spark
  * local properties. */
class StagingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("pin caps inflated origin stats on the checkpoint leaf") {
    // Direct unit assert for GraftColumnBridge.withCappedOriginStats —
    // until now the cap was proven only indirectly through PERF timings
    // (pagerank@5M 31.6 → 7.3 s), so a Spark upgrade breaking the
    // private[sql] LogicalRDD re-seat would resurface as a slow test
    // suite, not a failing test. The size-only stats visitor MULTIPLIES
    // child sizeInBytes across a join, so three self-joins of a pinned
    // 2^20-row long frame (~2^23 bytes each) estimate at ~2^69 — past
    // the 2^60 cap — while the actual joined data stays 2^20 rows.
    import org.apache.spark.sql.GraftColumnBridge
    val cap = BigInt(1) << 60
    val base = Staging.pin(spark.range(1L << 20).toDF("id"))
    val joined = base
      .join(base.withColumnRenamed("id", "id2"), col("id") === col("id2"))
      .join(base.withColumnRenamed("id", "id3"), col("id") === col("id3"))
      .filter(col("id") >= 0L)
      .select("id")
    val pre = GraftColumnBridge.freshOptimizedStats(joined).sizeInBytes
    assert(pre > cap,
      s"precondition: the join plan must estimate past the cap, got $pre")
    val pinned = Staging.pin(joined)
    val leaf = pinned.queryExecution.analyzed
    assert(leaf.children.isEmpty, "pin must produce a leaf plan")
    val capped = GraftColumnBridge.freshOptimizedStats(pinned)
    assert(capped.sizeInBytes <= cap,
      s"capped leaf still reports sizeInBytes ${capped.sizeInBytes}")
    assert(capped.rowCount.forall(_ <= cap))
    // the cap re-seat must PRESERVE origin constraints (not drop them to
    // None): the pre-pin filter's not-null/range facts stay on the leaf
    assert(leaf.constraints.nonEmpty,
      "capped leaf lost its origin constraints")
    // and a small pinned frame keeps its realistic estimate untouched —
    // stripping stats was measured 4x on hitsUnits when pinned frames
    // lost their broadcast-hash joins
    val small = Staging.pin(spark.range(100).toDF("id"))
    val s = GraftColumnBridge.freshOptimizedStats(small)
    assert(s.sizeInBytes > 0 && s.sizeInBytes < 1000000,
      s"small pinned frame should keep a realistic estimate, got ${s.sizeInBytes}")
  }

  test("GraphOps' concurrent stages start every job under the caller's " +
      "local properties") {
    import spark.implicits._
    // Each call sets its own value of `prop` on the calling thread, so a
    // job from a thread made before the call (a shared pool's) carries an
    // earlier call's value, or none.
    val edges = (0 until 200).map(i => (i % 50L, (i * 13L + 7) % 50L))
      .filter { case (a, b) => a != b }.toDF("a", "b")
    val ops = Seq[(String, () => Any)](
      "directed" -> (() => GraphOps.stageDirectedGraph(edges, "a", "b")),
      "scc" -> (() => GraphOps.stronglyConnectedComponents(edges, "a", "b")),
      "condensation" -> (() => GraphOps.condensationLayers(edges, "a", "b")),
      "louvain" -> (() => GraphOps.stageLouvainGraph(edges, "a", "b")))
    val prop = "graft.test.staging"
    val tags = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        tags.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty(prop))).getOrElse("none"))
    }
    spark.sparkContext.addSparkListener(listener)
    val calls =
      try for (caller <- Seq("gate1", "gate2", "gate3"); (op, run) <- ops)
        yield {
          spark.sparkContext.setLocalProperty(prop, s"$caller $op")
          run()
          s"$caller $op"
        }
      finally spark.sparkContext.setLocalProperty(prop, null)
    Thread.sleep(2000) // listener bus is async; let job-start events drain
    spark.sparkContext.removeSparkListener(listener)

    val seen = tags.asScala.toSeq
    val jobs = seen.groupBy(identity).map { case (k, v) => k -> v.size }
    assert(seen == calls.flatMap(c => Seq.fill(jobs.getOrElse(c, 0))(c)),
      s"job tags in start order: $seen")
    // Jobs per call when GraphOps ran these stages on Scala's global
    // pool (counted by time window, as the tags were unreliable then).
    // Condensation's count varies by a few jobs from run to run.
    val before = Map("directed" -> 11, "scc" -> 125, "louvain" -> 7)
    for (c <- calls; (op, n) <- before if c.endsWith(s" $op"))
      assert(jobs.getOrElse(c, 0) <= n, s"$c started ${jobs.get(c)} jobs")
  }
}
