package graft.ops

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** Staging for iterative and staged operators.
  *
  * [[pin]] is the lineage-truncating stage pin every such operator uses
  * (graph fixpoints, BPE rounds, range-staged global sums): a round's
  * output references its input more than once, so carrying logical plans
  * across rounds grows them exponentially — each round is pinned to
  * materialized blocks instead. A pin is `localCheckpoint(eager = true)`:
  * executor-local blocks, no filesystem round trip; a lost executor
  * takes its blocks with it and fails the iteration. Replaced rounds'
  * blocks are reclaimed by the ContextCleaner once unreferenced.
  *
  * [[concurrently]] is the one way the program runs Spark jobs side by
  * side (the Runner's dependent stages, GraphOps' independent pins and
  * fixpoints). Its threads are made by the calling thread, so every job
  * they start carries the caller's Spark local properties. */
object Staging {

  def pin(df: DataFrame): DataFrame =
    // CAP the checkpoint leaf's carried-over origin stats: a pin's
    // whole job is to TRUNCATE lineage, but the copied size estimate
    // re-links it — in a self-referencing fixpoint (round r joins round
    // r−1's pin against itself) sizeInBytes then SQUARES per round,
    // slowing the optimizer's BigInt math exponentially and hard-
    // overflowing java.math.BigInteger near round 25. Capping (not
    // stripping — measured 4× on hitsUnits when small pinned frames lost
    // their broadcast-hash joins) resets the compounding at every pin
    // ([[org.apache.spark.sql.GraftColumnBridge.withCappedOriginStats]]).
    org.apache.spark.sql.GraftColumnBridge.withCappedOriginStats(
      df.localCheckpoint(true))

  /** Run each task on its own thread and return the results in order,
    * after every task has finished; the first failure is rethrown then.
    * The threads are made here, by the calling thread, so each inherits
    * its Spark local properties (job group, description, tags). */
  def concurrently[A](tasks: Seq[() => A]): Seq[A] = {
    val pool = Executors.newFixedThreadPool(tasks.size)
    try pool.invokeAll(tasks.map(t => (() => t()): Callable[A]).asJava)
      .asScala.toSeq
      .map(f => try f.get() catch { case e: ExecutionException => throw e.getCause })
    finally pool.shutdown()
  }

  /** [[pin]] + re-seat the pinned leaf's stats with the frame's ACTUAL
    * materialized block size
    * ([[org.apache.spark.sql.GraftColumnBridge.withActualPinnedStats]]).
    * For pinned frames that feed JOINS whose strategy should depend on
    * their true size — e.g. the Brandes σ waves, node-sized frames a
    * consumer join can broadcast when (and only when) they really fit —
    * estimate-seeded stats made the strategy flip with cache warmth;
    * actual bytes make it deterministic and scale-adaptive. Not the
    * default pin: most pins feed rollups/unions where stats are inert,
    * and the block-manager probe is a (cheap) driver call per pin. */
  def pinSized(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftColumnBridge.withActualPinnedStats(pin(df))

  /** Spread a compute-dense derivation across the session width when
    * the upstream source arrives in FEWER partitions than it (guide
    * §2.5 "repartition immediately after the read"): a corpus small
    * enough to land in one or two scan splits runs its per-row compute
    * (hashing, decoding, distance math) nearly serially however many
    * cores the box has. The exchange moves only the narrow projected
    * rows; at scale the scan already has >= the session width of splits
    * and this is a NO-OP — the guard is what keeps it from adding a
    * full extra shuffle of the stream on a real cluster. Row-level
    * results are unaffected (callers are order-insensitive or carry
    * their own deterministic tiebreaks). */
  def spreadForCompute(df: DataFrame): DataFrame = {
    val session =
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    if (df.rdd.getNumPartitions >= session) df
    else df.repartition(session)
  }

  /** `df.stagePin()` — [[pin]]; `df.stagePinSized()` — same, with
    * actual-size stats for join-strategy-sensitive frames;
    * `df.spreadForCompute()` — see [[Staging.spreadForCompute]]. */
  implicit class StagedDf(private val df: DataFrame) extends AnyVal {
    def stagePin(): DataFrame = pin(df)
    def stagePinSized(): DataFrame = pinSized(df)
    def spreadForCompute(): DataFrame = Staging.spreadForCompute(df)
  }
}
