package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

import graft.pipeline.{Sinks, Transform}

/** Structured-Streaming face of the incremental pipeline. The reference's
  * "incremental" mechanics — re-runs over a raw directory, keep-last by
  * arrival order, union-accumulate dimensions (transform.py:442-445) —
  * map onto Spark streaming primitives:
  *
  *  - raw layer = a file-source stream: every new JSON batch dropped into
  *    the directory becomes a micro-batch (the reference's re-run loop,
  *    without the re-run).
  *  - keep-last / upsert = `dropDuplicates` over the natural key with a
  *    watermark bounding state ("first wins per key within the watermark"
  *    — the streaming dual of the batch keep-last: batch replays history
  *    and keeps the newest, the stream sees the newest first and keeps it).
  *  - accumulated dimensions = streaming dedupe state itself: the
  *    users/owners tables ARE the distinct-key state, emitted in append
  *    mode as new keys arrive.
  *
  * State size is bounded by watermark x key cardinality — the knob that
  * keeps this runnable on 100 TB/day of events. */
object IncrementalPipeline {

  /** Streaming source over a raw directory (S6 as a stream). */
  def rawStream(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .option("multiLine", "true")
      .option("maxFilesPerTrigger", "16")
      .json(dir)

  /** Streaming upsert-by-key: first arrival per key wins within the
    * watermark window (D4/U2 as a stream). `eventTimeCol` must be an
    * event-time column for the watermark to bound state. */
  def streamingDedupe(
      df: DataFrame, keys: Seq[String],
      eventTimeCol: String, watermark: String): DataFrame =
    df.withWatermark(eventTimeCol, watermark)
      .dropDuplicates(keys :+ eventTimeCol)

  /** Streaming dedupe against a STATIC base corpus: drop every incoming
    * row whose fingerprint already exists in the persisted base — the
    * per-ingest front door of an incremental dedup service (new-vs-new
    * duplicates are [[streamingDedupe]]'s job; this one stops re-ingests
    * of ALREADY-CURATED content before they enter the pipeline at all).
    * Stream-static left_anti joins are executed per micro-batch against
    * the batch plan, so the base may be a parquet table of fingerprints
    * refreshed between restarts; Spark broadcasts it when it fits and
    * shuffles the batch side otherwise — the same AQE-decides posture
    * as [[graft.ops.GraphOps.keepWithLabels]].
    *
    * @param base static frame holding `fpCol` (e.g. the curated corpus'
    *        fingerprint column, one row per known document). */
  def streamingDedupeAgainstBase(
      stream: DataFrame, base: DataFrame, fpCol: String): DataFrame =
    stream.join(base.select(fpCol).distinct(), Seq(fpCol), "left_anti")

  /** Key-only streaming dedupe within the watermark window
    * (`dropDuplicatesWithinWatermark`): deduplicates on the BUSINESS key
    * alone, so a re-delivery whose event time was re-stamped (the
    * at-least-once-with-jittered-ingest-ts case) still collapses —
    * [[streamingDedupe]] keys on (key, event time) and would pass both
    * copies through. State per key is bounded by the watermark delay;
    * the tradeoff is that a GENUINE new event for a key inside the
    * window is also suppressed, which is exactly the contract the name
    * states. */
  def streamingDedupeWithinWatermark(
      df: DataFrame, keys: Seq[String],
      eventTimeCol: String, watermark: String): DataFrame =
    df.withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Windowed per-entity activity counts (the DDL's index-implied
    * time-range queries as a live aggregation, A1/A3 as a stream). */
  def windowedCounts(
      events: DataFrame, eventTimeCol: String,
      window_ : String, slide: String, watermark: String): DataFrame =
    events
      .withWatermark(eventTimeCol, watermark)
      .groupBy(
        window(col(eventTimeCol), window_, slide),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** Gap-based sessionization as a stream: `session_window` merges events
    * within `gap` of each other into one growing session per key; the
    * watermark both bounds state and decides when a session is final
    * (append mode emits only closed sessions). The streaming dual of the
    * batch `sessionize` gate query's lag-threshold windows. */
  def sessionCounts(
      events: DataFrame, eventTimeCol: String, keyCol: String,
      gap: String, watermark: String): DataFrame =
    events
      .withWatermark(eventTimeCol, watermark)
      .groupBy(col(keyCol), session_window(col(eventTimeCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Stream-stream interval join (the click↔impression staple): each left
    * row joins right rows sharing `keyCol` whose event time falls within
    * `[leftTs - tolerance, leftTs]`. Watermarks on BOTH inputs are what
    * bound the join state — Spark derives each side's retention from the
    * watermark plus the interval condition, so buffered state is
    * (watermark + tolerance) deep per key rather than unbounded, which is
    * the knob that keeps a 100 TB/day attribution join runnable. The
    * streaming dual of the batch [[graft.ops.AsOfJoin]] /
    * [[graft.ops.RangeJoin]] (same bounded-window semantics, no
    * cartesian). The two streams may share column names (e.g. both call
    * their event time `ts`): the right copy of the key is dropped and
    * every other right-side collision is renamed `right_<name>` so the
    * output stays unambiguous to downstream select-by-name — a join that
    * resolves but emits two identically named columns would just move
    * the AMBIGUOUS_REFERENCE error one operator later. */
  def intervalJoin(
      left: DataFrame, leftTsCol: String,
      right: DataFrame, rightTsCol: String,
      keyCol: String, tolerance: String, watermark: String): DataFrame = {
    val l = left.withWatermark(leftTsCol, watermark)
    val collisions = right.columns.toSet.intersect(left.columns.toSet) - keyCol
    // rename AFTER the watermark so the event-time metadata rides along
    val r = collisions.foldLeft(right.withWatermark(rightTsCol, watermark)) {
      (d, c) => d.withColumnRenamed(c, s"right_$c")
    }
    val rTs = if (collisions(rightTsCol)) s"right_$rightTsCol" else rightTsCol
    l.join(r,
        l(keyCol) === r(keyCol) &&
          r(rTs) >= l(leftTsCol) - expr(s"INTERVAL $tolerance") &&
          r(rTs) <= l(leftTsCol))
      .drop(r(keyCol))
  }

  /** Append-mode parquet sink with checkpointing — the streaming
    * equivalent of the rotation sink (the checkpoint ledger replaces the
    * one-generation backup). */
  def toParquetSink(
      df: DataFrame, path: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(trigger)

  /** Streaming MERGE: every micro-batch upserts into the parquet
    * warehouse table through [[Sinks.mergeParquetOnKey]] —
    * the streaming face of the reference's intended idempotent load.
    * Deterministic keys make replayed batches (checkpoint recovery
    * re-delivery) converge instead of duplicating, which is exactly the
    * at-least-once → effectively-once upgrade a MERGE sink exists for. */
  def toMergeSink(
      df: DataFrame, path: String, checkpoint: String, keyCols: Seq[String],
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Sinks.mergeParquetOnKey(batch, path, keyCols)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Update)
      .trigger(trigger)

  /** The COMPOSED incremental-dedup ingest loop as ONE streaming sink —
    * the production twin of the batch `incremental_ingest_e2e` gate.
    * Each micro-batch of (`idCol`, `textCol`) documents:
    *
    *  1. drops re-ingests of already-curated ids against the persisted
    *     corpus ([[streamingDedupeAgainstBase]]) — which is ALSO what
    *     makes checkpoint-recovery replays converge: a re-delivered
    *     batch dedupes to empty and every downstream step no-ops;
    *  2. builds the delta near-dup edges: within-batch pairs
    *     ([[graft.ops.DedupOps.ngramJaccardPairs]]) plus
    *     batch-vs-corpus pairs
    *     ([[graft.ops.DedupOps.ngramJaccardPairsBetween]]);
    *  3. merges them into the persisted labels
    *     ([[graft.ops.GraphOps.incrementalComponents]] —
    *     delta-proportional, never rescans base edges);
    *  4. applies the new dedup state (`doc_id`, `component`,
    *     `kept` = is-cluster-representative) to the Type-2 SCD dimension
    *     ([[graft.ops.IncrementalOps.scdType2Apply]]);
    *  5. advances all three state artifacts (`dim`, `labels`, `corpus`
    *     under `statePath`) in one [[Sinks.commit]], each read back
    *     through [[Sinks.readGeneration]] on the next batch.
    *
    * Crash-window ordering across the THREE artifacts: [[Sinks.commit]]
    * stages all outputs BEFORE any rename, then renames them in the order
    * given — dim → labels → corpus. The corpus is the replay guard, so
    * it must move LAST: a death after dim/labels advanced but before the
    * corpus rename re-delivers the batch against the OLD corpus, and
    * re-merging the same delta edges into already-merged labels is
    * idempotent (contracted endpoints land on their merged roots) — the
    * replay converges instead of forking state. Advancing the corpus
    * first would make the replay dedupe to empty and strand labels/dim a
    * generation behind, forever.
    */
  def toIncrementalDedupSink(
      docs: DataFrame, idCol: String, textCol: String,
      statePath: String, checkpoint: String,
      k: Int, threshold: Double,
      effectiveTs: Long => java.sql.Timestamp,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        def load(name: String): Option[DataFrame] =
          Sinks.readGeneration(batch.sparkSession, s"$statePath/$name")
        val corpus0 = load("corpus") // (id, text)
        val labels0 = load("labels") // (id, component)
        val dim0 = load("dim")
        val incoming = batch
          .select(col(idCol).cast("long").as("id"),
            col(textCol).cast("string").as("text"))
          .dropDuplicates("id")
        // pinned: the delta feeds four consumers (two pair joins, the
        // corpus union, the singleton universe)
        val delta = corpus0
          .fold(incoming)(c =>
            streamingDedupeAgainstBase(incoming, c.select("id"), "id"))
          .localCheckpoint(true)
        val within = graft.ops.DedupOps
          .ngramJaccardPairs(delta, "id", "text", k, threshold)
          .select("a", "b")
        val deltaEdges = corpus0 match {
          case Some(c) => within.unionByName(graft.ops.DedupOps
            .ngramJaccardPairsBetween(c, delta, "id", "text", k, threshold)
            .select("a", "b"))
          case None => within
        }
        val merged = labels0 match {
          case Some(l0) =>
            graft.ops.GraphOps.incrementalComponents(l0, deltaEdges, "a", "b")
          case None =>
            graft.ops.GraphOps.connectedComponents(deltaEdges, "a", "b")
        }
        val universe = corpus0.fold(delta)(_.unionByName(delta))
          .localCheckpoint(true)
        val full = graft.ops.GraphOps.withSingletons(merged, universe, "id")
          .localCheckpoint(true)
        val state = full.select(col("id").as("doc_id"), col("component"),
          (col("id") === col("component")).cast("int").as("kept"))
        val ts = effectiveTs(batchId)
        val dim = dim0 match {
          case Some(dm) => graft.ops.IncrementalOps.scdType2Apply(
            dm, state, Seq("doc_id"), Seq("component", "kept"), lit(ts))
          case None => state
            .withColumn("valid_from", lit(ts))
            .withColumn("valid_to", lit(null).cast("timestamp"))
        }
        Sinks.commit(Seq("dim" -> dim, "labels" -> full, "corpus" -> universe)
          .map { case (name, df) => s"$statePath/$name" -> df })
      }
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Update)
      .trigger(trigger)

  /** Streaming Type-2 SCD maintenance: every micro-batch extends the
    * versioned dimension at `path` through
    * [[graft.ops.IncrementalOps.scdType2Apply]] — the full incremental
    * warehouse loop (change stream in, immutable history out) with the
    * same [[Sinks.commit]] / [[Sinks.readGeneration]] durability as the
    * MERGE sink.
    *
    * `effectiveTs` maps the batch id to the version timestamp so tests
    * and replays are deterministic; production passes the batch's event-
    * time watermark. scdType2Apply is a no-op for unchanged re-deliveries,
    * so checkpoint-recovery replays converge instead of growing history —
    * the same at-least-once → effectively-once upgrade the MERGE sink
    * gets from deterministic keys. A micro-batch can carry several
    * versions of one key, so when `ordinalCol` names an explicit source
    * ordinal (page*1e6+index, a CDC log offset — NEVER
    * `monotonically_increasing_id`, which is partitioning-dependent) the
    * batch is key-deduped keep-last on it first; without an ordinal the
    * batch must already be key-unique.
    */
  def toScd2Sink(
      df: DataFrame, path: String, checkpoint: String,
      keyCols: Seq[String], compareCols: Seq[String],
      effectiveTs: Long => java.sql.Timestamp,
      ordinalCol: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val updates = ordinalCol.fold(batch)(ord =>
          Transform.dedupeKeepLast(batch, keyCols, col(ord)).drop(ord))
        val dim = Sinks.readGeneration(batch.sparkSession, path) match {
          case Some(existing) =>
            graft.ops.IncrementalOps.scdType2Apply(
              existing, updates, keyCols, compareCols,
              lit(effectiveTs(batchId)))
          case None =>
            updates.select(
              (keyCols ++ compareCols).map(col) ++ Seq(
                lit(effectiveTs(batchId)).as("valid_from"),
                lit(null).cast("timestamp").as("valid_to")): _*)
        }
        Sinks.commit(Seq(path -> dim))
      }
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Update)
      .trigger(trigger)
}
