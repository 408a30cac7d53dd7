package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Range (interval) join: left rows whose point-in-time falls inside a
  * right-side `[start, end]` interval, without the cartesian product Spark
  * plans for a raw inequality join (BroadcastNestedLoopJoin — quadratic,
  * a 100 TB killer).
  *
  * Shape: pick a bucket width comparable to the typical interval length.
  * Each point maps to exactly ONE bucket (`floor(epoch / width)`); each
  * interval is exploded to EVERY bucket it overlaps (`sequence(floor(s/w),
  * floor(e/w))` — bounded by interval_len/width + 1 rows). The equi-join
  * on the bucket key is a plain shuffle/broadcast hash join — linear —
  * and the exact `BETWEEN` predicate filters within the bucket matches.
  * No post-distinct is needed: a point's single bucket meets a covering
  * interval's replica exactly once.
  *
  * Equivalent to what Databricks' range-join "bin" hint does, built from
  * stock operators. Skewed interval lengths want a width near the p95
  * interval; pathological long intervals can be unioned in via a second,
  * coarser pass.
  */
object RangeJoin {

  /** @param left       point side; must contain `leftTime` (timestamp)
    * @param right      interval side; `rightStart`/`rightEnd` timestamps
    * @param bucketSecs bucket width in seconds
    * @param extraKey   optional additional equi-key present on both sides
    *                   (e.g. user_id) — joins on (bucket, key) */
  def pointInInterval(
      left: DataFrame, right: DataFrame,
      leftTime: String, rightStart: String, rightEnd: String,
      bucketSecs: Long, extraKey: Option[String] = None): DataFrame = {
    val lb = left.withColumn("_bucket",
      floor(unix_timestamp(col(leftTime)) / bucketSecs))
    val rb = right.withColumn("_bucket",
      explode(sequence(
        floor(unix_timestamp(col(rightStart)) / bucketSecs),
        floor(unix_timestamp(col(rightEnd)) / bucketSecs))))
    val keys = "_bucket" +: extraKey.toSeq
    lb.join(rb, keys)
      .filter(col(leftTime) >= col(rightStart) &&
        col(leftTime) <= col(rightEnd))
      .drop("_bucket")
  }

  /** The interval join: each left row joins right rows sharing `keyCol`
    * whose event time falls within `[leftTs - toleranceSecs, leftTs]`,
    * right-side columns that collide with a left name renamed
    * `right_<name>`; gated as `interval_join_batch`. Composed over
    * [[pointInInterval]]: the RIGHT rows are the points (one bucket each)
    * and each LEFT row's window replicates to the ≤ tolerance/bucket + 1
    * buckets it spans — linear, never the BroadcastNestedLoopJoin a raw
    * inequality join plans. */
  def intervalJoin(
      left: DataFrame, leftTsCol: String,
      right: DataFrame, rightTsCol: String,
      keyCol: String, toleranceSecs: Long,
      bucketSecs: Long): DataFrame = {
    val collisions = right.columns.toSet.intersect(left.columns.toSet) - keyCol
    val r = collisions.foldLeft(right) {
      (d, c) => d.withColumnRenamed(c, s"right_$c")
    }
    val rTs = if (collisions(rightTsCol)) s"right_$rightTsCol" else rightTsCol
    val lw = left.withColumn("_w_start",
      col(leftTsCol) - expr(s"INTERVAL $toleranceSecs SECONDS"))
    pointInInterval(r, lw, rTs, "_w_start", leftTsCol,
        bucketSecs, extraKey = Some(keyCol))
      .drop("_w_start")
  }

  /** Convenience: columns version of the exact containment predicate, for
    * callers composing their own post-filter. */
  def contains(point: Column, start: Column, end: Column): Column =
    point >= start && point <= end
}
