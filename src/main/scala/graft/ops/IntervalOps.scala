package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Interval algebra over keyed event streams — the gaps-and-islands
  * family: where sessions merge points that are CLOSE, islands merge
  * intervals that OVERLAP.
  */
object IntervalOps {

  /** Merge overlapping or touching closed intervals `[start, end]` per
    * key into maximal "islands". An interval starts a new island iff its
    * start is strictly greater than the running maximum end of every
    * earlier interval (earlier = by (`start`, tieCols) within the key) —
    * the running-max formulation handles containment chains
    * (a long interval swallowing several later short ones) that the naive
    * lag-based gap test gets wrong.
    *
    * Plan shape: ONE shuffle+sort on (`key`, `start`, tieCols); the
    * running max, the island counter, and the final per-island rollup all
    * reuse that sort order (the rollup keys are a prefix-extension of the
    * window partitioning, so no second exchange). State per row is one
    * running max + one counter — nothing data-sized, any key cardinality.
    *
    * @param tieCols extra ordering columns making the per-key order total
    *        (required for cross-engine determinism when starts tie).
    * @return (`key`, `island`, `island_start`, `island_end`, `n_rows`):
    *         islands numbered from 1 in start order within each key.
    */
  def mergeIntervals(
      df: DataFrame, keyCol: String, startCol: String, endCol: String,
      tieCols: Seq[String] = Nil): DataFrame = {
    val order: Seq[Column] = col(startCol) +: tieCols.map(col)
    val w = Window.partitionBy(keyCol).orderBy(order: _*)
    val prevMax = max(col(endCol))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val runSum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("_new_island",
        when(prevMax.isNull || col(startCol) > prevMax, 1L).otherwise(0L))
      .withColumn("island", sum(col("_new_island")).over(runSum))
      .groupBy(col(keyCol), col("island"))
      .agg(
        min(col(startCol)).as("island_start"),
        max(col(endCol)).as("island_end"),
        count(lit(1)).as("n_rows"))
  }
}
