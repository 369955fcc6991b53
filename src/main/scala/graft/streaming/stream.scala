package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Batch gap sessionization over an event table (q70). The object keeps
 * its package so the query's call site stays `graft.streaming.stream`;
 * nothing here reads a stream.
 */
object stream {

  /**
   * Gap-based batch sessionization — the classic training-pipeline
   * grouping "a new session starts after `gapSeconds` of inactivity":
   * assigns a per-key `session_ord` (1-based) via lag + running sum over
   * one (key)-ordered window. The streaming twin of this semantics is
   * Spark's `session_window(ts, gap)`; the batch form here is what a
   * backfill over the historical event table runs, and is exactly
   * SQL-expressible (oracled as q70).
   *
   * Determinism: ordering ties break on `idCol` (total order). The gap
   * compares event-time as double seconds — both engines derive the
   * identical double from the same microsecond integers.
   *
   * Scale: ONE exchange keyed on `keyCol` shared by the lag and the
   * running sum (prefix-compatible window specs — Catalyst plans a single
   * sort); per-key data is a user's event history, the same skew class as
   * the per-conversation stabilize window. No driver state, no loop.
   */
  def sessionizeGap(events: DataFrame, keyCol: String, tsCol: String,
                    idCol: String, gapSeconds: Double): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
    events
      // NTZ-safe epoch seconds: TIMESTAMP_NTZ has no direct double cast;
      // routing through TIMESTAMP under the session's UTC matches the
      // oracle's naive epoch() exactly
      .withColumn("_prev",
        lag(col(tsCol).cast("timestamp").cast("double"), 1).over(w))
      .withColumn("_new",
        when(col("_prev").isNull ||
          col(tsCol).cast("timestamp").cast("double") - col("_prev") > gapSeconds, 1L)
          .otherwise(0L))
      .withColumn("session_ord",
        sum(col("_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("_prev", "_new")
  }
}
