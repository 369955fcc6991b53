package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}

/**
 * Materialization strategy for consumed-then-dead intermediates and
 * iterative-loop lineage cuts — one policy knob instead of hard-coded
 * `localCheckpoint(true)` calls scattered through operators.
 *
 * The trade-off the knob exposes:
 *
 *  - `local` (default): `localCheckpoint(eager)` — blocks live on executor
 *    local storage, are released when the DataFrame is garbage-collected
 *    (unlike `cache()`, whose plans pin storage memory in the session's
 *    CacheManager for its lifetime), and truncate lineage (mandatory for
 *    the iterative loops: 50 self-join generations would otherwise blow up
 *    plan analysis). NOT fault-tolerant: on a real cluster, losing an
 *    executor — including dynamic-allocation decommission — permanently
 *    fails downstream actions, because the truncated lineage cannot
 *    recompute the lost blocks. Right for single-tenant batch jobs where a
 *    lost executor fails the stage anyway and the job-level answer is the
 *    resume-from-manifest path (plans/lineage.scala), which re-enters from
 *    durable parquet, not from executor blocks.
 *
 *  - `reliable`: `checkpoint(eager)` — blocks are written to the
 *    SparkContext checkpoint directory (HDFS/S3A via the Hadoop FileSystem
 *    API), so they survive executor loss and dynamic allocation while
 *    still truncating lineage. Costs a durable write per materialization.
 *    Set `spark.sparkContext.setCheckpointDir(...)` before use; long-lived
 *    multi-tenant clusters should prefer this.
 *
 * Select with `spark.graft.materialize` = `local` | `reliable` (runtime
 * conf, so spark-submit `--conf` switches policy without a code change).
 * Both modes are EAGER — they run a job at call time; call sites are
 * placed where the result is consumed immediately after.
 *
 * The partition-width pin is the second physical-plan policy kept here.
 * AQE sizes an exchange by its INPUT bytes, so a stage whose cost is a
 * quadratic join explosion or a CPU-dense kernel over a few MB of input
 * is coalesced onto one task (the 1-task disease, BENCH/BASELINE.md). An
 * explicit `repartition(n, ...)` is exempt from that coalescing, and
 * `pinned` is the one place that picks `n`: the cluster width.
 */
object stage {

  /** The cluster width every pin uses: `defaultParallelism`. */
  def width(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  /** `df` repartitioned at cluster width on `keys`; with no keys, the
    * round-robin `df.repartition(width)`. Results are partition-invariant
    * throughout (determinism contract), so a pin never changes values. */
  def pinned(df: DataFrame, keys: Column*): DataFrame = {
    val w = width(df.sparkSession)
    if (keys.isEmpty) df.repartition(w) else df.repartition(w, keys: _*)
  }

  def materialize(df: DataFrame): DataFrame = materializeDs(df)

  def materializeDs[T](ds: Dataset[T]): Dataset[T] =
    ds.sparkSession.conf.get("spark.graft.materialize", "local") match {
      case "local"    => ds.localCheckpoint(true)
      case "reliable" => ds.checkpoint(true)
      case other => throw new IllegalArgumentException(
        s"spark.graft.materialize must be local|reliable, got '$other'")
    }

  /** `df.materialize` postfix syntax for call sites. */
  object implicits {
    implicit class MaterializeOps(private val df: DataFrame) extends AnyVal {
      def materialize: DataFrame = stage.materialize(df)
    }
  }
}
