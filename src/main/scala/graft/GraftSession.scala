package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory for the graft engine: Bench, Verify,
  * Explain, the specs and the benchmark harness all build from it, so the
  * plans the oracle certifies are the plans that get timed.
  *
  * Every session gets `spark.sql.extensions=graft.plans.GraftExtensions`,
  * which installs the native functions (vector_dot, morton_interleave,
  * hamming_str) and planner strategies (AsofJoinStrategy,
  * TopKPerKeyStrategy) at session creation; no operator registers anything.
  *
  * Settings chosen for the 100 TB posture (see SURVEY.md §5): AQE on for
  * runtime re-planning + skew-join splitting, and a broadcast threshold
  * large enough to broadcast every dimension table of the star schema.
  * Shuffle partitions come from the `shufflePartitions` argument: the CPU
  * count locally (SPARK_GRAFT_CPUS), ~2-3x total executor cores on a
  * cluster. Scan splits (128 MiB) and AQE advisory partition size (64 MiB)
  * are left at Spark's defaults.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
