package graft

import org.apache.spark.sql.SparkSession

/** Single place that configures SparkSessions for this engine.
  *
  * The settings are chosen for the 100 TB / 1000-executor design point and
  * merely scaled down by `shufflePartitions` locally:
  *   - AQE on (default in 4.x, pinned here): runtime partition coalescing,
  *     skew-join splitting, and join-strategy downgrade to broadcast when a
  *     post-shuffle side turns out small.
  *   - `shuffle.partitions` sized to the executor-core count (32 locally;
  *     on a real cluster 2-3× total cores — AQE coalesces the excess).
  *   - UTC session timezone everywhere (parity with the reference's naive
  *     timestamps and the DuckDB oracle).
  *   - [[GraftExtensions]]: the SQL functions and the `Stage` barrier's
  *     planner strategy.
  */
object GraftSession {
  def create(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // runtime row-level pruning: build a Bloom filter from the small
      // join side and push it into the large side's scan (big win when a
      // selective dim filters a 100 TB fact)
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // the driver corpus's events.ts is TIMESTAMP(NANOS); read as raw
      // longs everywhere (no per-read option exists — see Tables.events)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
