package graft

import org.apache.spark.sql.SparkSession

/** The one engine session configuration. Bench, Verify, the tools and the
  * test session all build from here, so plans are audited and tests run
  * under the config the bench measures.
  */
object GraftSession {
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      // Let AQE size CACHED plans' output partitions from their bytes
      // (default false for historical compat): CacheScope-cached frames
      // otherwise freeze the session shuffle-partition count into every
      // downstream scan, so a KB-sized cached table is re-read as `cpus`
      // near-empty partitions by every action that touches it — per-task
      // overhead that scales with the core count, not the data. At real
      // input sizes AQE keeps caches many-partitioned.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // the fixtures' timestamps are compared with DuckDB in UTC (Tables.loadEvents)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
}
