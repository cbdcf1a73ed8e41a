package graft

import org.apache.spark.sql.SparkSession

/** Opinionated SparkSession factory encoding the engine's scale
  * defaults. It is the front door for library users and the one base of
  * every session in this repo (Bench, Verify, the specs, the tools and
  * perfbench), which add only master, partition, UI and path settings.
  *
  * Config rationale, sized for the 100 TB deployment this engine
  * targets (values are per-job starting points, not magic):
  *
  *  - AQE on (default in 4.x): runtime re-planning gives post-shuffle
  *    coalescing, skew-join splitting, and broadcast-conversion — the
  *    three things static planning gets wrong at scale.
  *  - `shuffle.partitions`: ~2-3× total executor cores, so AQE can
  *    coalesce DOWN (it never splits a too-coarse shuffle except for
  *    skew). On a 1000-executor × 4-core cluster that is ~10k, not 200.
  *  - `files.maxPartitionBytes` 256m: halves task count on wide scans
  *    vs the 128m default; parquet row groups stay the real unit.
  *  - `parquet.filterPushdown` + `columnarReaderBatchSize` defaults:
  *    the scan-side wins are already on; never disable them.
  *  - Extensions: registers graft's native SQL functions
  *    (vector_dot_scaled, simhash64, ...) via [[GraftExtensions]].
  *
  * Library operators never write session config; every setting they
  * rely on is here. A caller's own `.config(...)` after `builder()`
  * still wins.
  */
object GraftSession {

  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "268435456")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // propagate bucket sort order from bucketed scans (off by default
      // since 3.1 because multi-file buckets forfeit it and detecting
      // that costs a listing): graft's Bucketing.writeBucketed lays out
      // exactly one file per bucket, so the order is real and sort-merge
      // joins on the bucket key skip BOTH the exchange and the sort
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // NearDup's broadcast regime builds the multi-shuffle PPJoin prefix
      // INSIDE the broadcast exchange, which must beat this timeout; on a
      // slow or contended cluster the 300 s default surfaces as an opaque
      // broadcast-timeout failure
      .config("spark.sql.broadcastTimeout", "1800")

  /** Local development/test session: shuffle partitions = cores. */
  def local(cores: Int): SparkSession = {
    val s = builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
