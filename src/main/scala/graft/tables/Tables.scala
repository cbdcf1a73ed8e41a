package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated fixture tables (schemas: FIXTURES.md).
  *
  * Each table is one parquet file under the scale-factor directory. Reads
  * go through `spark.read.parquet`, so Catalyst's predicate pushdown,
  * column pruning, and vectorized parquet reader apply automatically —
  * at 100 TB these tables would be directories of many files (and
  * typically hive-partitioned), which the same call handles unchanged.
  */
final class Tables(spark: SparkSession, sfDir: String) {
  private def t(name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def supplier: DataFrame   = t("supplier")
  def customer: DataFrame   = t("customer")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  /** events.parquet has shipped `ts` in two physical shapes across
    * driver data generations: TIMESTAMP(NANOS) (which Spark's vectorized
    * reader rejects — read nanos as raw longs and truncate to µs, exactly
    * DuckDB's behavior: 179575175 ns -> 179575 µs, floor division) and
    * plain timestamp[us] (read as TIMESTAMP_NTZ). Adapt on the observed
    * footer type so either generation loads to the same session-tz
    * TimestampType column (session tz is UTC, so the NTZ cast is
    * value-preserving and matches DuckDB's naive reading bit-for-bit).
    * A NANOS-encoded file relies on [[graft.GraftSession]]'s
    * `spark.sql.legacy.parquet.nanosAsLong`; this loader writes no
    * session config.
    */
  def events: DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = t("events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  def apply(spark: SparkSession, sfDir: String): Tables = new Tables(spark, sfDir)
}
