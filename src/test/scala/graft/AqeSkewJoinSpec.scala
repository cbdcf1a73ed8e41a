package graft

import org.apache.spark.sql.functions._

/** AQE skew-join demonstration (SURVEY §2.3 skew handling, the runtime
  * half): the manual hot-key splits (`join_asof_split`,
  * `ts_sessionize_split`) cover windows — which AQE cannot fix — while
  * JOIN skew is Spark's own job: `spark.sql.adaptive.skewJoin` splits an
  * oversized shuffle partition into advisory-sized sub-reads at runtime
  * and duplicates the matching build side. This spec plants a hot key,
  * forces a shuffle join, and asserts the split actually happened (the
  * executed SMJ node carries `skew=true`) and that it changes no rows.
  * Thresholds are the production defaults scaled to spec data size
  * (256 MB→2 MB, 64 MB→1 MB); the same shape at stress scale with the
  * UNSCALED defaults is recorded in STRESS.md ("AQE skew-join
  * demonstration").
  */
class AqeSkewJoinSpec extends SparkSpec {

  // half the fact rows share key 0; payload is md5 hex so compressed map
  // sizes (what AQE measures) stay within ~2x of the logical bytes
  private def fact = spark.range(400000L).select(
    when(col("id") % 2 === 0, 0L).otherwise(col("id") % 997).as("k"),
    md5(col("id").cast("string")).as("pay"))

  private def dim = spark.range(997L).select(
    col("id").as("k"), md5(col("id").cast("string")).as("d"))

  // a GLOBAL aggregate on the join output: its partial phase has no
  // distribution requirement, so the skew split adds no shuffle and AQE
  // applies it. (An agg/join ON THE JOIN KEY directly above would reuse
  // the join's hash partitioning, and AQE then refuses to split unless
  // spark.sql.adaptive.forceOptimizeSkewedJoin overrides — the split
  // would force a re-shuffle. Planned-ahead salting covers that case:
  // operators/Salting.scala.)
  private def run(skewOn: Boolean): (Long, Long, String) =
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> skewOn.toString,
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1MB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val agg = fact.join(dim, "k").agg(
        count(lit(1)).as("n"),
        sum(crc32(concat_ws("|", col("k"), col("pay"), col("d")))).as("chk"))
      val row = agg.collect()(0)
      (row.getLong(0), row.getLong(1), agg.queryExecution.executedPlan.toString)
    }

  test("AQE splits the planted hot-key partition: executed SMJ shows skew=true") {
    val (n, _, plan) = run(skewOn = true)
    assert(plan.contains("skew=true"),
      s"expected a skew-split shuffle join in the executed plan:\n$plan")
    assert(n == 400000L)
  }

  test("skew split changes no rows: identical checksum with the split disabled") {
    val (n1, chk1, _) = run(skewOn = true)
    val (n2, chk2, planOff) = run(skewOn = false)
    assert(!planOff.contains("skew=true"))
    assert(n1 == n2 && chk1 == chk2)
  }
}
