package graft

import org.apache.spark.sql.functions._
import graft.operators.OrderByOnce
import graft.operators.OrderByOnce.Ops

/** r18 optimization coverage: the pre-sort materialization barrier.
  * Contracts under test: (1) rows AND row order identical to the plain
  * orderBy (both overload shapes); (2) the barrier's cache releases
  * after the consuming action (the CacheLifecycle discipline — a
  * long-lived session running the window family hundreds of times must
  * not accumulate pinned blocks); (3) the child plan stays visible
  * through the cache (the property ExplainAuditSpec's scan/window pins
  * rely on — a checkpoint-style barrier would hide it).
  */
class OrderByOnceSpec extends SparkSpec {

  private def events = spark.read.parquet(s"$sf/events.parquet")
    .select(col("event_id"), col("user_id"),
      (col("value") * 2).as("v2"))

  test("orderByOnce returns the same rows in the same order as orderBy") {
    val plain = events.orderBy("event_id").collect().toSeq
    val once = OrderByOnce(events, col("event_id")).collect().toSeq
    assert(once == plain)
    val viaOps = events.orderByOnce("event_id").collect().toSeq
    assert(viaOps == plain)
    // Column-overload with a descending key + tiebreak
    val plainDesc = events.orderBy(col("v2").desc, col("event_id")).collect().toSeq
    val onceDesc = events.orderByOnce(col("v2").desc, col("event_id")).collect().toSeq
    assert(onceDesc == plainDesc)
  }

  test("the barrier's cache releases after the consuming action") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    events.orderByOnce("event_id").write.format("noop")
      .mode("overwrite").save()
    org.apache.spark.sql.graft.ListenerBus.flush(spark)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked persisted RDD ids: $leaked")
  }

  test("the child plan stays visible below the cache barrier") {
    val plan = events.filter(col("event_id") > 10)
      .orderByOnce("event_id")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("InMemoryRelation"), plan.take(800))
    // the scan and the pushed filter of the CHILD must still print —
    // the pin surface ExplainAuditSpec checks
    assert(plan.contains("Scan parquet"), plan.take(800))
    assert(plan.contains("PushedFilters"), plan.take(800))
  }
}
