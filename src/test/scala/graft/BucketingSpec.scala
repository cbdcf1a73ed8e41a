package graft

import org.apache.spark.sql.functions._
import graft.operators.Bucketing

/** Bucketed co-located joins: identical results to the plain join, and
  * — the point — ZERO Exchange in the join plan. At 100 TB this is the
  * difference between re-shuffling the fact table on every query and
  * paying the shuffle once at write time.
  */
class BucketingSpec extends SparkSpec {

  test("same-bucket-count join plans with zero exchanges and exact results") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val lineitem = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
      .withColumnRenamed("l_orderkey", "o_orderkey")
    try {
      Bucketing.writeBucketed(orders, "b_orders", "o_orderkey", 8)
      Bucketing.writeBucketed(lineitem, "b_lineitem", "o_orderkey", 8)
      // fixture tables are broadcast-small, which would bypass the
      // bucketed path entirely; disable broadcast to plan the join the
      // way two 100 TB fact tables would
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
        val joined = Bucketing.coLocatedJoin(spark, "b_orders", "b_lineitem", "o_orderkey")
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"bucketed join must not shuffle either side:\n$plan")
        // bucket pruning/format must not change the answer (decimal sums:
        // a double sum's low bits depend on partition merge order, which
        // bucketing legitimately changes)
        def summary(df: org.apache.spark.sql.DataFrame) = df
          .agg(count(lit(1)),
            sum(col("l_quantity").cast("decimal(38,8)")),
            sum(col("o_totalprice").cast("decimal(38,8)")))
          .collect().toSeq
        assert(summary(joined) == summary(orders.join(lineitem, "o_orderkey")))
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("snapshot-diff over two bucketed snapshots plans with zero exchanges") {
    // the SnapshotDiff scaladoc's claim, proven: when yesterday's and
    // today's dumps are both bucketed on the diff key, the full-outer
    // join needs NO exchange on either side — at 100 TB the nightly
    // CDC pays only a sort per bucket, never a reshuffle of either dump
    val c = spark.read.parquet(s"$sf/customer.parquet")
      .select("c_custkey", "c_acctbal", "c_mktsegment")
    val newSnap = c.filter(col("c_custkey") % 13 =!= 0)
      .withColumn("c_acctbal", when(col("c_custkey") % 11 === 0,
        col("c_acctbal") + 50.0).otherwise(col("c_acctbal")))
    try {
      Bucketing.writeBucketed(c, "b_snap_old", "c_custkey", 8)
      Bucketing.writeBucketed(newSnap, "b_snap_new", "c_custkey", 8)
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
        val diff = graft.operators.SnapshotDiff.diff(
          spark.table("b_snap_old"), spark.table("b_snap_new"),
          Seq("c_custkey"), Seq("c_acctbal", "c_mktsegment"))
        val plan = diff.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"bucketed snapshot diff must not shuffle either snapshot:\n$plan")
        // and the classification is identical to the unbucketed diff
        val expect = graft.operators.SnapshotDiff
          .diff(c, newSnap, Seq("c_custkey"), Seq("c_acctbal", "c_mktsegment"))
          .orderBy("c_custkey").collect().toSeq
        assert(diff.orderBy("c_custkey").collect().toSeq == expect)
        assert(expect.nonEmpty, "fixture must actually produce changes")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_snap_old")
      spark.sql("DROP TABLE IF EXISTS b_snap_new")
    }
  }

  test("per-user windows over a bucketed event log are exchange-free") {
    // the event-analytics claim at 100 TB: an event log bucketed on
    // user_id feeds every per-user window (sessionize, ffill,
    // attribution, rolling) with NO exchange — the scan's bucket
    // partitioning satisfies the window's ClusteredDistribution, so
    // each query pays only the per-bucket sort
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select("event_id", "user_id", "ts", "value")
    try {
      Bucketing.writeBucketed(ev, "b_events", "user_id", 8)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Long.MinValue, 0)
      def runSum(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("run_sum", sum("value").over(w))
      val bucketed = runSum(spark.table("b_events"))
      val plan = bucketed.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"per-user window over the bucketed log must not shuffle:\n$plan")
      // bit-identical to the unbucketed plan: the ROWS frame folds in
      // the same deterministic (ts, event_id) order either way
      val got = bucketed.select("event_id", "run_sum")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      val want = runSum(ev).select("event_id", "run_sum")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      assert(got == want)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_events")
    }
  }

  test("bucketed aggregation on the bucket key also skips the exchange") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    try {
      Bucketing.writeBucketed(orders, "b_orders_agg", "o_orderkey", 8)
      val agg = spark.table("b_orders_agg")
        .groupBy("o_orderkey").agg(sum("o_totalprice").as("s"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"groupBy on the bucket key must be exchange-free:\n$plan")
      assert(agg.count() == orders.select("o_orderkey").distinct().count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders_agg")
    }
  }
}
