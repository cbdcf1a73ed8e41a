package graft

import org.apache.spark.sql.functions._
import graft.operators.Salting

/** Physical-layout operators (SURVEY.md §2.1 repartition / set_index and
  * §4.1 co-located joins): semantics the DuckDB oracle can't see because
  * they change layout, not values.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("set_index equivalent: repartitionByRange + sortWithinPartitions") {
    val df = spark.read.parquet(s"$sf/orders.parquet")
      .repartitionByRange(8, col("o_custkey"))
      .sortWithinPartitions("o_custkey")
    assert(df.rdd.getNumPartitions == 8)
    // each partition is internally sorted and partitions cover disjoint
    // ascending ranges — the "known divisions" property Dask relies on
    val perPart = df.select("o_custkey").as[Long]
      .mapPartitions(it => Iterator(it.toSeq)).collect()
      .filter(_.nonEmpty)
    perPart.foreach(p => assert(p == p.sorted, "partition not sorted"))
    val ranges = perPart.map(p => (p.head, p.last))
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, "ranges overlap")
      case _ =>
    }
  }

  test("bucketed tables join without a shuffle") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    // the in-memory catalog forgets tables across JVMs but their
    // warehouse directories persist — clear them or CTAS refuses
    Seq("b_orders", "b_customer").foreach { t =>
      new scala.reflect.io.Directory(new java.io.File(s"/tmp/graft_warehouse/$t"))
        .deleteRecursively()
    }
    spark.read.parquet(s"$sf/orders.parquet")
      .write.mode("overwrite").bucketBy(4, "o_custkey").sortBy("o_custkey")
      .saveAsTable("b_orders")
    spark.read.parquet(s"$sf/customer.parquet")
      .write.mode("overwrite").bucketBy(4, "c_custkey").sortBy("c_custkey")
      .saveAsTable("b_customer")
    // disable broadcast so the planner actually uses the bucketed
    // layout (at fixture scale it would rather broadcast the dim)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"),
          col("o_custkey") === col("c_custkey"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"scan not bucketed:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == spark.read.parquet(s"$sf/orders.parquet").count())
    }
  }

  test("hive-partitioned layout prunes partitions at the scan") {
    val dir = "/tmp/graft_warehouse/part_orders"
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    spark.read.parquet(s"$sf/orders.parquet")
      .write.partitionBy("o_orderstatus").parquet(dir)
    val q = spark.read.parquet(dir).filter(col("o_orderstatus") === "F")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"),
      s"no partition filter pushed:\n$plan")
    // only the F partition's files are read
    val scanned = q.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount }
    assert(scanned.contains(1), s"expected exactly 1 partition scanned, got $scanned")
  }

  test("salted join equals plain join on skewed data") {
    // one hot key (90% of rows) + a tail
    val fact = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong % 7 else 0L, i))
      .toDF("k", "v")
    val dim = Seq((0L, "hot"), (1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "name")
    val plain = fact.join(dim, Seq("k")).groupBy("name")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
      .as[(String, Long, Long)].collect().toSet
    val salted = Salting.saltedJoin(fact, dim, Seq("k"), saltBuckets = 8)
      .groupBy("name").agg(count(lit(1)).as("n"), sum("v").as("s"))
      .as[(String, Long, Long)].collect().toSet
    assert(salted == plain)
  }

  test("salted left join preserves unmatched large-side rows") {
    val fact = Seq((0L, 1), (0L, 2), (99L, 3)).toDF("k", "v")
    val dim = Seq((0L, "hot")).toDF("k", "name")
    val got = Salting.saltedJoin(fact, dim, Seq("k"), 4, "left")
      .select("v", "name").as[(Int, Option[String])].collect().toSet
    assert(got == Set((1, Some("hot")), (2, Some("hot")), (3, None)))
  }

  test("saltedJoin refuses semantics-breaking inputs loudly (r18 review)") {
    val fact = Seq((0L, 1)).toDF("k", "v")
    val dim = Seq((0L, "hot"), (5L, "cold")).toDF("k", "name")
    // saltBuckets=0: pmod-by-zero salts are NULL → a silently EMPTY join
    intercept[IllegalArgumentException](
      Salting.saltedJoin(fact, dim, Seq("k"), 0))
    // right/full outer: every unmatched small-side row would be emitted
    // once PER SALT (it is replicated across all of them)
    intercept[IllegalArgumentException](
      Salting.saltedJoin(fact, dim, Seq("k"), 4, "right"))
    intercept[IllegalArgumentException](
      Salting.saltedJoin(fact, dim, Seq("k"), 4, "full_outer"))
    // a user __salt column would be overwritten then dropped
    intercept[IllegalArgumentException](
      Salting.saltedJoin(fact.withColumn("__salt", lit(1)), dim, Seq("k"), 4))
    // the preserved types still work, incl. semi/anti
    assert(Salting.saltedJoin(fact, dim, Seq("k"), 4, "left_semi")
      .count() == 1)
    assert(Salting.saltedJoin(fact, dim, Seq("k"), 4, "left_anti")
      .count() == 0)
  }
}
