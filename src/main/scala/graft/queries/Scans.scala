package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.tables.Tables
import util._

/** Source/sink surface (SURVEY.md §2.1).
  *
  * `scan_parquet` demonstrates the load-bearing scan path: the filter and
  * projection reach the parquet reader (PushedFilters / ReadSchema in
  * `.explain`), so at 100 TB only matching row groups and the three
  * referenced columns are read. `scan_csv` / `scan_json` prove the text
  * formats round-trip: the fixture table is exported to a scratch dir in
  * that format, read back with an explicit schema (never inference at
  * scale — one pass saved, deterministic types), and compared against the
  * parquet-backed oracle.
  */
object Scans {

  def scanParquet(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir).lineitem
      .filter(col("l_shipdate") >= to_timestamp(lit("1998-01-01 00:00:00")) &&
        col("l_quantity") > 45)
      .select(col("l_orderkey"), col("l_linenumber"),
        fmtDay(col("l_shipdate")).as("ship_day"), col("l_quantity"))
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic
      // fixture — order by every output column for a total order
      .orderBy("l_orderkey", "l_linenumber", "ship_day", "l_quantity")
  }

  val scanParquetSql: String =
    """SELECT l_orderkey, l_linenumber, strftime(l_shipdate, '%Y-%m-%d') AS ship_day, l_quantity
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00' AND l_quantity > 45
      |ORDER BY l_orderkey, l_linenumber, ship_day, l_quantity""".stripMargin

  private def scratch(fmt: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_$fmt").toFile
    d.deleteOnExit(); d.getAbsolutePath
  }

  /** Scratch dir holding `events` rewritten as a hive/date-partitioned
    * tree (`day=2024-01-03/part-*.parquet`) — the single most common
    * 100 TB layout. Built once per (JVM, sfDir): the rewrite is fixture
    * setup, the operator under test is the pruned scan below.
    */
  private val hiveDirs = scala.collection.concurrent.TrieMap.empty[String, String]

  def hiveEventsDir(spark: SparkSession, sfDir: String): String =
    hiveDirs.getOrElseUpdate(sfDir, {
      val out = scratch("hive_events")
      Tables(spark, sfDir).events
        .withColumn("day", fmtDay(col("ts")).cast("date"))
        .write.mode("overwrite").partitionBy("day").parquet(out)
      out
    })

  /** One-day slice of a date-partitioned directory tree. The filter on
    * the partition column must become `PartitionFilters` on the scan
    * (asserted in ExplainAuditSpec): at 100 TB this is the difference
    * between listing+reading 1 directory and the whole table.
    */
  def scanHivePartitioned(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = hiveEventsDir(spark, sfDir)
    spark.read.parquet(dir)
      .filter(col("day") === to_date(lit("2024-01-15")))
      .groupBy(fmtDay(col("day")).as("day"), col("event_type"))
      .agg(dsum(col("value"), 2).as("sum_value"), count(lit(1)).as("n"))
      .orderBy("day", "event_type")
  }

  val scanHivePartitionedSql: String =
    s"""SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
      | ${dsumSql("value", 2)} AS sum_value, count(*) AS n
      |FROM events
      |WHERE strftime(ts, '%Y-%m-%d') = '2024-01-15'
      |GROUP BY 1, 2
      |ORDER BY day, event_type""".stripMargin

  /** region -> CSV -> read back with explicit schema. */
  def scanCsv(spark: SparkSession, sfDir: String): DataFrame = {
    val out = scratch("csv")
    // coalesce(1) is FIXTURE-SCALE ONLY (5-row determinism fixture): a
    // real export keeps the write parallel (one file per task) — do not
    // copy this single-writer pattern to a production sink path.
    Tables(spark, sfDir).region
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(out)
    val schema = StructType(Seq(
      StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))
    spark.read.option("header", "true").schema(schema).csv(out)
      .orderBy("r_regionkey")
  }

  val scanCsvSql: String = "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"

  /** nation -> ORC -> read back (columnar round trip; the oracle reads
    * the parquet original, so fidelity is what's checked).
    */
  def scanOrc(spark: SparkSession, sfDir: String): DataFrame = {
    val out = scratch("orc")
    // coalesce(1): fixture-scale only — see scanCsv
    Tables(spark, sfDir).nation
      .coalesce(1).write.mode("overwrite").orc(out)
    spark.read.orc(out).orderBy("n_nationkey")
  }

  val scanOrcSql: String =
    "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"

  /** orders slice -> line-delimited JSON -> read back with explicit schema. */
  def scanJson(spark: SparkSession, sfDir: String): DataFrame = {
    val out = scratch("json")
    Tables(spark, sfDir).orders
      .filter(col("o_orderkey") <= 2000)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        fmtTs(col("o_orderdate")).as("order_ts"))
      // coalesce(1): fixture-scale only — see scanCsv
      .coalesce(1).write.mode("overwrite").json(out)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType), StructField("order_ts", StringType)))
    spark.read.schema(schema).json(out).orderBy("o_orderkey")
  }

  val scanJsonSql: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice,
      | strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_ts
      |FROM orders WHERE o_orderkey <= 2000
      |ORDER BY o_orderkey""".stripMargin

  /** read_sql_table (SURVEY §2.1): customer -> embedded Derby ->
    * partitioned JDBC read back. `partitionColumn`/bounds split the
    * table into `numPartitions` parallel range queries — the only JDBC
    * ingest shape that scales (a single-connection read serializes the
    * whole table through one executor). Bounds come from one eager
    * MIN/MAX query (standard practice: cheap on an indexed key; noted
    * like agg_describe's eager build). The oracle reads the same rows
    * from the parquet original, so round-trip fidelity is what's
    * hash-checked.
    *
    * FIXTURE CONSTRAINT: `jdbc:derby:memory:` is a per-JVM database,
    * so this exact query only runs in local mode (driver and
    * "executors" share one JVM). The partitioned-read PATTERN —
    * partitionColumn + bounds + numPartitions against a NETWORK
    * database — is what transfers to a cluster; the embedded database
    * does not.
    */
  def scanJdbcPartitioned(spark: SparkSession, sfDir: String): DataFrame = {
    val url = "jdbc:derby:memory:graftscan;create=true"
    val props = new java.util.Properties()
    val src = Tables(spark, sfDir).customer
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_acctbal"))
    src.write.mode("overwrite").jdbc(url, "CUST_SCAN", props)
    // MIN/MAX are NULL on an empty table, and the key may not be BIGINT
    // in other fixtures: read via Number with a null guard and fall back
    // to a single-partition read rather than NPE on the bounds
    val bounds = src.agg(min("c_custkey"), max("c_custkey")).head()
    val reader =
      if (bounds.isNullAt(0) || bounds.isNullAt(1))
        spark.read.jdbc(url, "CUST_SCAN", props)
      else {
        val lo = bounds.getAs[Number](0).longValue()
        val hi = bounds.getAs[Number](1).longValue()
        spark.read.jdbc(url, "CUST_SCAN",
          columnName = "c_custkey", lowerBound = lo, upperBound = hi + 1,
          numPartitions = 8, connectionProperties = props)
      }
    reader.orderBy("c_custkey")
  }

  val scanJdbcPartitionedSql: String =
    "SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer ORDER BY c_custkey"

  /** read_text (Dask `db.read_text` / `spark.read.text`): raw line
    * corpus round trip — the ingest shape for unstructured pretrain
    * data before any schema exists. One line per document; the reader
    * is split-parallel per file at scale.
    */
  def scanText(spark: SparkSession, sfDir: String): DataFrame = {
    val out = scratch("text")
    // coalesce(1): fixture-scale only — see scanCsv
    Tables(spark, sfDir).documents
      .select(col("text"))
      .coalesce(1).write.mode("overwrite").text(out)
    spark.read.text(out).orderBy("value")
  }

  val scanTextSql: String = "SELECT text AS value FROM documents ORDER BY value"

  /** Schema-evolution-tolerant scan: a table directory whose older
    * files predate a column (`o_orderpriority` added in batch 2) is
    * read as ONE dataset with `mergeSchema=true` — missing columns
    * surface as nulls, exactly the additive-evolution contract a
    * long-lived 100 TB table depends on (reingesting history for every
    * schema change is a non-starter). The batches are laid out as
    * hive partitions (`batch=1/`, `batch=2/`), so the footer merge
    * spans both schemas while partition pruning still works; at scale
    * `mergeSchema` reads every file footer — production pins the
    * merged schema in a catalog instead, same read plan.
    */
  def scanSchemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    val out = scratch("evolve")
    val o = Tables(spark, sfDir).orders
    o.filter(col("o_orderkey") % 3 === 0)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$out/batch=1")
    o.filter(col("o_orderkey") % 3 === 1)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$out/batch=2")
    spark.read.option("mergeSchema", "true").parquet(out)
      .groupBy(coalesce(col("o_orderpriority"), lit("<pre-schema>")).as("pri"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 2).as("sum_price"))
      .orderBy("pri")
  }

  val scanSchemaEvolutionSql: String =
    s"""WITH u AS (
       |  SELECT o_totalprice, NULL AS o_orderpriority
       |  FROM orders WHERE o_orderkey % 3 = 0
       |  UNION ALL
       |  SELECT o_totalprice, o_orderpriority
       |  FROM orders WHERE o_orderkey % 3 = 1)
       |SELECT coalesce(o_orderpriority, '<pre-schema>') AS pri,
       | count(*) AS n, ${dsumSql("o_totalprice", 2)} AS sum_price
       |FROM u GROUP BY 1 ORDER BY pri""".stripMargin
}
