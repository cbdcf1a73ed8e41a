package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.operators.{AsofJoin, MergeUpsert}
import util._

/** Join surface (SURVEY.md §2.3).
  *
  * Strategy selection is left to Catalyst + AQE: small sides become
  * BroadcastHashJoin automatically (and `join_broadcast` pins the hint
  * explicitly), large equi-joins shuffle on their keys into
  * SortMergeJoin, and AQE splits skewed partitions at runtime. Non-equi
  * joins are only ever issued with a broadcastable side — a
  * BroadcastNestedLoopJoin with two large inputs is a 100 TB
  * anti-pattern, so `join_range_theta` keeps its build side tiny and
  * `join_asof` uses the linear union+window operator instead of a range
  * join.
  */
object Joins {

  def joinInnerEqui(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    t.orders.filter(col("o_orderkey") <= 2000)
      .join(t.customer, col("o_custkey") === col("c_custkey"), "inner")
      .select("o_orderkey", "c_custkey", "c_name", "o_totalprice")
      .orderBy("o_orderkey")
  }

  val joinInnerEquiSql: String =
    """SELECT o_orderkey, c_custkey, c_name, o_totalprice
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin

  /** Left outer join preserving customers without orders. */
  def joinLeft(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    t.customer
      .join(t.orders, col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"),
        dsum(coalesce(col("o_totalprice"), lit(0.0)), 2).as("sum_spend"))
      .orderBy("c_custkey")
  }

  val joinLeftSql: String =
    s"""SELECT c_custkey, count(o_orderkey) AS n_orders,
       | ${dsumSql("coalesce(o_totalprice, 0.0)", 2)} AS sum_spend
       |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
       |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  /** Full outer join of two per-nation profiles with non-overlapping
    * key sets (high-balance customers vs high-balance suppliers).
    */
  def joinFull(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    val c = t.customer.filter(col("c_acctbal") > 9000)
      .groupBy(col("c_nationkey").as("nk")).agg(count(lit(1)).as("n_cust"))
    val s = t.supplier.filter(col("s_acctbal") > 9000)
      .groupBy(col("s_nationkey").as("nk2")).agg(count(lit(1)).as("n_supp"))
    c.join(s, col("nk") === col("nk2"), "full")
      .select(coalesce(col("nk"), col("nk2")).as("nationkey"),
        col("n_cust"), col("n_supp"))
      .orderBy("nationkey")
  }

  val joinFullSql: String =
    """SELECT coalesce(c.nk, s.nk2) AS nationkey, n_cust, n_supp
      |FROM (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer WHERE c_acctbal > 9000 GROUP BY 1) c
      |FULL JOIN (SELECT s_nationkey AS nk2, count(*) AS n_supp FROM supplier WHERE s_acctbal > 9000 GROUP BY 1) s
      |ON c.nk = s.nk2
      |ORDER BY nationkey""".stripMargin

  /** Existence join: customers with at least one finished order. */
  def joinSemi(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    t.customer
      .join(t.orders.filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  val joinSemiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  /** Anti join: customers with no orders at all. */
  def joinAnti(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    t.customer
      .join(t.orders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  val joinAntiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
      |ORDER BY c_custkey""".stripMargin

  /** Explicit broadcast of the dimension chain (nation, region are tiny
    * at any scale — the hint guarantees map-side joins with zero shuffle
    * of the fact side).
    */
  def joinBroadcast(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    t.customer
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal"), 2).as("sum_bal"))
      .orderBy("r_name")
  }

  val joinBroadcastSql: String =
    s"""SELECT r_name, count(*) AS n_cust, ${dsumSql("c_acctbal", 2)} AS sum_bal
       |FROM customer JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY r_name ORDER BY r_name""".stripMargin

  /** Cartesian product of two bounded dimensions. */
  def joinCross(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    t.region.crossJoin(t.nation)
      .select("r_name", "n_name")
      .orderBy("r_name", "n_name")
  }

  val joinCrossSql: String =
    "SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name"

  /** Non-equi (range/theta) join: lineitem rows bucketed by quantity
    * range. The bucket table is tiny and broadcast, so the plan is a
    * BroadcastNestedLoopJoin with a streamed fact side — the only
    * shape a theta join may take at scale.
    */
  def joinRangeTheta(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    val buckets = t.part.filter(col("p_size") <= 10)
      .select(col("p_size").cast("double").as("lo"),
        (col("p_size") + 5).cast("double").as("hi"))
      .distinct()
    t.lineitem.filter(col("l_orderkey") <= 500)
      .join(broadcast(buckets),
        col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
      .groupBy("lo", "hi")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), 2).as("sum_qty"))
      .orderBy("lo")
  }

  val joinRangeThetaSql: String =
    s"""SELECT lo, hi, count(*) AS n, ${dsumSql("l_quantity", 2)} AS sum_qty
       |FROM (SELECT DISTINCT CAST(p_size AS DOUBLE) AS lo, CAST(p_size + 5 AS DOUBLE) AS hi FROM part WHERE p_size <= 10) b
       |JOIN lineitem ON l_quantity >= lo AND l_quantity < hi
       |WHERE l_orderkey <= 500
       |GROUP BY lo, hi ORDER BY lo""".stripMargin

  /** merge_asof: for each purchase, the most recent prior-or-same-time
    * click by the same user (see [[graft.operators.AsofJoin]]).
    */
  def joinAsof(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir).events
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        col("event_id").as("click_event_id"))
    AsofJoin.backward(purchases, clicks, ts = "ts", by = Seq("user_id"),
        payload = Seq("click_event_id"))
      .select(col("event_id"), col("user_id"), fmtTs(col("ts")).as("purchase_ts"),
        col("click_event_id"))
      .orderBy("event_id")
  }

  val joinAsofSql: String =
    """SELECT p.event_id, p.user_id,
      | strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
      | c.event_id AS click_event_id
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      | ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY p.event_id""".stripMargin

  /** [[joinAsof]] through the hot-key time-range-split path
    * ([[graft.operators.AsofJoin.backwardSplit]], day-wide ranges) —
    * same oracle, so the driver gate pins the split's equivalence at
    * sf0.01 on top of HotKeySplitSpec's synthetic hot key.
    */
  def joinAsofSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir).events
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        col("event_id").as("click_event_id"))
    AsofJoin.backwardSplit(purchases, clicks, ts = "ts", by = Seq("user_id"),
        payload = Seq("click_event_id"), splitSeconds = 86400L)
      .select(col("event_id"), col("user_id"), fmtTs(col("ts")).as("purchase_ts"),
        col("click_event_id"))
      .orderBy("event_id")
  }

  val joinAsofSplitSql: String = joinAsofSql

  /** merge_asof direction='nearest' with a tolerance: for each purchase,
    * the click by the same user closest in time (either direction, ties
    * to the prior click, gap <= 30 minutes).
    */
  def joinAsofNearest(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir).events
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        col("event_id").as("click_event_id"))
    AsofJoin.nearest(purchases, clicks, ts = "ts", by = Seq("user_id"),
        payload = Seq("click_event_id"),
        tolerance = Some("INTERVAL 30 MINUTES"))
      .select(col("event_id"), col("user_id"), fmtTs(col("ts")).as("purchase_ts"),
        col("click_event_id"))
      .orderBy("event_id")
  }

  /** DuckDB twin: a correlated nearest-click lookup per purchase —
    * order by |gap| with prior-or-same clicks winning ties, then the
    * max event_id (AsofJoin's deterministic duplicate-(key, ts)
    * tiebreak), bounded at 30 minutes (epoch arithmetic mirrors the
    * interval tolerance).
    */
  val joinAsofNearestSql: String =
    """SELECT p.event_id, p.user_id,
      | strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
      | (SELECT c.event_id
      |  FROM events c
      |  WHERE c.event_type = 'click' AND c.user_id = p.user_id
      |    AND abs(epoch(c.ts) - epoch(p.ts)) <= 1800
      |  ORDER BY abs(epoch(c.ts) - epoch(p.ts)),
      |    CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END,
      |    c.event_id DESC
      |  LIMIT 1) AS click_event_id
      |FROM events p WHERE p.event_type = 'purchase'
      |ORDER BY p.event_id""".stripMargin

  /** SCD-1 upsert merge via [[MergeUpsert.upsert]]: a deterministic
    * updates batch derived from `orders` itself — every 17th key's row
    * re-priced and re-statused (updates), every 31st key cloned to a
    * fresh key range (inserts) — merged back into the full table. The
    * output is the maintained table: 15k base rows at sf0.01 of which
    * ~880 replaced, plus ~480 inserts.
    */
  /** pandas `merge(indicator=True)`: key-level provenance after a full
    * outer join — both / left_only / right_only. A shifted slice of the
    * order keys guarantees right_only rows exist (every natural
    * o_custkey references a real customer).
    */
  def joinIndicator(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    val left = t.customer.select(col("c_custkey").as("k")).distinct()
      .withColumn("__l", lit(1))
    val buyers = t.orders.select(col("o_custkey").as("k"))
    val right = buyers
      .unionByName(buyers.filter(col("k") % 97 === 0).select((col("k") + 1000000L).as("k")))
      .distinct()
      .withColumn("__r", lit(1))
    left.join(right, Seq("k"), "full_outer")
      .select(col("k"),
        when(col("__l").isNotNull && col("__r").isNotNull, "both")
          .when(col("__l").isNotNull, "left_only")
          .otherwise("right_only").as("indicator"))
      .orderBy("k")
  }

  val joinIndicatorSql: String =
    """WITH l AS (SELECT DISTINCT c_custkey AS k, 1 AS fl FROM customer),
      |r AS (
      |  SELECT DISTINCT k, 1 AS fr FROM (
      |    SELECT o_custkey AS k FROM orders
      |    UNION ALL
      |    SELECT o_custkey + 1000000 AS k FROM orders WHERE o_custkey % 97 = 0))
      |SELECT coalesce(l.k, r.k) AS k,
      |  CASE WHEN fl IS NOT NULL AND fr IS NOT NULL THEN 'both'
      |       WHEN fl IS NOT NULL THEN 'left_only'
      |       ELSE 'right_only' END AS indicator
      |FROM l FULL OUTER JOIN r ON l.k = r.k
      |ORDER BY k""".stripMargin

  def mergeUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables(spark, sfDir).orders
    val updated = base.filter(col("o_orderkey") % 17 === 0)
      .withColumn("o_orderstatus", lit("U"))
      // price × 1.1 is EXACT at 3 decimals; emitting it via DECIMAL(38,3)
      // avoids round(double, 2)'s engine-divergent .xx5 behavior (the
      // sql_q10 lesson — at sf0.1 three cells landed on the boundary)
      .withColumn("o_totalprice",
        (col("o_totalprice") * 1.1).cast("decimal(38,3)").cast("double"))
    val inserted = base.filter(col("o_orderkey") % 31 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      .withColumn("o_orderstatus", lit("N"))
    val updates = updated.unionByName(inserted)
      .select(base.columns.map(col).toSeq: _*)
    MergeUpsert.upsert(base, updates, Seq("o_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"),
        fmtTs(col("o_orderdate")).as("o_orderdate"), col("o_orderpriority"))
      .orderBy("o_orderkey")
  }

  /** DuckDB twin: the same updates batch, merged with a full outer join
    * whose projection takes the update row wholesale when present.
    */
  val mergeUpsertSql: String =
    s"""WITH upd AS (
       | SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
       |  CAST(CAST(o_totalprice * 1.1 AS DECIMAL(38,3)) AS DOUBLE) AS o_totalprice, o_orderdate, o_orderpriority
       | FROM orders WHERE o_orderkey % 17 = 0
       | UNION ALL
       | SELECT o_orderkey + 10000000, o_custkey, 'N', o_totalprice, o_orderdate,
       |  o_orderpriority
       | FROM orders WHERE o_orderkey % 31 = 0)
       |SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
       | CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_custkey ELSE b.o_custkey END AS o_custkey,
       | CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderstatus ELSE b.o_orderstatus END AS o_orderstatus,
       | CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice ELSE b.o_totalprice END AS o_totalprice,
       | strftime(CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderdate ELSE b.o_orderdate END, '${duckFmtTs}') AS o_orderdate,
       | CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderpriority ELSE b.o_orderpriority END AS o_orderpriority
       |FROM orders b FULL OUTER JOIN upd u ON b.o_orderkey = u.o_orderkey
       |ORDER BY o_orderkey""".stripMargin

  /** Bloom-prefiltered semi join (round 10): lineitem rows of URGENT
    * orders, with the lineitem side pruned by a 1 MB bloom filter over
    * the urgent order keys BEFORE the exact semi join — the deterministic
    * twin of runtime row-level filtering (see
    * [[graft.operators.BloomPrefilter]]). Result ≡ the plain semi join
    * (the oracle); the bloom only removes definite non-matches, so at
    * 100 TB ~4/5 of the probe side never enters the join shuffle. Bloom
    * sized 8M bits for ~600k keys (sf100-scale urgent count) ⇒ FPP well
    * under 1% at every test scale.
    */
  def joinBloomPrefilter(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    val urgent = t.orders.filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    graft.operators.BloomPrefilter.semiJoinPruned(
        t.lineitem, "l_orderkey", urgent, "o_orderkey",
        expectedItems = 600000L, numBits = 8L * 1024 * 1024)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        dsumExact(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("revenue"))
      .orderBy("l_returnflag")
  }

  val joinBloomPrefilterSql: String =
    s"""SELECT l_returnflag, count(*) AS n,
       | ${dsumExactSql("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
       |FROM lineitem
       |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** SCD type-2 merge (round 10): apply a change batch to a dimension
    * snapshot, closing superseded rows (valid_to set, is_current false)
    * and appending the new versions. One equi join on the dimension key
    * plus a union — the shape that scales: no window, no global sort
    * before the final presentation ORDER BY, and the change batch joins
    * co-partitioned on the same key the dimension would be bucketed by.
    */
  def mergeScd2(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables(spark, sfDir).customer
    val upd = c.filter(pmod(col("c_custkey"), lit(7)) === 0)
      .select(col("c_custkey"), (col("c_acctbal") + 100.0).as("new_bal"))
    val history = c.join(upd, Seq("c_custkey"), "left")
      .select(col("c_custkey"), col("c_acctbal").as("acctbal"),
        lit("2024-01-01").as("valid_from"),
        when(col("new_bal").isNotNull, lit("2024-06-01"))
          .otherwise(lit(null).cast("string")).as("valid_to"),
        col("new_bal").isNull.as("is_current"))
    val fresh = upd.select(col("c_custkey"), col("new_bal").as("acctbal"),
      lit("2024-06-01").as("valid_from"),
      lit(null).cast("string").as("valid_to"), lit(true).as("is_current"))
    history.unionByName(fresh).orderBy("c_custkey", "valid_from")
  }

  val mergeScd2Sql: String =
    """WITH upd AS (
      |  SELECT c_custkey, c_acctbal + 100.0 AS new_bal
      |  FROM customer WHERE c_custkey % 7 = 0)
      |SELECT c.c_custkey, c.c_acctbal AS acctbal, '2024-01-01' AS valid_from,
      | CASE WHEN u.c_custkey IS NOT NULL THEN '2024-06-01' END AS valid_to,
      | u.c_custkey IS NULL AS is_current
      |FROM customer c LEFT JOIN upd u ON c.c_custkey = u.c_custkey
      |UNION ALL
      |SELECT c_custkey, new_bal AS acctbal, '2024-06-01' AS valid_from,
      | NULL AS valid_to, true AS is_current
      |FROM upd
      |ORDER BY c_custkey, valid_from""".stripMargin

  /** BIG-BIG range join via grid bucketing ([[graft.operators.RangeJoin]]):
    * every event inside a 10-minute incident window following each
    * high-value error, aggregated per window. Unlike `join_range_theta`
    * (broadcast-only nested loop — fine for a dim table, an
    * anti-pattern big-big), both sides here come from the fact stream
    * and meet through a bucket EQUI-join (plan-audited: no
    * BroadcastNestedLoop, no cartesian) with the containment predicate
    * as a post-filter — the shape that shards at 100 TB.
    */
  def joinRangeBucketed(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir).events
    val windows = e
      .filter(col("event_type") === "error" && col("value") >= 200)
      .select(col("event_id").as("w_id"), unix_micros(col("ts")).as("w_start"),
        (unix_micros(col("ts")) + lit(600000000L)).as("w_end"))
    val points = e.select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("pt"), col("value"))
    graft.operators.RangeJoin
      .pointInInterval(points, "pt", windows, "w_start", "w_end",
        bucketWidth = 600000000L)
      .groupBy("w_id")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value"), 2).as("sum_value"))
      .orderBy("w_id")
  }

  val joinRangeBucketedSql: String =
    s"""WITH w AS (
       |  SELECT event_id AS w_id, epoch_us(ts) AS w_start,
       |   epoch_us(ts) + 600000000 AS w_end
       |  FROM events WHERE event_type = 'error' AND value >= 200)
       |SELECT w_id, count(*) AS n_events,
       | count(DISTINCT user_id) AS n_users,
       | ${dsumSql("value", 2)} AS sum_value
       |FROM events e JOIN w
       |  ON epoch_us(e.ts) >= w.w_start AND epoch_us(e.ts) <= w.w_end
       |GROUP BY w_id ORDER BY w_id""".stripMargin

  /** Interval-OVERLAP join (big-big): error windows × purchase windows
    * through [[graft.operators.RangeJoin.intervalOverlap]] — both sides
    * explode to covering grid buckets, pairs meet in an equi-join, and
    * the canonical-bucket rule (admit a pair only in the bucket holding
    * `max(starts)`) makes each true pair arrive exactly once with no
    * distinct stage. Per error window: overlap count + the exact total
    * overlapped microseconds (long arithmetic, order-independent).
    */
  def joinIntervalOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir).events
    val errs = e.filter(col("event_type") === "error" && col("value") >= 200)
      .select(col("event_id").as("e_id"), unix_micros(col("ts")).as("e_start"),
        (unix_micros(col("ts")) + lit(600000000L)).as("e_end"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), unix_micros(col("ts")).as("p_start"),
        (unix_micros(col("ts")) + lit(300000000L)).as("p_end"))
    graft.operators.RangeJoin
      .intervalOverlap(errs, "e_start", "e_end",
        purchases, "p_start", "p_end", bucketWidth = 600000000L)
      .groupBy("e_id")
      .agg(count(lit(1)).as("n_overlaps"),
        sum(least(col("e_end"), col("p_end")) -
          greatest(col("e_start"), col("p_start"))).as("overlap_us"))
      .orderBy("e_id")
  }

  val joinIntervalOverlapSql: String =
    """WITH er AS (
      |  SELECT event_id AS e_id, epoch_us(ts) AS e_start,
      |   epoch_us(ts) + 600000000 AS e_end
      |  FROM events WHERE event_type = 'error' AND value >= 200),
      |pu AS (
      |  SELECT event_id AS p_id, epoch_us(ts) AS p_start,
      |   epoch_us(ts) + 300000000 AS p_end
      |  FROM events WHERE event_type = 'purchase')
      |SELECT e_id, count(*) AS n_overlaps,
      | CAST(sum(least(e_end, p_end) - greatest(e_start, p_start)) AS BIGINT) AS overlap_us
      |FROM er JOIN pu ON e_start <= p_end AND p_start <= e_end
      |GROUP BY 1 ORDER BY e_id""".stripMargin

  /** Fuzzy (Levenshtein ≤ 2) self-join over the part-name vocabulary
    * via q-gram blocking ([[graft.operators.FuzzyJoin]]) — candidate
    * pairs meet through a shared-gram equi-join plus the length-band
    * prune; the exact `levenshtein` verify runs once per distinct
    * surviving pair, never n².
    */
  def joinFuzzyLevenshtein(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.FuzzyJoin
      .levenshteinSelfJoin(Tables(spark, sfDir).part, "p_name", maxDist = 2)
      .orderBy("a", "b")

  val joinFuzzyLevenshteinSql: String =
    """WITH n AS (SELECT DISTINCT p_name AS s FROM part WHERE p_name IS NOT NULL)
      |SELECT a.s AS a, b.s AS b, levenshtein(a.s, b.s) AS dist
      |FROM n a JOIN n b ON a.s < b.s
      |WHERE levenshtein(a.s, b.s) <= 2
      |ORDER BY a, b""".stripMargin

  /** pandas `merge(validate='m:1')` via
    * [[graft.operators.ValidatedJoin]]: orders→customer where the
    * customer side is CONTRACTED unique on c_custkey — the join fails
    * loudly (raise_error from the executor that sees the violation)
    * instead of silently fanning out if the dimension ever grows a
    * duplicate key. The multiplicity window shuffles only the small
    * unique side; the fact side stays exchange-free and the join itself
    * is broadcast — so the safety check costs one hash shuffle of the
    * DIMENSION, never a pass over the facts (ExplainAuditSpec pins that
    * shape). Since validation passes on this data, the oracle is the
    * plain equi-join.
    */
  def joinValidated(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    graft.operators.ValidatedJoin
      .join(t.orders, t.customer.withColumnRenamed("c_custkey", "o_custkey"),
        Seq("o_custkey"), how = "inner", validate = "m:1")
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice"), 2).as("sum_price"))
      .orderBy("nationkey")
  }

  val joinValidatedSql: String =
    s"""SELECT c_nationkey AS nationkey, count(*) AS n_orders,
       | ${dsumSql("o_totalprice", 2)} AS sum_price
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY 1 ORDER BY nationkey""".stripMargin

  /** Fuzzy self-join under Jaro–Winkler similarity ≥ 0.85 over the
    * part-name vocabulary, via
    * [[graft.operators.FuzzyJoin.jaroWinklerSelfJoin]] — rarest-token
    * prefix blocking (each name blocks on its `tokenDiff + 1 = 2`
    * globally-rarest tokens) plus the provable Jaro length-band prune,
    * replacing round-12's all-shared-token candidate join (flagged
    * quadratic in vocabulary: Σ df² over EVERY token). The recall
    * contract — qualifying pairs disagree in ≤ 1 token per side, so
    * the 2-rarest-token prefixes must meet — is pinned by
    * FuzzyJoinSpec's all-pairs reference on this vocabulary (all 140
    * ≥0.85 pairs share a token; prefix-4 char blocking would drop 20 —
    * JW's prefix boost is too weak at 0.85 to force a shared prefix).
    * The verify kernel is the custom codegen'd
    * [[org.apache.spark.sql.graft.JaroWinkler]] expression, pinned
    * bit-for-bit to DuckDB's jaro_winkler_similarity, so the emitted
    * doubles hash-match unrounded.
    */
  def joinFuzzyJaro(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.FuzzyJoin
      .jaroWinklerSelfJoin(Tables(spark, sfDir).part, "p_name",
        minSim = 0.85, tokenDiff = 1)
      .orderBy("a", "b")

  val joinFuzzyJaroSql: String =
    """WITH n AS (
      |  SELECT DISTINCT p_name AS name FROM part WHERE p_name IS NOT NULL),
      |tok AS (SELECT name, unnest(string_split(name, ' ')) AS t FROM n),
      |cand AS (
      |  SELECT DISTINCT a.name AS a, b.name AS b
      |  FROM tok a JOIN tok b ON a.t = b.t AND a.name < b.name)
      |SELECT a, b, jaro_winkler_similarity(a, b) AS jw
      |FROM cand
      |WHERE jaro_winkler_similarity(a, b) >= 0.85
      |ORDER BY a, b""".stripMargin

  /** Snapshot-diff CDC ([[graft.operators.SnapshotDiff]]): the changes
    * that turn yesterday's customer dump into today's. The "new"
    * snapshot is derived deterministically from the fixture (delete
    * every custkey≡0 mod 13, bump acctbal +50 for custkey≡0 mod 11,
    * insert a shifted-key copy of every custkey≡0 mod 17), so both
    * engines diff the same pair of tables and the oracle is the same
    * full-outer classification.
    */
  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables(spark, sfDir).customer
    val newSnap = c.filter(col("c_custkey") % 13 =!= 0)
      .withColumn("c_acctbal", when(col("c_custkey") % 11 === 0,
        col("c_acctbal") + 50.0).otherwise(col("c_acctbal")))
      .unionByName(c.filter(col("c_custkey") % 17 === 0)
        .withColumn("c_custkey", col("c_custkey") + 10000000L))
    graft.operators.SnapshotDiff
      .diff(c, newSnap, Seq("c_custkey"), Seq("c_acctbal", "c_mktsegment"))
      .orderBy("change_type", "c_custkey")
  }

  val snapshotDiffSql: String =
    """WITH newsnap AS (
      |  SELECT c_custkey,
      |   CASE WHEN c_custkey % 11 = 0 THEN c_acctbal + 50.0
      |        ELSE c_acctbal END AS c_acctbal,
      |   c_mktsegment
      |  FROM customer WHERE c_custkey % 13 <> 0
      |  UNION ALL
      |  SELECT c_custkey + 10000000, c_acctbal, c_mktsegment
      |  FROM customer WHERE c_custkey % 17 = 0)
      |SELECT * FROM (
      |  SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
      |   CASE WHEN o.c_custkey IS NULL THEN 'insert'
      |        WHEN n.c_custkey IS NULL THEN 'delete'
      |        WHEN o.c_acctbal IS DISTINCT FROM n.c_acctbal
      |          OR o.c_mktsegment IS DISTINCT FROM n.c_mktsegment
      |        THEN 'update' END AS change_type,
      |   o.c_acctbal AS old_c_acctbal, n.c_acctbal AS new_c_acctbal,
      |   o.c_mktsegment AS old_c_mktsegment,
      |   n.c_mktsegment AS new_c_mktsegment
      |  FROM customer o FULL JOIN newsnap n ON o.c_custkey = n.c_custkey)
      |WHERE change_type IS NOT NULL
      |ORDER BY change_type, c_custkey""".stripMargin

  /** CDC log APPLY — the inverse of [[snapshotDiff]]: fold an ordered
    * change log (op ∈ I/U/D, each I/U carrying a full after-image, a
    * monotone `seq` per key — the Debezium/Delta-change-feed shape) into
    * a base snapshot. Last-writer-wins: per key, the highest-seq record
    * decides — its payload if I/U, gone if D. The log exercises real
    * ordering: %7 keys get an update; %14 keys get that update THEN a
    * delete (net delete — apply must not resurrect the seq-1 image);
    * %21 keys get update → (some) delete → late re-update (%42: net
    * reinsert); %13 keys insert under fresh keys. Fold semantics and
    * scale analysis: [[graft.operators.CdcApply]] (one map-side-
    * combinable max-struct groupBy — the same single-shuffle plan as
    * [[mergeUpsert]] with conflict resolution moved from join-side
    * precedence to seq order).
    */
  def mergeCdcApply(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables(spark, sfDir).customer
      .select("c_custkey", "c_acctbal", "c_mktsegment")
    def tagged(df: DataFrame, seq: Long, op: String) =
      df.withColumn("seq", lit(seq)).withColumn("op", lit(op))
    val upd1 = tagged(c.filter(col("c_custkey") % 7 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 10.0), 1L, "U")
    val ins = tagged(c.filter(col("c_custkey") % 13 === 0)
      .withColumn("c_custkey", col("c_custkey") + 10000000L), 1L, "I")
    val del = tagged(c.filter(col("c_custkey") % 14 === 0)
      .select(col("c_custkey"), lit(null).cast("double").as("c_acctbal"),
        lit(null).cast("string").as("c_mktsegment")), 2L, "D")
    val upd2 = tagged(c.filter(col("c_custkey") % 21 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 25.0), 3L, "U")
    graft.operators.CdcApply.applyLog(
        c, upd1.unionByName(ins).unionByName(del).unionByName(upd2),
        keys = Seq("c_custkey"))
      .orderBy("c_custkey")
  }

  /** DuckDB twin resolves the same log with a window rank (identical
    * answer; the Spark side's max-struct is the partial-agg-friendly
    * formulation). */
  val mergeCdcApplySql: String =
    """WITH log AS (
      |  SELECT c_custkey, c_acctbal, c_mktsegment, 0 AS seq, 'U' AS op
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey, c_acctbal + 10.0, c_mktsegment, 1, 'U'
      |  FROM customer WHERE c_custkey % 7 = 0
      |  UNION ALL
      |  SELECT c_custkey + 10000000, c_acctbal, c_mktsegment, 1, 'I'
      |  FROM customer WHERE c_custkey % 13 = 0
      |  UNION ALL
      |  SELECT c_custkey, NULL, NULL, 2, 'D'
      |  FROM customer WHERE c_custkey % 14 = 0
      |  UNION ALL
      |  SELECT c_custkey, c_acctbal + 25.0, c_mktsegment, 3, 'U'
      |  FROM customer WHERE c_custkey % 21 = 0),
      |last AS (
      |  SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY seq DESC)
      |    AS rn FROM log)
      |SELECT c_custkey, c_acctbal, c_mktsegment FROM last
      |WHERE rn = 1 AND op <> 'D'
      |ORDER BY c_custkey""".stripMargin

  /** Point-in-time-correct multi-feature join — the feature-store read
    * path: each label event (purchase) is enriched with the latest
    * value of SEVERAL independently-updated feature streams as of the
    * label's own timestamp, never after it (the train/serve-skew
    * discipline: a model trained with future features is silently
    * leaky). ONE union+window pass for ALL feature streams
    * ([[graft.operators.AsofJoin.backwardMulti]]): the labels union
    * with every stream at once and k running `last`s share a single
    * window, so the whole enrichment costs a SINGLE hash exchange of
    * |labels| + Σ|streamᵢ| rows — independent of k (plan-pinned:
    * exactly 1 hash exchange). The previous form chained one
    * [[graft.operators.AsofJoin.backward]] per stream — correct, but k
    * sorted shuffles of the label stream, the wrong plan at
    * feature-store k (20–100 groups); the spec pins multi ≡ chained.
    */
  def joinPitFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir).events
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("value").as("click_value"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("value").as("view_value"))
    AsofJoin.backwardMulti(purchases,
        Seq(AsofJoin.AsofStream(clicks, Seq("click_value")),
          AsofJoin.AsofStream(views, Seq("view_value"))),
        ts = "ts", by = Seq("user_id"))
      .select(col("event_id"), col("user_id"),
        fmtTs(col("ts")).as("purchase_ts"),
        col("click_value"), col("view_value"))
      .orderBy("event_id")
  }

  val joinPitFeaturesSql: String =
    """SELECT p.event_id, p.user_id,
      | strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
      | c.value AS click_value, v.value AS view_value
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      | ON p.user_id = c.user_id AND p.ts >= c.ts
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      | ON p.user_id = v.user_id AND p.ts >= v.ts
      |ORDER BY p.event_id""".stripMargin

  /** Incremental JOIN-view refresh: the orders ⋈ lineitem revenue view
    * is maintained under a nightly append (rows dated ≥ 1998-01-01 are
    * "tonight's inserts" on BOTH sides) by emitting ONLY the view's new
    * rows via the delta rule Δ(A⋈B) = ΔA⋈(B∪ΔB) ∪ A⋈ΔB — the base
    * tables are each scanned once and joined only against a broadcast
    * delta, never against each other (algorithm + regime notes:
    * [[graft.operators.IncrementalJoinView]]). The emitted aggregate
    * summarizes the delta-view rows; the oracle recomputes the same set
    * as "all pairs except old×old" from the full join.
    */
  def viewJoinDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    val cut = to_date(lit("1998-01-01"))
    val o = t.orders.select("o_orderkey", "o_orderpriority", "o_orderdate")
    val l = t.lineitem.select("l_orderkey", "l_returnflag",
      "l_extendedprice", "l_shipdate")
    val deltaView = graft.operators.IncrementalJoinView.insertDelta(
      o.filter(col("o_orderdate") < cut), o.filter(col("o_orderdate") >= cut),
      l.filter(col("l_shipdate") < cut), l.filter(col("l_shipdate") >= cut),
      aKeys = Seq("o_orderkey"), bKeys = Seq("l_orderkey"))
    deltaView.groupBy("l_returnflag", "o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice"), 2).as("revenue"))
      .orderBy("l_returnflag", "o_orderpriority")
  }

  val viewJoinDeltaSql: String =
    s"""SELECT l_returnflag, o_orderpriority, count(*) AS n,
       | ${dsumSql("l_extendedprice", 2)} AS revenue
       |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       |WHERE NOT (o.o_orderdate < DATE '1998-01-01'
       |           AND l.l_shipdate < DATE '1998-01-01')
       |GROUP BY 1, 2 ORDER BY l_returnflag, o_orderpriority""".stripMargin

  /** Ordered merge with group-wise forward fill — pandas
    * `merge_ordered(left, right, on='ts', by='user_id',
    * fill_method='ffill')`: the click and view value series of each
    * user interleave into ONE (ts, event_id)-ordered timeline where
    * both series' latest values persist across the other's rows (the
    * standard prep for aligning two sensor/price feeds before
    * diffing). NOT a join: the two series union (each row tagged with
    * its own series' value, null for the other) and ONE window pass
    * forward-fills both columns — a single shuffle on the group key,
    * where a join formulation would pair and re-deduplicate. Same
    * total order (ts, event_id) both engines.
    */
  def joinMergeOrdered(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir).events
    def side(tpe: String, as: String, other: String) =
      e.filter(col("event_type") === tpe)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("value").as(as), lit(null).cast("double").as(other))
    val clicks = side("click", "click_v", "view_v")
      .select("user_id", "ts", "event_id", "click_v", "view_v")
    val views = side("view", "view_v", "click_v")
      .select("user_id", "ts", "event_id", "click_v", "view_v")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(views)
      .select(col("user_id"), fmtTs(col("ts")).as("ts"), col("event_id"),
        last("click_v", ignoreNulls = true).over(w).as("click_ffill"),
        last("view_v", ignoreNulls = true).over(w).as("view_ffill"))
      .orderBy("user_id", "event_id")
  }

  val joinMergeOrderedSql: String =
    """WITH u AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN event_type = 'click' THEN value END AS click_v,
      |    CASE WHEN event_type = 'view' THEN value END AS view_v
      |  FROM events WHERE event_type IN ('click', 'view'))
      |SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, event_id,
      | last_value(click_v IGNORE NULLS) OVER w AS click_ffill,
      | last_value(view_v IGNORE NULLS) OVER w AS view_ffill
      |FROM u
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  /** pandas `combine_first` (coalesce-overlay) — patch a partial update
    * feed over the reference table: primary = the even-keyed customers
    * with some cells deliberately NULLED (the feed's silent cells),
    * secondary = the divisible-by-3 customers with shifted balances
    * (the reference). The null matrix is the point of the fixture:
    * null-CELL-in-present-row (patched per cell), row-absent-in-primary
    * (secondary's row, primary-only c_name null), row-absent-in-
    * secondary (primary unchanged), plus a primary-only and a
    * secondary-only column passing through. One full-outer join on the
    * key ([[graft.operators.CombineFirst]]).
    */
  def joinCombineFirst(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables(spark, sfDir).customer
    val primary = c.filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey"), col("c_name"),
        when(col("c_custkey") % 6 === 0, lit(null).cast("double"))
          .otherwise(col("c_acctbal")).as("c_acctbal"),
        when(col("c_custkey") % 10 === 0, lit(null).cast("string"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"))
    val secondary = c.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"),
        (col("c_acctbal") + 1000.0).as("c_acctbal"),
        col("c_mktsegment"), col("c_nationkey"))
    graft.operators.CombineFirst
      .combineFirst(primary, secondary, Seq("c_custkey"))
      .orderBy("c_custkey")
  }

  val joinCombineFirstSql: String =
    """WITH p AS (
      |  SELECT c_custkey, c_name,
      |    CASE WHEN c_custkey % 6 = 0 THEN NULL ELSE c_acctbal END
      |      AS c_acctbal,
      |    CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_mktsegment END
      |      AS c_mktsegment
      |  FROM customer WHERE c_custkey % 2 = 0),
      |s AS (
      |  SELECT c_custkey, c_acctbal + 1000.0 AS c_acctbal,
      |    c_mktsegment, c_nationkey
      |  FROM customer WHERE c_custkey % 3 = 0)
      |SELECT COALESCE(p.c_custkey, s.c_custkey) AS c_custkey,
      | p.c_name,
      | COALESCE(p.c_acctbal, s.c_acctbal) AS c_acctbal,
      | COALESCE(p.c_mktsegment, s.c_mktsegment) AS c_mktsegment,
      | s.c_nationkey
      |FROM p FULL OUTER JOIN s ON p.c_custkey = s.c_custkey
      |ORDER BY c_custkey""".stripMargin

  /** pandas `update` — the mirror overlay of [[joinCombineFirst]]: the
    * patch feed's NON-NULL cells overwrite the reference, the row and
    * column sets stay the reference's (no new keys, no new columns).
    * Same fixture shapes as combine_first so both null directions are
    * exercised; one LEFT join on the key.
    */
  def joinUpdateOverlay(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables(spark, sfDir).customer
    val reference = c.filter(col("c_custkey") % 2 === 0)
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    val patch = c.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"),
        when(col("c_custkey") % 12 === 0, lit(null).cast("double"))
          .otherwise(col("c_acctbal") + 5000.0).as("c_acctbal"),
        col("c_mktsegment"), col("c_nationkey"))
    graft.operators.CombineFirst
      .updateOverlay(reference, patch, Seq("c_custkey"))
      .orderBy("c_custkey")
  }

  val joinUpdateOverlaySql: String =
    """WITH r AS (
      |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment
      |  FROM customer WHERE c_custkey % 2 = 0),
      |p AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 12 = 0 THEN NULL
      |         ELSE c_acctbal + 5000.0 END AS c_acctbal,
      |    c_mktsegment
      |  FROM customer WHERE c_custkey % 3 = 0)
      |SELECT r.c_custkey, r.c_name,
      | COALESCE(p.c_acctbal, r.c_acctbal) AS c_acctbal,
      | COALESCE(p.c_mktsegment, r.c_mktsegment) AS c_mktsegment
      |FROM r LEFT JOIN p ON r.c_custkey = p.c_custkey
      |ORDER BY r.c_custkey""".stripMargin

  /** End-to-end ENTITY RESOLUTION over the part-name vocabulary: fuzzy
    * match (Levenshtein ≤ 2, the q-gram-blocked
    * [[graft.operators.FuzzyJoin]] — never the all-pairs cross join) →
    * transitive closure ([[graft.operators.ConnectedComponents]]) →
    * canonical entity = the lexicographically-smallest name reachable
    * through the match graph, plus the entity's member count. This is
    * the record-linkage composition every dedup pipeline ships
    * (blocking → pairwise match → cluster → canonicalize) as ONE
    * declared query, and the closure matters: A~B and B~C at distance
    * 2 puts A and C (distance 4, never a pair) in one entity.
    *
    * Scale: the pair graph is blocked (corpus-linear candidates), the
    * closure is min-label over pairs (driver union-find below 1M
    * edges, large-star/small-star above — [[ConnectedComponents
    * .resolve]]'s documented switch), and the only windows run on the
    * DISTINCT name vocabulary (bounded domain — names repeat across
    * replicas/rows; the fact table is never windowed). Name→id codes
    * are assigned in sorted order so min-id ≡ min-name and the labels
    * are engine-portable.
    */
  def erFuzzyEntities(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables(spark, sfDir).part
    val pairs = graft.operators.FuzzyJoin
      .levenshteinSelfJoin(p, "p_name", maxDist = 2)
    val ids = p.select(col("p_name").as("name"))
      .filter(col("name").isNotNull).distinct()
      .withColumn("nid",
        row_number().over(Window.orderBy("name")).cast("long"))
    val edges = pairs
      .join(ids.select(col("name").as("a"), col("nid").as("src")), "a")
      .join(ids.select(col("name").as("b"), col("nid").as("dst")), "b")
      .select("src", "dst")
    val comp = graft.operators.ConnectedComponents.resolve(edges, "src", "dst")
    val lbl = ids
      .join(comp, ids("nid") === comp("id"), "left")
      .select(col("name"),
        coalesce(col("component"), col("nid")).as("eid"))
      .join(ids.select(col("nid").as("eid"), col("name").as("entity")), "eid")
      .select(col("name"), col("entity"))
    val out = lbl
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy("entity")))
      .orderBy("name")
    graft.operators.CacheLifecycle.releaseAfterAction(out, Seq(comp))
  }

  val erFuzzyEntitiesSql: String =
    """WITH RECURSIVE n AS (
      |  SELECT DISTINCT p_name AS s FROM part WHERE p_name IS NOT NULL),
      |corpus AS (SELECT s AS doc_id FROM n),
      |pairs AS (
      |  SELECT a.s AS a, b.s AS b FROM n a JOIN n b ON a.s < b.s
      |  WHERE levenshtein(a.s, b.s) <= 2),
      |-- ORACLE-SPLIT out=name,entity,n_members (contract with
      |-- tools/check.py components_oracle): everything ABOVE this
      |-- marker must stay a self-contained CTE prefix defining
      |-- `corpus(doc_id, ...)` and `pairs(a, b)`; check.py splits here
      |-- and replaces the recursive closure with an exact union-find,
      |-- emitting (id, min-reachable-label, component size) under the
      |-- `out=` column names.
      |edges AS (SELECT a AS u, b AS v FROM pairs
      |          UNION ALL SELECT b AS u, a AS v FROM pairs),
      |reach AS (
      |  SELECT doc_id AS id, doc_id AS lbl FROM corpus
      |  UNION
      |  SELECT e.v AS id, r.lbl FROM reach r JOIN edges e ON e.u = r.id),
      |lbl AS (SELECT id AS name, min(lbl) AS entity FROM reach GROUP BY 1)
      |SELECT name, entity,
      |  count(*) OVER (PARTITION BY entity) AS n_members
      |FROM lbl ORDER BY name""".stripMargin

  /** SCD-2 validity lookup — the READ side of [[mergeScd2]]: join each
    * fact to the dimension version that was valid at the fact's own
    * timestamp. Because SCD-2 validity intervals are contiguous and
    * non-overlapping per key, "the version with the greatest
    * valid_from ≤ fact ts" IS the interval containment — so the lookup
    * is exactly a backward as-of join and rides [[AsofJoin.backward]]'s
    * linear union+window plan (ONE keyed exchange of facts ∪ versions),
    * never a BETWEEN range join (a non-equi join with a 15 M-row dim is
    * the 100 TB anti-pattern this operator exists to avoid). The
    * versioned dim is derived deterministically from the fixture: every
    * customer has a base version at the epoch, every 3rd a raise at a
    * per-key date in 1997, every 9th another in 1999/2000 — so both
    * engines build the identical dim and the oracle is DuckDB's native
    * ASOF JOIN.
    */
  def joinScd2Lookup(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables(spark, sfDir).customer
    def ver(fromExpr: String, balAdd: Double, v: Int, filt: Column) =
      c.filter(filt).select(
        col("c_custkey").as("custkey"),
        expr(fromExpr).as("ts"),
        (col("c_acctbal") + lit(balAdd)).as("bal"),
        lit(v.toLong).as("ver"))
    val dim = ver("timestamp '1995-01-01 00:00:00'", 0.0, 1, lit(true))
      .unionByName(ver(
        "cast(date_add(date '1997-01-01', cast(pmod(c_custkey, 365) as int)) as timestamp)",
        100.0, 2, pmod(col("c_custkey"), lit(3)) === 0))
      .unionByName(ver(
        "cast(date_add(date '1999-07-01', cast(pmod(c_custkey, 365) as int)) as timestamp)",
        250.0, 3, pmod(col("c_custkey"), lit(9)) === 0))
    val facts = Tables(spark, sfDir).orders
      .select(col("o_orderkey"), col("o_custkey").as("custkey"),
        col("o_orderdate").as("ts"))
    AsofJoin.backward(facts, dim, ts = "ts", by = Seq("custkey"),
        payload = Seq("bal", "ver"))
      .select(col("o_orderkey"), col("custkey"),
        fmtDay(col("ts")).as("order_day"), col("ver"), col("bal"))
      .orderBy("o_orderkey")
  }

  val joinScd2LookupSql: String =
    """WITH dim AS (
      |  SELECT c_custkey AS custkey,
      |    TIMESTAMP '1995-01-01 00:00:00' AS vf,
      |    c_acctbal AS bal, CAST(1 AS BIGINT) AS ver
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey,
      |    CAST(DATE '1997-01-01' + INTERVAL (c_custkey % 365) DAY AS TIMESTAMP),
      |    c_acctbal + 100.0, 2
      |  FROM customer WHERE c_custkey % 3 = 0
      |  UNION ALL
      |  SELECT c_custkey,
      |    CAST(DATE '1999-07-01' + INTERVAL (c_custkey % 365) DAY AS TIMESTAMP),
      |    c_acctbal + 250.0, 3
      |  FROM customer WHERE c_custkey % 9 = 0)
      |SELECT o.o_orderkey, o.o_custkey AS custkey,
      |  strftime(o.o_orderdate, '%Y-%m-%d') AS order_day, d.ver, d.bal
      |FROM orders o
      |ASOF LEFT JOIN dim d
      |  ON o.o_custkey = d.custkey AND o.o_orderdate >= d.vf
      |ORDER BY o.o_orderkey""".stripMargin

  /** Co-located big-big fact join over the write-once bucketed layout
    * ([[graft.tables.BucketedFacts]]): orders ⋈ lineitem with ZERO
    * Exchange on either join side — both facts were bucketed (and
    * sorted) by orderkey at write time, so the only shuffle in the
    * whole plan is the tiny priority aggregate after the join. This is
    * §2.6's "bucketed co-located joins" promoted from a spec-only proof
    * (BucketingSpec, snapshot-diff) to a declared oracle-checked query:
    * at 100 TB the recurring cost of a star-join workload IS the fact
    * shuffle, and this layout deletes it. The oracle is layout-blind
    * (same join, plain tables) — bucketing must never change answers.
    */
  def joinBucketedFacts(spark: SparkSession, sfDir: String): DataFrame = {
    val f = graft.tables.BucketedFacts(spark, sfDir)
    f.orders.join(f.lineitem,
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        (sum(round(col("l_extendedprice") * 100).cast("long"))
          .cast("double") / lit(100.0)).as("revenue"))
      .orderBy("o_orderpriority")
  }

  val joinBucketedFactsSql: String =
    """SELECT o_orderpriority, count(*) AS n_lines,
      |  CAST(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0 AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin

  /** merge_asof on a NUMERIC axis (pandas `merge_asof(..., on='price')`
    * — the quote-ladder match; nothing in the operator is
    * time-specific): for each purchase event, the same user's greatest
    * click VALUE ≤ the purchase value, i.e. the nearest price point
    * below, with the latest click at that price point as the witness.
    * The right side first collapses to one row per (user, price) — max
    * event_id, the deterministic duplicate arbitration made EXPLICIT
    * rather than left to payload-struct ordering — then the same
    * union+window kernel as [[joinAsof]] runs with cents as the axis:
    * one keyed exchange of |L|+|R| rows, big-big capable, never a range
    * join. Exact cents integers on the axis, so "≤" means the same
    * thing in both engines.
    */
  def joinAsofNumeric(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir).events
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        round(col("value") * 100).cast("long").as("vc"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), round(col("value") * 100).cast("long").as("vc"),
        col("event_id"))
      .groupBy("user_id", "vc").agg(max("event_id").as("ref_event"))
    AsofJoin.backward(purchases, clicks, ts = "vc", by = Seq("user_id"),
        payload = Seq("ref_event"))
      .select(col("event_id"), col("user_id"),
        (col("vc").cast("double") / 100.0).as("value"), col("ref_event"))
      .orderBy("event_id")
  }

  val joinAsofNumericSql: String =
    """WITH p AS (
      |  SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT) AS vc
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS vc,
      |    max(event_id) AS ref_event
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
      |SELECT p.event_id, p.user_id, CAST(p.vc AS DOUBLE) / 100.0 AS value,
      |  c.ref_event
      |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.vc >= c.vc
      |ORDER BY p.event_id""".stripMargin
}
