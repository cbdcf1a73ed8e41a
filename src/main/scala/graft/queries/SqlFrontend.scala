package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.tables.Tables

/** SQL-frontend parity (SURVEY.md §3): the same engine drives
  * `spark.sql(...)` over registered views — a user who prefers SQL to
  * the DataFrame DSL gets the identical Catalyst plan. The query text is
  * deliberately ANSI enough that the DuckDB oracle runs a nearly
  * character-identical statement.
  */
object SqlFrontend {

  private val q3Body =
    """SELECT o_orderkey,
      | CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,8))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
      | count(*) AS n_items
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
      |GROUP BY o_orderkey
      |ORDER BY revenue DESC, o_orderkey
      |LIMIT 10""".stripMargin

  /** TPC-H-Q3-shaped "unshipped revenue" ranking via spark.sql. */
  def sqlQ3Shipping(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    t.customer.createOrReplaceTempView("customer")
    t.orders.createOrReplaceTempView("orders")
    t.lineitem.createOrReplaceTempView("lineitem")
    spark.sql(q3Body)
  }

  val sqlQ3ShippingSql: String = q3Body

  private val q5Body =
    """SELECT n_name,
      | CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,8))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** TPC-H-Q5-shaped local-supplier volume: the 6-table join. Catalyst
    * gets the full optimizer workout here — region/nation prune to a
    * handful of rows and broadcast, the orders date filter pushes to the
    * scan, and AQE reorders the remaining shuffle joins; the DuckDB
    * oracle runs the character-identical statement.
    */
  def sqlQ5LocalSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    t.customer.createOrReplaceTempView("customer")
    t.orders.createOrReplaceTempView("orders")
    t.lineitem.createOrReplaceTempView("lineitem")
    t.supplier.createOrReplaceTempView("supplier")
    t.nation.createOrReplaceTempView("nation")
    t.region.createOrReplaceTempView("region")
    spark.sql(q5Body)
  }

  val sqlQ5LocalSupplierSql: String = q5Body

  private val q10Body =
    // revenue is emitted at DECIMAL(38,4), which is EXACT for these
    // sums (price has 2 decimals, discount 2, so every product has <= 4
    // and digits 5-8 of the (38,8) accumulator are zero) — no rounding
    // ever fires, so the engines' divergent rounding rules can't bite.
    // round(double, 2) was not portable here: these sums land exactly
    // on .xx5 boundaries, which Spark rounds via the canonical decimal
    // string (up) and DuckDB via the binary value (down), and DuckDB's
    // decimal downcast truncates outright. Q3/Q5 use the same form.
    """SELECT c_custkey, c_name,
      | CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,8))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
      | n_name
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      |  AND l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  /** TPC-H-Q10-shaped returned-item revenue ranking (4-table join, date
    * + flag filters pushed to the scans, TakeOrdered top-20).
    */
  def sqlQ10ReturnedItems(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    t.customer.createOrReplaceTempView("customer")
    t.orders.createOrReplaceTempView("orders")
    t.lineitem.createOrReplaceTempView("lineitem")
    t.nation.createOrReplaceTempView("nation")
    spark.sql(q10Body)
  }

  val sqlQ10ReturnedItemsSql: String = q10Body

  private val q14Body =
    """SELECT round(100.00 * CAST(sum(CAST(CASE WHEN p_type LIKE 'PROMO%'
      |    THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END AS DECIMAL(38,8))) AS DOUBLE)
      |  / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,8))) AS DOUBLE), 4) AS promo_revenue,
      | count(*) AS n_items
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1996-02-01 00:00:00'
      |ORDER BY promo_revenue""".stripMargin

  /** TPC-H-Q14-shaped promotion-revenue share (conditional aggregation
    * over a join; both sums in exact decimal before ONE double division).
    */
  def sqlQ14PromoShare(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    t.lineitem.createOrReplaceTempView("lineitem")
    t.part.createOrReplaceTempView("part")
    spark.sql(q14Body)
  }

  val sqlQ14PromoShareSql: String = q14Body

  private val q4Body =
    // TPC-H Q4 adapted to the fixture schema (no l_commitdate /
    // l_receiptdate): EXISTS keeps orders with a returned line shipped
    // after the order date. The correlated EXISTS is the point — the
    // fixture proving Catalyst decorrelates it into a left-semi join
    // (RewriteCorrelatedScalarSubquery/RewritePredicateSubquery) rather
    // than executing a per-row subquery; ExplainAuditSpec asserts the plan.
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_returnflag = 'R'
      |                AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** TPC-H-Q4-shaped priority count gated by a correlated EXISTS. */
  def sqlQ4OrderPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    t.orders.createOrReplaceTempView("orders")
    t.lineitem.createOrReplaceTempView("lineitem")
    spark.sql(q4Body)
  }

  val sqlQ4OrderPrioritySql: String = q4Body

  private val q17Body =
    // TPC-H Q17 adapted (no p_container; the 0.2*avg threshold is
    // written as exact-decimal-sum / (5·count) so both engines perform
    // the SAME single IEEE division — a bare avg() would accumulate
    // doubles in engine-specific order). The correlated scalar subquery
    // must decorrelate into an aggregate-then-join, not per-row
    // execution; ExplainAuditSpec asserts no subquery survives the plan.
    // The global price sum emits via dsumExact's scaled-BIGINT form —
    // a bare decimal→double cast double-rounds in DuckDB past 2^53
    // (the sf1-sweep bug class; per-partkey sums in the subquery are
    // bounded small and stay on the plain form).
    s"""SELECT ${util.dsumExactSql("l_extendedprice", 2)} / 7.0 AS avg_yearly,
      | count(*) AS n_items
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |WHERE p_brand = 'Brand#23'
      |  AND l_quantity < (SELECT CAST(sum(CAST(l_quantity AS DECIMAL(38,8))) AS DOUBLE) / (5.0 * count(*))
      |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin

  /** TPC-H-Q17-shaped small-quantity revenue with a correlated scalar
    * average threshold.
    */
  def sqlQ17SmallQty(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    t.lineitem.createOrReplaceTempView("lineitem")
    t.part.createOrReplaceTempView("part")
    spark.sql(q17Body)
  }

  val sqlQ17SmallQtySql: String = q17Body

  private val q21Body =
    // TPC-H Q21 adapted (no l_commitdate/l_receiptdate: "late" =
    // shipped >90 days after the order date). The hardest decorrelation
    // shape in the suite: EXISTS and NOT EXISTS on the same inner
    // table, the NOT EXISTS correlated on BOTH l1.l_orderkey and the
    // outer o_orderdate — Catalyst must rewrite to a left-semi plus a
    // left-anti join with the date residual, never per-row subqueries.
    """SELECT s_name, count(*) AS numwait
      |FROM supplier
      |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      |JOIN orders ON o_orderkey = l1.l_orderkey
      |WHERE o_orderstatus = 'F'
      |  AND l1.l_shipdate > o_orderdate + INTERVAL '90' DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > o_orderdate + INTERVAL '90' DAY)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 20""".stripMargin

  /** TPC-H-Q21-shaped "suppliers who kept orders waiting": EXISTS +
    * NOT EXISTS decorrelation with an outer-column residual.
    */
  def sqlQ21WaitingSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    t.supplier.createOrReplaceTempView("supplier")
    t.lineitem.createOrReplaceTempView("lineitem")
    t.orders.createOrReplaceTempView("orders")
    spark.sql(q21Body)
  }

  val sqlQ21WaitingSupplierSql: String = q21Body

  private val q20Body =
    // TPC-H Q20 adapted (no partsupp table): the per-(supplier, part)
    // "available quantity" surrogate is the max single-shipment quantity
    // ×5, from a grouped derived table standing in for partsupp. The
    // NESTED-correlation shape is the point — an IN subquery whose body
    // contains BOTH a second IN (part filter) and a correlated scalar
    // aggregate over lineitem keyed on the derived table's columns.
    // Catalyst must decorrelate the scalar into a per-(partkey, suppkey)
    // aggregate joined back and turn both INs into semi joins — no
    // subquery may survive to execution (ExplainAuditSpec asserts).
    // Arithmetic is exact: l_quantity is integer-valued, so sum(...)
    // ×0.5 and max(...)×5.0 are exactly representable doubles and the
    // comparison is engine-portable with no decimal emission needed.
    """SELECT s_name, s_nationkey
      |FROM supplier
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
      |  AND s_suppkey IN (
      |    SELECT ps.l_suppkey
      |    FROM (SELECT l_suppkey, l_partkey, max(l_quantity) AS max_shipqty
      |          FROM lineitem GROUP BY l_suppkey, l_partkey) ps
      |    WHERE ps.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small %')
      |      AND ps.max_shipqty * 5.0 > (
      |        SELECT 0.5 * sum(l.l_quantity)
      |        FROM lineitem l
      |        WHERE l.l_partkey = ps.l_partkey AND l.l_suppkey = ps.l_suppkey
      |          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |          AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'))
      |ORDER BY s_name""".stripMargin

  /** TPC-H-Q20-shaped "potential part promotion": suppliers with excess
    * stock of the promoted parts — the nested-correlated IN + scalar.
    */
  def sqlQ20PotentialPromotion(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    t.supplier.createOrReplaceTempView("supplier")
    t.nation.createOrReplaceTempView("nation")
    t.lineitem.createOrReplaceTempView("lineitem")
    t.part.createOrReplaceTempView("part")
    spark.sql(q20Body)
  }

  val sqlQ20PotentialPromotionSql: String = q20Body

  private val q15Body =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,8))) AS DECIMAL(38,4)) AS DOUBLE) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM supplier
      |JOIN revenue ON s_suppkey = supplier_no
      |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  /** TPC-H-Q15-shaped "top supplier": the CTE-as-view + uncorrelated
    * global-max scalar subquery — the one classic shape the frontend
    * hadn't exercised. Catalyst evaluates the scalar max as a
    * one-row subquery broadcast into the filter (no per-row
    * re-aggregation); the quarter's revenue CTE is shared between the
    * ranking join and the max. Ties on the max are kept, as the spec
    * requires — the exact-decimal revenue makes the double equality
    * engine-deterministic.
    */
  def sqlQ15TopSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    t.supplier.createOrReplaceTempView("supplier")
    t.lineitem.createOrReplaceTempView("lineitem")
    spark.sql(q15Body)
  }

  val sqlQ15TopSupplierSql: String = q15Body

  private val q2Body =
    // TPC-H Q2 adapted (no partsupp table): per-(part, supplier) supply
    // cost surrogate = min single-shipment extended price, from a
    // grouped derived CTE standing in for partsupp (the same surrogate
    // device as Q20). The SHAPE is the point — a correlated scalar MIN
    // over a 4-table join (ps × supplier × nation × region) keyed on
    // the outer part, the last classic TPC-H decorrelation the frontend
    // hadn't exercised: Catalyst must rewrite it to a per-partkey
    // aggregate of the shared CTE joined back (ExplainAuditSpec asserts the
    // executed plan is subquery-free). All compared/emitted values are
    // raw parquet doubles or exact mins of them — no rounding, so the
    // cost equality is engine-portable bit-for-bit.
    """WITH ps AS (SELECT l_partkey, l_suppkey,
      |              min(l_extendedprice) AS supplycost
      |            FROM lineitem GROUP BY l_partkey, l_suppkey)
      |SELECT s_acctbal, s_name, n_name, p.p_partkey, p_type
      |FROM part p
      |JOIN ps ON p.p_partkey = ps.l_partkey
      |JOIN supplier ON s_suppkey = ps.l_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE p_size <= 10 AND p_type = 'SMALL'
      |  AND r_name = 'ASIA'
      |  AND ps.supplycost = (
      |    SELECT min(ps2.supplycost)
      |    FROM ps ps2
      |    JOIN supplier s2 ON s2.s_suppkey = ps2.l_suppkey
      |    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
      |    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
      |    WHERE ps2.l_partkey = p.p_partkey AND r2.r_name = 'ASIA')
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      |LIMIT 100""".stripMargin

  /** TPC-H-Q2-shaped "minimum-cost supplier": the correlated scalar MIN
    * over a multi-table subquery, the one classic decorrelation shape
    * left. The ORDER BY is a total order over the output (p_partkey
    * breaks ties within a supplier; s_name across suppliers), so the
    * LIMIT is deterministic.
    */
  def sqlQ2MinCostSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    t.part.createOrReplaceTempView("part")
    t.supplier.createOrReplaceTempView("supplier")
    t.nation.createOrReplaceTempView("nation")
    t.region.createOrReplaceTempView("region")
    t.lineitem.createOrReplaceTempView("lineitem")
    spark.sql(q2Body)
  }

  val sqlQ2MinCostSupplierSql: String = q2Body

  private val q13Body =
    // TPC-H Q13 adapted (no o_comment: the NOT-LIKE comment filter is
    // replaced by a priority filter with the same selectivity role).
    // The SHAPE is the point — the filter must live in the LEFT OUTER
    // join's ON clause, NOT a WHERE (a WHERE would turn the outer join
    // back into an inner one), and customers whose orders ALL fail the
    // filter must surface in the c_count=0 bucket. A naive inner join
    // or post-join filter silently drops that bucket — the classic
    // outer-join-aggregation trap. Fixture check: the 0-bucket is
    // non-empty at every sweep SF (3 / 28 / 292 customers at
    // sf0.001/0.01/0.1).
    """SELECT c_count, count(*) AS custdist
      |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      |      FROM customer LEFT OUTER JOIN orders
      |        ON c_custkey = o_custkey
      |       AND o_orderpriority IN ('1-URGENT', '2-HIGH')
      |      GROUP BY c_custkey) c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** TPC-H-Q13-shaped customer order-count distribution: LEFT OUTER
    * aggregation including empty groups.
    */
  def sqlQ13CustomerDistribution(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    t.customer.createOrReplaceTempView("customer")
    t.orders.createOrReplaceTempView("orders")
    spark.sql(q13Body)
  }

  val sqlQ13CustomerDistributionSql: String = q13Body

  private val q18Body =
    // TPC-H Q18: IN over a grouped HAVING — the semi-join-against-
    // aggregate shape. Catalyst must plan the subquery as an aggregate
    // feeding a (left-semi) join on l_orderkey, never a per-row
    // re-aggregation; ExplainAuditSpec asserts the executed plan is
    // subquery-free. l_quantity is integer-valued, so the sums are
    // exact doubles and the >300 comparison is engine-portable (fixture
    // order totals reach 458, p99 ≈ 262, so the threshold selects a
    // nonzero tail at every SF). o_orderdate is dropped from the output
    // (no portable timestamp emission needed; o_orderkey identifies the
    // order).
    """SELECT c_name, c_custkey, o_orderkey, o_totalprice,
      | sum(l_quantity) AS total_qty
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem
      |  GROUP BY l_orderkey
      |  HAVING sum(l_quantity) > 300)
      |GROUP BY c_name, c_custkey, o_orderkey, o_totalprice
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 100""".stripMargin

  /** TPC-H-Q18-shaped large-quantity orders: IN over grouped HAVING. */
  def sqlQ18LargeOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    t.customer.createOrReplaceTempView("customer")
    t.orders.createOrReplaceTempView("orders")
    t.lineitem.createOrReplaceTempView("lineitem")
    spark.sql(q18Body)
  }

  val sqlQ18LargeOrdersSql: String = q18Body

  private val q19Body =
    // TPC-H Q19 adapted (no p_container / l_shipmode / l_shipinstruct:
    // the remaining brand/size/quantity/discount attributes carry the
    // disjunction). The SHAPE is the point — an OR of three conjunctive
    // branches, each mixing part-side and lineitem-side predicates,
    // with the equi-join key the only common conjunct. Catalyst must
    // (a) keep the join equi on p_partkey = l_partkey (no BNLJ /
    // cartesian), and (b) push the per-side OR-residuals
    // (`extractPredicatesWithinOutputSet`) down to both scans so the
    // parquet reader prunes before the join; ExplainAuditSpec asserts both.
    s"""SELECT ${util.dsumExactSql("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue,
      | count(*) AS n_items
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
      |       AND l_quantity BETWEEN 1 AND 11 AND l_discount BETWEEN 0.02 AND 0.04)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
      |       AND l_quantity BETWEEN 10 AND 20 AND l_discount BETWEEN 0.04 AND 0.06)
      |   OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity BETWEEN 20 AND 30 AND l_discount BETWEEN 0.06 AND 0.08)""".stripMargin

  /** TPC-H-Q19-shaped discounted revenue: disjunctive OR-of-ANDs over
    * an equi join, the predicate-pushdown stress shape.
    */
  def sqlQ19DiscountedRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    t.lineitem.createOrReplaceTempView("lineitem")
    t.part.createOrReplaceTempView("part")
    spark.sql(q19Body)
  }

  val sqlQ19DiscountedRevenueSql: String = q19Body

  // ---------------------------------------------------------------------
  // The remaining classic TPC-H shapes, completing the 22-query suite.
  // Adaptation rules as for Q2/Q4/Q17/Q20/Q21: missing fixture columns
  // (o_comment, p_container, l_shipmode, l_commitdate, partsupp, c_phone)
  // are replaced by same-shape surrogates; every floating aggregate goes
  // through util.dsumExactSql so both engines take the identical
  // exact-integer arithmetic path (SURVEY.md §4.2 determinism rules).
  // ---------------------------------------------------------------------

  private val q1Body =
    // TPC-H Q1 pricing summary: the canonical full-scan aggregate — 8
    // aggregates over 4 expressions in ONE partial+final pass (the
    // DataFrame twin is the flagship agg_basic; this is the SQL-text
    // path). Averages are exact-decimal-sum / count so both engines
    // perform the same single IEEE division.
    s"""SELECT l_returnflag, l_linestatus,
      | sum(l_quantity) AS sum_qty,
      | ${util.dsumExactSql("l_extendedprice", 2)} AS sum_base_price,
      | ${util.dsumExactSql("l_extendedprice * (1.0 - l_discount)", 4)} AS sum_disc_price,
      | ${util.dsumExactSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)", 6)} AS sum_charge,
      | ${util.dsumExactSql("l_quantity", 2)} / count(*) AS avg_qty,
      | ${util.dsumExactSql("l_extendedprice", 2)} / count(*) AS avg_price,
      | ${util.dsumExactSql("l_discount", 2)} / count(*) AS avg_disc,
      | count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H-Q1-shaped pricing summary via the SQL frontend. */
  def sqlQ1PricingSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    t.lineitem.createOrReplaceTempView("lineitem")
    spark.sql(q1Body)
  }

  val sqlQ1PricingSummarySql: String = q1Body

  private val q6Body =
    // TPC-H Q6 forecasting revenue change: pure scan-side predicate
    // stack (date range + discount band + quantity cap) into a single
    // global aggregate — every filter must reach PushedFilters; the scan
    // reads 3 columns of matching row groups, nothing else.
    s"""SELECT ${util.dsumExactSql("l_extendedprice * l_discount", 4)} AS revenue,
      | count(*) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24.0""".stripMargin

  /** TPC-H-Q6-shaped revenue-change estimate: full-pushdown filter agg. */
  def sqlQ6RevenueChange(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    t.lineitem.createOrReplaceTempView("lineitem")
    spark.sql(q6Body)
  }

  val sqlQ6RevenueChangeSql: String = q6Body

  private val q7Body =
    // TPC-H Q7 volume shipping: the SAME dimension table (nation) joins
    // twice under different roles (supplier's vs customer's nation) with
    // a symmetric two-way OR across the aliases — alias resolution plus
    // a residual that references both sides. year() is cast to BIGINT
    // (Spark year() is INT, DuckDB's BIGINT — the cast unifies the
    // output schema).
    s"""SELECT supp_nation, cust_nation, l_year, ${util.dsumExactSql("volume", 4)} AS revenue
      |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |        CAST(year(l_shipdate) AS BIGINT) AS l_year,
      |        l_extendedprice * (1.0 - l_discount) AS volume
      |      FROM supplier
      |      JOIN lineitem ON s_suppkey = l_suppkey
      |      JOIN orders ON o_orderkey = l_orderkey
      |      JOIN customer ON c_custkey = o_custkey
      |      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |      WHERE ((n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_12')
      |          OR (n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_7'))
      |        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00') shipping
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** TPC-H-Q7-shaped bilateral trade volume: self-joined dimension roles. */
  def sqlQ7VolumeShipping(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    t.supplier.createOrReplaceTempView("supplier")
    t.lineitem.createOrReplaceTempView("lineitem")
    t.orders.createOrReplaceTempView("orders")
    t.customer.createOrReplaceTempView("customer")
    t.nation.createOrReplaceTempView("nation")
    spark.sql(q7Body)
  }

  val sqlQ7VolumeShippingSql: String = q7Body

  private val q8Body =
    // TPC-H Q8 market share: the widest join in the suite — 8 tables
    // (nation twice), with a conditional-share aggregate on top. The
    // numerator nation set is fixed (a single nation's share varies too
    // wildly across fixture SFs to stay nonzero); both numerator and
    // denominator are exact-integer sums, divided ONCE, rounded once —
    // identical IEEE steps in both engines.
    s"""SELECT o_year,
      | round(${util.dsumExactSql("CASE WHEN nation IN ('NATION_3', 'NATION_9', 'NATION_18') THEN volume ELSE 0.0 END", 4)}
      |   / ${util.dsumExactSql("volume", 4)}, 6) AS mkt_share
      |FROM (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |        l_extendedprice * (1.0 - l_discount) AS volume,
      |        n2.n_name AS nation
      |      FROM part
      |      JOIN lineitem ON p_partkey = l_partkey
      |      JOIN supplier ON s_suppkey = l_suppkey
      |      JOIN orders ON l_orderkey = o_orderkey
      |      JOIN customer ON o_custkey = c_custkey
      |      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |      JOIN region ON n1.n_regionkey = r_regionkey
      |      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |      WHERE r_name = 'ASIA'
      |        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |        AND p_type = 'ECONOMY') all_nations
      |GROUP BY o_year
      |ORDER BY o_year""".stripMargin

  /** TPC-H-Q8-shaped market share: the 8-table join + share aggregate. */
  def sqlQ8MarketShare(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    t.part.createOrReplaceTempView("part")
    t.lineitem.createOrReplaceTempView("lineitem")
    t.supplier.createOrReplaceTempView("supplier")
    t.orders.createOrReplaceTempView("orders")
    t.customer.createOrReplaceTempView("customer")
    t.nation.createOrReplaceTempView("nation")
    t.region.createOrReplaceTempView("region")
    spark.sql(q8Body)
  }

  val sqlQ8MarketShareSql: String = q8Body

  private val q9Body =
    // TPC-H Q9 product-type profit adapted (no partsupp: supplycost
    // surrogate = min single-shipment extended price per (part,
    // supplier), the same derived-CTE device as Q2/Q20, scaled by 0.01
    // to a per-unit magnitude). The fact table joins the grouped CTE of
    // ITSELF — at 100 TB the CTE aggregation is a second full shuffle of
    // lineitem, which is exactly the shape's cost story.
    s"""WITH ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |              min(l_extendedprice) AS supplycost
      |            FROM lineitem GROUP BY l_partkey, l_suppkey)
      |SELECT nation, o_year, ${util.dsumExactSql("amount", 4)} AS sum_profit
      |FROM (SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |        l_extendedprice * (1.0 - l_discount) - 0.01 * supplycost * l_quantity AS amount
      |      FROM part
      |      JOIN lineitem ON p_partkey = l_partkey
      |      JOIN supplier ON s_suppkey = l_suppkey
      |      JOIN ps ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
      |      JOIN orders ON o_orderkey = l_orderkey
      |      JOIN nation ON s_nationkey = n_nationkey
      |      WHERE p_name LIKE '%gear%') profit
      |GROUP BY nation, o_year
      |ORDER BY nation, o_year""".stripMargin

  /** TPC-H-Q9-shaped product profit: fact joined to its own aggregate. */
  def sqlQ9ProductProfit(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    t.part.createOrReplaceTempView("part")
    t.lineitem.createOrReplaceTempView("lineitem")
    t.supplier.createOrReplaceTempView("supplier")
    t.orders.createOrReplaceTempView("orders")
    t.nation.createOrReplaceTempView("nation")
    spark.sql(q9Body)
  }

  val sqlQ9ProductProfitSql: String = q9Body

  private val q11Body =
    // TPC-H Q11 important stock adapted (no partsupp: per-part "stock
    // value" = sum of l_extendedprice × l_quantity over the two target
    // nations' suppliers). The SHAPE is the scalar subquery in HAVING —
    // the group filter compares each group's aggregate against a
    // fraction of the SAME aggregation run globally; Catalyst plans the
    // scalar once (one-row broadcast), never per group. Both sides of
    // the > are exact-integer-derived doubles, so the comparison is
    // engine-portable even for near-threshold groups.
    s"""SELECT l_partkey, ${util.dsumExactSql("l_extendedprice * l_quantity", 2)} AS part_value
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE n_name IN ('NATION_7', 'NATION_12')
      |GROUP BY l_partkey
      |HAVING ${util.dsumExactSql("l_extendedprice * l_quantity", 2)} > 0.001 * (
      |  SELECT ${util.dsumExactSql("l_extendedprice * l_quantity", 2)}
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  WHERE n_name IN ('NATION_7', 'NATION_12'))
      |ORDER BY part_value DESC, l_partkey""".stripMargin

  /** TPC-H-Q11-shaped important stock: scalar subquery in HAVING. */
  def sqlQ11ImportantStock(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    t.lineitem.createOrReplaceTempView("lineitem")
    t.supplier.createOrReplaceTempView("supplier")
    t.nation.createOrReplaceTempView("nation")
    spark.sql(q11Body)
  }

  val sqlQ11ImportantStockSql: String = q11Body

  private val q12Body =
    // TPC-H Q12 shipping modes adapted (no l_shipmode: l_returnflag
    // stands in as the low-cardinality line attribute). The shape is the
    // conditional pivot-count over a fact join — priority classes split
    // per group. count(CASE …) not sum(CASE …): Spark sums ints to
    // BIGINT but DuckDB to HUGEINT, while count is BIGINT in both.
    """SELECT l_returnflag,
      | count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END) AS high_line_count,
      | count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END) AS low_line_count
      |FROM orders
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE l_returnflag IN ('A', 'R')
      |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** TPC-H-Q12-shaped priority split by line class. */
  def sqlQ12PrioritySplit(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    t.orders.createOrReplaceTempView("orders")
    t.lineitem.createOrReplaceTempView("lineitem")
    spark.sql(q12Body)
  }

  val sqlQ12PrioritySplitSql: String = q12Body

  private val q16Body =
    // TPC-H Q16 supplier relationship count adapted (no partsupp: the
    // (part, supplier) relation comes from lineitem; no s_comment: the
    // excluded-supplier set is the negative-balance suppliers). The
    // SHAPE: count(DISTINCT) per group, plus a NOT IN subquery that must
    // plan as a null-aware anti join against the exclusion list — never
    // a per-row scan.
    """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM part
      |JOIN lineitem ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#23'
      |  AND p_type NOT LIKE 'PROMO%'
      |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** TPC-H-Q16-shaped supplier counts with a NOT-IN exclusion. */
  def sqlQ16SupplierCount(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    t.part.createOrReplaceTempView("part")
    t.lineitem.createOrReplaceTempView("lineitem")
    t.supplier.createOrReplaceTempView("supplier")
    spark.sql(q16Body)
  }

  val sqlQ16SupplierCountSql: String = q16Body

  private val q22Body =
    // TPC-H Q22 global sales opportunity adapted (no c_phone: the
    // country code is the last two digits of the fixture's zero-padded
    // c_name, which spread 00-99; customers all have orders at every
    // fixture SF, so the NOT EXISTS is date-qualified — "no orders since
    // mid-1999" — to keep the anti-join selective instead of vacuous).
    // Three classic pieces in one query: a scalar uncorrelated average
    // threshold (exact-integer sum / count — one portable division), a
    // correlated NOT EXISTS that must decorrelate to a left-anti join,
    // and a post-anti-join re-aggregation.
    s"""SELECT cntrycode, count(*) AS numcust, ${util.dsumExactSql("c_acctbal", 2)} AS totacctbal
      |FROM (SELECT substring(c_name, 17, 2) AS cntrycode, c_acctbal, c_custkey
      |      FROM customer
      |      WHERE substring(c_name, 17, 2) IN ('02', '03', '13', '14', '17', '18', '23')
      |        AND c_acctbal > (
      |          SELECT ${util.dsumExactSql("c_acctbal", 2)} / count(*)
      |          FROM customer
      |          WHERE c_acctbal > 0.0
      |            AND substring(c_name, 17, 2) IN ('02', '03', '13', '14', '17', '18', '23'))) custsale
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey
      |    AND o_orderdate >= TIMESTAMP '1999-07-01 00:00:00')
      |GROUP BY cntrycode
      |ORDER BY cntrycode""".stripMargin

  /** TPC-H-Q22-shaped dormant high-balance customers: scalar threshold +
    * anti join + re-aggregation.
    */
  def sqlQ22GlobalSales(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    t.customer.createOrReplaceTempView("customer")
    t.orders.createOrReplaceTempView("orders")
    spark.sql(q22Body)
  }

  val sqlQ22GlobalSalesSql: String = q22Body

  private val windowShareBody =
    // Window functions through the SQL frontend — the one frontend class
    // the TPC-H suite never exercises: rank + partition-total share +
    // running cumulative in ONE Window exec (all three functions share
    // the (n_name; revenue DESC, suppkey) partitioning/ordering, so
    // Catalyst plans a single sort, and the rnk<=5 filter compiles to a
    // WindowGroupLimit partial rank-pushdown). Per-supplier revenue is
    // an exact DECIMAL sum; every double cast happens after the exact
    // arithmetic, and rank/running-frame order carries the suppkey
    // tiebreaker, so both engines hash-match bit-for-bit.
    """SELECT n_name, suppkey, revenue, rnk, share, cum_revenue FROM (
      | SELECT n_name, suppkey,
      |  CAST(revenue AS DOUBLE) AS revenue,
      |  rank() OVER (PARTITION BY n_name ORDER BY revenue DESC, suppkey) AS rnk,
      |  round(CAST(revenue AS DOUBLE)
      |    / CAST(sum(revenue) OVER (PARTITION BY n_name) AS DOUBLE), 6) AS share,
      |  CAST(sum(revenue) OVER (PARTITION BY n_name
      |    ORDER BY revenue DESC, suppkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_revenue
      | FROM (
      |  SELECT s_nationkey AS nationkey, s_suppkey AS suppkey,
      |   CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,8))) AS DECIMAL(38,4)) AS revenue
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  GROUP BY s_nationkey, s_suppkey) rev
      | JOIN nation ON nationkey = n_nationkey) t
      |WHERE rnk <= 5
      |ORDER BY n_name, rnk, suppkey""".stripMargin

  /** Top-5 suppliers per nation with revenue share and running
    * cumulative — window functions (rank, partition total, running
    * frame) through the SQL frontend.
    */
  def sqlWindowTopShare(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    t.lineitem.createOrReplaceTempView("lineitem")
    t.supplier.createOrReplaceTempView("supplier")
    t.nation.createOrReplaceTempView("nation")
    spark.sql(windowShareBody)
  }

  val sqlWindowTopShareSql: String = windowShareBody
}
