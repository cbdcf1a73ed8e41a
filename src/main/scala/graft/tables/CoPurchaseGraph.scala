package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Bucketing

/** The MATERIALIZED parts-bought-together graph — the shared input of
  * the whole graph family (`graph_pagerank`, `graph_triangles`,
  * `graph_jaccard_neighbors`, `graph_bfs_levels`, `graph_kcore_peel`).
  *
  * Before round 14 each of the five queries re-derived the same edge
  * list from lineitem (distinct (order, part) scan + bounded-clique
  * pair expansion + distinct) — the family's common prefix, paid five
  * times per workload. At 100 TB nobody derives a 10^11-row edge list
  * per query: the edge table is written ONCE as a layout decision and
  * every graph workload reads it. This object is that decision:
  *
  *  - ONE derivation pass builds the DIRECTED co-purchase edge list
  *    (src, dst, n_common) — both directions present, n_common = the
  *    number of orders containing both parts (symmetric, so the
  *    canonical undirected pair list is the `src < dst` half — a
  *    bucket-preserving FILTER, not a recomputation);
  *  - written via [[graft.operators.Bucketing.writeBucketed]], bucketed
  *    AND sorted by `src`: every per-round graph join keys the edge
  *    side on `src` (PageRank's mass join, BFS's frontier expansion,
  *    k-core's frontier decrement) and PageRank's out-degree aggregate
  *    groups by `src`, so the edge side of all of them plans with ZERO
  *    Exchange — the per-iteration shuffle of the BIG side becomes a
  *    one-time write-side cost (plan-asserted in ExplainAuditSpec and
  *    CoPurchaseGraphSpec);
  *  - a second tiny table (pk, n_orders) carries each part's order
  *    count — the Jaccard denominators, which are NOT derivable from
  *    the pair table (a part alone in its orders has degree but no
  *    pairs).
  *
  * Materialization is lazy and idempotent per (warehouse, sfDir): the
  * first graph query in a session pays the build, the rest read the
  * bucketed table (catalog-checked, so a session never builds twice;
  * `Bucketing.writeBucketed` already clears orphan directories from a
  * crashed previous writer). The per-sfDir table-name suffix keeps
  * scale factors from colliding in one warehouse.
  */
final class CoPurchaseGraph private (spark: SparkSession,
    val edgeTable: String, val degTable: String,
    val orientedTable: String) {

  /** Directed edges (src, dst) — both directions of every co-purchase
    * pair, exactly the `src =!= dst` distinct pair set. Bucketed+sorted
    * by `src`: joins and aggregates keyed on `src` read it with no
    * Exchange.
    */
  def directedEdges: DataFrame = spark.table(edgeTable).select("src", "dst")

  /** Canonical undirected edges (u, v) with u < v, one row per pair —
    * the `src < dst` half of the directed table (a filter over the
    * bucketed scan; bucketing on src = bucketing on u survives).
    */
  def canonicalEdges: DataFrame =
    spark.table(edgeTable).filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))

  /** Canonical pairs with their co-occurrence count:
    * (u, v, n_common), u < v, n_common = |orders containing both|.
    */
  def pairCounts: DataFrame =
    spark.table(edgeTable).filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"), col("n_common"))

  /** (pk, n_orders): each part's distinct-order count — the Jaccard
    * union denominators.
    */
  def orderDegrees: DataFrame = spark.table(degTable)

  /** Degree-ORIENTED canonical edges (src, dst, d_deg): each undirected
    * edge once, pointing from its lower to its higher endpoint in the
    * (neighbor-degree, id) total order, with `d_deg` = the dst's
    * degree (so a consumer can rebuild the order key without a degree
    * join). Orientation is a pure function of the graph, so it is a
    * WRITE-TIME layout decision: triangle counting's wedge join —
    * the Σd⁺² intermediate, its dominant cost — becomes a self-join of
    * this table on `src`, which the bucketed+sorted-by-src layout plans
    * with ZERO exchange and ZERO sort on either side.
    */
  def orientedEdges: DataFrame = spark.table(orientedTable)
}

object CoPurchaseGraph {

  /** Get (materializing on first use) the co-purchase graph for the
    * fixture at `sfDir`.
    */
  def apply(spark: SparkSession, sfDir: String): CoPurchaseGraph =
    synchronized {
      val tag = sfDir.toLowerCase(java.util.Locale.ROOT)
        .replaceAll("[^a-z0-9]", "_")
      val edgeTable = s"graft_copurchase_edges_$tag"
      val degTable = s"graft_copurchase_deg_$tag"
      val orientedTable = s"graft_copurchase_oriented_$tag"
      // freshness, not just existence: a regenerated lineitem fixture at
      // the same path must invalidate the persistent-warehouse layout
      val sig = FixtureSignature.of(Seq(s"$sfDir/lineitem.parquet"))
      if (!FixtureSignature.fresh(spark, edgeTable, sig) ||
          !FixtureSignature.fresh(spark, degTable, sig) ||
          !FixtureSignature.fresh(spark, orientedTable, sig)) {
        // bucket count = the session's shuffle parallelism, so the
        // non-bucketed side of a one-side-bucketed join lands on the
        // same partition count it would have shuffled to anyway; at
        // 100 TB size it instead per Bucketing's ~256 MB/bucket guidance
        val buckets = scala.util.Try(
          spark.conf.get("spark.sql.shuffle.partitions").toInt)
          .getOrElse(32).max(1)
        val po = Tables(spark, sfDir).lineitem
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
        // bounded-clique pair expansion (orders hold <= 7 parts, so the
        // per-order fanout is a constant <= 42); the groupBy collapses
        // repeat co-purchases into n_common and yields the distinct
        // directed edge set in the same pass
        val edges = po.select(col("ok"), col("pk").as("src"))
          .join(po.select(col("ok"), col("pk").as("dst")), "ok")
          .filter(col("src") =!= col("dst"))
          .groupBy("src", "dst").agg(count(lit(1)).as("n_common"))
        Bucketing.writeBucketed(edges, edgeTable, "src", buckets)
        Bucketing.writeBucketed(
          po.groupBy("pk").agg(count(lit(1)).as("n_orders")),
          degTable, "pk", buckets)
        // degree-oriented canonical edges, derived from the just-written
        // bucketed table (its src-keyed degree aggregate is exchange-
        // free): orient each u<v pair from its lower to its higher
        // endpoint in the (neighbor-degree, id) total order
        val e = spark.table(edgeTable)
        val nDeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
          .withColumnRenamed("src", "node")
        val oriented = e.filter(col("src") < col("dst"))
          .select(col("src").as("u"), col("dst").as("v"))
          .join(nDeg.select(col("node").as("u"), col("deg").as("du")), "u")
          .join(nDeg.select(col("node").as("v"), col("deg").as("dv")), "v")
          .select(
            when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
              col("u")).otherwise(col("v")).as("src"),
            when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
              col("v")).otherwise(col("u")).as("dst"),
            when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
              col("dv")).otherwise(col("du")).as("d_deg"))
        Bucketing.writeBucketed(oriented, orientedTable, "src", buckets)
        FixtureSignature.record(spark, edgeTable, sig)
        FixtureSignature.record(spark, degTable, sig)
        FixtureSignature.record(spark, orientedTable, sig)
      }
      new CoPurchaseGraph(spark, edgeTable, degTable, orientedTable)
    }
}
