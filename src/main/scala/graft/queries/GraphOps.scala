package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Graph analytics over a co-occurrence graph derived from the fixture
  * star schema (SURVEY.md §2.9 extension, round 11). Connected
  * components ([[graft.operators.ConnectedComponents]]) covered the
  * iterative-CLOSURE shape; this adds the iterative-NUMERIC shape —
  * PageRank-style mass propagation — expressed so every round is one
  * co-partitioned equi-join + aggregate, and the arithmetic is exact
  * integers so a fixed-iteration run is DuckDB-hash-checkable (real
  * PageRank's damped double divisions accumulate in engine- and
  * partition-order-dependent ways; the scaled-integer-mass variant is
  * the same propagation structure with deterministic floors).
  */
object GraphOps {

  /** Integer-mass PageRank (3 synchronous rounds, damping 0.85) over
    * the parts-bought-together graph: nodes are parts, with a directed
    * edge each way between parts co-occurring in an order.
    *
    * Mass protocol: every node starts with 10^6 integer mass; each
    * round a node sends each out-neighbor `(mass·85) div (100·deg)` —
    * ONE integer division per edge (dividing twice, damp then spread,
    * would floor twice and lose more mass; both engines compute the
    * single `div` identically on positive operands) — and every node
    * restarts from the 150 000 teleport base plus what it received.
    * Floor loss makes total mass slightly sub-conserved; that is the
    * deterministic contract, not a defect.
    *
    * Scale shape: the edge build is the bounded-clique trick (orders
    * hold ≤ 7 parts, so per-order pair expansion is a constant ≤ 42;
    * the co-visitation query handles the unbounded-group variant with
    * an explicit cap); each round shuffles edges by src to meet the
    * mass table (co-partitioned with the previous round's aggregate
    * output) and aggregates contributions by dst — the plan a Pregel
    * superstep compiles to. Three rounds statically unrolled: at 100 TB
    * each round is one shuffle of the edge table, and the mass table
    * (one row per node) rides the same hash partitioning throughout.
    */
  /** The reusable operator core: `rounds` synchronous integer-mass
    * supersteps over (`nodes`: col `id`; `edges`: cols `src`, `dst`).
    * Returns (id, mass). See [[graphPagerank]] for the mass protocol.
    *
    * The edge list and degree table are loop INVARIANTS re-read by
    * every superstep. Persisting them was measured SLOWER at bench
    * scale (4.73 s vs 3.12 s lazy, sf0.1 single-query): the statically
    * unrolled rounds expose identical edge/deg subtrees to Catalyst,
    * ReuseExchange shares their shuffles within the one action, and
    * the cache's materialize-write of 2M edge rows costs more than the
    * residual recompute it avoids. On a real cluster with MANY
    * iterations (or a convergence loop, where each round is its own
    * action and nothing can be reused across them), checkpoint the
    * edge frame exactly as ConnectedComponents does.
    */
  /** One synchronous integer-mass superstep — the shared core of the
    * statically-unrolled [[integerPagerank]] and the per-round-action
    * [[integerPagerankConverged]].
    */
  private def pagerankStep(nodes: DataFrame, edges: DataFrame,
      deg: DataFrame, mass: DataFrame): DataFrame = {
    val contrib = edges
      .join(mass.withColumnRenamed("id", "src"), "src")
      .join(deg, "src")
      .select(col("dst").as("id"),
        expr("(mass * 85) div (100 * deg)").as("c"))
      .groupBy("id").agg(sum("c").as("recv"))
    nodes.join(contrib, Seq("id"), "left")
      .select(col("id"),
        (lit(150000L) + coalesce(col("recv"), lit(0L))).as("mass"))
  }

  def integerPagerank(nodes: DataFrame, edges: DataFrame,
      rounds: Int = 3): DataFrame = {
    require(rounds >= 1)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    var mass = nodes.select(col("id"), lit(1000000L).as("mass"))
    for (_ <- 1 to rounds) mass = pagerankStep(nodes, edges, deg, mass)
    mass
  }

  /** Until-convergence PageRank — the execution shape a real user's
    * "iterate until stable" run has, which is DIFFERENT from the
    * unrolled variant's: each round is its own ACTION (the convergence
    * check), so nothing is shared across rounds by ReuseExchange and
    * the loop must manage storage itself, exactly as
    * [[graft.operators.ConnectedComponents.resolve]] does:
    *
    *  - the loop-INVARIANT node/edge/degree frames are checkpointed
    *    ONCE up front (the caching the unrolled variant correctly
    *    skips — GraphOps.scala's A/B note — becomes mandatory here:
    *    every round re-reading the raw edge build would re-run its
    *    joins once per action);
    *  - each round's mass table is checkpointed (lineage truncation —
    *    otherwise round N replays rounds 1..N−1) and the previous
    *    round's blocks are released immediately
    *    ([[org.apache.spark.sql.graft.Checkpoints.release]] — plain
    *    unpersist is a silent no-op on checkpoint blocks);
    *  - convergence = total L1 mass change ≤ `tolerance`, computed as
    *    an exact BIGINT sum over one id-equi-join of consecutive
    *    rounds (the join rides the mass tables' shared hash
    *    partitioning). The floor divisions make a LITERAL fixpoint
    *    unattainable in general — integer mass settles into a ±1-unit
    *    period-2 jitter on many graphs (each round's floors shave
    *    opposite sides) — so tolerance = 0 means "exact fixpoint or
    *    maxRounds", and a small tolerance (a few units per million of
    *    per-node mass) is the protocol's honest stability notion;
    *    deterministic either way, never an engine-dependent epsilon on
    *    doubles.
    *
    * Returns (mass frame, rounds executed, converged). The mass frame
    * is the one pinned checkpoint — the CALLER releases it
    * (`Checkpoints.release`) once consumed, same contract as
    * ConnectedComponents' assignment. Capped at `maxRounds` (returns
    * converged = false rather than throwing: a mass table after N
    * bounded rounds is still the protocol's defined output, unlike
    * components, where a non-fixpoint edge set is not an answer).
    */
  def integerPagerankConverged(nodes: DataFrame, edges: DataFrame,
      maxRounds: Int = 50, tolerance: Long = 0L,
      checkpointDir: Option[String] = None): (DataFrame, Int, Boolean) = {
    import org.apache.spark.sql.graft.Checkpoints
    require(maxRounds >= 1)
    val sc = nodes.sparkSession.sparkContext
    val prevCkptDir = Checkpoints.checkpointDirOf(sc)
    checkpointDir.foreach(sc.setCheckpointDir)
    def snap(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) {
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // the eager checkpoint is a job: if it dies (OOM, lost
        // executor), the persist above must not outlive the failure
        try {
          val out = df.checkpoint(eager = true)
          df.unpersist(blocking = false)
          out
        } catch {
          case t: Throwable => df.unpersist(blocking = false); throw t
        }
      } else df.localCheckpoint()
    // exact BIGINT L1 delta between consecutive mass tables: both
    // frames are one row per node on the same id hash partitioning,
    // so this is one co-partitioned join + sum per round. |Δ| per node
    // is bounded by total mass, and total mass by nodes × 10^6, so the
    // LONG sum cannot overflow below ~9·10^12 nodes.
    def l1Delta(next: DataFrame, prev: DataFrame): Long = {
      val r = next.select(col("id"), col("mass").as("nm"))
        .join(prev.select(col("id"), col("mass").as("pm")), "id")
        .agg(sum(abs(col("nm") - col("pm")))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    def body(): (DataFrame, Int, Boolean) = {
      val n = snap(nodes.select(col("id")))
      val e = snap(edges.select(col("src"), col("dst")))
      val deg = snap(e.groupBy("src").agg(count(lit(1)).as("deg")))
      var mass = snap(n.select(col("id"), lit(1000000L).as("mass")))
      var it = 0
      var converged = false
      try {
        while (!converged && it < maxRounds) {
          val next = snap(pagerankStep(n, e, deg, mass))
          // the delta is a per-round ACTION: if it dies (executor
          // loss, checkpoint-dir I/O), `next` is already materialized
          // and would outlive the outer catch, which only knows `mass`
          try converged = l1Delta(next, mass) <= tolerance
          catch { case t: Throwable => Checkpoints.release(next); throw t }
          val prev = mass
          mass = next
          Checkpoints.release(prev)
          it += 1
        }
      } catch {
        case t: Throwable => Checkpoints.release(mass); throw t
      } finally {
        Checkpoints.release(n); Checkpoints.release(e); Checkpoints.release(deg)
      }
      (mass, it, converged)
    }
    try body() finally
      if (checkpointDir.isDefined)
        Checkpoints.restoreCheckpointDir(sc, prevCkptDir)
  }

  /** Triangle counting via degree-ordered edge orientation — the third
    * classic graph shape (closure = ConnectedComponents, numeric
    * propagation = [[integerPagerank]], local clustering structure =
    * this). The naive 3-way self-join enumerates every wedge at every
    * hub (Σ deg² explodes exactly at the skewed nodes a co-purchase
    * graph has); orienting each edge from its lower to its higher
    * endpoint in the (degree, id) total order bounds out-degree by
    * O(√m) on ANY graph, so wedges form only at each triangle's
    * MINIMUM node and the intermediate is Σ d⁺² ≤ m^1.5 worst case —
    * the standard scalable formulation (two co-partitioned equi-joins
    * + one aggregate; hubs never originate wedges).
    *
    * `edges` must be undirected-canonical: one row per edge with
    * `u < v`, no duplicates, no self-loops. Returns one row per node
    * appearing in ≥ 1 triangle: (id, tri_count). Exact integers —
    * orientation changes the PLAN, never the triangle set.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient low→high in the (deg, id) order; carry the dst's order key
    // so the wedge join can canonicalize without re-joining degrees
    val ed = edges
      .join(deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du"), "u")
      .join(deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"), "v")
      .select(col("u"), col("v"),
        struct(col("du").as("d"), col("u").as("n")).as("ukey"),
        struct(col("dv").as("d"), col("v").as("n")).as("vkey"))
      .select(
        when(col("ukey") < col("vkey"), col("u")).otherwise(col("v")).as("src"),
        when(col("ukey") < col("vkey"), col("v")).otherwise(col("u")).as("dst"),
        when(col("ukey") < col("vkey"), col("vkey")).otherwise(col("ukey"))
          .as("dkey"))
    // The oriented frame feeds THREE plan references (both wedge sides
    // + the closing join). When `edges` is an exchange-rooted derivation
    // ReuseExchange shares the build implicitly (the r11 A/B that
    // rejected an eager cache) — but when `edges` is a BUCKETED SCAN
    // there are no Exchange nodes to reuse and each reference would
    // re-run the degree joins from parquet (measured 2× wall on the
    // shared co-purchase table). Persist ed once, self-releasing after
    // the consuming action; at 100 TB this is the same O(E) storage the
    // old plan held in shuffle files.
    val edP = ed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // wedges at each triangle's minimum node: (src→a, src→b) with
    // a ≺ b in the same order, closed by the oriented edge a→b
    val e1 = edP.select(col("src"), col("dst").as("a"), col("dkey").as("akey"))
    val e2 = edP.select(col("src"), col("dst").as("b"), col("dkey").as("bkey"))
    val tri = e1.join(e2, "src").filter(col("akey") < col("bkey"))
      .join(edP.select(col("src").as("a"), col("dst").as("b")), Seq("a", "b"))
      .select(col("src").as("x"), col("a").as("y"), col("b").as("z"))
    val counts = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("tri_count"))
    graft.operators.CacheLifecycle.releaseAfterAction(counts, Seq(edP))
  }

  /** Triangle counts over a PRE-ORIENTED edge table
    * ([[graft.tables.CoPurchaseGraph.orientedEdges]] layout: (src, dst,
    * d_deg), each edge pointing low→high in the (degree, id) order).
    * Identical output to [[triangleCounts]] (spec-asserted) — but the
    * degree joins happened ONCE at write time, so per query only the
    * wedge join, the closing join and the count aggregate run; on the
    * bucketed+sorted-by-src layout the wedge self-join — the Σd⁺²
    * intermediate that dominates triangle counting — plans with ZERO
    * exchange and ZERO sort on either side. The only remaining shuffle
    * of consequence is wedges→closing-join, which is output-proportional
    * and irreducible.
    */
  def trianglesFromOriented(oriented: DataFrame): DataFrame = {
    // Wedge EMISSION is a combination generator, not a self-join (r18
    // optimization, the resourceAllocScores device): collapse each src
    // to its out-neighbor list sorted in the (d_deg, dst) orientation
    // order — an exchange-free aggregate over the bucketed layout whose
    // per-group buffer is bounded by the orientation's O(√m) out-degree
    // — then nested explodes emit exactly the C(d⁺, 2) ordered wedges.
    // The previous self-join form probed a broadcast of the whole edge
    // set and materialized Σd⁺² candidate rows before the akey < bkey
    // filter halved them (84 M built to keep 41 M at bench scale); the
    // generator emits the 41 M directly. Wedge SET unchanged ⇒ the
    // closing join, counts, and oracle hash unchanged.
    val lists = oriented
      .select(col("src"),
        struct(col("d_deg").as("d"), col("dst").as("n")).as("dkey"))
      .groupBy("src").agg(sort_array(collect_list(col("dkey"))).as("__ks"))
    val wedges = lists
      .select(col("src"), posexplode(col("__ks")).as(Seq("__i", "ak")),
        col("__ks"))
      .select(col("src"), col("ak.n").as("a"),
        explode(slice(col("__ks"), col("__i") + 2,
          greatest(size(col("__ks")) - col("__i") - 1, lit(0)))).as("bk"))
      .select(col("src"), col("a"), col("bk.n").as("b"))
    // CLOSE AGAINST THE PER-NODE LIST, NOT THE EDGE ROWS (r19
    // optimization, guide §3.1/§1.1). The edge-row form hashed every
    // wedge's (a, b) into a two-long-key UnsafeHashedRelation of the
    // whole edge set — 41 M random probes into a ~60 MB relation, each
    // a multi-miss pointer chase; the closing join measured ~3 s of the
    // query's 3.3 s (OPTIMIZATION_r19.md §7). Joining on `a` ALONE
    // against the per-node out-neighbor lists (|V| rows, not |E|) makes the
    // relation a single-long-key lookup into a cache-resident table,
    // and the b ∈ N⁺(a) test a sequential scan of one short primitive
    // array (out-degree is O(√m) by orientation): 3.3 s → 0.6 s
    // end-to-end. No broadcast hint: at bench scale the planner
    // broadcasts from stats; at 100 TB the lists side (O(V + E) bytes)
    // exceeds the threshold and the join degrades to the same shuffled
    // join the edge-row form would have needed — with |V| rows instead
    // of |E| on the build side. Wedge rows where a has no out-list
    // (d⁺(a) = 0) cannot close and the inner join drops them, exactly
    // as the edge-row join did; the (x, y, z) triple set is unchanged
    // (spec-asserted against triangleCounts, oracle unchanged).
    val outLists = oriented.groupBy("src")
      .agg(collect_list(col("dst")).as("__na"))
    val tri = wedges
      .join(outLists.withColumnRenamed("src", "a"), Seq("a"))
      .filter(array_contains(col("__na"), col("b")))
      .select(col("src").as("x"), col("a").as("y"), col("b").as("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("tri_count"))
  }

  /** Top-20 parts by triangle participation in the parts-bought-together
    * graph (ties broken by part key — total order). Reads the SHARED
    * materialized ORIENTED edge table ([[graft.tables.CoPurchaseGraph]])
    * — the whole graph family's common prefix, built once per session.
    */
  def graphTriangles(spark: SparkSession, sfDir: String): DataFrame = {
    val oriented = graft.tables.CoPurchaseGraph(spark, sfDir).orientedEdges
    trianglesFromOriented(oriented)
      .orderBy(col("tri_count").desc, col("id"))
      .limit(20)
      .select(col("id").as("p_partkey"), col("tri_count"))
  }

  /** Oracle counts each triangle once as u < v < w — plain id order is
    * enough for CORRECTNESS (orientation is a performance device; the
    * triangle SET is order-invariant, which is exactly what this
    * cross-check pins). Every CTE is MATERIALIZED: e0 is referenced
    * three times by the wedge-close join and tri three times by the
    * explode — DuckDB's default inlining re-derives the pair join per
    * reference, which is what spilled the 100×-proxy box on the
    * sibling graph oracles (SWEEP_SF10); materialization replays each
    * stage once, like the engine does.
    */
  val graphTrianglesSql: String =
    """WITH po AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e0 AS MATERIALIZED (
      |  SELECT DISTINCT a.pk AS u, b.pk AS v
      |  FROM po a JOIN po b ON a.ok = b.ok AND a.pk < b.pk),
      |tri AS MATERIALIZED (
      |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
      |  FROM e0 e1
      |  JOIN e0 e2 ON e1.v = e2.u
      |  JOIN e0 e3 ON e3.u = e1.u AND e3.v = e2.v)
      |SELECT id AS p_partkey, CAST(count(*) AS BIGINT) AS tri_count
      |FROM (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
      |      UNION ALL SELECT z FROM tri)
      |GROUP BY 1 ORDER BY tri_count DESC, p_partkey LIMIT 20""".stripMargin

  def graphPagerank(spark: SparkSession, sfDir: String): DataFrame = {
    // shared materialized edge table, bucketed by src: every round's
    // mass join AND the out-degree aggregate key on src, so the edge
    // side of all of them plans with zero Exchange
    val edges = graft.tables.CoPurchaseGraph(spark, sfDir).directedEdges
    val nodes = Tables(spark, sfDir).part
      .select(col("p_partkey").as("id"))
    integerPagerank(nodes, edges, rounds = 3)
      .orderBy(col("mass").desc, col("id")).limit(20)
      .select(col("id").as("p_partkey"), col("mass"))
  }

  /** Every CTE is MATERIALIZED: edges and deg are each referenced once
    * PER ROUND (3×) and DuckDB's default inlining re-derives the
    * distinct pair join per reference — the 100×-proxy spill mode
    * documented in SWEEP_SF10; materialization replays each stage
    * once, like the engine's checkpointed loop does.
    */
  val graphPagerankSql: String = {
    def round(prev: String, out: String): String =
      s"""$out AS MATERIALIZED (
         |  SELECT n.id, 150000 + COALESCE(s.recv, 0) AS mass
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS id, sum((m.mass * 85) // (100 * d.deg)) AS recv
         |    FROM edges e
         |    JOIN $prev m ON e.src = m.id
         |    JOIN deg d ON e.src = d.src
         |    GROUP BY 1) s ON n.id = s.id)""".stripMargin
    s"""WITH po AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |edges AS MATERIALIZED (
       |  SELECT DISTINCT a.pk AS src, b.pk AS dst
       |  FROM po a JOIN po b ON a.ok = b.ok AND a.pk <> b.pk),
       |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
       |nodes AS MATERIALIZED (SELECT p_partkey AS id FROM part),
       |m0 AS MATERIALIZED (SELECT id, 1000000 AS mass FROM nodes),
       |${round("m0", "m1")},
       |${round("m1", "m2")},
       |${round("m2", "m3")}
       |SELECT id AS p_partkey, CAST(mass AS BIGINT) AS mass
       |FROM m3 ORDER BY mass DESC, id LIMIT 20""".stripMargin
  }

  /** Neighborhood Jaccard similarity (structural node similarity, the
    * link-prediction baseline): for part pairs sharing ≥ 2 orders,
    * |orders(a) ∩ orders(b)| / |orders(a) ∪ orders(b)|, top-100.
    *
    * Shape: the intersection count rides the bounded per-order pair
    * expansion (≤ 7 parts/order ⇒ ≤ 21 pairs, a constant); degrees are
    * one partial+final aggregate; the union size is then arithmetic
    * (da + db − co), never a set union. The co ≥ 2 prune runs BEFORE
    * the degree joins, and the top-100 is a TakeOrdered heap, not a
    * global sort. The Jaccard double is one division of exact integers
    * — correctly rounded identically in both engines — and
    * (jaccard, a, b) is a total order, so the limit cut is
    * deterministic.
    */
  /** Reusable core: Jaccard similarity of members by the sets they
    * appear in. `membership` = (set_id, member) pairs, assumed
    * distinct; emits (member_a, member_b, n_common, jaccard) for pairs
    * sharing ≥ `minCommon` sets, member_a < member_b.
    */
  def neighborJaccard(membership: DataFrame, minCommon: Long): DataFrame = {
    val po = membership.toDF("ok", "pk")
    val deg = po.groupBy("pk").agg(count(lit(1)).as("deg"))
    val co = po.select(col("ok"), col("pk").as("member_a"))
      .join(po.select(col("ok"), col("pk").as("member_b")), "ok")
      .filter(col("member_a") < col("member_b"))
      .groupBy("member_a", "member_b").agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
    co.join(deg.select(col("pk").as("member_a"), col("deg").as("deg_a")), "member_a")
      .join(deg.select(col("pk").as("member_b"), col("deg").as("deg_b")), "member_b")
      .select(col("member_a"), col("member_b"), col("n_common"),
        (col("n_common").cast("double") /
          (col("deg_a") + col("deg_b") - col("n_common"))).as("jaccard"))
  }

  /** The declared query rides the SHARED materialized graph: its
    * pair-count table IS [[neighborJaccard]]'s `co` aggregate (n_common
    * = shared-order count per canonical pair) and the degree table its
    * `deg`, so only the tail arithmetic + top-100 heap run per query.
    * [[neighborJaccard]] stays the generic operator for un-materialized
    * membership frames.
    */
  def graphJaccardNeighbors(spark: SparkSession, sfDir: String): DataFrame = {
    val g = graft.tables.CoPurchaseGraph(spark, sfDir)
    val co = g.pairCounts.filter(col("n_common") >= 2)
      .select(col("u").as("part_a"), col("v").as("part_b"), col("n_common"))
    co.join(g.orderDegrees
        .select(col("pk").as("part_a"), col("n_orders").as("deg_a")), "part_a")
      .join(g.orderDegrees
        .select(col("pk").as("part_b"), col("n_orders").as("deg_b")), "part_b")
      .select(col("part_a"), col("part_b"), col("n_common"),
        (col("n_common").cast("double") /
          (col("deg_a") + col("deg_b") - col("n_common"))).as("jaccard"))
      .orderBy(col("jaccard").desc, col("part_a"), col("part_b"))
      .limit(100)
  }

  /** po is referenced three times (deg + both sides of the pair join)
    * and deg twice — MATERIALIZED so DuckDB replays each once at the
    * 100× proxy instead of re-deriving the distinct scan per
    * reference (the SWEEP_SF10 spill mode).
    */
  val graphJaccardNeighborsSql: String =
    """WITH po AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |deg AS MATERIALIZED (SELECT pk, count(*) AS deg FROM po GROUP BY 1),
      |co AS MATERIALIZED (
      |  SELECT a.pk AS part_a, b.pk AS part_b, count(*) AS n_common
      |  FROM po a JOIN po b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT part_a, part_b, n_common,
      | CAST(n_common AS DOUBLE) / (da.deg + db.deg - n_common) AS jaccard
      |FROM co JOIN deg da ON part_a = da.pk JOIN deg db ON part_b = db.pk
      |ORDER BY jaccard DESC, part_a, part_b LIMIT 100""".stripMargin

  /** Multi-source BFS, 3 synchronous rounds, reported as the level
    * histogram (dist → node count + id-range signature; unreachable =
    * −1). Seeds are every 100th part. The Spark loop is FRONTIER-only:
    * each round expands just the newly-discovered nodes (an anti-join
    * against the visited set), so at 100 TB a round shuffles
    * O(frontier-adjacent edges), not O(all edges × all visited) — the
    * textbook Pregel BFS; statically unrolled like the PageRank rounds
    * so the whole run is one lazy plan. The oracle unrolls the same
    * three min-label rounds; BFS level sets are expansion-order
    * invariant, which is exactly what the cross-check pins.
    */
  /** Reusable core: multi-source BFS distances over DIRECTED edges
    * (src, dst), frontier-only expansion, statically unrolled to
    * `maxDepth` rounds. Returns (id, dist) for every reached node;
    * unreached nodes are absent. Each round shuffles only the
    * frontier-adjacent edges, not all-visited × all-edges.
    */
  /** One frontier-expansion round — the shared core of the unrolled
    * [[bfsDistances]] and the run-to-empty [[bfsToFixpoint]].
    */
  private def bfsStep(e: DataFrame, visited: DataFrame, frontier: DataFrame,
      d: Int): DataFrame =
    frontier.join(e, col("id") === col("src"))
      .select(col("dst").as("id")).distinct()
      .join(visited.select(col("id").as("vid")),
        col("id") === col("vid"), "left_anti")
      .withColumn("dist", lit(d))

  def bfsDistances(edges: DataFrame, seeds: DataFrame,
      maxDepth: Int): DataFrame = {
    val e = edges.toDF("src", "dst")
    var visited = seeds.toDF("id").select(col("id"), lit(0).as("dist"))
    var frontier = visited
    for (d <- 1 to maxDepth) {
      val next = bfsStep(e, visited, frontier, d)
      visited = visited.unionByName(next)
      frontier = next
    }
    visited
  }

  /** BFS run to the natural fixpoint — stop when a round discovers
    * nothing, i.e. every reachable node has its distance. Termination
    * is a per-round ACTION (the frontier count), so the loop owns its
    * storage exactly like [[integerPagerankConverged]]: the edge frame
    * is checkpointed once up front (mandatory here — each round is its
    * own job and ReuseExchange cannot share the edge build across
    * jobs), each round's visited/frontier pair is checkpointed
    * (lineage truncation) and the previous round's blocks released.
    * The frontier count is the natural convergence signal — no
    * signature screen needed, an empty frontier IS the exact fixpoint
    * (monotone visited set + frontier-only expansion).
    *
    * Returns (visited frame, rounds executed — including the final
    * empty-discovery round that proves the fixpoint). `maxRounds`
    * bounds a pathological diameter; the visited frame is the one
    * pinned checkpoint and is the caller's to release. Distances are
    * identical to [[bfsDistances]] at any depth ≥ the rounds executed
    * (level sets are expansion-order invariant).
    */
  def bfsToFixpoint(edges: DataFrame, seeds: DataFrame,
      maxRounds: Int = 10000,
      checkpointDir: Option[String] = None): (DataFrame, Int) = {
    import org.apache.spark.sql.graft.Checkpoints
    val sc = edges.sparkSession.sparkContext
    val prevCkptDir = Checkpoints.checkpointDirOf(sc)
    checkpointDir.foreach(sc.setCheckpointDir)
    def snap(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) {
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // the eager checkpoint is a job: if it dies (OOM, lost
        // executor), the persist above must not outlive the failure
        try {
          val out = df.checkpoint(eager = true)
          df.unpersist(blocking = false)
          out
        } catch {
          case t: Throwable => df.unpersist(blocking = false); throw t
        }
      } else df.localCheckpoint()
    def body(): (DataFrame, Int) = {
      val e = snap(edges.toDF("src", "dst"))
      var visited = snap(seeds.toDF("id")
        .select(col("id"), lit(0).as("dist")))
      var frontier = visited // round 0: the seeds ARE the frontier
      var d = 0
      try {
        var frontierSize = frontier.count()
        while (frontierSize > 0 && d < maxRounds) {
          d += 1
          val next = snap(bfsStep(e, visited, frontier, d))
          // count() and the union snap are per-round ACTIONS: if one
          // dies, `next` is already materialized but not yet owned by
          // `frontier`, so the outer catch would never release it
          try {
            frontierSize = next.count()
            if (frontierSize == 0) {
              // barren round: nothing new — keep visited/frontier as-is
              // (the loop exits on frontierSize) and drop the empty frame
              Checkpoints.release(next)
            } else {
              val prevV = visited
              val prevF = frontier
              visited = snap(visited.unionByName(next))
              frontier = next
              Checkpoints.release(prevV)
              if (prevF ne prevV) Checkpoints.release(prevF)
            }
          } catch {
            case t: Throwable =>
              if (frontier ne next) Checkpoints.release(next)
              throw t
          }
        }
      } catch {
        case t: Throwable =>
          if (frontier ne visited) Checkpoints.release(frontier)
          Checkpoints.release(visited)
          throw t
      } finally Checkpoints.release(e)
      if (frontier ne visited) Checkpoints.release(frontier)
      (visited, d)
    }
    try body() finally
      if (checkpointDir.isDefined)
        Checkpoints.restoreCheckpointDir(sc, prevCkptDir)
  }

  def graphBfsLevels(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    // the shared materialized edge table already carries BOTH
    // directions (the old half ∪ reverse(half) set, exactly), bucketed
    // by src — each frontier-expansion join reads it exchange-free
    val edges = graft.tables.CoPurchaseGraph(spark, sfDir).directedEdges
    val nodes = t.part.select(col("p_partkey").as("id"))
    val seeds = nodes.filter(col("id") % 100 === 0)
    nodes
      .join(bfsDistances(edges, seeds, maxDepth = 3), Seq("id"), "left")
      .select(col("id"), coalesce(col("dist"), lit(-1)).as("dist"))
      .groupBy("dist")
      .agg(count(lit(1)).as("n_nodes"),
        min("id").as("min_id"), max("id").as("max_id"))
      .orderBy("dist")
  }

  /** Every CTE is MATERIALIZED: each round references its predecessor
    * twice (carry + expand) and edges once per round, and DuckDB's
    * default inlining re-derived the whole pair join per reference —
    * at the 100× proxy that unrolled re-derivation spilled the box's
    * remaining ~76 GB of temp disk and died (SWEEP_SF10 round 13);
    * materialization replays each frontier exactly once, like the
    * engine's checkpointed loop.
    */
  val graphBfsLevelsSql: String = {
    def round(prev: String, out: String, d: Int): String =
      s"""$out AS MATERIALIZED (
         |  SELECT id, min(dist) AS dist FROM (
         |    SELECT id, dist FROM $prev
         |    UNION ALL
         |    SELECT e.dst AS id, $d AS dist
         |    FROM edges e JOIN $prev p ON e.src = p.id)
         |  GROUP BY 1)""".stripMargin
    s"""WITH po AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |half AS MATERIALIZED (
       |  SELECT DISTINCT a.pk AS src, b.pk AS dst
       |  FROM po a JOIN po b ON a.ok = b.ok AND a.pk < b.pk),
       |edges AS MATERIALIZED (SELECT src, dst FROM half
       |          UNION ALL SELECT dst, src FROM half),
       |nodes AS MATERIALIZED (SELECT p_partkey AS id FROM part),
       |d0 AS MATERIALIZED (SELECT id, 0 AS dist FROM nodes WHERE id % 100 = 0),
       |${round("d0", "d1", 1)},
       |${round("d1", "d2", 2)},
       |${round("d2", "d3", 3)}
       |SELECT dist, count(*) AS n_nodes, min(id) AS min_id, max(id) AS max_id
       |FROM (
       |  SELECT n.id, COALESCE(v.dist, -1) AS dist
       |  FROM nodes n LEFT JOIN d3 v ON n.id = v.id)
       |GROUP BY 1 ORDER BY dist""".stripMargin
  }

  // (The fourth iterative graph shape in this file: closure = CC,
  // propagation = pagerank, local structure = triangles, PEELING =
  // k-core. The naive round — restrict edges to survivors, recompute
  // all degrees — re-shuffles the WHOLE alive edge set every round,
  // O(rounds·E); the decrement rounds inside kcoreToFixpoint touch
  // each edge at most twice total, once per endpoint-peel event.)

  /** Fixed-rounds k-core peeling. NOT a lazy unrolled plan: each round
    * references its predecessor FOUR times (two survivor joins × two
    * union branches), so Catalyst re-derives the whole edge build
    * ~4^rounds times — the measured 3-round lazy plan carried ~170
    * FileScans and ~340 exchanges, the engine-side twin of the
    * exponential CTE re-inlining the SQL oracle needed `MATERIALIZED`
    * for. Peeling therefore runs EAGERLY through [[kcoreToFixpoint]]'s
    * per-round-checkpoint machinery (capped at `rounds`; stopping
    * early on stability is output-identical — peeling is idempotent
    * once stable) and the returned frame self-releases its blocks
    * after the consuming action, the same one-materializing-action
    * contract as `dedup_docs_components`.
    */
  def kcorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(rounds >= 1, s"need at least one peel round, got $rounds")
    val (core, _) = kcoreToFixpoint(edges, k, maxRounds = rounds)
    graft.operators.CacheLifecycle.releaseAfterAction(
      core.select(col("id"), col("deg")), Seq(core))
  }

  /** Peel to the exact k-core by FRONTIER DECREMENT (the distributed
    * k-core discipline, Montresor-style): the state is one (id, deg)
    * row per alive node; each round the frontier (deg < k) leaves, and
    * ONLY the edges incident to the frontier are joined to decrement
    * the surviving neighbors. An edge is therefore processed at most
    * twice across the whole run — once per endpoint-peel event — so
    * total shuffle is O(E) + O(rounds·|state|), where the naive
    * restrict-and-recompute round re-shuffles the entire alive edge
    * set EVERY round (O(rounds·E); and its lazily-unrolled form is
    * worse still — each round references its predecessor 4×, so
    * Catalyst re-derives the edge build ~4^rounds times: ~170
    * FileScans measured at 3 rounds, the engine-side twin of the
    * exponential CTE re-inlining the SQL oracle needed `MATERIALIZED`
    * for). A decrement aimed at an already-peeled node is dropped by
    * the survivor join; a both-endpoints-peel-together edge decrements
    * two nodes that are leaving anyway.
    *
    * Surviving degrees are degrees WITHIN the surviving set (initial
    * degree minus every edge lost to a peeled neighbor) — at the
    * fixpoint, the core's internal degrees, all ≥ k. Termination is
    * the empty frontier (exact fixpoint), capped at `maxRounds`;
    * per-round frontier counts with the same checkpoint-truncation /
    * block-release discipline as [[bfsToFixpoint]]. Returns
    * (survivors (id, deg) — the caller's checkpoint to release,
    * rounds executed including the proving empty-frontier round).
    */
  def kcoreToFixpoint(edges: DataFrame, k: Int, maxRounds: Int = 10000,
      checkpointDir: Option[String] = None): (DataFrame, Int) = {
    import org.apache.spark.sql.graft.Checkpoints
    val sc = edges.sparkSession.sparkContext
    val prevCkptDir = Checkpoints.checkpointDirOf(sc)
    checkpointDir.foreach(sc.setCheckpointDir)
    def snap(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) {
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // the eager checkpoint is a job: if it dies (OOM, lost
        // executor), the persist above must not outlive the failure
        try {
          val out = df.checkpoint(eager = true)
          df.unpersist(blocking = false)
          out
        } catch {
          case t: Throwable => df.unpersist(blocking = false); throw t
        }
      } else df.localCheckpoint()
    def body(): (DataFrame, Int) = {
      val e = snap(edges.select(col("u"), col("v")))
      var state = snap(e.select(col("u").as("id"))
        .unionAll(e.select(col("v").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg")))
      var rounds = 0
      try {
        var done = false
        while (!done && rounds < maxRounds) {
          rounds += 1
          val frontier = state.filter(col("deg") < lit(k.toLong)).select("id")
          if (frontier.isEmpty) {
            // the proving round: nothing below k — state IS the core
            done = true
          } else {
            val loss = e.join(frontier.select(col("id").as("u")), "u")
                .select(col("v").as("id"))
              .unionAll(e.join(frontier.select(col("id").as("v")), "v")
                .select(col("u").as("id")))
              .groupBy("id").agg(count(lit(1)).as("__loss"))
            val next = snap(state.filter(col("deg") >= lit(k.toLong))
              .join(loss, Seq("id"), "left")
              .select(col("id"),
                (col("deg") - coalesce(col("__loss"), lit(0L))).as("deg")))
            try {
              val prev = state
              state = next
              Checkpoints.release(prev)
            } catch {
              case t: Throwable =>
                if (state ne next) Checkpoints.release(next)
                throw t
            }
          }
        }
      } catch {
        case t: Throwable => Checkpoints.release(state); throw t
      } finally Checkpoints.release(e)
      (state, rounds)
    }
    try body() finally
      if (checkpointDir.isDefined)
        Checkpoints.restoreCheckpointDir(sc, prevCkptDir)
  }

  /** Declared query: 3 peel rounds at k = 90 over the co-purchase
    * graph (the same bounded-clique edge build as [[graphTriangles]]).
    * k sits inside the fixture's degree distribution (min 42 /
    * median 115 at sf0.01), so each round genuinely cascades — nodes
    * whose degree only falls below k after their neighbors peel drop
    * in LATER rounds, which is what distinguishes k-core from a
    * one-shot degree filter and what the oracle's chained CTEs replay.
    * Emits each survivor with its degree WITHIN the surviving set
    * (the decrement state — see [[kcoreToFixpoint]]).
    */
  def graphKcorePeel(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = graft.tables.CoPurchaseGraph(spark, sfDir).canonicalEdges
    kcorePeel(edges, k = 90, rounds = 3)
      .select(col("id").as("p_partkey"), col("deg"))
      .orderBy("p_partkey")
  }

  /** Every CTE is MATERIALIZED: each round references its predecessor
    * twice (once per UNION branch) and e0 six times — DuckDB's default
    * CTE inlining re-computes the pair join 2^round times and spilled
    * a 10×-proxy box to death; materialization makes the oracle replay
    * each round exactly once, like the engine does. Membership per
    * round is the recompute formulation (provably identical to the
    * engine's decrement rounds); the emitted degree is the survivors'
    * WITHIN-SURVIVOR degree (LEFT JOIN + COALESCE 0 — a survivor can
    * lose every neighbor and still be an s3 member), matching the
    * decrement state exactly.
    */
  val graphKcorePeelSql: String = {
    def round(prev: String, out: String): String =
      s"""$out AS MATERIALIZED (
         |  SELECT id, deg FROM (
         |    SELECT id, count(*) AS deg FROM (
         |      SELECT e.u AS id FROM e0 e
         |        JOIN $prev a ON e.u = a.id JOIN $prev b ON e.v = b.id
         |      UNION ALL
         |      SELECT e.v FROM e0 e
         |        JOIN $prev a ON e.u = a.id JOIN $prev b ON e.v = b.id)
         |    GROUP BY 1)
         |  WHERE deg >= 90)""".stripMargin
    s"""WITH po AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT a.pk AS u, b.pk AS v
       |  FROM po a JOIN po b ON a.ok = b.ok AND a.pk < b.pk),
       |s0 AS MATERIALIZED (SELECT DISTINCT id FROM
       |  (SELECT u AS id FROM e0 UNION ALL SELECT v FROM e0)),
       |${round("s0", "s1")},
       |${round("s1", "s2")},
       |${round("s2", "s3")}
       |SELECT m.id AS p_partkey, CAST(COALESCE(d.deg, 0) AS BIGINT) AS deg
       |FROM s3 m LEFT JOIN (
       |  SELECT id, count(*) AS deg FROM (
       |    SELECT e.u AS id FROM e0 e
       |      JOIN s3 a ON e.u = a.id JOIN s3 b ON e.v = b.id
       |    UNION ALL
       |    SELECT e.v FROM e0 e
       |      JOIN s3 a ON e.u = a.id JOIN s3 b ON e.v = b.id)
       |  GROUP BY 1) d ON m.id = d.id
       |ORDER BY p_partkey""".stripMargin
  }
  /** Degree distribution of the co-purchase graph — the one-glance
    * "is this graph scale-free / how bad is the skew" diagnostic read
    * before choosing per-round join strategies (the salting decision
    * for graphs, as [[graft.queries.TrainPrep.dqSkewProfile]] is for
    * join keys). Out-degree per node off the SHARED bucketed edge
    * table (src-keyed aggregate, exchange-free over the layout) into a
    * tiny (degree, n_nodes) histogram; both aggregates are
    * map-side-combinable and the second input is |V| rows.
    */
  def graphDegreeDistribution(spark: SparkSession, sfDir: String): DataFrame =
    graft.tables.CoPurchaseGraph(spark, sfDir).directedEdges
      .groupBy("src").agg(count(lit(1)).as("deg"))
      .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
      .orderBy("deg")

  val graphDegreeDistributionSql: String =
    """WITH po AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |edges AS MATERIALIZED (
      |  SELECT DISTINCT a.pk AS src, b.pk AS dst
      |  FROM po a JOIN po b ON a.ok = b.ok AND a.pk <> b.pk),
      |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1)
      |SELECT deg, count(*) AS n_nodes FROM deg GROUP BY 1 ORDER BY deg""".stripMargin

  /** The wedge-expansion core of [[graphResourceAlloc]], reusable over
    * any directed edge set (src, dst) — extracted so the planted-hub
    * stress arm and the capped-vs-uncapped spec can drive it on
    * synthetic graphs.
    *
    * THE HUB-DEGREE GUARD (r15 verdict #1). An uncapped wedge
    * expansion emits C(deg(c), 2) rows per common-neighbor c — on a
    * power-law graph ONE hub with deg = 10⁶ contributes 5·10¹¹ rows
    * from a single key, a straggler no AQE setting fixes because the
    * expansion is (correctly) exchange-free off the bucketed layout.
    * So each node's adjacency list is rank-pruned to its `capC`
    * SMALLEST neighbor ids (row_number over the bucketed sort order —
    * deterministic, a pure function of the graph) before the
    * self-join, bounding per-key wedge output at C(capC, 2).
    *
    * Contract: with capC ≥ the graph's max degree the capped expansion
    * is EXACT (nothing is pruned — the declared query's fixture regime,
    * max degree 222 vs cap 1024, so the oracle hash is unchanged).
    * Past the cap, a hub's wedges are a deterministic subset and its
    * pair scores are LOWER bounds — the right failure direction for RA
    * scoring, whose 1/deg(c) weight already discounts a hub's
    * contribution toward 0: the score mass a deg-10⁶ hub spreads is
    * ≤ 10³ ppb per pair, noise against the rare-neighbor signal the
    * index exists to measure.
    *
    * `c_ppb` keeps the TRUE degree (the score semantics) — only the
    * enumeration is capped; both sides of the self-join use the same
    * capped list so the pair set stays symmetric.
    */
  private[graft] def resourceAllocScores(edges: DataFrame, capC: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE window pass computes both the rank prune and the TRUE degree
    // (count over the same src partitioning — no second scan, no
    // degree-aggregate broadcast join): a local sort, never an
    // exchange, over the shared layout
    val bySrc = Window.partitionBy("src")
    val capped = edges
      .withColumn("__rn", row_number().over(bySrc.orderBy("dst")))
      .withColumn("deg", count(lit(1)).over(bySrc))
      .filter(col("__rn") <= capC).drop("__rn")
    // Pair EMISSION is a combination generator, not a self-join (r18
    // optimization): collapse each src to its capped sorted neighbor
    // array — an exchange-free aggregate whose per-group buffer is
    // bounded at capC elements BY THE RANK PRUNE ABOVE, so a 10⁶-degree
    // hub still costs 8 KB, not 8 MB — then two nested explodes emit
    // exactly the C(n, 2) ordered pairs. The previous self-join form
    // probed a broadcast hash relation of the whole capped edge set and
    // materialized n² candidate rows per src before the a < b filter
    // halved them (296 M rows built to keep 148 M at bench scale);
    // the generator emits the 148 M directly from 20 k array rows.
    // sort_array makes the a < b orientation independent of partition
    // iteration order; the multiset of (a, b, c_ppb) rows — and with it
    // score_ppb, n_common, the oracle hash — is unchanged.
    val lists = capped.groupBy("src")
      .agg(sort_array(collect_list(col("dst"))).as("__ns"),
        max(col("deg")).as("deg"))
      .select(expr("1000000000 div deg").as("c_ppb"), col("__ns"))
    val wedges = lists
      .select(col("c_ppb"), posexplode(col("__ns")).as(Seq("__i", "a")),
        col("__ns"))
      .select(col("c_ppb"), col("a"),
        explode(slice(col("__ns"), col("__i") + 2,
          greatest(size(col("__ns")) - col("__i") - 1, lit(0)))).as("b"))
    // THE AGGREGATE'S PARALLELISM IS DERIVED FROM THE WEDGE VOLUME, not
    // from spark.sql.shuffle.partitions (r19 optimization, guide §2.2 +
    // §5). Measured at bench scale (OPTIMIZATION_r19.md §7, sf0.1):
    // 148 M wedges collapse to 101 M distinct pairs, so at partitions =
    // cores the map-side partial aggregate collapses only 1.46:1 while
    // its hash map — and the final aggregate's, at ~4.6 M groups per task —
    // blows past a task's execution-memory share and spills 29 GB; the
    // aggregate ran 13.5-16.3 s. Hash-repartitioning the raw 24-byte
    // wedge rows by the GROUP KEYS first (one exchange the groupBy then
    // reuses — partial+final both run post-shuffle on clustered data)
    // with per-task input capped at ~1 M rows eliminated the spill
    // outright: 6.7 s, 0 spill. The row target sizes per-task aggregate
    // state (~100 B/group incl. hash-map page overhead, worst-case no
    // collapse) to ~100 MB — the execution-memory share of one slot in
    // a typical 4-8 GB-heap executor; AQE cannot make this choice (it
    // never splits an aggregate's post-shuffle partitions, and the
    // partial-agg spill happens before any runtime stat exists).
    // Wedge volume Σ C(min(deg, capC), 2) is computed EXACTLY from the
    // degree aggregate — one exchange-free pass over the bucketed edge
    // layout (~0.1 s at bench scale) and a single-row collect, a pure
    // function of the graph, so the plan stays deterministic. Below the
    // session's shuffle parallelism the repartition is a structural
    // no-op (skipped): small inputs — graph_ra_sampled's 64×-smaller
    // domain, the sf0.01 oracle gate, unit graphs — keep the plain
    // one-exchange aggregate plan they had before.
    val wedgeRows = edges.groupBy("src").agg(count(lit(1)).as("__d"))
      .agg(coalesce(sum(
        expr(s"(least(__d, ${capC}L) * (least(__d, ${capC}L) - 1)) div 2")),
        lit(0L)).as("__w"))
      .first().getLong(0)
    val sessionParts = scala.util.Try(
      edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(edges.sparkSession.sparkContext.defaultParallelism)
    val aggParts = math.ceil(wedgeRows / 1000000.0).toInt
    val distributed =
      if (aggParts > sessionParts) wedges.repartition(aggParts, col("a"), col("b"))
      else wedges
    distributed.groupBy("a", "b")
      .agg(sum(col("c_ppb")).as("score_ppb"), count(lit(1)).as("n_common"))
  }

  /** Link prediction by the Resource-Allocation index (Zhou, Lü &
    * Zhang 2009) — for every NON-adjacent part pair (a, b), the sum
    * over common neighbors c of 1/deg(c): hub-mediated co-occurrence
    * counts for less than a rare shared neighbor. The score rides an
    * EXACT integer lattice — each neighbor contributes
    * `10⁹ div deg(c)` ppb (both engines' integer division floors for
    * positives), so the sum is hash-stable with no floating point.
    *
    * Plan: degree aggregate AND the wedge self-join both key on the
    * bucketed edge table's `src` — the degree attach and the wedge
    * expansion run with ZERO exchange over the shared layout (the
    * triangle-count discipline); the only shuffles are the (a, b)
    * score aggregate and the anti join that removes already-connected
    * pairs. Wedge volume is Σ min(deg, capC)² — the hub-degree guard
    * in [[resourceAllocScores]] bounds the per-key term at C(1024, 2),
    * so an organic power-law graph cannot turn one hub bucket into a
    * 10¹¹-row straggler (the planted-hub stress arm measures exactly
    * that blow-up on the uncapped form). Cap 1024 ≥ the fixture's max
    * degree 222, so here the expansion is exact and the oracle (which
    * encodes the uncapped definition) hash-matches.
    *
    * CANDIDATE FLOOR: pairs with a single common neighbor are pruned
    * (n_common ≥ 2, declared in BOTH engines' SQL, so parity is by
    * construction). A 1-common-neighbor score is ≤ 10⁹/2 ppb
    * (deg(c) ≥ 2 — a wedge needs two endpoints) while the fixture's
    * 50th-ranked score sits far above it, and at scale the floor cuts
    * the anti-join/top-k input by the long tail of coincidental pairs
    * — the standard link-prediction candidate filter.
    */
  /** Drop scored pairs that are already edges — the anti join of the RA
    * queries, keyed on the PER-NODE adjacency list instead of the edge
    * rows (r19 optimization, the trianglesFromOriented closing-join
    * device): a left_anti on (a, b) against the |E|-row canonical edge
    * set probes a two-long-key UnsafeHashedRelation once per scored
    * pair — tens of millions of multi-miss pointer chases into a ~60 MB
    * relation (~2 s at bench scale). Joining on `a` alone against the
    * (u → sorted higher neighbors) lists makes the relation |V| rows on
    * a single long key and the adjacency test one short primitive-array
    * scan. `u IS NULL OR NOT array_contains` reproduces left_anti
    * exactly: a scored pair survives iff no adjacency row matches (the
    * lists are unique per u, so the left join never duplicates). No
    * broadcast hint — the planner broadcasts from stats here and falls
    * back to a shuffled join (build side |V| rows, not |E|) at scale.
    */
  private def dropAdjacent(scored: DataFrame, ce: DataFrame): DataFrame = {
    val adj = ce.groupBy("u").agg(collect_list(col("v")).as("__nv"))
    scored.join(adj, scored("a") === adj("u"), "left")
      .filter(col("u").isNull || !array_contains(col("__nv"), col("b")))
      .select(col("a"), col("b"), col("score_ppb"), col("n_common"))
  }

  def graphResourceAlloc(spark: SparkSession, sfDir: String): DataFrame = {
    val g = graft.tables.CoPurchaseGraph(spark, sfDir)
    val scored = resourceAllocScores(g.directedEdges, capC = 1024)
      .filter(col("n_common") >= 2)
    dropAdjacent(scored, g.canonicalEdges)
      .orderBy(col("score_ppb").desc, col("a"), col("b"))
      .limit(50)
  }

  /** RA link prediction over a DETERMINISTIC 1/8 endpoint sample — the
    * cross-engine scale gate (r16 verdict #5). [[graphResourceAlloc]]'s
    * full-domain oracle is box-infeasible past sf0.1: DuckDB's
    * distinct-pair derivation spills > 48 GB at the sfx10 proxy
    * (measured r15 twice, r16 once), so the full query's hash gate
    * stopped a decade short of every other declared query. This
    * variant restricts WEDGE ENDPOINTS to `dst % 8 = 0` — identically
    * in both engines, before anything else — cutting the pair domain
    * 64× (and the oracle's spill with it) while exercising the exact
    * same machinery: bucketed zero-exchange wedge expansion, hub cap,
    * integer ppb lattice, candidate floor, anti join, top-k. Scores
    * are the RA index OF THE SUBGRAPH (degrees count sampled
    * neighbors), a self-consistent definition rather than a biased
    * estimate of the full index. Common neighbors c stay unrestricted,
    * so per-c wedge fan-out geometry (the thing the cap guards) is
    * still exercised. Unlike the full query — whose oracle encodes the
    * UNCAPPED definition, justified by the fixture's max degree — this
    * gate's oracle encodes the 1024-neighbor cap itself (a row_number
    * QUALIFY mirroring `resourceAllocScores`' rank prune), so the two
    * engines stay definitionally identical at ANY scale the gate is
    * ever pushed to, rather than relying on a degree bound nobody
    * re-establishes past sfx100 (r17 review finding).
    */
  def graphRaSampled(spark: SparkSession, sfDir: String): DataFrame = {
    val g = graft.tables.CoPurchaseGraph(spark, sfDir)
    val sub = g.directedEdges.filter(col("dst") % 8 === 0)
    val scored = resourceAllocScores(sub, capC = 1024)
      .filter(col("n_common") >= 2)
    val ce = g.canonicalEdges
      .filter(col("u") % 8 === 0 && col("v") % 8 === 0)
    dropAdjacent(scored, ce)
      .orderBy(col("score_ppb").desc, col("a"), col("b"))
      .limit(50)
  }

  val graphRaSampledSql: String =
    """WITH po AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |dedges AS MATERIALIZED (
      |  SELECT DISTINCT a.pk AS src, b.pk AS dst
      |  FROM po a JOIN po b ON a.ok = b.ok AND a.pk <> b.pk),
      |sedges AS MATERIALIZED (
      |  SELECT src, dst FROM dedges WHERE dst % 8 = 0),
      |cedges AS MATERIALIZED (
      |  SELECT src, dst FROM (
      |    SELECT src, dst,
      |      row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
      |    FROM sedges) WHERE rn <= 1024),
      |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM sedges GROUP BY 1),
      |wedges AS (
      |  SELECT e1.dst AS a, e2.dst AS b, 1000000000 // d.deg AS c_ppb
      |  FROM cedges e1
      |    JOIN cedges e2 ON e1.src = e2.src AND e1.dst < e2.dst
      |    JOIN deg d ON d.src = e1.src),
      |scored AS (
      |  SELECT a, b, CAST(sum(c_ppb) AS BIGINT) AS score_ppb,
      |    count(*) AS n_common
      |  FROM wedges GROUP BY 1, 2
      |  HAVING count(*) >= 2)
      |SELECT a, b, score_ppb, n_common
      |FROM scored s
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM sedges e WHERE e.src = s.a AND e.dst = s.b)
      |ORDER BY score_ppb DESC, a, b LIMIT 50""".stripMargin

  val graphResourceAllocSql: String =
    """WITH po AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |dedges AS MATERIALIZED (
      |  SELECT DISTINCT a.pk AS src, b.pk AS dst
      |  FROM po a JOIN po b ON a.ok = b.ok AND a.pk <> b.pk),
      |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM dedges GROUP BY 1),
      |wedges AS (
      |  SELECT e1.dst AS a, e2.dst AS b, 1000000000 // d.deg AS c_ppb
      |  FROM dedges e1
      |    JOIN dedges e2 ON e1.src = e2.src AND e1.dst < e2.dst
      |    JOIN deg d ON d.src = e1.src),
      |scored AS (
      |  SELECT a, b, CAST(sum(c_ppb) AS BIGINT) AS score_ppb,
      |    count(*) AS n_common
      |  FROM wedges GROUP BY 1, 2
      |  HAVING count(*) >= 2)
      |SELECT a, b, score_ppb, n_common
      |FROM scored s
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM dedges e WHERE e.src = s.a AND e.dst = s.b)
      |ORDER BY score_ppb DESC, a, b LIMIT 50""".stripMargin
}
