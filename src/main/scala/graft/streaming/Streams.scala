package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Structured Streaming twins of the batch time-series operators
  * (SURVEY.md §2.8 — extension beyond the reference surface, which has
  * no streaming engine).
  *
  * Each transform takes any events-shaped DataFrame (`ts` timestamp,
  * `user_id`, `event_type`, `value`) — batch or streaming. Applied to a
  * `readStream` source they run incrementally with watermark-bounded
  * state; applied to a batch frame they produce the exact batch answer,
  * which is how StreamingSpec proves batch/stream equivalence on a
  * replayed fixture.
  *
  * Scale: state size is bounded by (watermark horizon × active keys);
  * the shuffle is the same hash-by-key exchange as the batch agg, so
  * the 100 TB/day sizing question is identical to the batch one plus a
  * state-store (RocksDB in production) retention term.
  */
object Streams {

  /** Tumbling 1-day windows (batch twin: ts_tumbling_day). */
  def tumblingDaily(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming aggregate maintenance under I/U/D CDC (batch twin:
    * agg_refresh_cdc): the signed-contribution device IS a streaming
    * aggregate — each Debezium-enveloped change contributes
    * (−1, −before) against its old group and/or (+1, +after) against
    * its new one, and an Update-mode groupBy keeps the running
    * (n, sum) per group continuously current. State is |groups| rows
    * (not per-key!), no watermark needed — the aggregate never
    * retracts, it only accumulates signed mass, which is what makes
    * the maintained view exactly-once under micro-batch replay of a
    * seq-ordered log. Input columns: op ∈ {I,U,D}, g_before/v_before
    * (null for I), g_after/v_after (null for D).
    */
  def signedAggMaintenance(changes: DataFrame): DataFrame = {
    val neg = changes.select(col("g_before").as("g"), lit(-1L).as("dn"),
      (-col("v_before")).as("dv"))
    val pos = changes.select(col("g_after").as("g"), lit(1L).as("dn"),
      col("v_after").as("dv"))
    neg.unionByName(pos)
      .filter(col("g").isNotNull)
      .groupBy("g")
      .agg(sum("dn").as("n"), sum("dv").as("sum_v"))
  }

  /** Streaming OHLC (batch twin: ts_resample_ohlc): open/close ride the
    * same packed (µs, event_id, value) struct min/max as the batch
    * query, INSIDE the windowed aggregate — so the per-window state is
    * two structs + two doubles + a count, updated incrementally as
    * events arrive and merged across micro-batches by the same
    * lexicographic fold (struct min/max is associative and
    * commutative, which is exactly what makes first/last streamable
    * where a row_number() phrasing is not). Late data up to the
    * watermark folds in and can move any of the five facets.
    */
  def ohlcDaily(events: DataFrame): DataFrame = {
    val key = struct(unix_micros(col("ts")).as("t"),
      col("event_id").as("e"), col("value").as("v"))
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(min(key).getField("v").as("open"), max(col("value")).as("high"),
        min(col("value")).as("low"), max(key).getField("v").as("close"),
        count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("open"), col("high"), col("low"),
        col("close"), col("n"))
  }

  /** Windowed APPROXIMATE distinct users via mergeable HLL sketches
    * (batch twin: agg_distinct_sketch). Sketch aggregates are the only
    * streaming-viable distinct count at scale: per-window state is one
    * fixed-size sketch (not a user-id set that grows with cardinality),
    * partial sketches merge map-side within each micro-batch, and late
    * data folds in by the same union until the watermark closes the
    * window.
    */
  def distinctSketchDaily(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"), count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        hll_sketch_estimate(col("sk")).as("est_distinct_users"), col("n"))

  /** Per-day KLL quantile sketches (batch twin: agg_quantile_sketch) —
    * the mergeable-sketch state shape: each window holds one fixed-size
    * KLL, updated incrementally. Estimates are spec-checked against the
    * exact ranks (not bit-equality with batch: KLL compaction is
    * merge-order-sensitive, unlike HLL union).
    */
  def quantileSketchDaily(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.KllQuantileSketch
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"))
      .agg(KllQuantileSketch.agg(col("value")).as("sk"), count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        KllQuantileSketch.quantiles(col("sk"), Seq(0.5, 0.9, 0.99)).as("q"),
        col("n"))
  }

  /** Per-day frequent-items sketches (batch twin: agg_freq_sketch) —
    * heavy hitters per window from fixed-size Misra-Gries state.
    * Estimates are spec-checked against exact per-day counts via the
    * [lb, ub] guarantee (not bit-equality with batch: compaction is
    * merge-order-sensitive).
    */
  def freqSketchDaily(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.FreqItemsSketch
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"))
      .agg(FreqItemsSketch.agg(col("user_id")).as("sk"), count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        FreqItemsSketch.topK(col("sk"), 5).as("top"), col("n"))
  }

  /** Sliding 1-hour windows every 15 minutes. */
  def slidingHourly(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("user_id"), col("n"))

  /** Stream-static enrichment: each micro-batch of the event stream
    * joins a STATIC dimension (the standard "enrich the stream with a
    * slowly-changing dim table" shape), then aggregates per segment.
    * The dim side is a plain batch DataFrame — Spark re-plans it per
    * micro-batch and broadcasts when small, so at production scale the
    * stream side never shuffles for the join; only the segment
    * aggregate keeps state.
    */
  def enrichedSegmentTotals(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .join(dim, Seq("user_id"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))

  /** Session windows with a 30-minute gap (batch twin:
    * ts_sessionize_gap30m via graft.operators.Sessionize).
    */
  def sessionized(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Stateful dedup by event_id within the watermark horizon (batch
    * twin: dropDuplicates).
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: attribute each purchase to clicks by
    * the same user in the preceding hour. Both sides are watermarked so
    * the join state is bounded; the time-range predicate is what lets
    * Spark expire state (an unbounded-condition stream-stream join
    * would grow forever).
    */
  def clickAttribution(events: DataFrame): DataFrame =
    attributionJoin(events, "inner")

  /** LEFT-OUTER stream-stream interval join: like [[clickAttribution]],
    * but purchases with NO qualifying click in the preceding hour are
    * ALSO emitted — with a null click_id — once the click-side watermark
    * passes their join window ("purchases with no prior click", the
    * other half of the attribution question).
    *
    * The state machine differs from the inner join in one load-bearing
    * way: an unmatched left row cannot be emitted when it ARRIVES (a
    * matching click may still come), so it parks in the state store
    * until the watermark proves no future click can satisfy the
    * time-range predicate, and only THEN emits with nulls. That
    * expiry-emission is also the state-cleanup proof: the row leaves
    * the store at the moment it emits, so state stays bounded by the
    * watermark horizon exactly as in the inner case. StreamingSpec
    * pins all three properties (matched ≡ batch, null emission only
    * after watermark advance, expiry actually drains).
    */
  def clickAttributionOuter(events: DataFrame): DataFrame =
    attributionJoin(events, "left_outer")

  /** FULL-OUTER stream-stream interval join (round 10): both halves of
    * the attribution question at once — purchases with no prior click
    * emit with a null click_id (as in [[clickAttributionOuter]]) AND
    * clicks followed by no purchase within the hour emit with a null
    * purchase_id. Same bounded-state argument, applied symmetrically:
    * each side's unmatched rows park until their own expiry condition
    * (the other side's watermark crossing their join window) proves no
    * match can arrive, emit once with nulls, and leave the store.
    */
  def clickAttributionFull(events: DataFrame): DataFrame =
    attributionJoin(events, "full_outer")

  private def attributionJoin(events: DataFrame, joinType: String): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"),
      joinType)
      .select(col("purchase_id"), col("user_id"), col("click_id"),
        col("p_ts"), col("c_ts"))
  }

  case class UserCount(user_id: Long, n: Long)

  /** Custom keyed state via mapGroupsWithState: running per-user event
    * count (the KeyValueGroupedDataset escape hatch for state machines
    * the built-ins can't express).
    */
  def runningUserCounts(spark: SparkSession, events: DataFrame): Dataset[UserCount] = {
    import spark.implicits._
    events.selectExpr("user_id").as[Long]
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Long], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          UserCount(user, n)
      }
  }

  case class FunnelState(t1: Option[Long], t2: Option[Long], t3: Option[Long],
      clicks: List[Long], purchases: List[Long])
  case class FunnelUpdate(user_id: Long, stage: Int,
      t1: Option[Long], t2: Option[Long], t3: Option[Long])

  /** Streaming 3-step funnel (batch twin:
    * [[graft.queries.EventAnalytics.funnelConversion]]): per-user state
    * machine over view → click → purchase with STRICT ordering — step k
    * needs an event strictly after the step-(k−1) time.
    *
    * The streaming subtlety is RETROACTIVE correction: a user's
    * earliest view can arrive AFTER a later click was already processed
    * (out-of-order delivery), which lowers t1 and can make previously
    * useless clicks/purchases the new t2/t3. The sufficient state for
    * that is not the whole event history: besides (t1, t2, t3), only
    * clicks below the current t2 and purchases below the current t3 can
    * ever be promoted, and only by events still above the watermark —
    * so the stored candidate lists are pruned to (watermark, t_k)
    * windows on every touch, bounding per-user state by the horizon
    * regardless of stream length. Within a batch the chain is computed
    * on SETS (min view, then min qualifying click, then min qualifying
    * purchase), so arrival order inside a micro-batch is immaterial;
    * corrections older than the watermark are dropped with the data,
    * the standard watermark contract.
    *
    * Emits the user's full (stage, t1, t2, t3) snapshot each time their
    * group is touched — Update-mode consumers keep the latest per user.
    */
  def funnelStages(spark: SparkSession, events: DataFrame,
      horizon: String = "1 hour"): Dataset[FunnelUpdate] = {
    import spark.implicits._
    events
      .withWatermark("ts", horizon)
      // ts itself stays in the projection: the watermark rides the
      // event-time attribute, and selecting it away would strip the
      // watermark the state pruning reads
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("tms"),
        col("ts"))
      .as[(Long, String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, rowsT: Iterator[(Long, String, Long, java.sql.Timestamp)],
            state: GroupState[FunnelState]) =>
          val rows = rowsT.map(r => (r._1, r._2, r._3))
          val st0 = state.getOption.getOrElse(
            FunnelState(None, None, None, Nil, Nil))
          val arr = rows.toArray
          def of(t: String) = arr.collect { case (_, `t`, ms) => ms }
          val t1 = (st0.t1 ++ of("view")).reduceOption(_ min _)
          val candC = st0.clicks ++ of("click")
          val t2 = (st0.t2 ++ candC.filter(c => t1.exists(c > _)))
            .reduceOption(_ min _)
          val candP = st0.purchases ++ of("purchase")
          val t3 = (st0.t3 ++ candP.filter(p => t2.exists(p > _)))
            .reduceOption(_ min _)
          val wm = state.getCurrentWatermarkMs()
          def keep(ts: List[Long], bound: Option[Long]) =
            ts.filter(t => t > wm && bound.forall(t < _)).distinct.sorted
          state.update(
            FunnelState(t1, t2, t3, keep(candC, t2), keep(candP, t3)))
          FunnelUpdate(user, Seq(t1, t2, t3).count(_.isDefined), t1, t2, t3)
      }
  }

  case class NearDupPair(a: Long, b: Long, hamming: Int)

  /** Streaming SimHash near-dup — dedup as an ingestion step (batch
    * twin: [[graft.operators.NearDup.simHashPairs]]): each arriving
    * document is checked against every previously seen document within
    * `maxHamming` bits, via the same 16-bit-block pigeonhole (hamming
    * <= 3 pairs must agree on at least one of 4 blocks), so a document
    * only compares against its block-collision group, never the corpus.
    *
    * Keyed state per (block_id, block value) holds the (id, signature)
    * pairs seen in that bucket. A pair agreeing on several blocks is
    * emitted once per agreeing block — consumers take `.distinct()`,
    * exactly as the batch twin does internally.
    *
    * State is TTL-bounded in EVENT time (default horizon 24 h,
    * configurable): each entry carries its document timestamp, an
    * arriving document only compares against entries within `ttlMs` of
    * its own timestamp, entries older than the newest arrival by more
    * than the horizon are pruned on bucket touch, and an EventTimeTimeout
    * removes buckets entirely once the watermark passes their newest
    * entry + ttl — so at 100 TB/day ingest, state is O(docs per
    * horizon), not O(corpus). Documents farther apart than the horizon
    * are never compared; that is the contract (dedup against the recent
    * stream), not a defect. Event-time (not processing-time) expiry is
    * deliberate: it is deterministic under replay, and it costs nothing
    * while the stream is idle (a ProcessingTimeTimeout forces Spark to
    * run continuous empty micro-batches just to evaluate timers —
    * `FlatMapGroupsWithStateExec.shouldRunAnotherBatch` is always true
    * under it — which burns a full core and checkpoint-write bandwidth
    * on an idle stream).
    *
    * Input may carry a `ts` timestamp column (the document's event
    * time); without one, ingestion time (`current_timestamp()`, i.e.
    * the micro-batch trigger time) is stamped — equivalent to a
    * processing-time TTL but still replay-deterministic per batch.
    */
  case class AttributionHit(user_id: Long, event_id: Long, item: Int,
      value: Double)

  /** Streaming last-touch attribution (batch twin:
    * [[graft.queries.EventAnalytics.eventAttribution]]): per-user state
    * is ONLY the latest click's ((ts, event_id), item) — O(1) per user
    * forever — and each purchase emits its credited item the moment it
    * arrives. Within a micro-batch the group's rows are walked in
    * (ts, event_id) order, so intra-batch arrival order is immaterial;
    * ACROSS batches emissions are append-only, so a click delivered
    * after a later purchase was already credited cannot retro-correct
    * it (the batch twin is the replayable source of truth — the same
    * emit-vs-correct trade every streaming attribution system makes;
    * bound the exposure with source-side ordering or a short
    * delay-buffer upstream). The mirror-image disorder IS guarded:
    * a late-delivered purchase OLDER than the stored click credits
    * organic (the state's (ts, event_id) must be ≤ the purchase's),
    * matching the batch twin, never a future click.
    */
  def attributionLastTouch(spark: SparkSession, events: DataFrame):
      Dataset[AttributionHit] = {
    import spark.implicits._
    events
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tus"), col("event_type"),
        when(col("event_type") === "click",
          get_json_object(col("props"), "$.k").cast("int")).as("item"),
        col("value"))
      .as[(Long, Long, Long, String, Option[Int], Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(
        (user: Long, rows: Iterator[(Long, Long, Long, String, Option[Int], Double)],
            state: GroupState[(Long, Long, Int)]) => {
          val sorted = rows.toArray.sortBy(r => (r._3, r._2))
          var last = state.getOption
          val out = Seq.newBuilder[AttributionHit]
          for (r <- sorted) r._4 match {
            case "click" if r._5.nonEmpty =>
              if (last.forall(l => l._1 < r._3 || (l._1 == r._3 && l._2 < r._2)))
                last = Some((r._3, r._2, r._5.get))
            case "purchase" =>
              val credited = last.collect {
                case l if l._1 < r._3 || (l._1 == r._3 && l._2 <= r._2) => l._3
              }
              out += AttributionHit(user, r._2, credited.getOrElse(-1), r._6)
            case _ =>
          }
          last.foreach(state.update)
          out.result().iterator
        })
  }

  case class EnrichedAsof(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp, value: Double, segment: Option[String])

  /** Watermark-floor pruning of an as-of version list (r15 verdict #2):
    * once the stream's event-time watermark has passed `floorUs`, every
    * event the query will still accept has ts ≥ floorUs, and its floor
    * search can only ever land on the NEWEST version ≤ floorUs or a
    * later one — every version strictly older than that newest-≤-floor
    * version is unreachable forever and is dropped. Keeps state at
    * O(active versions) per key instead of O(all updates ever), the
    * difference between a serving job that runs for months on a
    * churning dimension and one that leaks without bound.
    *
    * Two triggers apply it (r16 ADVICE: the data-touch trigger alone
    * fires only for keys RECEIVING rows, so a key that goes quiet would
    * keep its pre-prune list forever and the bound would hold per
    * touched key, not globally): (a) every state touch, and (b) an
    * event-time timeout re-armed [[IdlePruneMs]] past each batch's
    * watermark, which sweeps idle keys as the GLOBAL watermark advances
    * on other keys' traffic — making the O(active versions) bound hold
    * over the whole store.
    */
  private[graft] def pruneVersions[A](versions: List[(Long, A)],
      floorUs: Long): List[(Long, A)] = {
    val (older, newer) = versions.span(_._1 <= floorUs)
    older.lastOption.fold(newer)(_ :: newer)
  }

  /** Event-time lag between a key's last touch (or last sweep) and its
    * idle-prune timeout. One minute of EVENT time: long enough that a
    * key in steady traffic never round-trips through the timeout path,
    * short against any horizon a months-running serving job cares
    * about; the sweep is O(1) per idle key per firing and emits
    * nothing.
    */
  private val IdlePruneMs = 60000L

  /** Streaming AS-OF enrichment — the serving twin of the batch
    * [[graft.operators.AsofJoin.backward]] feature read: events are
    * enriched with the dimension version in effect AT THE EVENT'S OWN
    * ts (never a later one — the train/serve-skew discipline), where
    * the dimension itself arrives as a STREAM of time-versioned updates
    * (user_id, valid_from, segment). Stream-static enrichment
    * ([[enrichedSegmentTotals]]) re-reads a static dim per micro-batch;
    * this is the stream-stream shape a live feature store has.
    *
    * State per key: the version list (valid_from → segment), kept
    * sorted and deduped (same valid_from → max segment, the batch
    * window's max-payload arbitration). With `watermarkDelay` set, the
    * union carries an event-time watermark and every state touch
    * applies [[pruneVersions]] at the watermark floor — and idle keys
    * are swept by an event-time timeout ([[IdlePruneMs]] past each
    * touch, re-armed per sweep), so the O(ACTIVE versions) bound holds
    * over the WHOLE store, not just keys still receiving rows (r16
    * ADVICE); rows later than the delay are dropped
    * by the engine (the standard watermark trade — the batch twin
    * remains the replayable truth). With the default None the full
    * version list is kept (exact on any replay order, unbounded on a
    * churning dimension). Within a micro-batch the group's rows are walked in
    * (ts, dim-before-event, event_id) order, so intra-batch arrival
    * order is immaterial and a version and an event landing in the
    * SAME batch pair exactly as the batch as-of would. ACROSS batches
    * emissions are append-only: a dimension update delivered in a
    * LATER batch than an event it would have matched cannot
    * retro-correct the already-emitted row (the same emit-vs-correct
    * trade as [[attributionLastTouch]]; the batch twin is the
    * replayable truth) — but it enriches every SUBSEQUENT event,
    * including out-of-order ones older than newer versions (the floor
    * search, not just the latest version, decides).
    */
  def enrichAsOf(spark: SparkSession, events: DataFrame,
      dimUpdates: DataFrame, watermarkDelay: Option[String] = None,
      stateSizeProbe: Option[org.apache.spark.util.CollectionAccumulator[java.lang.Long]] = None)
      : Dataset[EnrichedAsof] = {
    import spark.implicits._
    val unioned = events
      .select(col("user_id"), unix_micros(col("ts")).as("tus"),
        col("event_id"), col("value"),
        lit(null).cast("string").as("segment"), lit(false).as("isDim"),
        col("ts").as("__evt"))
      .unionByName(dimUpdates.select(col("user_id"),
        unix_micros(col("valid_from")).as("tus"),
        lit(0L).as("event_id"), lit(0.0).as("value"),
        col("segment"), lit(true).as("isDim"),
        col("valid_from").as("__evt")))
    // the watermark column stays in the tuple: the state operator
    // detects event time from its child output, and the floor it
    // yields is what licenses the prune
    val tagged = watermarkDelay.fold(unioned)(unioned.withWatermark("__evt", _))
      .as[(Long, Long, Long, Double, Option[String], Boolean, java.sql.Timestamp)]
    val pruneOn = watermarkDelay.isDefined
    tagged
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        if (pruneOn) GroupStateTimeout.EventTimeTimeout()
        else GroupStateTimeout.NoTimeout())(
        (user: Long, rows: Iterator[(Long, Long, Long, Double, Option[String], Boolean, java.sql.Timestamp)],
            state: GroupState[List[(Long, String)]]) => {
          if (state.hasTimedOut) {
            // idle-key sweep: prune at the current floor, emit nothing,
            // re-arm only while a future sweep could still do work (an
            // empty list means an events-only key — free it; a list
            // pruned to its floor version can never shrink further, so
            // re-arming would fire a no-op timer every IdlePruneMs for
            // the lifetime of the job — r17 ADVICE; any later data touch
            // re-arms via the data path below)
            val pruned = pruneVersions(state.getOption.getOrElse(Nil),
              state.getCurrentWatermarkMs() * 1000L)
            if (pruned.isEmpty) state.remove()
            else {
              state.update(pruned)
              if (pruned.size > 1)
                state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + IdlePruneMs)
            }
            stateSizeProbe.foreach(_.add(pruned.size.toLong))
            Iterator.empty
          } else {
          // dims sort before events on ts ties (backward as-of allows
          // exact matches), event_id as the deterministic final key
          val sorted = rows.toArray.sortBy(r => (r._2, !r._6, r._3))
          var versions = state.getOption.getOrElse(Nil) // sorted by tus
          val out = Seq.newBuilder[EnrichedAsof]
          for (r <- sorted) {
            if (r._6) {
              val (before, after) = versions.span(_._1 < r._2)
              versions = after match {
                // duplicate valid_from: max segment wins (the batch
                // window's max-payload-struct arbitration)
                case (t, s) :: rest if t == r._2 =>
                  before ::: (t, Seq(s, r._5.get).max) :: rest
                case _ => before ::: (r._2, r._5.get) :: after
              }
            } else {
              val floor = versions.takeWhile(_._1 <= r._2).lastOption
              // micros → Timestamp without truncating sub-ms precision
              val t = new java.sql.Timestamp(Math.floorDiv(r._2, 1000000L) * 1000L)
              t.setNanos((Math.floorMod(r._2, 1000000L) * 1000L).toInt)
              out += EnrichedAsof(user, r._3, t, r._4, floor.map(_._2))
            }
          }
          if (pruneOn)
            versions = pruneVersions(versions,
              state.getCurrentWatermarkMs() * 1000L)
          state.update(versions)
          // arm the sweep only when it has work left: empty (events-only
          // key — the sweep frees the state) or >1 versions (the sweep
          // can shrink). A single floor version is a fixed point — an
          // armed timer there would no-op forever (r17 ADVICE).
          if (pruneOn && versions.size != 1)
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + IdlePruneMs)
          stateSizeProbe.foreach(_.add(versions.size.toLong))
          out.result().iterator
          }
        })
  }

  case class EnrichedAsofMulti(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp, value: Double, features: Seq[Option[String]])

  /** Streaming K-STREAM as-of enrichment — the serving twin of the
    * batch [[graft.operators.AsofJoin.backwardMulti]] feature read, as
    * [[enrichAsOf]] is of `backward`. A feature store serves k = 20–100
    * versioned dimensions; chaining k [[enrichAsOf]] queries would keep
    * k separate state stores and re-shuffle the event stream k times —
    * the streaming mirror of exactly the k-exchange plan `backwardMulti`
    * exists to avoid. Here all k dimension streams arrive as ONE update
    * stream tagged with a 0-based `sid` column (in production each
    * feature topic maps to one sid; the union is free at the source),
    * so events and all versions shuffle ONCE on the key and the state
    * store holds one value per key: a k-slot vector of version lists,
    * the exact streaming image of the batch kernel's k-slot
    * last-match buffer ([[org.apache.spark.sql.graft.MultiLastAsof]]).
    *
    * Per-slot semantics are [[enrichAsOf]]'s unchanged: floor search at
    * the event's own ts (never a later version — train/serve skew),
    * duplicate (sid, valid_from) resolves to the max feature (the batch
    * max-payload-struct arbitration), within a micro-batch rows walk in
    * (ts, dim-before-event, event_id) order so a version and an event
    * landing in the SAME batch pair exactly as the batch as-of, and
    * across batches emissions are append-only. An update to slot i
    * touches ONLY slot i — slots never interact, which is what makes
    * the replay ≡ `backwardMulti` proof per-stream compositional.
    * With `watermarkDelay` set, every state touch prunes each slot at
    * the watermark floor ([[pruneVersions]]) — state stays O(active
    * versions) per (key, slot) on a churning dimension.
    */
  def enrichAsOfMulti(spark: SparkSession, events: DataFrame,
      dimUpdates: DataFrame, k: Int, watermarkDelay: Option[String] = None,
      stateSizeProbe: Option[org.apache.spark.util.CollectionAccumulator[java.lang.Long]] = None)
      : Dataset[EnrichedAsofMulti] = {
    import spark.implicits._
    require(k >= 1, s"need at least one feature stream, got k=$k")
    val unioned = events
      .select(col("user_id"), unix_micros(col("ts")).as("tus"),
        col("event_id"), col("value"),
        lit(-1).as("sid"),
        lit(null).cast("string").as("feature"), lit(false).as("isDim"),
        col("ts").as("__evt"))
      .unionByName(dimUpdates.select(col("user_id"),
        unix_micros(col("valid_from")).as("tus"),
        lit(0L).as("event_id"), lit(0.0).as("value"),
        col("sid").cast("int").as("sid"),
        col("feature"), lit(true).as("isDim"),
        col("valid_from").as("__evt")))
    val tagged = watermarkDelay.fold(unioned)(unioned.withWatermark("__evt", _))
      .as[(Long, Long, Long, Double, Int, Option[String], Boolean, java.sql.Timestamp)]
    val pruneOn = watermarkDelay.isDefined
    tagged
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        if (pruneOn) GroupStateTimeout.EventTimeTimeout()
        else GroupStateTimeout.NoTimeout())(
        (user: Long, rows: Iterator[(Long, Long, Long, Double, Int, Option[String], Boolean, java.sql.Timestamp)],
            state: GroupState[Seq[List[(Long, String)]]]) => {
          if (state.hasTimedOut) {
            // idle-key sweep (see enrichAsOf): prune every slot at the
            // floor, emit nothing; all-empty slots free the key. Re-arm
            // only while some slot can still shrink — every slot at its
            // floor version is a fixed point, and re-arming there would
            // fire a no-op timer per IdlePruneMs forever (r17 ADVICE)
            val floorUs = state.getCurrentWatermarkMs() * 1000L
            val pruned = state.getOption.getOrElse(Seq.empty)
              .map(pruneVersions(_, floorUs))
            if (pruned.forall(_.isEmpty)) state.remove()
            else {
              state.update(pruned)
              if (pruned.exists(_.size > 1))
                state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + IdlePruneMs)
            }
            stateSizeProbe.foreach(_.add(pruned.map(_.size.toLong).sum))
            Iterator.empty
          } else {
          // dims sort before events on ts ties (backward as-of allows
          // exact matches); event_id as the deterministic final key.
          // Dim-vs-dim order on full ties is immaterial: different sids
          // write disjoint slots, same-sid duplicates max-merge.
          val sorted = rows.toArray.sortBy(r => (r._2, !r._7, r._3))
          var slots = state.getOption.getOrElse(
            Seq.fill(k)(List.empty[(Long, String)]))
          val out = Seq.newBuilder[EnrichedAsofMulti]
          for (r <- sorted) {
            if (r._7) {
              require(r._5 >= 0 && r._5 < k,
                s"sid ${r._5} outside [0, $k) for user $user")
              val versions = slots(r._5)
              val (before, after) = versions.span(_._1 < r._2)
              val next = after match {
                case (t, s) :: rest if t == r._2 =>
                  before ::: (t, Seq(s, r._6.get).max) :: rest
                case _ => before ::: (r._2, r._6.get) :: after
              }
              slots = slots.updated(r._5, next)
            } else {
              val fs = slots.map(_.takeWhile(_._1 <= r._2).lastOption.map(_._2))
              val t = new java.sql.Timestamp(Math.floorDiv(r._2, 1000000L) * 1000L)
              t.setNanos((Math.floorMod(r._2, 1000000L) * 1000L).toInt)
              out += EnrichedAsofMulti(user, r._3, t, r._4, fs)
            }
          }
          if (pruneOn) {
            val floorUs = state.getCurrentWatermarkMs() * 1000L
            slots = slots.map(pruneVersions(_, floorUs))
          }
          state.update(slots)
          // arm the sweep only when it has work left: all-empty (the
          // sweep frees an events-only key) or some slot >1 (the sweep
          // can shrink it); every-slot-at-floor is a fixed point
          if (pruneOn &&
              (slots.forall(_.isEmpty) || slots.exists(_.size > 1)))
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + IdlePruneMs)
          stateSizeProbe.foreach(_.add(slots.map(_.size.toLong).sum))
          out.result().iterator
          }
        })
  }

  case class HwForecastRow(user_id: Long, n_days: Long, level: Double,
      trend: Double, seasonal: Double, forecast_7d: Double)

  /** Streaming Holt-Winters — the serving twin of the batch
    * `ts_hw_forecast` (a capacity monitor that re-forecasts as each
    * day CLOSES, instead of refolding the whole history nightly). The
    * input is the per-user DAILY stream (user_id, day, xc cents) —
    * closed daily totals, the natural output of an upstream
    * watermarked 1-day tumbling aggregate; this operator deliberately
    * takes the closed rows rather than raw events so its state is the
    * O(1) forecasting fold, not a day-in-progress buffer.
    *
    * State per user: the first [[graft.queries.HoltWinters.InitLen]]
    * days buffer (bounded), then exactly the (l, b, s₀..s₆) fold
    * state — the SAME init/step/emit code the batch query runs, so
    * agreement is equality of one operation list. Emits one row per
    * closed day once initialized: the n-day state and 7-day-ahead
    * forecast. Within a micro-batch rows walk in day order; ACROSS
    * batches days must arrive in per-user order (day close is
    * monotone — the upstream watermark guarantees it), the same
    * ordering contract as [[runningDrawdown]]'s cumulative semantics.
    * After every user's last day, the final emission equals the batch
    * query's row bit-for-bit (StreamingSpec replays in day-split
    * batches).
    */
  def hwForecastStream(spark: SparkSession, daily: DataFrame): Dataset[HwForecastRow] = {
    import spark.implicits._
    import graft.queries.HoltWinters
    daily.select(col("user_id"), col("day").cast("string"), col("xc"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(
        (user: Long, rows: Iterator[(Long, String, Long)],
            state: GroupState[(Long, Double, Double, Seq[Double], Seq[Double])]) => {
          val sorted = rows.toArray.sortBy(_._2)
          var (n, l, b, sSeq, buf) = state.getOption.getOrElse(
            (0L, 0.0, 0.0, Seq.empty[Double], Seq.empty[Double]))
          var s = sSeq.toArray
          val out = Seq.newBuilder[HwForecastRow]
          def emit(): Unit = {
            val (nn, lv, tr, se, fc) = HoltWinters.emit(n, l, b, s)
            out += HwForecastRow(user, nn, lv, tr, se, fc)
          }
          for (r <- sorted) {
            val x = r._3.toDouble
            n += 1
            if (n < HoltWinters.InitLen) buf :+= x
            else if (n == HoltWinters.InitLen) {
              buf :+= x
              val (l0, b0, s0) = HoltWinters.init(buf.toArray)
              l = l0; b = b0; s = s0
              buf = Seq.empty // the fold state replaces the buffer
              emit()
            } else {
              val (ln, bn) = HoltWinters.step(l, b, s, x, (n - 1).toInt)
              l = ln; b = bn
              emit()
            }
          }
          state.update((n, l, b, s.toSeq, buf))
          out.result().iterator
        })
  }

  case class DrawdownRow(user_id: Long, event_id: Long,
      peak: Double, drawdown: Double, max_drawdown: Double)

  /** Streaming running peak / drawdown / max-drawdown (batch twin:
    * `window_drawdown`) — the telemetry health curve is the textbook
    * O(1)-state streaming aggregate: per key the state is TWO longs
    * (running peak, running max-drawdown in exact cents), updated per
    * event and emitted per event in Append mode. Within a micro-batch
    * rows walk in (ts, event_id) order (arrival order immaterial);
    * ACROSS batches an event older than the stored peak still compares
    * against it — the cumulative semantics are order-sensitive by
    * definition, so the batch twin over the total (ts, event_id) order
    * is the replayable truth and the spec replays in ts-split batches
    * (same emit-vs-correct trade as [[attributionLastTouch]]).
    */
  def runningDrawdown(spark: SparkSession, events: DataFrame): Dataset[DrawdownRow] = {
    import spark.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("tus"),
        col("event_id"), round(col("value") * 100).cast("long").as("cents"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(
        (user: Long, rows: Iterator[(Long, Long, Long, Long)],
            state: GroupState[(Long, Long)]) => {
          val sorted = rows.toArray.sortBy(r => (r._2, r._3))
          var (peak, mdd) = state.getOption.getOrElse(
            (Long.MinValue, Long.MinValue))
          val out = sorted.map { r =>
            peak = math.max(peak, r._4)
            val dd = peak - r._4
            mdd = math.max(mdd, dd)
            DrawdownRow(user, r._3, peak / 100.0, dd / 100.0, mdd / 100.0)
          }
          state.update((peak, mdd))
          out.iterator
        })
  }

  case class RollMinMaxRow(user_id: Long, event_id: Long,
      roll_min: Option[Double], roll_max: Option[Double])

  /** Streaming rolling min/max — the serving twin of the declared
    * `window_rolling_minmax_wide` (and, at frame 20, of
    * `window_rolling_minmax`): per event, the extrema of the user's
    * last `frame` rows, nulls occupying slots but excluded from the
    * extrema, NaN ordered greater than everything (the
    * [[graft.operators.RollingDeque]] semantics exactly — shared
    * comparator), partial frames emitting null (min_periods parity).
    * The live use is a rolling ceiling/floor monitor: "highest value in
    * this account's last 64 actions", maintained per event.
    *
    * State per key: (rows seen, the last frame−1 values) — O(frame)
    * doubles, bounded for the life of the job; per-event cost is one
    * O(frame) scan. That is the SERVING trade, chosen deliberately:
    * the batch kernel's monotonic deque amortizes to O(1)/row over a
    * sorted partition sweep, but a per-event state round-trip
    * serializes the state either way, so the 64-slot scan is already
    * memory-bandwidth-bound and the deque's two index queues would
    * roughly double the state for a constant-factor win — the bulk
    * path (backfills, re-computes) belongs to the batch kernel.
    * Within a micro-batch rows are walked in (ts, event_id) order;
    * across batches arrival is append-only in event order (the
    * [[runningDrawdown]] / [[attributionLastTouch]] ordered-replay
    * contract — a late event would need retro-emission, which
    * Append-mode streaming cannot express; the batch twin remains the
    * replayable truth). StreamingSpec pins a day-split replay
    * bit-identical to the declared batch query.
    */
  def rollingMinMaxStream(spark: SparkSession, events: DataFrame,
      frame: Int = 64): Dataset[RollMinMaxRow] = {
    import spark.implicits._
    require(frame >= 1, s"frame must be >= 1, got $frame")
    events
      .select(col("user_id"), unix_micros(col("ts")).as("tus"),
        col("event_id"), col("value"))
      .as[(Long, Long, Long, Option[Double])]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(
        (user: Long, rows: Iterator[(Long, Long, Long, Option[Double])],
            state: GroupState[(Long, Seq[Option[Double]])]) => {
          val sorted = rows.toArray.sortBy(r => (r._2, r._3))
          var (n, ring) = state.getOption.getOrElse(
            (0L, Seq.empty[Option[Double]]))
          def extremum(vs: Seq[Double], wantMin: Boolean): Option[Double] =
            vs.reduceOption { (a, b) =>
              val c = graft.operators.RollingDeque.cmp(a, b)
              // ties keep the EARLIER value — the deque kernel's
              // keep-oldest rule, so the twins agree to the bit even
              // on −0.0/0.0 mixtures
              if (c == 0 || (c < 0) == wantMin) a else b
            }
          val out = sorted.map { r =>
            ring = (ring :+ r._4).takeRight(frame)
            n += 1
            val defined = if (n >= frame) ring.flatten else Seq.empty
            RollMinMaxRow(user, r._3,
              extremum(defined, wantMin = true),
              extremum(defined, wantMin = false))
          }
          state.update((n, ring))
          out.iterator
        })
  }

  /** Streaming seasonal anomaly gate (batch twin: `ts_seasonal_anomaly`
    * minus the global top-k, which has no streaming meaning) — the
    * serving-side shape of the seasonal monitor: the (event_type, dow,
    * hour) profile is TRAINED batch-side on history (exact integer
    * co-moments, the same cells the declared query builds) and handed
    * in as a plain DataFrame; the stream joins it per micro-batch
    * (stream-static, broadcast at production scale — the stream side
    * never shuffles) and emits only rows breaching the σ gate, scored
    * with the identical z arithmetic. Stateless — the profile is the
    * only "state" and it lives outside the stream.
    */
  def seasonalGate(events: DataFrame, profile: DataFrame,
      threshold: Double = 3.0): DataFrame = {
    val z = (col("n") * col("xc") - col("s1")).cast("double") /
      (sqrt((col("n") * col("s2") - col("s1") * col("s1")).cast("double")) *
        sqrt(col("n").cast("double")) / sqrt((col("n") - 1).cast("double")))
    events
      .select(col("event_id"), col("event_type"),
        dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hr"),
        round(col("value") * 100).cast("long").as("xc"))
      .join(profile, Seq("event_type", "dow", "hr"))
      .filter(col("n") >= 2 &&
        (col("n") * col("s2") - col("s1") * col("s1")).cast("double") > 0)
      .select(col("event_id"), col("event_type"), col("dow"), col("hr"),
        (col("xc").cast("double") / 100.0).as("value"),
        round(z, 6).as("z"))
      .filter(abs(col("z")) > threshold)
  }

  /** Streaming A/B monitor (batch twin: `agg_ab_ttest`) — the
    * sequential-testing read: per event_type, BOTH cohorts' exact
    * (n, S1, S2) ride one streaming conditional aggregate (Complete
    * mode — the state is six numbers per type, not the events), and
    * every micro-batch re-emits the current Welch t from the identical
    * arithmetic. After the last batch the table IS the batch t-test —
    * replay-asserted in StreamingSpec. This is the shape a live
    * experiment dashboard runs: O(types) state, no raw-event retention.
    */
  def abMonitor(events: DataFrame): DataFrame = {
    val t = events.select(
      col("event_type"),
      (col("user_id") % 2 === 0).as("treat"),
      round(col("value") * 100).cast("long").as("xc"))
    def side(p: Column, tag: String) = Seq(
      sum(when(p, 1L).otherwise(0L)).as(s"n_$tag"),
      sum(when(p, col("xc")).otherwise(0L).cast("decimal(38,0)")).as(s"s1_$tag"),
      sum(when(p, col("xc") * col("xc")).otherwise(0L).cast("decimal(38,0)")).as(s"s2_$tag"))
    val aggs = side(col("treat"), "t") ++ side(!col("treat"), "c")
    val agg = t.groupBy("event_type").agg(aggs.head, aggs.tail: _*)
    def mean(tag: String) =
      col(s"s1_$tag").cast("double") / col(s"n_$tag").cast("double") / 100.0
    def varOverN(tag: String) = {
      val n = col(s"n_$tag")
      (n * col(s"s2_$tag") - col(s"s1_$tag") * col(s"s1_$tag")).cast("double") /
        ((n * (n - 1)).cast("double") * lit(10000.0)) / n.cast("double")
    }
    agg.filter(col("n_t") >= 2 && col("n_c") >= 2)
      .select(col("event_type"), col("n_t"), col("n_c"),
        round(mean("t") - mean("c"), 4).as("mean_diff"),
        round((mean("t") - mean("c")) /
          sqrt(varOverN("t") + varOverN("c")), 4).as("t_welch"))
  }

  /** The batch-side profile builder for [[seasonalGate]] — exact
    * integer co-moment cells over a history frame.
    */
  def seasonalProfile(history: DataFrame): DataFrame =
    history
      .select(col("event_type"), dayofweek(col("ts")).as("dow"),
        hour(col("ts")).as("hr"),
        round(col("value") * 100).cast("long").as("xc"))
      .groupBy("event_type", "dow", "hr")
      .agg(count(lit(1)).as("n"),
        sum(col("xc").cast("decimal(38,0)")).as("s1"),
        sum((col("xc") * col("xc")).cast("decimal(38,0)")).as("s2"))

  def simHashPairsStream(spark: SparkSession, docs: DataFrame,
      maxHamming: Int = 3,
      ttlMs: Long = 24L * 3600 * 1000): Dataset[NearDupPair] = {
    import spark.implicits._
    val blocks = 4
    val stamped =
      if (docs.columns.contains("ts")) docs
      else docs.withColumn("ts", current_timestamp())
    val keyed = stamped
      .select(col("doc_id").cast("long").as("doc_id"),
        graft.functions.TextFunctions.simHash(
          graft.functions.TextFunctions.tokens(col("text"))).as("sig"),
        col("ts"))
      .withColumn("block_id", explode(sequence(lit(0), lit(blocks - 1))))
      .select(
        (col("block_id").cast("long") * 65536L +
          call_function("shiftright", col("sig"), col("block_id") * 16)
            .bitwiseAND(0xFFFF)).as("k"),
        col("doc_id"), col("sig"), col("ts"))
      .withWatermark("ts", "0 seconds")
      .as[(Long, Long, Long, java.sql.Timestamp)]
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(
        (_: Long, rows: Iterator[(Long, Long, Long, java.sql.Timestamp)],
            state: GroupState[List[(Long, Long, Long)]]) => {
          if (state.hasTimedOut) {
            // watermark passed newest-entry + ttl: the whole bucket is
            // expired, drop it
            state.remove()
            Iterator.empty
          } else {
            // deterministic within-batch order (batch mode delivers a whole
            // group at once; ascending ids make a < b == arrival order)
            val arrivals = rows.toSeq.sortBy(_._2)
            val arrivalMs = arrivals.map(_._4.getTime)
            val newestMs = arrivalMs.max
            val oldestMs = arrivalMs.min
            // pre-loop prune anchors on the OLDEST arrival in the batch:
            // an entry with t >= oldestMs - ttlMs may still be within ttl
            // of some arrival, and the per-pair |ts - pts| <= ttlMs check
            // below enforces the exact horizon. Anchoring on the newest
            // here (as an earlier version did) silently skipped pairs
            // whenever one micro-batch spanned more than ttlMs: an entry
            // out of horizon of the newest but within horizon of an older
            // same-batch arrival was dropped before being compared.
            var seen = state.getOption.getOrElse(List.empty[(Long, Long, Long)])
              .filter { case (_, _, t) => oldestMs - t <= ttlMs }
            val out = List.newBuilder[NearDupPair]
            arrivals.foreach { case (_, id, sig, ts) =>
              val tsMs = ts.getTime
              seen.foreach { case (pid, psig, ptsMs) =>
                if (pid != id && math.abs(tsMs - ptsMs) <= ttlMs) {
                  val h = java.lang.Long.bitCount(psig ^ sig)
                  if (h <= maxHamming)
                    out += NearDupPair(math.min(pid, id), math.max(pid, id), h)
                }
              }
              seen = (id, sig, tsMs) :: seen
            }
            // storage prune happens AFTER the comparison loop, anchored
            // on the newest arrival: the watermark (and the timeout
            // timer) guarantee future batches only deliver events near
            // or after it, so entries out of its horizon can never
            // match again — this is what bounds state to O(docs per
            // horizon) per bucket
            state.update(seen.filter { case (_, _, t) => newestMs - t <= ttlMs })
            // timer must sit strictly above the current watermark, or
            // Spark rejects it (an all-late bucket could otherwise
            // compute a timer already in the past)
            state.setTimeoutTimestamp(
              math.max(newestMs + ttlMs, state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
        })
  }

  /** Streaming multimodal decode — the ingestion-time shape of
    * `mm_decode_audio`: a stream of raw media records decoded per
    * micro-batch with the SAME batched-mapPartitions `javax.sound`
    * codec the batch path uses. Stateless (append mode, no watermark
    * or state store): decode cost scales with ARRIVAL RATE, never with
    * corpus size, which is exactly how a 100 TB ingest wants media
    * feature extraction to run — at the edge, once, instead of as a
    * backfill scan. Corrupt payloads surface as the same all-null
    * audit rows in-stream. Batch ≡ stream by construction (one shared
    * decode fn); StreamingSpec replays a planted corpus to prove it.
    */
  def decodeAudioStream(spark: SparkSession, media: DataFrame): DataFrame =
    graft.operators.Multimodal.decodeAudioStats(spark, media).toDF()

  /** Streaming image decode twin of `mm_decode_features` (same
    * stateless contract as [[decodeAudioStream]], `javax.imageio`
    * codec).
    */
  def decodeImageStream(spark: SparkSession, media: DataFrame): DataFrame =
    graft.operators.Multimodal.decodeImageStats(spark, media).toDF()

  /** Run any of the transforms above over a streaming source and drain
    * it to an in-memory table; returns the result. Used by specs and as
    * a worked end-to-end example (file sources swap in for MemoryStream
    * in production).
    */
  def runToMemory(spark: SparkSession, streamed: DataFrame, name: String,
      outputMode: OutputMode = OutputMode.Complete()): DataFrame = {
    val q = streamed.writeStream.format("memory")
      .queryName(name).outputMode(outputMode).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  /** Streaming upsert sink — the `foreachBatch` + MERGE maintenance
    * pattern (stream of change rows → continuously-current keyed
    * table): each micro-batch reduces to its latest row per key (ts
    * then event_id tiebreak — deterministic under replay) and commits
    * into the versioned parquet table at `tableDir` as an all-`U`
    * change log (see [[applyUpsertBatch]]).
    *
    * Exactly-once: foreachBatch is at-least-once (a failed epoch
    * replays with the SAME batchId), so the sink is made idempotent by
    * recording the applied batchId in the table version directory and
    * skipping replays — the standard recipe Delta's `txnVersion`
    * automates. Each batch writes a NEW versioned directory and then
    * flips a one-line `_current` pointer (write-temp + atomic rename),
    * so a reader never sees a half-written table and a crash between
    * write and flip just re-runs the batch. At 100 TB the same loop
    * targets a real table format (Delta/Iceberg MERGE) where the
    * version pointer, conflict checks, and partition-level file reuse
    * are the format's job; the per-batch plan — dedup-to-latest +
    * keyed merge — is unchanged.
    */
  def upsertSink(events: DataFrame, tableDir: String,
      checkpointDir: String, snapshotEvery: Int = 1, vacuumEvery: Int = 0,
      keepN: Int = 7): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyUpsertBatch(batch, batchId, tableDir, snapshotEvery)
        maintainSink(batch.sparkSession, tableDir, batchId, vacuumEvery, keepN)
      }
      .outputMode("update")
      .start()

  /** Auto-maintenance cadence shared by the upsert and CDC sinks (r17
    * verdict #3): every `vacuumEvery` batches the sink's own
    * foreachBatch — the single-writer slot [[vacuumVersions]]'s
    * contract requires — runs retention with `keepN`. 0 disables (the
    * default: retention stays an explicit operator decision). With a
    * log-structured layout (`snapshotEvery` > 1) `keepN` counts FULL
    * SNAPSHOTS, so the retained time-travel window is ~`keepN ×
    * snapshotEvery` batches.
    */
  private def maintainSink(spark: SparkSession, tableDir: String,
      batchId: Long, vacuumEvery: Int, keepN: Int): Unit =
    if (vacuumEvery > 0 && batchId % vacuumEvery == (vacuumEvery - 1).toLong)
      try vacuumVersions(spark, tableDir, keepN)
      catch {
        // a held maintenance lock must not kill the STREAM (r18 review
        // #3): a kill −9 during a previous cycle's vacuum leaves a
        // younger-than-TTL lock, and the restart replays the same
        // batchId — failing foreachBatch here would crash-loop the sink
        // until the TTL. Retention is best-effort per cadence: skip
        // this cycle loudly, the next cadence (or the TTL takeover)
        // retries; batch application is never skipped.
        case e: graft.operators.MaintenanceLock.HeldException =>
          System.err.println(s"[sink-maintenance] vacuum of $tableDir " +
            s"skipped at batch $batchId: ${e.getMessage}")
      }

  /** One idempotent upsert micro-batch (factored out so specs can drive
    * replay scenarios directly). The batch's latest-per-`user_id`
    * reduce is its delta; folded, it is a change log of `U` records
    * whose seq is the batchId (unique per key: the delta is already
    * latest-per-key). Every commit enforces a non-null `user_id` and
    * the table's exact column names, order and types.
    * `snapshotEvery` picks the layout (see [[applyTableBatch]]).
    */
  def applyUpsertBatch(batch: DataFrame, batchId: Long, tableDir: String,
      snapshotEvery: Int = 1): Unit =
    applyTableBatch(UpsertTable, batch, batchId, tableDir, snapshotEvery)

  /** Streaming CDC apply — the streaming twin of
    * [[graft.operators.CdcApply]] and the inverse-of-[[snapshot-diff]]
    * maintenance loop: an append-only change stream (I/U/D records,
    * per-key-monotone `seq`, `op`) folds into the same versioned
    * pointer-flipped table the upsert sink maintains — batch-wise
    * folding equals whole-log folding because last-writer-wins is
    * associative over seq-ordered prefixes (StreamingSpec pins
    * streamed ≡ one-shot). Same exactly-once recipe as [[upsertSink]].
    * At 100 TB per-batch cost is O(batch + current table) through one
    * map-side-combinable aggregate — the table never self-joins — and
    * a real deployment swaps the parquet rewrite for a Delta/Iceberg
    * MERGE keyed the same way.
    */
  def cdcApplySink(changes: DataFrame, tableDir: String,
      checkpointDir: String, keys: Seq[String], snapshotEvery: Int = 1,
      vacuumEvery: Int = 0, keepN: Int = 7):
      org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyCdcBatch(batch, batchId, tableDir, keys, snapshotEvery)
        maintainSink(batch.sparkSession, tableDir, batchId, vacuumEvery, keepN)
      }
      .outputMode("append")
      .start()

  /** One idempotent CDC micro-batch (factored out for replay specs).
    * The batch IS a change log already, so its delta stores the raw
    * I/U/D records verbatim (`seq` and `op` included) and every fold
    * reads their own seq/op — exactly as the batch path would.
    */
  def applyCdcBatch(batch: DataFrame, batchId: Long, tableDir: String,
      keys: Seq[String], snapshotEvery: Int = 1): Unit =
    applyTableBatch(cdcTable(keys), batch, batchId, tableDir, snapshotEvery)

  /** Read the current version of an [[upsertSink]] table (see
    * [[readCurrent]]).
    */
  def readUpsertTable(spark: SparkSession, tableDir: String): DataFrame =
    readCurrent(UpsertTable, spark, tableDir)

  /** Time travel over an [[upsertSink]] table (see [[readVersion]]). */
  def readUpsertTableVersion(spark: SparkSession, tableDir: String,
      batchId: Long): DataFrame =
    readVersion(UpsertTable, spark, tableDir, batchId)

  /** Read the current version of a [[cdcApplySink]] table. */
  def readCdcTable(spark: SparkSession, tableDir: String,
      keys: Seq[String]): DataFrame =
    readCurrent(cdcTable(keys), spark, tableDir)

  /** Time travel over a [[cdcApplySink]] table. */
  def readCdcTableVersion(spark: SparkSession, tableDir: String,
      batchId: Long, keys: Seq[String]): DataFrame =
    readVersion(cdcTable(keys), spark, tableDir, batchId)

  // ---- the versioned table behind both sinks ----

  /** What an upsert table and a CDC table differ in. Everything else —
    * replay and crashed-flip repair, the snapshot cadence, the commit,
    * reconstruction, the current read and time travel — is one path.
    *  - `toDelta`: a batch → the rows stored as its delta `d<id>`;
    *  - `toLog`: a delta with its batchId → change records carrying
    *    `seqCol`/`opCol`, the input of the fold;
    *  - `keys`: the fold's key columns.
    */
  private final case class TableKind(keys: Seq[String], seqCol: String,
      opCol: String, toDelta: DataFrame => DataFrame,
      toLog: (DataFrame, Long) => DataFrame)

  private val UpsertTable = TableKind(Seq("user_id"), "__seq", "__op",
    toDelta = { batch =>
      require(!batch.columns.contains("__seq") && !batch.columns.contains("__op"),
        "__seq/__op are reserved for the delta-fold reconstruction")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      // a null key can never be matched by a later batch: it would
      // survive every merge as a ghost row, so it fails loudly here,
      // fused into the projection the reduce already pays
      batch.withColumn("user_id", when(col("user_id").isNull, raise_error(lit(
          "upsert: user_id must be non-null — a null-keyed row can never " +
            "be updated and would survive every merge")))
          .otherwise(col("user_id")))
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .drop("__rn")
    },
    toLog = (delta, id) =>
      delta.withColumn("__seq", lit(id)).withColumn("__op", lit("U")))

  private def cdcTable(keys: Seq[String]) = TableKind(keys, "seq", "op",
    toDelta = identity, toLog = (delta, _) => delta)

  private def tableFs(spark: SparkSession, tableDir: String): FileSystem =
    new Path(tableDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One idempotent commit of `batch` as version `batchId`.
    *
    * `snapshotEvery` (r17 verdict #2) picks the version LAYOUT. 1 (the
    * default): every batch writes a FULL snapshot directory `v<id>` —
    * simple, but the retained window costs keepN × table-size,
    * untenable at 100 TB. k > 1: the batch's delta is written as a
    * DELTA directory `d<id>`, and only every k-th batch materializes a
    * full `v<id>`, so the steady-state storage per batch is O(delta),
    * not O(table). A snapshot commit is ONE
    * [[graft.operators.CdcApply.applyLog]] over the newest snapshot at
    * or before the pointer, the deltas after it and this batch's log —
    * the fold a read of any version runs — so reads are bit-identical
    * across layouts by construction (MaintenanceSpec pins it). The
    * cadence is answered from the listing, so a replayed or
    * crashed-and-resumed writer lands on the same layout without extra
    * state.
    */
  private def applyTableBatch(kind: TableKind, batch: DataFrame,
      batchId: Long, tableDir: String, snapshotEvery: Int): Unit = {
    require(snapshotEvery >= 1, s"snapshotEvery must be >= 1, got $snapshotEvery")
    val spark = batch.sparkSession
    val fs = tableFs(spark, tableDir)
    val delta = kind.toDelta(batch)
    val current = readPointer(fs, tableDir, uncommittedFallback = true)
    // idempotent replay: this batchId (or a later one) already applied
    if (current.exists(_._2 >= batchId)) {
      // a crash between the version write and the flip leaves the
      // newest complete version unreferenced (readPointer found it by
      // fallback); replay's only remaining duty is the flip itself
      if (!fs.exists(new Path(tableDir, "_current")))
        current.foreach { case (dir, id) =>
          flipCurrentPointer(spark, fs, tableDir, dir, id) }
      return
    }
    val stateFields =
      delta.schema.filterNot(f => f.name == kind.seqCol || f.name == kind.opCol)
    val log = kind.toLog(delta, batchId)
    val (dir, rows) = current match {
      // first commit: the log folded over an empty table of its columns
      case None => (s"v$batchId", fold(kind, spark, fs, tableDir,
        delta.select(stateFields.map(f => col(f.name)): _*).limit(0), Nil, Some(log)))
      case Some((_, id)) =>
        val (snapId, deltaIds) =
          versionChain(listCompleteVersions(fs, tableDir), tableDir, id)
        val base = readVersionDir(spark, fs, s"$tableDir/v$snapId")
        // names alone are not enough: a dtype mismatch would silently
        // widen through the fold's union, changing the table's schema.
        // Types compare without nullability, which a parquet read drops.
        def shape(fields: Seq[StructField]) =
          fields.map(f => s"${f.name} ${f.dataType.catalogString}")
        require(shape(stateFields) == shape(base.schema),
          s"batch $batchId columns ${shape(stateFields).mkString(", ")} " +
            s"must match the table's ${shape(base.schema).mkString(", ")}")
        if (deltaIds.size + 1 < snapshotEvery) (s"d$batchId", delta)
        else (s"v$batchId", fold(kind, spark, fs, tableDir, base, deltaIds, Some(log)))
    }
    rows.write.mode("overwrite").parquet(s"$tableDir/$dir")
    flipCurrentPointer(spark, fs, tableDir, dir, batchId)
  }

  /** Complete (`_SUCCESS`-marked) version ids under `tableDir`:
    * (full snapshots `v<id>`, deltas `d<id>`).
    */
  private def listCompleteVersions(fs: FileSystem,
      tableDir: String): (Seq[Long], Seq[Long]) = {
    val base = new Path(tableDir)
    if (!fs.exists(base)) return (Nil, Nil)
    val complete = fs.listStatus(base).iterator.map(_.getPath.getName)
      .filter(n => n.matches("[vd]\\d+") &&
        fs.exists(new Path(s"$tableDir/$n/_SUCCESS"))).toSeq
    (complete.filter(_.startsWith("v")).map(_.drop(1).toLong),
      complete.filter(_.startsWith("d")).map(_.drop(1).toLong))
  }

  /** What version `targetId` is built from, given the table's
    * [[listCompleteVersions]]: the newest complete snapshot at or before
    * it and the complete deltas in (snapshot, target], ascending.
    */
  private def versionChain(versions: (Seq[Long], Seq[Long]), tableDir: String,
      targetId: Long): (Long, Seq[Long]) = {
    val (snaps, deltas) = versions
    val snapId = snaps.filter(_ <= targetId).maxOption.getOrElse(
      throw new IllegalStateException(
        s"no full snapshot at or before $targetId under $tableDir — " +
          "was the base snapshot vacuumed past the retained window?"))
    (snapId, deltas.filter(id => id > snapId && id <= targetId).sorted)
  }

  /** ONE [[graft.operators.CdcApply.applyLog]] of the stored deltas
    * `deltaIds` plus `extra` (a commit's own log) over `base`, column
    * order re-pinned to the base's; the base itself when there is no
    * log. A stored delta must fold into the base's columns — a table
    * read through the other sink's reader fails here, loudly.
    */
  private def fold(kind: TableKind, spark: SparkSession, fs: FileSystem,
      tableDir: String, base: DataFrame, deltaIds: Seq[Long],
      extra: Option[DataFrame]): DataFrame = {
    val logs = deltaIds.map { id =>
      val log = kind.toLog(readVersionDir(spark, fs, s"$tableDir/d$id"), id)
      require(log.columns.toSet == base.columns.toSet + kind.seqCol + kind.opCol,
        s"delta d$id columns ${log.columns.mkString(",")} do not fold into " +
          s"snapshot columns ${base.columns.mkString(",")} — read a CDC-log " +
          "table with readCdcTable, an upsert table with readUpsertTable")
      log
    } ++ extra
    if (logs.isEmpty) base
    else graft.operators.CdcApply.applyLog(base, logs.reduce(_ unionByName _),
      kind.keys, kind.seqCol, kind.opCol).select(base.columns.map(col): _*)
  }

  /** Version `targetId` out of `versions` (the table's
    * [[listCompleteVersions]]): its chain's snapshot with the deltas
    * folded in (≤ k−1 of them under the log layout; none when it IS a
    * snapshot).
    */
  private def reconstruct(kind: TableKind, spark: SparkSession,
      fs: FileSystem, tableDir: String, versions: (Seq[Long], Seq[Long]),
      targetId: Long): DataFrame = {
    val (snapId, deltaIds) = versionChain(versions, tableDir, targetId)
    require(snapId == targetId || deltaIds.lastOption.contains(targetId),
      s"version $targetId is not a committed snapshot or delta under $tableDir")
    fold(kind, spark, fs, tableDir,
      readVersionDir(spark, fs, s"$tableDir/v$snapId"), deltaIds, None)
  }

  /** One complete version directory (`v<id>` or `d<id>`) as a
    * DataFrame, its schema taken from a part file's parquet footer.
    *
    * Spark records the exact schema it wrote in every part file's
    * footer (`org.apache.spark.sql.parquet.row.metadata`), and this
    * table only ever holds Spark-written files. A parquet read without
    * a schema would re-derive that same schema with a one-task Spark
    * job per directory — every commit base, folded delta and read
    * snapshot — and on an object store that job costs a footer GET
    * from an executor besides. Reading the footer here is one small
    * driver-side read and no job, the way table formats keep the schema
    * in metadata instead of inferring it. A directory whose part file
    * carries no Spark schema fails loudly: there is deliberately no
    * fallback to inference.
    */
  private def readVersionDir(spark: SparkSession, fs: FileSystem,
      dir: String): DataFrame = {
    val part = fs.listStatus(new Path(dir)).iterator.map(_.getPath)
      .find(_.getName.endsWith(".parquet"))
    val json = part.flatMap { p =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, fs.getConf))
      try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      finally reader.close()
    }.getOrElse(throw new IllegalStateException(
      s"version dir $dir has no part file with a Spark schema in its " +
        s"parquet footer (part file: ${part.fold("none")(_.getName)})"))
    spark.read.schema(DataType.fromJson(json).asInstanceOf[StructType]).parquet(dir)
  }

  /** Atomic `_current` flip shared by the upsert and CDC sinks:
    * write-temp then FileContext.rename(OVERWRITE) — one namespace
    * operation on HDFS-like stores, no delete-then-rename window in
    * which `_current` does not exist. (The FileSystem API's rename
    * refuses to clobber, which is why the naive flip needed the racy
    * delete first.)
    */
  private def flipCurrentPointer(spark: SparkSession, fs: FileSystem,
      tableDir: String, dir: String, id: Long): Unit = {
    val currentPtr = new Path(tableDir, "_current")
    val tmp = new Path(tableDir, s"_current.tmp$id")
    val out = fs.create(tmp, true)
    try out.write(s"$dir,$id".getBytes("UTF-8")) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      currentPtr.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, currentPtr, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Read `_current` (dir, batchId) with a bounded retry: on an object
    * store whose rename is copy+delete rather than an atomic namespace
    * move, a reader can land inside the flip and see no pointer for a
    * moment. After the retries, optionally fall back to the newest
    * FULLY-WRITTEN version directory (parquet `_SUCCESS` present).
    *
    * `uncommittedFallback` gates that last step, because the fallback
    * can serve an in-flight batch's version on a FRESH table whose
    * pointer never existed (first batch mid-commit): if the writer is
    * then permanently abandoned, that state never commits. The writer's
    * replay/repair path ([[applyTableBatch]]) passes true — it NEEDS
    * the newest complete version to finish a crashed flip, and anything
    * it reads it deterministically rewrites. Reader paths
    * ([[committedPointer]]) pass false and stay fail-loud: a missing
    * pointer after retries means no batch has ever committed. Returns
    * None when no pointer (and, with the fallback, no complete version)
    * exists.
    */
  private def readPointer(fs: FileSystem, tableDir: String,
      uncommittedFallback: Boolean): Option[(String, Long)] = {
    val currentPtr = new Path(tableDir, "_current")
    var attempt = 0
    while (attempt < 3) {
      try {
        val in = fs.open(currentPtr)
        val line = try scala.io.Source.fromInputStream(in).mkString.trim
        finally in.close()
        return Some(parsePointer(currentPtr, line))
      } catch {
        case _: java.io.FileNotFoundException =>
          attempt += 1
          if (attempt < 3) Thread.sleep(50L << attempt)
      }
    }
    if (!uncommittedFallback) return None
    // both layouts: full snapshots v<id> and log-structured deltas d<id>
    val (snaps, deltas) = listCompleteVersions(fs, tableDir)
    (snaps.map(id => (s"v$id", id)) ++ deltas.map(id => (s"d$id", id)))
      .maxByOption(_._2)
  }

  /** `_current`'s content `dir,id`, where `dir` is `v<id>` or `d<id>`.
    * Anything else — empty, truncated, a bad id — is a corrupt pointer:
    * readers and the writer alike refuse it, naming the file and what
    * it holds, rather than guess a version.
    */
  private def parsePointer(ptr: Path, line: String): (String, Long) =
    line.split(",") match {
      case Array(dir, id) if id.toLongOption.exists(n =>
          dir == s"v$n" || dir == s"d$n") => (dir, id.toLong)
      case _ => throw new IllegalStateException(
        s"malformed version pointer $ptr: '$line' (expected '<v|d><id>,<id>')")
    }

  /** The committed `_current` pointer for a reader (fails loudly if no
    * batch has committed yet). Tolerates a concurrent pointer flip via
    * [[readPointer]]'s bounded retry; deliberately does NOT use the
    * newest-complete-version fallback — on a fresh table that could
    * expose an in-flight first batch that never commits.
    */
  private def committedPointer(fs: FileSystem, tableDir: String): (String, Long) =
    readPointer(fs, tableDir, uncommittedFallback = false).getOrElse {
      // distinguish "table never committed" from "pointer lost
      // mid-flip on a copy+delete-rename store": complete version
      // dirs existing without a _current pointer means the data is
      // committed and only the pointer read raced — report that
      // (and advise retry) instead of claiming an empty table. The
      // versions are still NOT served: auto-picking one would turn a
      // transient race into a silent read of an unpointed version.
      val (snaps, deltas) = listCompleteVersions(fs, tableDir)
      val committed = snaps.size + deltas.size
      throw new IllegalStateException(
        if (committed == 0) s"no committed version under $tableDir"
        else s"_current pointer missing under $tableDir but " +
          s"$committed committed version dir(s) exist — likely an " +
          "in-flight pointer flip on a non-atomic rename store; " +
          "retry the read (the writer re-creates the pointer at the " +
          "end of every batch)")
    }

  /** The current version of a versioned table: the pointed snapshot,
    * or under the log layout the pointed delta reconstructed over the
    * newest snapshot before it.
    */
  private def readCurrent(kind: TableKind, spark: SparkSession,
      tableDir: String): DataFrame = {
    val fs = tableFs(spark, tableDir)
    // pointer before listing: every version it names is then listed
    val pointerId = committedPointer(fs, tableDir)._2
    reconstruct(kind, spark, fs, tableDir, listCompleteVersions(fs, tableDir),
      pointerId)
  }

  /** TIME TRAVEL: read the state as of a specific committed batchId —
    * every batch leaves its own versioned directory, so historical
    * states stay addressable until vacuumed (the pattern Delta's
    * `versionAsOf` formalizes). Only COMMITTED versions are served:
    * complete, and at or before the `_current` pointer — a complete
    * version newer than the pointer is a crashed flip the current read
    * refuses too. Fails with the committed versions listed otherwise —
    * a silent fallback to a nearby version would un-pin a
    * reproducibility read.
    */
  private def readVersion(kind: TableKind, spark: SparkSession,
      tableDir: String, batchId: Long): DataFrame = {
    val fs = tableFs(spark, tableDir)
    val pointerId = committedPointer(fs, tableDir)._2
    val versions = listCompleteVersions(fs, tableDir)
    val (snaps, deltas) = versions
    val committed = (snaps.map(id => (id, s"v$id")) ++ deltas.map(id => (id, s"d$id")))
      .filter(_._1 <= pointerId).sorted
    if (!committed.exists(_._1 == batchId))
      throw new IllegalArgumentException(
        s"no committed batch v$batchId under $tableDir " +
          s"(available: ${committed.map(_._2).mkString(", ")})")
    reconstruct(kind, spark, fs, tableDir, versions, batchId)
  }

  /** Retention for the versioned pointer-flipped table (r16 verdict
    * #1a — the acknowledged growth-without-bound: every batch leaves a
    * version directory, so a months-running upsert/CDC sink stores
    * months × (table-size or delta-size) until something deletes):
    * drop every version directory outside the newest `keepN` committed
    * full snapshots and the deltas they reconstruct (see
    * [[retentionVictimsLog]]). Time travel ([[readUpsertTableVersion]])
    * keeps working over exactly the retained window — the Delta/Iceberg
    * `VACUUM ... RETAIN` contract.
    *
    * Safety invariants, each load-bearing:
    *  - refuses to run without a committed `_current` pointer (on an
    *    uncommitted table "old" is undefined; vacuuming it could eat
    *    the in-flight first batch);
    *  - the pointed version is retained unconditionally (it is the
    *    newest committed one, so it is always inside `keepN`);
    *  - version dirs NEWER than the pointer are never touched: that is
    *    the crashed-flip state [[applyTableBatch]]'s replay path needs
    *    to finish (writing then flipping), not garbage;
    *  - incomplete OLD dirs (no `_SUCCESS`, id < pointer) are crash
    *    debris of batches that were later rewritten — deleted with the
    *    rest of the expired window.
    *
    * Returns the deleted batchIds (empty when nothing expired —
    * vacuuming is idempotent). Concurrency contract: run from the
    * maintainer that owns the sink (the same single-writer assumption
    * the pointer flip already makes); readers racing a vacuum can only
    * lose versions OUTSIDE the retained window.
    */
  def vacuumVersions(spark: SparkSession, tableDir: String,
      keepN: Int): Seq[Long] = {
    val fs = tableFs(spark, tableDir)
    // single-maintainer contract made checkable (r17 verdict #5): two
    // concurrent vacuums (or a vacuum racing another maintainer's
    // rewrite) would interleave the list-decide-delete below
    graft.operators.MaintenanceLock.withLock(fs,
      new Path(tableDir, "_maintenance.lock")) {
    val (_, curId) = readPointer(fs, tableDir, uncommittedFallback = false)
      .getOrElse(throw new IllegalStateException(
        s"no committed _current pointer under $tableDir — refusing to " +
          "vacuum an uncommitted table"))
    val names = fs.listStatus(new Path(tableDir))
      .iterator.map(_.getPath.getName)
      .filter(_.matches("[vd]\\d+")).toSeq
    // the retention window counts COMPLETE versions only (r17 review
    // finding): an incomplete dir inside the newest keepN ids would
    // otherwise displace a READABLE version from the promised window —
    // debris is deleted unconditionally, never retained in its place
    val (complete, incomplete) = names.partition(n =>
      fs.exists(new Path(s"$tableDir/$n/_SUCCESS")))
    def idsOf(p: Char) = complete.filter(_.head == p)
      .map(_.drop(1).toLong).filter(_ <= curId)
    val (snapVictims, deltaVictims) =
      retentionVictimsLog(idsOf('v'), idsOf('d'), curId, keepN)
    val debrisNames = incomplete.filter(_.drop(1).toLong < curId)
    val victimNames = snapVictims.map("v" + _) ++ deltaVictims.map("d" + _) ++
      debrisNames
    victimNames.foreach { n =>
      fs.delete(new Path(tableDir, n), true)
    }
    (snapVictims ++ deltaVictims ++ debrisNames.map(_.drop(1).toLong)).sorted
    }
  }

  /** The pure retention decision [[vacuumVersions]] executes over the
    * COMMITTED (complete, id ≤ pointer) version ids — factored so
    * PropertySpec can pin the safety invariants over generated version
    * sets without a filesystem. `keepN` counts FULL SNAPSHOTS; every
    * delta newer than the OLDEST retained snapshot is retained too
    * (each retained version ≥ that snapshot reconstructs from it), and
    * every delta at or below it — unreachable from any retained base —
    * expires with the old snapshots. On a pure full-snapshot table (no
    * deltas) the victims are exactly the committed versions older than
    * the newest `keepN`. Pinned invariants: the pointed version
    * (snapshot OR delta) is never a victim, nothing newer than the
    * pointer is touched, and min(keepN, committed snapshots) snapshots
    * survive.
    */
  private[graft] def retentionVictimsLog(snapIds: Seq[Long],
      deltaIds: Seq[Long], pointerId: Long,
      keepN: Int): (Seq[Long], Seq[Long]) = {
    require(keepN >= 1, s"keepN must be >= 1, got $keepN")
    val snaps = snapIds.sorted.filter(_ <= pointerId)
    val keep = snaps.takeRight(keepN)
    val keepSet = keep.toSet
    val floor = keep.headOption.getOrElse(Long.MinValue)
    (snaps.filterNot(keepSet),
      deltaIds.sorted.filter(id => id <= pointerId && id < floor))
  }
}
