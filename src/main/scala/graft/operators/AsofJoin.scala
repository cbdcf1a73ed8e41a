package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** As-of join, the `merge_asof` equivalent: for every left row, attach
  * the payload of the nearest right row with the same `by` keys —
  * backward (`right.ts <= left.ts`, the default), forward
  * (`right.ts >= left.ts`), or nearest (closer of the two, ties to
  * backward), optionally bounded by a `tolerance` on the time gap.
  * Nulls where no qualifying right row exists (left outer semantics).
  *
  * Implementation: tag both inputs, union them, and take a running
  * `last(payload, ignoreNulls)` over a window partitioned by the `by`
  * keys and ordered by `(ts, tag, payload)` — right rows sort before
  * left rows on ties iff exact matches are allowed, and the payload
  * struct itself is the final tiebreak so duplicate-(key, ts) right
  * rows resolve DETERMINISTICALLY (the max payload wins — the
  * total-order convention every declared query follows). The forward
  * direction is the same pass over the reversed ts ordering. This costs
  * ONE shuffle-sort of |L|+|R| rows on the `by` keys (nearest: one
  * shuffle, two sorts — the exchange is reused), the same shape as a
  * sort-merge join. The alternative (range join + row_number=1)
  * explodes to |L|×|R_key| intermediate rows under a nested-loop plan,
  * which is unusable at 100 TB; the union trick scales linearly and
  * handles skewed keys with AQE like any other sort. For a pathological
  * hot key whose stream outgrows an executor, [[backwardSplit]] /
  * [[forwardSplit]] / [[nearestSplit]] partition the sort by (key,
  * coarse time range) with a one-row carry-in per range.
  *
  * Nulls: null `by` keys form a match group of their own in every
  * variant (window partitioning groups nulls; the split variants' carry
  * join is null-safe to preserve that). The as-of `ts` itself is
  * expected non-null on both sides (as in pandas `merge_asof`): rows
  * with a null ts are never dropped, but which null-ts right row they
  * see is an artifact of null ordering and — for the forward direction
  * — differs between the unsplit (nulls last under `desc`) and split
  * (dedicated null bucket) formulations. Filter null ts upstream when
  * it can occur.
  */
object AsofJoin {

  /** Matched right rows carry their own ts as `__rts` inside the payload
    * struct so tolerance/nearest can compare gaps after the window pass.
    */
  private def taggedUnion(left: DataFrame, right: DataFrame, ts: String,
      by: Seq[String], payload: Seq[String], lTag: Int, rTag: Int): DataFrame = {
    val l2 = left
      .withColumn("__side", lit("L")).withColumn("__tag", lit(lTag))
    val r2 = right
      .select((by :+ ts).map(col) :+
        struct(col(ts).as("__rts") +: payload.map(col): _*).as("__p"): _*)
      .withColumn("__side", lit("R")).withColumn("__tag", lit(rTag))
    l2.unionByName(r2, allowMissingColumns = true)
  }

  /** Running nearest-payload window for one direction: ts ascending for
    * backward, descending for forward; `__p` as the deterministic
    * duplicate tiebreak.
    */
  private def matchWindow(ts: String, by: Seq[String], forward: Boolean): WindowSpec =
    Window.partitionBy(by.map(col): _*)
      .orderBy((if (forward) col(ts).desc else col(ts).asc) +:
        Seq(col("__tag").asc, col("__p").asc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** Null out a matched payload whose time gap exceeds the tolerance
    * (an interval or numeric expression matching the ts type, e.g.
    * "INTERVAL 30 MINUTES").
    */
  private def withinTolerance(matched: Column, gap: Column,
      tolerance: Option[String]): Column =
    tolerance match {
      case Some(t) => when(gap <= expr(t), matched)
      case None => matched
    }

  private def directional(left: DataFrame, right: DataFrame, ts: String,
      by: Seq[String], payload: Seq[String], allowExact: Boolean,
      tolerance: Option[String], forward: Boolean): DataFrame = {
    val (lTag, rTag) = if (allowExact) (1, 0) else (0, 1)
    val w = matchWindow(ts, by, forward)
    val gap =
      if (forward) col("__match.__rts") - col(ts) else col(ts) - col("__match.__rts")
    val leftCols = left.columns.toSeq
    taggedUnion(left, right, ts, by, payload, lTag, rTag)
      .withColumn("__match", last(col("__p"), ignoreNulls = true).over(w))
      .withColumn("__match", withinTolerance(col("__match"), gap, tolerance))
      .filter(col("__side") === "L")
      .select(leftCols.map(col) ++ payload.map(p => col(s"__match.$p").as(p)): _*)
  }

  /** @param payload right-side columns to carry onto matching left rows
    *                (must not collide with left column names).
    */
  def backward(
      left: DataFrame,
      right: DataFrame,
      ts: String,
      by: Seq[String],
      payload: Seq[String],
      allowExact: Boolean = true,
      tolerance: Option[String] = None): DataFrame =
    directional(left, right, ts, by, payload, allowExact, tolerance, forward = false)

  /** Forward as-of: nearest right row with `right.ts >= left.ts` (or
    * `>` when `allowExact=false`).
    */
  def forward(
      left: DataFrame,
      right: DataFrame,
      ts: String,
      by: Seq[String],
      payload: Seq[String],
      allowExact: Boolean = true,
      tolerance: Option[String] = None): DataFrame =
    directional(left, right, ts, by, payload, allowExact, tolerance, forward = true)

  /** Nearest as-of: the closer of the backward and forward candidates,
    * ties to backward (pandas `direction='nearest'` semantics). One
    * shuffle on the `by` keys, two window sorts over it.
    */
  def nearest(
      left: DataFrame,
      right: DataFrame,
      ts: String,
      by: Seq[String],
      payload: Seq[String],
      tolerance: Option[String] = None): DataFrame = {
    val wb = matchWindow(ts, by, forward = false)
    val wf = matchWindow(ts, by, forward = true)
    val leftCols = left.columns.toSeq
    val gapB = col(ts) - col("__b.__rts")
    val gapF = col("__f.__rts") - col(ts)
    taggedUnion(left, right, ts, by, payload, lTag = 1, rTag = 0)
      .withColumn("__b", last(col("__p"), ignoreNulls = true).over(wb))
      .withColumn("__f", last(col("__p"), ignoreNulls = true).over(wf))
      .withColumn("__b", withinTolerance(col("__b"), gapB, tolerance))
      .withColumn("__f", withinTolerance(col("__f"), gapF, tolerance))
      .withColumn("__match",
        when(col("__b").isNull, col("__f"))
          .when(col("__f").isNull, col("__b"))
          .when(gapF < gapB, col("__f"))
          .otherwise(col("__b")))
      .filter(col("__side") === "L")
      .select(leftCols.map(col) ++ payload.map(p => col(s"__match.$p").as(p)): _*)
  }

  /** One feature stream for [[backwardMulti]]: its rows, the payload
    * columns to carry (names must be unique ACROSS streams and disjoint
    * from the left's columns), and an optional per-stream tolerance.
    */
  final case class AsofStream(right: DataFrame, payload: Seq[String],
      tolerance: Option[String] = None)

  /** K-stream backward as-of in ONE pass — the feature-store read path
    * at real k. Chaining [[backward]] k times is correct but re-sorts
    * and re-shuffles the (growing) label stream once per feature
    * stream: k keyed exchanges of O(|L| + |Rᵢ|) each, the wrong plan at
    * feature-store k (20–100 groups). This variant unions the labels
    * with ALL k streams at once — each stream's rows expose only their
    * own payload struct column (`__p0..__p(k-1)`, null elsewhere) plus
    * a stream-id column — and runs ONE
    * [[org.apache.spark.sql.graft.MultiLastAsof]] window function over
    * ONE window partitioned by the `by` keys: a single Window operator
    * over a single sort after a SINGLE hash exchange of |L| + Σ|Rᵢ|
    * rows, independent of k (plan-pinned in ExplainAuditSpec and the spec).
    *
    * The packed kernel also makes the pass CPU-flat in k (round 15;
    * STRESS.md): its buffer holds all k running last-match slots and
    * each row touches exactly the ONE slot its `__sid` names — where k
    * separate `last(__pᵢ, ignoreNulls)` functions did k updates per
    * union row, (k−1) of them no-ops by the one-non-null-payload
    * invariant, and measured local wall linear in k (0.69 → 3.37 s over
    * k = 2 → 8 on fixed total rows).
    *
    * Per-stream semantics are EXACTLY the chained form's
    * (spec-asserted): within one stream, duplicate (key, ts) rows
    * resolve to the max payload struct — the shared sort orders by
    * (ts, tag, __p0 … __p(k-1)) and two same-stream rows first differ
    * at their own payload column (all other payloads are null on
    * both), so the running last-write-wins slot still picks its
    * stream's max; rows of DIFFERENT streams interleave arbitrarily on
    * full ties, which is invisible to slot i because only stream i's
    * rows name it. `allowExact` (shared by all streams) keeps the tag
    * trick: stream rows sort before label rows on ts ties iff exact
    * matches count.
    */
  def backwardMulti(left: DataFrame, streams: Seq[AsofStream], ts: String,
      by: Seq[String], allowExact: Boolean = true): DataFrame = {
    require(streams.nonEmpty, "need at least one stream")
    val allPayloads = streams.flatMap(_.payload)
    require(allPayloads.distinct.size == allPayloads.size,
      s"payload names must be unique across streams: $allPayloads")
    require(!allPayloads.exists(left.columns.contains),
      "payload names must not collide with left columns")
    val (lTag, rTag) = if (allowExact) (1, 0) else (0, 1)
    val pCols = streams.indices.map(i => s"__p$i")
    val l2 = left
      .withColumn("__side", lit("L")).withColumn("__tag", lit(lTag))
      .withColumn("__sid", lit(null).cast("int"))
    val tagged = streams.zip(pCols).zipWithIndex.map { case ((s, p), i) =>
      s.right.select((by :+ ts).map(col) :+
          struct(col(ts).as("__rts") +: s.payload.map(col): _*).as(p): _*)
        .withColumn("__side", lit("R")).withColumn("__tag", lit(rTag))
        .withColumn("__sid", lit(i))
    }
    val unioned = tagged.foldLeft(l2)(
      (acc, s) => acc.unionByName(s, allowMissingColumns = true))
    val w = Window.partitionBy(by.map(col): _*)
      .orderBy(col(ts).asc +: col("__tag").asc +: pCols.map(col(_).asc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = unioned.withColumn("__m",
      org.apache.spark.sql.graft.MultiLastAsof
        .columnFor(col("__sid"), pCols.map(col)).over(w))
    val leftCols = left.columns.toSeq
    matched.filter(col("__side") === "L")
      .select(leftCols.map(col) ++ streams.zipWithIndex.flatMap { case (s, i) =>
        val slot = col(s"__m._$i")
        val gap = col(ts) - slot.getField("__rts")
        val m = withinTolerance(slot, gap, s.tolerance)
        s.payload.map(c => m.getField(c).as(c))
      }: _*)
  }

  // ------------------------------------------------------------------
  // Hot-key variants: split the per-key sequence by coarse time range
  // ------------------------------------------------------------------

  /** Floor-division bucket of a micros axis (pmod keeps it a true floor
    * for negative values, i.e. pre-1970 timestamps / the negated
    * forward axis).
    */
  private def timeBucket(t: Column, widthMicros: Long): Column =
    ((t - pmod(t, lit(widthMicros))) / widthMicros).cast("long")

  /** Null-safe full outer join on `keys` with coalesced key output: a
    * plain equi-join drops null-key groups that the unsplit variants'
    * window partitioning retains (Window.partitionBy groups nulls), so
    * the split/unsplit equivalence contract needs `<=>` here. Catalyst
    * plans EqualNullSafe keys as a hash/sort-merge join, so this costs
    * the same as the plain join.
    */
  private[operators] def nullSafeFullOuter(lf: DataFrame, rf: DataFrame,
      keys: Seq[String]): DataFrame = {
    val a = lf.alias("__nsl")
    val b = rf.alias("__nsr")
    val cond = keys.map(k => col(s"__nsl.$k") <=> col(s"__nsr.$k")).reduce(_ && _)
    a.join(b, cond, "full_outer")
      .select(keys.map(k => coalesce(col(s"__nsl.$k"), col(s"__nsr.$k")).as(k)) ++
        lf.columns.filterNot(keys.contains).map(c => col(s"__nsl.$c")) ++
        rf.columns.filterNot(keys.contains).map(c => col(s"__nsr.$c")): _*)
  }

  /** Virtual carry-in rows for one direction of a split pass: for each
    * (key, bucket) containing left rows, ONE synthetic right row holding
    * the running best (latest axis, max-payload tiebreak — exactly the
    * window's total order) real right row of all strictly-earlier
    * buckets, computed on the tiny per-(key, bucket) summary frame.
    * `bkt`/`t`/`p` name the direction's bucket/axis/payload columns so
    * [[nearestSplit]] can build both directions' carries from one frame.
    */
  private def virtualCarry(l2: DataFrame, r2: DataFrame, by: Seq[String],
      bkt: String, t: String, p: String, rTag: Int): DataFrame = {
    val rBest = r2.groupBy((by :+ bkt).map(col): _*)
      .agg(max(struct(col(t), col(p))).as("__best"))
    val lBkts = l2.groupBy((by :+ bkt).map(col): _*).agg(lit(1).as("__hasL"))
    val wPrev = Window.partitionBy(by.map(col): _*).orderBy(col(bkt))
      .rowsBetween(Window.unboundedPreceding, -1)
    nullSafeFullOuter(lBkts, rBest, by :+ bkt)
      .withColumn("__carry", max(col("__best")).over(wPrev))
      .filter(col("__hasL") === 1 && col("__carry").isNotNull)
      .select(by.map(col) ++ Seq(col(bkt), col(s"__carry.$t").as(t),
        col(s"__carry.$p").as(p),
        lit("R").as("__side"), lit(rTag).as("__tag")): _*)
  }

  private def requireSplittable(left: DataFrame, ts: String, splitSeconds: Long): Long = {
    require(splitSeconds > 0, s"splitSeconds must be positive, got $splitSeconds")
    require(left.schema(ts).dataType.isInstanceOf[org.apache.spark.sql.types.TimestampType],
      s"split variants bucket on unix_micros and need a timestamp ts, got ${left.schema(ts).dataType}")
    math.multiplyExact(splitSeconds, 1000000L)
  }

  /** The split core, always phrased as BACKWARD over a numeric axis
    * (`unix_micros(ts)`, negated for forward — timestamps are exactly
    * representable as micros, so nothing is lost): bucket both sides by
    * coarse time range, run the [[matchWindow]] pass per (key, bucket),
    * and seed each left-bearing bucket with ONE virtual right row per
    * [[virtualCarry]]. A virtual row's ts is strictly before the
    * bucket's range, so `allowExact` tags only ever decide real same-ts
    * rows, same as the unsplit pass.
    *
    * Cost: the big shuffle-sort partitions by (key, BUCKET) — a
    * pathological hot key spreads over `range/split` partitions instead
    * of pinning one executor — plus one summary-sized shuffle per key.
    * Returns L rows with left columns + `__match`; callers apply
    * tolerance and project.
    */
  private def splitMatched(left: DataFrame, right: DataFrame, ts: String,
      by: Seq[String], payload: Seq[String], allowExact: Boolean,
      forward: Boolean, splitSeconds: Long): DataFrame = {
    val splitMicros = requireSplittable(left, ts, splitSeconds)
    val (lTag, rTag) = if (allowExact) (1, 0) else (0, 1)
    def axis(c: Column) = if (forward) -unix_micros(c) else unix_micros(c)

    val l2 = left
      .withColumn("__side", lit("L")).withColumn("__tag", lit(lTag))
      .withColumn("__t", axis(col(ts)))
      .withColumn("__bkt", timeBucket(col("__t"), splitMicros))
    val r2 = right
      .select((by :+ ts).map(col) :+
        struct(col(ts).as("__rts") +: payload.map(col): _*).as("__p"): _*)
      .withColumn("__side", lit("R")).withColumn("__tag", lit(rTag))
      .withColumn("__t", axis(col(ts)))
      .withColumn("__bkt", timeBucket(col("__t"), splitMicros))

    val virtual = virtualCarry(l2, r2, by, "__bkt", "__t", "__p", rTag)
    val wLoc = Window.partitionBy((by :+ "__bkt").map(col): _*)
      .orderBy(col("__t").asc, col("__tag").asc, col("__p").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l2.unionByName(r2, allowMissingColumns = true)
      .unionByName(virtual, allowMissingColumns = true)
      .withColumn("__match", last(col("__p"), ignoreNulls = true).over(wLoc))
      .filter(col("__side") === "L")
  }

  private def directionalSplit(left: DataFrame, right: DataFrame, ts: String,
      by: Seq[String], payload: Seq[String], allowExact: Boolean,
      tolerance: Option[String], forward: Boolean, splitSeconds: Long): DataFrame = {
    val gap =
      if (forward) col("__match.__rts") - col(ts) else col(ts) - col("__match.__rts")
    val leftCols = left.columns.toSeq
    splitMatched(left, right, ts, by, payload, allowExact, forward, splitSeconds)
      .withColumn("__match", withinTolerance(col("__match"), gap, tolerance))
      .select(leftCols.map(col) ++ payload.map(p => col(s"__match.$p").as(p)): _*)
  }

  /** [[backward]] for a pathological hot key (one `by` value whose event
    * stream outgrows an executor): identical results, but the per-key
    * sort is split into `splitSeconds`-wide ranges that sort
    * independently, with a one-row carry-in per range. Pick
    * `splitSeconds` so one range of the hottest key fits an executor
    * (e.g. a day for a key logging millions of events per day).
    */
  def backwardSplit(
      left: DataFrame,
      right: DataFrame,
      ts: String,
      by: Seq[String],
      payload: Seq[String],
      splitSeconds: Long,
      allowExact: Boolean = true,
      tolerance: Option[String] = None): DataFrame =
    directionalSplit(left, right, ts, by, payload, allowExact, tolerance,
      forward = false, splitSeconds)

  /** [[forward]] over time-range splits — see [[backwardSplit]]. */
  def forwardSplit(
      left: DataFrame,
      right: DataFrame,
      ts: String,
      by: Seq[String],
      payload: Seq[String],
      splitSeconds: Long,
      allowExact: Boolean = true,
      tolerance: Option[String] = None): DataFrame =
    directionalSplit(left, right, ts, by, payload, allowExact, tolerance,
      forward = true, splitSeconds)

  /** [[nearest]] over time-range splits, computed like unsplit
    * [[nearest]]: ONE union frame carrying both directions' axis and
    * bucket columns (`__tB`/`__bktB` backward, `__tF`/`__bktF` forward)
    * plus each direction's [[virtualCarry]] rows (which expose only
    * their own direction's payload column, so they are invisible to the
    * other direction's `last(..., ignoreNulls)`), then two window
    * passes — partitioned by (key, that direction's bucket) — and the
    * same closer-of-two combine, all on the same rows.
    *
    * No per-row id exists anywhere: an earlier formulation stamped
    * `monotonically_increasing_id` on `left` and evaluated that plan
    * once per direction, but the expression is non-deterministic — if
    * `left` contains an upstream shuffle, fetch order (and so the ids)
    * can differ between the two evaluations, silently pairing one row's
    * backward match with another row's forward match. Computing both
    * directions over one frame removes the id and the join entirely.
    * Cost: two bucket-partitioned shuffle-sorts of |L|+|R| (the split
    * twin of unsplit nearest's one shuffle + two sorts) plus the two
    * summary-sized carry frames.
    */
  def nearestSplit(
      left: DataFrame,
      right: DataFrame,
      ts: String,
      by: Seq[String],
      payload: Seq[String],
      splitSeconds: Long,
      tolerance: Option[String] = None): DataFrame = {
    val splitMicros = requireSplittable(left, ts, splitSeconds)
    // nearest allows exact matches in both directions: right rows sort
    // before left rows on ts ties (same tags as unsplit nearest)
    val (lTag, rTag) = (1, 0)
    def withAxes(df: DataFrame): DataFrame = df
      .withColumn("__tB", unix_micros(col(ts)))
      .withColumn("__bktB", timeBucket(col("__tB"), splitMicros))
      .withColumn("__tF", -unix_micros(col(ts)))
      .withColumn("__bktF", timeBucket(col("__tF"), splitMicros))
    val l2 = withAxes(left
      .withColumn("__side", lit("L")).withColumn("__tag", lit(lTag)))
    val r2 = withAxes(right
      .select((by :+ ts).map(col) :+
        struct(col(ts).as("__rts") +: payload.map(col): _*).as("__p"): _*)
      .withColumn("__side", lit("R")).withColumn("__tag", lit(rTag)))
      .withColumn("__pB", col("__p")).withColumn("__pF", col("__p"))
      .drop("__p")
    val virtB = virtualCarry(l2, r2, by, "__bktB", "__tB", "__pB", rTag)
    val virtF = virtualCarry(l2, r2, by, "__bktF", "__tF", "__pF", rTag)
    def wLoc(bkt: String, t: String, p: String) =
      Window.partitionBy((by :+ bkt).map(col): _*)
        .orderBy(col(t).asc, col("__tag").asc, col(p).asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapB = col(ts) - col("__b.__rts")
    val gapF = col("__f.__rts") - col(ts)
    val leftCols = left.columns.toSeq
    l2.unionByName(r2, allowMissingColumns = true)
      .unionByName(virtB, allowMissingColumns = true)
      .unionByName(virtF, allowMissingColumns = true)
      .withColumn("__b",
        last(col("__pB"), ignoreNulls = true).over(wLoc("__bktB", "__tB", "__pB")))
      .withColumn("__f",
        last(col("__pF"), ignoreNulls = true).over(wLoc("__bktF", "__tF", "__pF")))
      .filter(col("__side") === "L")
      .withColumn("__b", withinTolerance(col("__b"), gapB, tolerance))
      .withColumn("__f", withinTolerance(col("__f"), gapF, tolerance))
      .withColumn("__match",
        when(col("__b").isNull, col("__f"))
          .when(col("__f").isNull, col("__b"))
          .when(gapF < gapB, col("__f"))
          .otherwise(col("__b")))
      .select(leftCols.map(col) ++ payload.map(p => col(s"__match.$p").as(p)): _*)
  }
}
