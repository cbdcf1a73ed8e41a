package graft.operators

import org.apache.spark.sql.DataFrame

/** Scale-adaptive scan fan-out (r19 optimization round).
  *
  * THE SINGLE-ROW-GROUP TRAP: a parquet file is splittable only at row
  * group boundaries, and every fixture table ships as ONE row group —
  * so every scan stage runs as ONE task, and with whole-stage codegen
  * everything FUSED into that stage (tokenization, n-gram explode,
  * JSON parsing, media codecs, per-row vector math, melt generators)
  * runs on one core while the other 31 idle. That is guide §2.5's
  * "one huge unsplittable file" case, and its fix: repartition
  * immediately after the read, so the heavy per-row work lands above a
  * cheap exchange of the raw bytes and parallelizes.
  *
  * Measured (OPTIMIZATION_r19.md §3, sf0.1, local[32], same-JVM ABAB):
  * text_ngram_novelty 4.61 s with the 1-task scan vs 1.05 s fanned out
  * — the tokenize+explode stage was the query, and it was serial.
  *
  * SCALE-ADAPTIVE, not a local[32] tuning knob: the repartition fires
  * only when the scan's own split count cannot feed the session's
  * cores. At 100 TB a table is thousands of row groups and splits
  * ≥ cores, so this is a structural no-op — the plan is untouched, no
  * exchange is added (the
  * [[NearDup]] prefix pipeline has shipped exactly this guard since
  * r9). Plans that already contain a shuffle barrier (join, aggregate,
  * window, sort, repartition) are left alone too: their parallelism is
  * the shuffle's, and probing `.rdd` under AQE would eagerly execute
  * the upstream stages.
  *
  * Row order: round-robin repartition permutes rows, so callers must
  * not depend on scan order — every declared query ends in a total
  * ORDER BY (SURVEY.md §4.2), and Spark's sort-before-repartition
  * keeps the assignment deterministic under task retry.
  */
object FanOut {

  /** `df` repartitioned to the session's cores when (and only when) it
    * is an exchange-free scan lineage whose splits can't feed them.
    */
  def apply(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val target = df.sparkSession.sparkContext.defaultParallelism
    val shuffled = df.queryExecution.optimizedPlan.find {
      case _: Join | _: Aggregate | _: Distinct | _: Window | _: Sort => true
      case _: Repartition | _: RepartitionByExpression | _: GlobalLimit => true
      case _ => false
    }.isDefined
    if (shuffled || df.rdd.getNumPartitions >= target) df
    else df.repartition(target)
  }
}
