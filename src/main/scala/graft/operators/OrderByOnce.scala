package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.storage.StorageLevel

/** Global orderBy without the range-exchange double-execution
  * (r18 optimization round).
  *
  * A global sort range-partitions its input, and Spark's
  * `RangePartitioner` SAMPLES the child RDD to choose partition bounds
  * — so everything between the previous shuffle boundary and the sort
  * executes TWICE: once for the sampling job, once for the real
  * exchange (guide §7.2's "duplicated subtrees" in live form; the
  * upstream shuffle files are reused, but the post-shuffle stage — the
  * window evaluation, the heavy projection, the per-row codec — is
  * exactly the part that re-runs). For a declared query whose tail is
  * `expensive-pipeline → orderBy`, that is a structural 2× on the
  * pipeline's final stage.
  *
  * Fix: persist the pre-sort frame (MEMORY_AND_DISK) so the sampling
  * pass is the one that materializes it and the real exchange is a
  * cache read; [[CacheLifecycle.releaseAfterAction]] frees the blocks
  * after the consuming action, so nothing outlives the query (the
  * dedup-components discipline — each invocation builds and releases
  * its own blocks; nothing is memoized across runs).
  *
  * persist, NOT localCheckpoint: a persisted plan keeps its lineage
  * (block loss recomputes instead of failing the job — the caveat that
  * makes localCheckpoint single-box-only) and keeps the child plan
  * visible to explain/ExplainAuditSpec, so every scan/window/pushdown pin
  * still sees the real tree. At scale the trade is one
  * materialization of the output frame (spilling to disk past memory)
  * against re-running the output-producing stage — a win whenever that
  * stage is more than a trivial projection, which is the application
  * rule: queries whose pre-sort tail is scan+cheap-project keep the
  * plain orderBy. LIMIT-TERMINATED sorts are likewise excluded
  * (r19 ADVICE): `orderBy(...).limit(n)` compiles to
  * TakeOrderedAndProject — a per-partition top-n with no range
  * partitioner and hence no sampling pass — so there is no
  * double-execution to remove and the barrier would only add a full
  * materialization of the pre-limit frame.
  *
  * Measured (OPTIMIZATION_r18.md §3, sf0.1, local[32], same-JVM passes):
  * rolling-zscore noop-sink min 2.37 s as declared vs 1.05 s through
  * this barrier; the no-sort body alone is 1.14 s — the barrier
  * removes virtually the whole double-execution.
  */
object OrderByOnce {

  /** `df.orderBy(cols…)` with the pre-sort frame materialized once. */
  def apply(df: DataFrame, cols: Column*): DataFrame = {
    val barrier = df.persist(StorageLevel.MEMORY_AND_DISK)
    CacheLifecycle.releaseAfterAction(barrier.orderBy(cols: _*), Seq(barrier))
  }

  /** `.orderByOnce(…)` syntax mirroring both `Dataset.orderBy`
    * overloads, so a query's tail converts with a one-word change.
    */
  implicit final class Ops(private val df: DataFrame) extends AnyVal {
    def orderByOnce(cols: Column*): DataFrame = OrderByOnce(df, cols: _*)
    def orderByOnce(first: String, rest: String*): DataFrame =
      OrderByOnce(df, (first +: rest).map(org.apache.spark.sql.functions.col): _*)
  }
}
