package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** pandas `merge(..., validate='1:1'|'1:m'|'m:1'|'m:m')` — the join
  * that FAILS LOUDLY when key multiplicity violates the declared
  * contract, instead of silently fanning out. At 100 TB a silently
  * m:m-exploding "1:m" join is a data-corruption landmine (row counts
  * inflate, downstream aggregates double-count, and nothing errors);
  * pandas users lean on `validate=` for exactly this, and a Spark port
  * that drops the check loses the safety, not just the syntax.
  *
  * The multiplicity guard is a count-over-key window fused into the
  * side that must be unique: the window's hash-partition-by-key + sort
  * is byte-for-byte the distribution a sort-merge join already
  * requires, so Catalyst reuses the exchange and the check rides the
  * shuffle the join pays anyway — zero extra passes over the data
  * (ExplainAuditSpec pins the single-exchange-per-side shape). The
  * `raise_error` fires lazily at action time from whichever executor
  * meets a violating row, carrying the first offending key.
  */
object ValidatedJoin {

  /** Inner/outer equi-join on `keys` with a multiplicity contract.
    * `validate`: "1:1", "1:m" (left unique), "m:1" (right unique),
    * "m:m" (no check — documents intent only, like pandas).
    */
  def join(left: DataFrame, right: DataFrame, keys: Seq[String],
      how: String = "inner", validate: String = "m:m"): DataFrame = {
    require(Set("1:1", "1:m", "m:1", "m:m")(validate),
      s"validate must be one of 1:1, 1:m, m:1, m:m; got $validate")
    val l = if (validate == "1:1" || validate == "1:m")
      guarded(left, keys, "left") else left
    val r = if (validate == "1:1" || validate == "m:1")
      guarded(right, keys, "right") else right
    l.join(r, keys, how)
  }

  private[operators] def guarded(df: DataFrame, keys: Seq[String],
      side: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    val msg: Column = concat(
      lit(s"validatedJoin: $side side is not unique on " +
        s"(${keys.mkString(", ")}): key ("),
      concat_ws(", ", keys.map(k => col(k).cast("string")): _*),
      lit(") appears "), col("__mult").cast("string"),
      lit(" times; declare m on that side or deduplicate first"))
    // null-keyed rows are exempt: a Spark equi-join never matches a
    // NULL key, so duplicate NULLs cannot fan the join out — raising on
    // them would reject data that is provably harmless here (pandas
    // raises because ITS merge does match NaN keys to each other)
    val allKeysSet: Column = keys.map(col(_).isNotNull).reduce(_ && _)
    // the guard is a FILTER, not a projected-then-dropped column —
    // column pruning would silently delete an unused raise_error
    // projection, and a safety check the optimizer can remove is no
    // safety check
    df.withColumn("__mult", count(lit(1)).over(w))
      .filter(when(allKeysSet && col("__mult") > 1,
          raise_error(msg).cast("boolean"))
        .otherwise(lit(true)))
      .drop("__mult")
  }
}
