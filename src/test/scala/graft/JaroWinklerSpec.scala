package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{JaroWinkler, JaroWinklerKernel}
import org.apache.spark.unsafe.types.UTF8String

/** Pins the Jaro–Winkler kernel to DuckDB 1.0.0 semantics. The
  * expected doubles below are VERBATIM DuckDB outputs
  * (`SELECT jaro_winkler_similarity(a, b)`, captured 2026-08-14) —
  * equality is exact, not approximate, because the declared query
  * hash-matches unrounded doubles. Also pins the byte (not codepoint)
  * semantics, the 0.7 boost threshold, the prefix cap at 4, and the
  * blocked query's recall against an unblocked cross product.
  */
class JaroWinklerSpec extends SparkSpec {
  import spark.implicits._

  private def jw(a: String, b: String): Double =
    JaroWinklerKernel.jaroWinkler(
      UTF8String.fromString(a), UTF8String.fromString(b))

  test("kernel equals DuckDB bit-for-bit on the probe table") {
    val expected = Seq(
      ("", "", 0.0), ("a", "", 0.0), ("", "a", 0.0),
      ("a", "a", 1.0), ("abc", "abc", 1.0),
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("jellyfish", "smellyfish", 0.8962962962962964),
      ("dwayne", "duane", 0.8400000000000001),
      ("ab", "ba", 0.0),               // window 0: same-position only
      ("abcd", "badc", 0.8333333333333334),
      ("crate", "trace", 0.7333333333333334),
      ("xxprefix", "xxprefiy", 0.95),
      ("prefixxx", "prefixyy", 0.9),   // prefix capped at 4
      ("x", "y", 0.0),
      ("aaaaaab", "aaaaaba", 0.9714285714285714),
      ("aaxxxxxx", "aayyyyyy", 0.5),   // jaro == 0.5 <= 0.7: NO boost
      ("ab", "abcdefghijklmnop", 0.7666666666666667),
      ("a", "ab", 0.8500000000000001),
      ("abcdef", "abc", 0.8833333333333334),
      ("ABc", "abc", 0.5555555555555555), // case-sensitive
      ("héllo", "hello", 0.8400000000000001), // UTF-8 BYTES: 6 vs 5
      ("日本語abc", "日本語abd", 0.9666666666666666))
    for ((a, b, want) <- expected)
      assert(jw(a, b) == want, s"jw('$a','$b') = ${jw(a, b)}, want $want")
  }

  test("interpreted eval and codegen agree; nulls propagate") {
    val df = Seq(("martha", "marhta"), ("crate", "trace"))
      .toDF("a", "b")
    val viaCodegen = df
      .select(JaroWinkler.columnFor(col("a"), col("b")).as("jw"))
      .as[Double].collect().toSeq
    assert(viaCodegen == Seq(0.9611111111111111, 0.7333333333333334))
    val withNull = Seq((Some("x"), None: Option[String]))
      .toDF("a", "b")
      .select(JaroWinkler.columnFor(col("a"), col("b")))
    assert(withNull.collect().head.isNullAt(0))
  }

  test("SQL registration via the GraftExtensions function triple") {
    val r = spark.sql("SELECT jaro_winkler('dixon', 'dicksonx')")
      .head().getDouble(0)
    assert(r == 0.8133333333333332)
  }

  test("shared-token blocking recovers every >=0.85 pair of the fixture vocabulary") {
    val names = spark.read.parquet(s"$sf/part.parquet")
      .select(col("p_name").as("name")).filter(col("name").isNotNull)
      .distinct().as[String].collect()
    // unblocked reference: full cross product through the same kernel
    val all = (for {
      a <- names; b <- names if a < b
      s = jw(a, b) if s >= 0.85
    } yield (a, b, s)).sortBy(p => (p._1, p._2)).toSeq
    val blocked = graft.queries.Joins.joinFuzzyJaro(spark, sf)
      .as[(String, String, Double)].collect().toSeq
    assert(blocked == all,
      s"blocking must not lose pairs: got ${blocked.size}, want ${all.size}")
    assert(all.nonEmpty, "fixture must exercise the join")
  }
}
