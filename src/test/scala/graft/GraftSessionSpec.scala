package graft

import scala.collection.mutable
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.operators.NearDup
import graft.tables.Tables

/** The specs' shared session is the shipped one: every SQL function
  * [[GraftExtensions]] injects resolves by name with no manual
  * registration, and library operators leave the session's config as
  * they found it.
  */
class GraftSessionSpec extends SparkSpec {

  /** Names GraftExtensions injects, recorded by applying it to a probe. */
  private lazy val injected: Seq[String] = {
    val names = mutable.ArrayBuffer.empty[String]
    new GraftExtensions()(new SparkSessionExtensions {
      override def injectFunction(f: (FunctionIdentifier, ExpressionInfo,
          Seq[Expression] => Expression)): Unit = names += f._1.funcName
    })
    names.toSeq
  }

  test("every function GraftExtensions injects resolves by SQL name") {
    assert(injected.size == 15 && injected.distinct.size == 15, injected)
    val missing = injected.filterNot(spark.catalog.functionExists)
    assert(missing.isEmpty, s"not resolvable on the shared session: $missing")
    val dot = spark.sql(
      "SELECT vector_dot_scaled(array(CAST(0.5 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(4.0 AS FLOAT), CAST(0.25 AS FLOAT)))").head().getLong(0)
    assert(dot == 2.5e14.toLong)
    // [nTokens, nDistinct, topCount, nBigrams, nDistinctBigrams]
    val rep = spark.sql("SELECT repetition_stats('a b a b a')").head().getSeq[Long](0)
    assert(rep == Seq(5L, 2L, 3L, 4L, 2L))
  }

  test("Tables.events and a broadcast-regime near-dup join write no session config") {
    val before = spark.conf.getAll
    val t = Tables(spark, sf)
    assert(t.events.count() > 0)
    val pairs = NearDup.ngramJaccardPairs(t.documents, "doc_id", "text")
    pairs.collect()
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("ShuffledHashJoin"), s"not the broadcast regime:\n$plan")
    val after = spark.conf.getAll
    val changed = (before.keySet ++ after.keySet)
      .filter(k => before.get(k) != after.get(k))
      .map(k => s"$k: ${before.get(k)} -> ${after.get(k)}")
    assert(changed.isEmpty, changed.mkString("\n"))
  }
}
