package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorDotScaled
import graft.functions.VectorFunctions

/** The custom codegen'd expression must be bit-identical to the HOF
  * reference implementation, null-for-null, and SQL-registrable.
  */
class VectorDotSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("native expression equals HOF reference on all fixture pairs") {
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("q"))
    val both = emb.crossJoin(broadcast(q))
      .select(
        VectorFunctions.dotScaled(col("embedding"), col("q")).as("native"),
        VectorFunctions.dotScaledHof(col("embedding"), col("q")).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(both.count() == 0)
  }

  test("double arrays and mixed widths work") {
    val df = Seq((Array(1.0f, 2.0f), Array(0.5, 0.25))).toDF("f", "d")
    val got = df.select(
      VectorFunctions.dotScaled(col("f"), col("d")).as("fd"),
      VectorFunctions.dotScaled(col("d"), col("d")).as("dd"))
      .as[(Long, Long)].head()
    assert(got._1 == math.floor(1.0 * 0.5 * 1e14).toLong + math.floor(2.0 * 0.25 * 1e14).toLong)
    assert(got._2 == math.floor(0.25 * 1e14).toLong + math.floor(0.0625 * 1e14).toLong)
  }

  test("length mismatch and null arrays produce null") {
    val df = Seq(
      (Some(Array(1.0f, 2.0f)), Some(Array(1.0f))),
      (None, Some(Array(1.0f)))).toDF("a", "b")
    val got = df.select(VectorFunctions.dotScaled(col("a"), col("b")))
      .as[Option[Long]].collect().toSeq
    assert(got == Seq(None, None))
  }

  test("interpreted eval path matches codegen") {
    // force the interpreted path by evaluating the expression directly
    val e = VectorDotScaled(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(0.5f, 0.5f), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(2.0f, 4.0f), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))
    val interpreted = e.eval(null)
    val viaDf = Seq((Array(0.5f, 0.5f), Array(2.0f, 4.0f))).toDF("a", "b")
      .select(VectorFunctions.dotScaled(col("a"), col("b"))).as[Long].head()
    assert(interpreted == viaDf)
  }

  test("SQL registration via the GraftExtensions function triple") {
    emb.createOrReplaceTempView("emb_sql")
    val viaSql = spark.sql(
      """SELECT sum(vector_dot_scaled(embedding, embedding)) FROM emb_sql""")
      .as[Long].head()
    val viaDsl = emb.select(
        VectorFunctions.dotScaled(col("embedding"), col("embedding")).as("d"))
      .agg(sum("d")).as[Long].head()
    assert(viaSql == viaDsl)
  }
}
