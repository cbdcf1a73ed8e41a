package graft.streaming

import org.apache.spark.sql.functions._

/** End-to-end streaming example: replay the events fixture through a
  * file-based streaming source (the production shape — drop files in a
  * directory, Spark picks them up incrementally) and run the streaming
  * twins over it.
  *
  * Usage: runMain graft.streaming.StreamDemo [sfDir]
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // stage the fixture as replayable json files (2 "arriving" batches);
    // Tables.events adapts to either physical ts encoding (nanos / µs)
    val stage = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val batch = graft.tables.Tables(spark, sfDir).events
      .select("event_id", "ts", "user_id", "event_type", "value")
    batch.repartition(2).write.mode("overwrite").json(stage)

    val stream = spark.readStream.schema(batch.schema).json(stage)

    val daily = Streams.runToMemory(spark, Streams.tumblingDaily(stream), "demo_daily")
    println(s"[stream] tumbling daily rows: ${daily.count()}")
    daily.orderBy("day", "event_type").show(8, truncate = false)

    val sessions = Streams.runToMemory(spark, Streams.sessionized(stream), "demo_sessions")
    println(s"[stream] sessions: ${sessions.count()}")

    val batchSessions = Streams.sessionized(batch).count()
    println(s"[stream] batch-twin sessions: $batchSessions (match=${sessions.count() == batchSessions})")

    val attributed = Streams.runToMemory(spark,
      Streams.clickAttribution(stream), "demo_attr",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val batchAttributed = Streams.clickAttribution(batch).count()
    println(s"[stream] click-attributed purchases: ${attributed.count()} " +
      s"(batch twin: $batchAttributed, match=${attributed.count() == batchAttributed})")
    spark.stop()
  }
}
