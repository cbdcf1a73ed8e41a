package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import java.util.concurrent.atomic.AtomicLong

/** Measurement scratch tool (guide §1): time any DECLARED queries
  * through the noop sink with per-query stage metrics — memory/disk
  * spill, shuffle bytes written/read, summed executor task time — from
  * a stage listener, so "where does the time go" is answered from data
  * (it generalizes the per-query decomposition that found the 29 GB
  * aggregate spill behind graph_resource_alloc's 15 s,
  * OPTIMIZATION_r19.md §7).
  *
  *   SPARK_GRAFT_CPUS=32 runMain graft.tools.QueryProbe <query> [query…] [sfDir]
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QueryProbe <query> [query…] [sfDir]")
    val (names, sfDir) =
      if (graft.SparkEntry.queries.contains(args.last))
        (args.toSeq, "/root/testdata/sf0.1")
      else {
        require(new java.io.File(args.last).isDirectory,
          s"'${args.last}' is neither a declared query nor a directory")
        (args.init.toSeq, args.last)
      }
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption).getOrElse(32)
    val spark = graft.GraftSession.local(cpus)

    val spillMem = new AtomicLong; val spillDisk = new AtomicLong
    val shufW = new AtomicLong; val shufR = new AtomicLong
    val taskTime = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val m = s.stageInfo.taskMetrics
        spillMem.addAndGet(m.memoryBytesSpilled)
        spillDisk.addAndGet(m.diskBytesSpilled)
        shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        taskTime.addAndGet(m.executorRunTime)
      }
    })
    // warm the fixture readers like Bench does, so pass-1 cold cost
    // doesn't masquerade as query cost
    graft.tables.Tables(spark, sfDir).lineitem.count()

    names.foreach { name =>
      val ts = (1 to 3).map { _ =>
        graft.operators.Ann.clearIndexes()
        spillMem.set(0); spillDisk.set(0); shufW.set(0); shufR.set(0); taskTime.set(0)
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // listener bus drains async
        (dt, spillMem.get, spillDisk.get, shufW.get, shufR.get, taskTime.get)
      }
      val best = ts.minBy(_._1)
      def mb(b: Long) = f"${b / 1e6}%.0fMB"
      println(f"[qprobe] $name%-28s min=${best._1}%6.2f  " +
        f"passes=${ts.map(t => f"${t._1}%.2f").mkString(",")}  " +
        f"spill=${mb(best._2)}/${mb(best._3)} shufW=${mb(best._4)} " +
        f"shufR=${mb(best._5)} taskSec=${best._6 / 1000.0}%.0f")
    }
    spark.stop()
  }
}
