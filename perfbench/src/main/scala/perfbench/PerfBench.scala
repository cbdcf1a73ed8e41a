package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import graft.operators.Ann
import graft.streaming.Streams
import graft.tables.Tables

/** JVM half of the benchmark: runs one workload against inputs that
  * perfbench/run.py generated, times every call into the library from
  * outside, and writes the raw record (setup reps, op spans, per-span
  * engine counters, file-system stats) as JSON. run.py turns the record
  * into metrics and checks the outputs written by the off-clock check
  * phase.
  *
  * One client thread, closed loop: each operation starts when the
  * previous one has finished.
  */
object PerfBench {

  // ------------------------------------------------------------ spans

  /** A timed interval. Spans of kind pass/op/apply/read/vacuum are
    * always kept (the end-to-end numbers need them); the inner
    * build/plan/exec spans and the engine counters only in traced mode.
    */
  final class Span(val id: Int, val parent: Int, val name: String,
      val kind: String, val pass: Int) {
    val start: Long = System.nanoTime()
    val startCpu: Long = processCpuNanos()
    var end: Long = -1L
    var ok: Boolean = true
    val counters: mutable.Map[String, Double] = mutable.Map.empty
  }

  final class Tracer(val traced: Boolean) {
    val spans = mutable.ArrayBuffer.empty[Span]
    private var stack: List[Span] = Nil
    var spark: SparkSession = _
    var pass: Int = -1
    /** Whether inner spans and counter attribution are being recorded now
      * (a traced run switches it off for its untraced passes). */
    var on: Boolean = traced

    /** The innermost open span. */
    def current: Span = stack.head

    /** Set a span counter; the listener thread adds to counters too. */
    def set(s: Span, key: String, value: Double): Unit =
      spans.synchronized { s.counters(key) = value }

    /** Open a span around `body`; `inner` spans exist only while `on`. */
    def span[T](name: String, kind: String, inner: Boolean = false)(body: => T): T = {
      if (inner && !on) return body
      val s = spans.synchronized {
        val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
          name, kind, pass)
        spans += s
        s
      }
      stack = s :: stack
      if (on) spark.sparkContext.setLocalProperty(SpanProp, s.id.toString)
      try body
      catch { case e: Throwable => s.ok = false; throw e }
      finally {
        s.end = System.nanoTime()
        if (!inner) set(s, "cpu_s", (processCpuNanos() - s.startCpu) / 1e9)
        stack = stack.tail
        if (on) spark.sparkContext.setLocalProperty(SpanProp,
          stack.headOption.map(_.id.toString).orNull)
      }
    }
  }

  val SpanProp = "perfbench.span"

  /** Engine counters per span, from Spark's public listener bus: a job
    * carries the span id that was open when it was submitted (a local
    * property), and every task of its stages adds to that span.
    */
  final class Counters(tracer: Tracer) extends SparkListener {
    private val stageSpan = mutable.Map.empty[Int, Int]
    @volatile var pending = 0
    @volatile var lastEvent: Long = System.nanoTime()

    private def add(spanId: Int, k: String, v: Double): Unit =
      tracer.spans.synchronized {
        if (spanId >= 0 && spanId < tracer.spans.size) {
          val c = tracer.spans(spanId).counters
          c(k) = c.getOrElse(k, 0.0) + v
        }
      }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      lastEvent = System.nanoTime(); pending += 1
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      e.stageIds.foreach(stageSpan(_) = id)
      add(id, "jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      lastEvent = System.nanoTime(); pending -= 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      lastEvent = System.nanoTime()
      add(stageSpan.getOrElse(e.stageInfo.stageId, -1), "stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      lastEvent = System.nanoTime()
      val id = stageSpan.getOrElse(e.stageId, -1)
      add(id, "tasks", 1)
      if (!e.taskInfo.successful) add(id, "failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add(id, "task_cpu_s", m.executorCpuTime / 1e9)
        add(id, "task_run_s", m.executorRunTime / 1e3)
        add(id, "gc_s", m.jvmGCTime / 1e3)
        add(id, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(id, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(id, "shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add(id, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add(id, "scan_rows", m.inputMetrics.recordsRead.toDouble)
        add(id, "scan_bytes", m.inputMetrics.bytesRead.toDouble)
        tracer.spans.synchronized {
          if (id >= 0) {
            val c = tracer.spans(id).counters
            c("peak_task_mem_bytes") = math.max(c.getOrElse("peak_task_mem_bytes", 0.0),
              m.peakExecutionMemory.toDouble)
          }
        }
      }
    }

    /** The listener bus is asynchronous: wait until every started job has
      * ended and the bus has been quiet for a moment. */
    def drain(): Unit = {
      val deadline = System.nanoTime() + 20e9.toLong
      while (System.nanoTime() < deadline &&
        (pending > 0 || System.nanoTime() - lastEvent < 300e6.toLong))
        Thread.sleep(50)
    }
  }

  // -------------------------------------------------------- workloads

  /** One operation of a query workload: `build` makes the result frame
    * (for the ANN ops it builds the index first); `release` frees what
    * build pinned. */
  final case class Op(name: String, family: String,
      build: () => DataFrame, release: () => Unit = () => ())

  /** llm_dataprep: text scoring, near-duplicate document pairs, vector
    * top-k and sequence packing (the ANN build/probe ops are added by
    * [[annOps]]). Spark's fixed per-query cost dominates at this input
    * size, so one op per family is what fits enough steady passes into
    * one run. */
  val LlmQueries: Seq[String] = Seq(
    "text_quality_score", "dedup_docs_ngram_jaccard", "vec_topk_batch",
    "pack_sequences")

  /** The tables each workload reads (table registration in setup). */
  val WorkloadTables: Map[String, Seq[String]] = Map(
    "llm_dataprep" -> Seq("documents", "embeddings"),
    "table_maintain" -> Seq("customer", "orders"))

  def family(name: String): String = name.takeWhile(_ != '_')

  def queryOps(spark: SparkSession, dir: String, names: Seq[String]): Seq[Op] =
    names.map(n => Op(n, family(n), () => SparkEntry.queries(n)(spark, dir)))

  /** Direct index build/probe calls into operators.Ann (IVF and PQ):
    * build is the index with its pinned frame materialized, probe is the
    * query. */
  def annOps(spark: SparkSession, dir: String): Seq[Op] = {
    val t = Tables(spark, dir)
    def emb = t.embeddings
    // 16 query vectors chosen by content, so every seed probes the same
    def queries = emb.orderBy(xxhash64(col("embedding")), col("vec_id")).limit(16)
      .select(col("vec_id").as("query_id"), col("embedding"))
    var ivf: Option[Ann.IvfIndex] = None
    var pq: Option[Ann.PqIndex] = None
    Seq(
      Op("ann.ivf_build_probe", "ann", () => {
        val idx = Ann.ivfBuild(emb, "embedding"); ivf = Some(idx)
        idx.assigned.count()
        Ann.ivfProbeBatch(idx, queries, "embedding", "vec_id", "query_id", 10)
      }, () => ivf.foreach(_.release())),
      Op("ann.pq_build_probe", "ann", () => {
        val idx = Ann.pqBuild(emb, "embedding", "vec_id"); pq = Some(idx)
        idx.codes.count()
        Ann.pqProbe(idx, emb, queries.limit(1), "embedding", "vec_id", 10)
      }, () => pq.foreach(_.release())))
  }

  // ------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val steady = a("passes").toInt
    val tracer = new Tracer(a("trace") == "1")
    val dirs = a("dirs").split(",").toSeq
    val work = a("work")
    val cores = a("cores")
    val record = mutable.LinkedHashMap.empty[String, Any]
    val probes = mutable.ArrayBuffer(cpuProbe(), cpuProbe())
    val steal0 = procStat()

    // ---- setup: session once, then table registration + warm-up per rep
    val t0 = System.nanoTime()
    val spark = GraftSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionStart = (System.nanoTime() - t0) / 1e9
    tracer.spark = spark
    val counters = new Counters(tracer)
    if (tracer.traced) spark.sparkContext.addSparkListener(counters)

    val setups = dirs.map { dir =>
      val load = timed {
        WorkloadTables(workload).foreach(t => spark.read.parquet(s"$dir/$t.parquet").count())
      }
      // one shuffle + whole-stage-codegen aggregate, as graft.Bench warms up
      val warm = timed {
        spark.range(100000).groupBy(col("id") % 10).agg(sum("id")).collect()
      }
      Map("load_s" -> load, "warmup_s" -> warm)
    }
    record("session_start_s") = sessionStart
    record("setups") = setups
    val dir = dirs.last
    val rng = new scala.util.Random(seed)

    val maintain =
      if (workload == "table_maintain") Some(new Maintain(spark, tracer, dir, s"$work/tables"))
      else None
    def ops(): Seq[Op] = queryOps(spark, dir, LlmQueries) ++ annOps(spark, dir)
    val runPass: Int => Unit = maintain match {
      case Some(m) => m.pass
      case None =>
        val all = ops()
        record("oracle_sql") = all.flatMap(o => SparkEntry.oracleSql.get(o.name).map(o.name -> _)).toMap
        p => queryPass(tracer, rng.shuffle(all), if (p == 0) Some(s"$work/out") else None)
    }
    // pass 0 is timed as the cold pass; pass 1 only warms up (the JIT is
    // still compiling after one pass); then `steady` measured passes. The
    // pass count is fixed, not the time: the JIT keeps warming for several
    // passes, so a time-bounded loop would measure warmer passes on a
    // faster machine.
    for (p <- 0 until steady + 2) {
      tracer.pass = p
      // traced runs alternate traced and untraced steady passes, so the
      // same run measures what tracing costs
      tracer.on = tracer.traced && p % 2 == 0
      val kind = if (p == 1) "warm" else if (tracer.on || !tracer.traced) "pass" else "pass_untraced"
      tracer.span(s"pass$p", kind)(runPass(p))
    }
    val rss = vmHwmMb()
    probes += cpuProbe()
    val steal1 = procStat()

    // ---- off-clock check phase
    tracer.pass = -1
    tracer.on = false
    val checks = maintain match {
      case Some(m) => m.check(s"$work/out")
      case None =>
        // the cold pass wrote every result; ops without an oracle run once
        // more, and the two runs' digests must agree
        val failedOps = tracer.spans.filter(s => s.pass == 0 && !s.ok).map(_.name).toSet
        val res = mutable.LinkedHashMap.empty[String, Any]
        for (op <- ops()) {
          res(op.name) = if (failedOps(op.name)) "failed in the cold pass"
          else if (SparkEntry.oracleSql.contains(op.name)) "written"
          else try {
            Ann.clearIndexes()
            try op.build().write.mode("overwrite").parquet(s"$work/out/${op.name}.again")
            finally op.release()
            "written"
          } catch { case e: Throwable => s"failed: $e" }
        }
        if (tracer.traced)
          record("neardup_pairs") = graft.operators.NearDup.ngramJaccardPairs(
            Tables(spark, dir).documents, "doc_id", "text", 3, 0.5).count()
        res
    }
    if (tracer.traced) counters.drain()

    record("checks") = checks
    record("peak_rss_mb") = rss
    record("cpu_probe_s") = probes.toSeq
    record("steal_frac") = {
      val (s, t) = (steal1._1 - steal0._1, steal1._2 - steal0._2)
      if (t > 0) s.toDouble / t else 0.0
    }
    record("cores") = cores.toInt
    record("spans") = tracer.spans.filter(_.end >= 0).map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
        "pass" -> s.pass, "start" -> (s.start - t0) / 1e9, "end" -> (s.end - t0) / 1e9,
        "ok" -> s.ok, "counters" -> s.counters.toMap)
    }.toSeq
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.writeString(Paths.get(a("out")), mapper.writeValueAsString(record))
    spark.stop()
  }

  /** One pass over the ops in the given order; each op is timed as a
    * whole, and in traced mode split into build / plan / exec. */
  def queryPass(tracer: Tracer, ops: Seq[Op], out: Option[String]): Unit = {
    // Ann memoizes indexes per plan: clear so every pass does the same work
    Ann.clearIndexes()
    for (op <- ops) logFailure(op.name)(tracer.span(op.name, "op:" + op.family) {
      val df = tracer.span("build", "build", inner = true)(op.build())
      try {
        val plan = tracer.span("plan", "plan", inner = true)(df.queryExecution.executedPlan)
        tracer.span("exec", "exec", inner = true)(out match {
          // the cold pass is a one-off batch job: it writes its results,
          // which the check phase then compares
          case Some(dir) => df.write.mode("overwrite").parquet(s"$dir/${op.name}")
          // steady passes consume every output row without a sink: the
          // plan forced above runs as is, nothing is re-planned
          case None => plan.execute().foreach(_ => ())
        })
      } finally op.release()
    })
  }

  // ---------------------------------------------------- table_maintain

  /** Writes beside reads: seeded upsert and I/U/D CDC batches through the
    * log-structured layout, vacuum on a cadence, and after each batch a
    * read of the current state and of one earlier version. Each pass
    * starts from empty tables, so every pass does the same work. */
  final class Maintain(spark: SparkSession, tracer: Tracer, dir: String,
      tablesDir: String) {
    val SnapshotEvery = 2
    val VacuumEvery = 2
    val KeepSnapshots = 1
    private val log = s"$dir/changes"
    private val manifest = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$log/manifest.json"))
    val batches: Int = manifest.get("batches").asInt()
    val replays: Seq[(Int, Int)] = manifest.get("replays").elements().asScala
      .map(n => n.get("at").asInt() -> n.get("batch").asInt()).toSeq
    private def upsert(b: Int) = spark.read.parquet(s"$log/upsert_$b.parquet")
    private def cdc(b: Int) = spark.read.parquet(s"$log/cdc_$b.parquet")
    private val keys = Seq("o_orderkey")
    private var lastPass = -1

    private def dirs(pass: Int): (String, String) =
      (s"$tablesDir/p$pass/upsert", s"$tablesDir/p$pass/cdc")

    private def read(name: String, kind: String, tableDir: String, target: Int)(df: => DataFrame): Unit = {
      val folds = deltasFolded(tableDir, target)
      logFailure(name)(tracer.span(name, kind) {
        tracer.set(tracer.current, "deltas_folded", folds)
        val d = tracer.span("build", "build", inner = true)(df)
        val plan = tracer.span("plan", "plan", inner = true)(d.queryExecution.executedPlan)
        tracer.span("exec", "exec", inner = true)(plan.execute().foreach(_ => ()))
      })
    }

    /** A batch apply, with what it wrote measured from outside: bytes and
      * files added under the table dir, and whether a replay left the
      * table untouched. */
    private def apply(name: String, kind: String, tableDir: String)(body: => Unit): Unit = {
      val before = dirStats(tableDir)
      val ptr = pointer(tableDir)
      logFailure(name) {
        val s = tracer.span(name, kind) { body; tracer.current }
        val after = dirStats(tableDir)
        tracer.set(s, "fs_bytes_written", (after._1 - before._1).max(0L).toDouble)
        tracer.set(s, "fs_files_written", (after._2 - before._2).max(0L).toDouble)
        tracer.set(s, "replay_skipped",
          if (ptr.nonEmpty && pointer(tableDir) == ptr && after == before) 1 else 0)
      }
    }

    def pass(p: Int): Unit = {
      if (lastPass >= 0) deleteTree(Paths.get(s"$tablesDir/p$lastPass"))
      lastPass = p
      val (up, cd) = dirs(p)
      for (b <- 0 to batches) {
        apply(s"upsert_apply_$b", "apply:upsert", up)(
          Streams.applyUpsertBatch(upsert(b), b, up, SnapshotEvery))
        apply(s"cdc_apply_$b", "apply:cdc", cd)(
          Streams.applyCdcBatch(cdc(b), b, cd, keys, snapshotEvery = SnapshotEvery))
        for ((at, r) <- replays if at == b) {
          apply(s"upsert_replay_$r", "replay:upsert", up)(
            Streams.applyUpsertBatch(upsert(r), r, up, SnapshotEvery))
          apply(s"cdc_replay_$r", "replay:cdc", cd)(
            Streams.applyCdcBatch(cdc(r), r, cd, keys, snapshotEvery = SnapshotEvery))
        }
        read(s"upsert_read_$b", "read:current", up, b)(Streams.readUpsertTable(spark, up))
        read(s"cdc_read_$b", "read:current", cd, b)(Streams.readCdcTable(spark, cd, keys))
        // one earlier version, of each table in turn; the version
        // before b is always inside the retained window
        val v = b - 1
        if (b > 0 && b % 2 == 1) read(s"upsert_read_v$v", "read:version", up, v)(
          Streams.readUpsertTableVersion(spark, up, v))
        if (b > 0 && b % 2 == 0) read(s"cdc_read_v$v", "read:version", cd, v)(
          Streams.readCdcTableVersion(spark, cd, v, keys))
        if (b > 0 && b % VacuumEvery == 0) logFailure(s"vacuum_$b")(tracer.span(s"vacuum_$b", "vacuum") {
          Streams.vacuumVersions(spark, up, KeepSnapshots)
          Streams.vacuumVersions(spark, cd, KeepSnapshots)
        })
      }
      tracer.set(tracer.current, "versions_retained",
        Seq(up, cd).map(d => versionDirs(d).size).sum.toDouble)
    }

    /** Deltas a read of `target` folds: those after the newest snapshot at
      * or before it (a listing from outside). */
    private def deltasFolded(tableDir: String, target: Int): Double = {
      val names = versionDirs(tableDir)
      val snap = names.filter(_.startsWith("v")).map(_.drop(1).toInt)
        .filter(_ <= target).maxOption.getOrElse(0)
      names.count(n => n.startsWith("d") && { val i = n.drop(1).toInt; i > snap && i <= target })
        .toDouble
    }

    /** Off the clock, on the last timed pass's tables: write the current
      * state and every retained earlier version of both tables for run.py
      * to compare against a fold of the change log, and a compacted copy
      * of the live state for the stored-bytes ratio. */
    def check(out: String): Map[String, Any] = {
      val (up, cd) = dirs(lastPass)
      def write(df: DataFrame, name: String): Unit =
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      write(Streams.readUpsertTable(spark, up), "upsert_current")
      write(Streams.readCdcTable(spark, cd, keys), "cdc_current")
      val versions = (0 until batches).filter(v =>
        versionDirs(up).exists(_.drop(1).toInt == v) && versionDirs(cd).exists(_.drop(1).toInt == v))
      for (v <- versions) {
        write(Streams.readUpsertTableVersion(spark, up, v), s"upsert_v$v")
        write(Streams.readCdcTableVersion(spark, cd, v, keys), s"cdc_v$v")
      }
      Map(
        "versions" -> versions,
        "batches" -> batches,
        "stored_bytes" -> Seq(up, cd).map(d => dirStats(d)._1).sum,
        "live_bytes" -> Seq("upsert_current", "cdc_current").map(n => dirStats(s"$out/$n")._1).sum)
    }

    private def pointer(tableDir: String): String = {
      val f = Paths.get(tableDir, "_current")
      if (Files.exists(f)) Files.readString(f) else ""
    }
  }

  // ---------------------------------------------------------- helpers

  /** A failed operation is counted (its span is marked failed), logged,
    * and the run goes on. */
  def logFailure(name: String)(body: => Unit): Unit =
    try body catch { case e: Throwable => System.err.println(s"[perfbench] $name FAILED: $e") }

  def timed(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }

  def versionDirs(tableDir: String): Seq[String] = {
    val d = new java.io.File(tableDir)
    Option(d.list()).map(_.toSeq).getOrElse(Nil).filter(_.matches("[vd]\\d+"))
  }

  /** (bytes, data files) under a directory, Hadoop checksum files excluded. */
  def dirStats(path: String): (Long, Long) = {
    val p = Paths.get(path)
    if (!Files.exists(p)) return (0L, 0L)
    val files = Files.walk(p).iterator().asScala.filter(f => Files.isRegularFile(f) &&
      !f.getFileName.toString.endsWith(".crc")).toSeq
    (files.map(Files.size).sum, files.count(_.getFileName.toString.endsWith(".parquet")).toLong)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole driver JVM (every thread: tasks, JIT, GC). */
  def processCpuNanos(): Long = os.getProcessCpuTime

  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private var blackhole = 0L

  /** Fixed-work single-thread CPU probe (graft.Bench's): its wall time
    * against the run's best shows how much a noisy neighbour slowed the
    * core. */
  def cpuProbe(): Double = {
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    val t0 = System.nanoTime()
    while (i < 150000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    blackhole ^= x
    (System.nanoTime() - t0) / 1e9
  }

  /** (steal, total) jiffies from /proc/stat. */
  def procStat(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
        .trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }
}
