package graft

import org.apache.spark.sql.functions._
import graft.operators.{Ann, Bucketing}
import graft.streaming.Streams

/** Round-17 retention + compaction for the maintained layouts (r16
  * verdict #1): vacuum for the versioned pointer-flipped table,
  * bucket-preserving compaction for appended bucketed tables, cell-tree
  * compaction for appended ANN index layouts. Every test proves reads
  * are identical before/after and the layout invariant (files/bucket or
  * files/cell back to 1) is restored.
  */
class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def at(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")

  private def versionDirs(table: String): Set[String] =
    Option(new java.io.File(table).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.matches("v\\d+")).toSet

  test("vacuumVersions keeps the newest keepN, time travel inside the window, loud outside") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vacuum").toString
    val table = s"$dir/table"
    (0 to 4).foreach { i =>
      Streams.applyUpsertBatch(
        Seq(Ev(i.toLong + 1, at(i), 100L + i % 2, "click", i.toDouble)).toDF(),
        i.toLong, table)
    }
    val before = Streams.readUpsertTable(spark, table)
      .select("event_id").as[Long].collect().toSet
    val deleted = Streams.vacuumVersions(spark, table, keepN = 2)
    assert(deleted == Seq(0L, 1L, 2L))
    assert(versionDirs(table) == Set("v3", "v4"))
    // the served state is untouched
    assert(Streams.readUpsertTable(spark, table)
      .select("event_id").as[Long].collect().toSet == before)
    // time travel works exactly over the retained window
    assert(Streams.readUpsertTableVersion(spark, table, 3L).count() > 0)
    val gone = intercept[IllegalArgumentException](
      Streams.readUpsertTableVersion(spark, table, 1L))
    assert(gone.getMessage.contains("available: v3, v4"))
    // idempotent: nothing left to expire
    assert(Streams.vacuumVersions(spark, table, keepN = 2).isEmpty)
    intercept[IllegalArgumentException](
      Streams.vacuumVersions(spark, table, keepN = 0))
  }

  /** Committed v0 and v2 (the pointer), plus two crash leftovers: v1,
    * debris of a batch whose id sits BELOW the pointer but never
    * completed (no _SUCCESS), and v99, a complete version NEWER than
    * the pointer — the crashed-flip state the writer's replay path
    * finishes.
    */
  private def crashedFlipFixture(prefix: String): String = {
    val table = java.nio.file.Files.createTempDirectory(prefix).toString + "/table"
    Streams.applyUpsertBatch(
      Seq(Ev(1, at(0), 100L, "click", 1.0)).toDF(), 0L, table)
    Streams.applyUpsertBatch(
      Seq(Ev(2, at(1), 100L, "click", 2.0)).toDF(), 2L, table)
    assert(new java.io.File(s"$table/v1").mkdir())
    assert(new java.io.File(s"$table/v99").mkdir())
    assert(new java.io.File(s"$table/v99/_SUCCESS").createNewFile())
    table
  }

  test("vacuumVersions spares crashed-flip versions newer than the pointer, eats old debris") {
    // v1 is in the expired window and must go; vacuum must not touch v99
    val table = crashedFlipFixture("graft_vacuum2")
    val deleted = Streams.vacuumVersions(spark, table, keepN = 1)
    assert(deleted == Seq(0L, 1L))
    assert(versionDirs(table) == Set("v2", "v99"))
    assert(Streams.readUpsertTable(spark, table)
      .select("event_id").as[Long].collect().toSet == Set(2L))
    // uncommitted table (no pointer): refuse rather than guess
    val fresh = java.nio.file.Files.createTempDirectory("graft_vacuum3").toString
    new java.io.File(s"$fresh/table/v0").mkdirs()
    intercept[IllegalStateException](
      Streams.vacuumVersions(spark, s"$fresh/table", keepN = 1))
  }

  test("time travel serves only committed versions: never newer than the pointer, never debris") {
    val table = crashedFlipFixture("graft_tt_bound")
    // the current read refuses v99 (the pointer says v2); time travel
    // must refuse it too, and list only complete versions ≤ the pointer
    Seq(99L, 1L).foreach { v =>
      val e = intercept[IllegalArgumentException](
        Streams.readUpsertTableVersion(spark, table, v))
      assert(e.getMessage.contains("(available: v0, v2)"), e.getMessage)
    }
    assert(Streams.readUpsertTableVersion(spark, table, 2L)
      .select("event_id").as[Long].collect().toSet == Set(2L))
  }

  test("vacuumVersions: debris inside the keepN window never displaces a committed version") {
    // r17 review finding: with v0 committed, v3 debris, pointer v5 and
    // keepN=2, counting v3 as committed would keep {v3, v5} and delete
    // the READABLE v0 — the retained window must be {v0, v5}
    val dir = java.nio.file.Files.createTempDirectory("graft_vacuum4").toString
    val table = s"$dir/table"
    Streams.applyUpsertBatch(
      Seq(Ev(1, at(0), 100L, "click", 1.0)).toDF(), 0L, table)
    Streams.applyUpsertBatch(
      Seq(Ev(2, at(1), 100L, "click", 2.0)).toDF(), 5L, table)
    assert(new java.io.File(s"$table/v3").mkdir()) // no _SUCCESS: debris
    val deleted = Streams.vacuumVersions(spark, table, keepN = 2)
    assert(deleted == Seq(3L), s"got $deleted")
    assert(versionDirs(table) == Set("v0", "v5"))
    assert(Streams.readUpsertTableVersion(spark, table, 0L).count() == 1)
  }

  test("Bucketing.compact: files/bucket back to 1, reads identical, joins stay exchange-free") {
    val docs = graft.tables.Tables(spark, sf).documents
      .select(col("doc_id"), col("text")).limit(200)
    val table = "graft_compact_spec_tc"
    graft.tables.TokenCorpus.build(docs, table, buckets = 4)
    graft.tables.FixtureSignature.record(spark, table, "9:9")
    // two nightly appends with genuinely new doc ids
    (1 to 2).foreach { gen =>
      graft.tables.TokenCorpus.append(spark, table,
        docs.select((col("doc_id") + lit(1000000L * gen)).as("doc_id"),
          col("text")))
    }
    val fpbBefore = Bucketing.filesPerBucket(spark, table)
    assert(fpbBefore.values.max >= 3,
      s"appends should stack files per bucket, got $fpbBefore")
    val before = spark.table(table).collect()
      .map(_.toSeq).sortBy(_.mkString("|"))
    assert(Bucketing.compactIfNeeded(spark, table, maxFilesPerBucket = 2))
    val fpbAfter = Bucketing.filesPerBucket(spark, table)
    assert(fpbAfter.values.forall(_ == 1), s"still multi-file: $fpbAfter")
    val after = spark.table(table).collect()
      .map(_.toSeq).sortBy(_.mkString("|"))
    assert(before.length == after.length && before.sameElements(after))
    // bucketing metadata survived: the co-located self-join plans with
    // ZERO exchanges, exactly as on the freshly built table (broadcast
    // disabled so the tiny fixture can't dodge the bucketed-join path)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.coLocatedJoin(spark, table, table, "tok")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"compaction lost co-location:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
    // the freshness stamp survived the drop-and-rewrite
    assert(graft.tables.FixtureSignature.fresh(spark, table, "9:9"))
    // below threshold now: no second rewrite
    assert(!Bucketing.compactIfNeeded(spark, table, maxFilesPerBucket = 2))
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
  }

  private def filesPerCell(dir: String): Map[String, Int] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("__cell="))
      .map(d => d.getName ->
        d.listFiles().count(_.getName.endsWith(".parquet"))).toMap

  test("Ann.compactIndex: appended cells back to one file, probe and pruning unchanged") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val query = emb.filter(col("vec_id") === 0)
    val base = emb.filter(col("vec_id") % 3 === 1)
    val built = Ann.ivfBuild(base, "embedding", nCentroids = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_compact").toString
    try {
      Ann.writeIndex(built, dir)
      Ann.appendIndex(spark, dir, emb.filter(col("vec_id") % 3 === 2), "embedding")
      Ann.appendIndex(spark, dir,
        emb.filter(col("vec_id") % 3 === 0 && col("vec_id") =!= 0), "embedding")
      val fpcBefore = filesPerCell(s"$dir/assigned")
      assert(fpcBefore.values.max > 1, s"appends should stack files: $fpcBefore")
      val wantRows = Ann.readIndex(spark, dir).assigned.count()
      val want = Ann.ivfProbe(Ann.readIndex(spark, dir), query,
        "embedding", "vec_id", 10).as[(Long, Double)].collect().toSeq
      // the threshold guard fires above its bound and only then
      assert(!Ann.compactIndexIfNeeded(spark, dir,
        maxFilesPerCell = fpcBefore.values.max))
      assert(Ann.compactIndexIfNeeded(spark, dir,
        maxFilesPerCell = fpcBefore.values.max - 1))
      val fpcAfter = filesPerCell(s"$dir/assigned")
      assert(fpcAfter.nonEmpty && fpcAfter.values.forall(_ == 1),
        s"still multi-file: $fpcAfter")
      assert(fpcAfter.keySet == fpcBefore.keySet, "cell set changed")
      val read = Ann.readIndex(spark, dir)
      assert(read.assigned.count() == wantRows)
      val probe = Ann.ivfProbe(read, query, "embedding", "vec_id", 10)
      assert(probe.as[(Long, Double)].collect().toSeq == want)
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: ["),
        s"compacted index scan not partition-pruned:\n$plan")
    } finally {
      built.release()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("Ann.ivfPqCompactIndex: appended code cells back to one file, probe unchanged") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val query = emb.filter(col("vec_id") === 0)
    val base = emb.filter(col("vec_id") % 2 === 1)
    val built = Ann.ivfPqBuild(base, "embedding", "vec_id", nCentroids = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_compact").toString
    try {
      Ann.ivfPqWriteIndex(built, dir)
      Ann.ivfPqAppendIndex(spark, dir,
        emb.filter(col("vec_id") % 2 === 0 && col("vec_id") =!= 0), "embedding")
      val fpcBefore = filesPerCell(s"$dir/codes")
      assert(fpcBefore.values.max > 1, s"append should stack files: $fpcBefore")
      val want = Ann.ivfPqProbe(Ann.ivfPqReadIndex(spark, dir), emb, query,
        "embedding", "vec_id", 10).as[(Long, Double)].collect().toSeq
      assert(Ann.ivfPqCompactIndexIfNeeded(spark, dir, maxFilesPerCell = 1))
      val fpcAfter = filesPerCell(s"$dir/codes")
      assert(fpcAfter.nonEmpty && fpcAfter.values.forall(_ == 1),
        s"still multi-file: $fpcAfter")
      val got = Ann.ivfPqProbe(Ann.ivfPqReadIndex(spark, dir), emb, query,
        "embedding", "vec_id", 10).as[(Long, Double)].collect().toSeq
      assert(got == want && got.nonEmpty)
    } finally {
      built.release()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  // ---- round 18: maintainer mutual exclusion (r17 verdict #4) ----

  private def hadoopFs(p: String) = new org.apache.hadoop.fs.Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("MaintenanceLock: held lock refuses loudly, stale lock is taken over, throw releases") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lock").toString
    val fs = hadoopFs(dir)
    val lock = new org.apache.hadoop.fs.Path(dir, "_maintenance.lock")
    // plain acquire-run-release
    assert(graft.operators.MaintenanceLock.withLock(fs, lock)(41 + 1) == 42)
    assert(!fs.exists(lock))
    // a throwing body still releases (the breadcrumb-driven re-run must
    // not find its own crashed lock)
    intercept[RuntimeException](
      graft.operators.MaintenanceLock.withLock(fs, lock)(
        throw new RuntimeException("boom")))
    assert(!fs.exists(lock))
    // second maintainer: refuse loudly while held, naming the holder
    val out = fs.create(lock, false)
    out.write("otherhost,pid=1,epoch=0".getBytes("UTF-8")); out.close()
    val e = intercept[IllegalStateException](
      graft.operators.MaintenanceLock.withLock(fs, lock)(fail("ran under a held lock")))
    assert(e.getMessage.contains("otherhost") && e.getMessage.contains("held"))
    // stale lock (older than ttl): exactly this contender takes over
    new java.io.File(dir, "_maintenance.lock").setLastModified(1000L)
    assert(graft.operators.MaintenanceLock.withLock(fs, lock)(7) == 7)
    assert(!fs.exists(lock))
  }

  test("vacuumVersions and Bucketing.compact run under the lock: a held lock refuses") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lock_vac").toString
    val table = s"$dir/table"
    Streams.applyUpsertBatch(
      Seq(Ev(1, at(0), 100L, "click", 1.0)).toDF(), 0L, table)
    val fs = hadoopFs(table)
    val lock = new org.apache.hadoop.fs.Path(table, "_maintenance.lock")
    val out = fs.create(lock, false); out.write("x".getBytes); out.close()
    intercept[IllegalStateException](
      Streams.vacuumVersions(spark, table, keepN = 1))
    fs.delete(lock, false)
    assert(Streams.vacuumVersions(spark, table, keepN = 1).isEmpty)
    // the lock file never shadows a version dir in the retention listing
    assert(versionDirs(table) == Set("v0"))
    // compact's lock lives beside the managed table in the warehouse
    val docs = graft.tables.Tables(spark, sf).documents
      .select(col("doc_id"), col("text")).limit(50)
    val tbl = "graft_lock_compact_tc"
    graft.tables.TokenCorpus.build(docs, tbl, buckets = 2)
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val clock = new org.apache.hadoop.fs.Path(wh, s"${tbl}__maintenance.lock")
    val co = hadoopFs(wh).create(clock, false); co.write("x".getBytes); co.close()
    intercept[IllegalStateException](Bucketing.compact(spark, tbl))
    hadoopFs(wh).delete(clock, false)
    Bucketing.compact(spark, tbl) // released → runs
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
  }

  // ---- round 18: multi-column bucket compaction (r17 verdict #5) ----

  test("Bucketing.compact preserves a TWO-column-bucketed layout (r17 gap)") {
    val table = "graft_compact_spec_2col"
    val base = (1 to 400).map(i => (i.toLong % 7, s"g${i % 5}", i.toDouble))
      .toDF("k1", "k2", "v")
    Bucketing.writeBucketed(base, table, Seq("k1", "k2"), 4)
    // a nightly append stacks a second file into each touched bucket
    (401 to 800).map(i => (i.toLong % 7, s"g${i % 5}", i.toDouble))
      .toDF("k1", "k2", "v").write.insertInto(table)
    val fpbBefore = Bucketing.filesPerBucket(spark, table)
    assert(fpbBefore.values.max >= 2, s"append should stack files: $fpbBefore")
    val before = spark.table(table).collect()
      .map(_.toSeq).sortBy(_.mkString("|"))
    Bucketing.compact(spark, table)
    val fpbAfter = Bucketing.filesPerBucket(spark, table)
    assert(fpbAfter.values.forall(_ == 1), s"still multi-file: $fpbAfter")
    val after = spark.table(table).collect()
      .map(_.toSeq).sortBy(_.mkString("|"))
    assert(before.length == after.length && before.sameElements(after))
    // composite-key co-location survived: self-join on BOTH bucket
    // columns plans with zero exchanges
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table(table).join(spark.table(table), Seq("k1", "k2"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"lost composite co-location:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
  }

  // ---- round 18: log-structured versions (r17 verdict #2) ----

  private def dirNames(table: String): Set[String] =
    Option(new java.io.File(table).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.matches("[vd]\\d+")).toSet

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.toSeq).toSeq.sortBy(_.mkString("|"))

  /** One sink as the twin-layout tests drive it: 8 overlapping-key
    * batches, its apply (batch, batchId, table, snapshotEvery), and its
    * current and time-travel readers.
    */
  private case class SinkKind(name: String,
      batches: Seq[org.apache.spark.sql.DataFrame],
      apply: (org.apache.spark.sql.DataFrame, Long, String, Int) => Unit,
      read: String => org.apache.spark.sql.DataFrame,
      readVersion: (String, Long) => org.apache.spark.sql.DataFrame)

  private def upsertKind = SinkKind("upsert",
    (0 until 8).map { i =>
      Seq(Ev(10L * i + 1, at(i), 100L + i % 3, "click", i.toDouble),
        Ev(10L * i + 2, at(i), 200L, "view", i * 2.0)).toDF()
    },
    Streams.applyUpsertBatch(_, _, _, _),
    Streams.readUpsertTable(spark, _),
    Streams.readUpsertTableVersion(spark, _, _))

  // keys 1-3 take turns, key 4 changes every batch; key 1 is deleted at
  // batch 3 and re-inserted at 6, key 2 is deleted at 7
  private def cdcKind = SinkKind("cdc",
    (0 until 8).map { i =>
      val op = if (i == 0) "I" else "U"
      Seq(Chg(1L + i % 3, i.toDouble, s"a$i", 10L * i + 1,
          if (i % 4 == 3) "D" else op),
        Chg(4L, i * 2.0, s"b$i", 10L * i + 2, op)).toDF()
    },
    Streams.applyCdcBatch(_, _, _, Seq("k"), _),
    Streams.readCdcTable(spark, _, Seq("k")),
    Streams.readCdcTableVersion(spark, _, _, Seq("k")))

  // the cdc kind's key/op pattern over a payload of decimal, timestamp,
  // struct and array columns, some declared non-null — the schema every
  // version dir's footer must carry exactly
  private def nestedCdcKind = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("amt", DecimalType(12, 2), nullable = false),
      StructField("at", TimestampType),
      StructField("attrs", StructType(Seq(StructField("tier", StringType),
        StructField("score", DoubleType, nullable = false)))),
      StructField("tags", ArrayType(StringType, containsNull = false)),
      StructField("seq", LongType, nullable = false),
      StructField("op", StringType, nullable = false)))
    SinkKind("cdc_nested",
      (0 until 8).map { i =>
        val op = if (i == 0) "I" else "U"
        def row(k: Long, seq: Long, op: String) = Row(k,
          java.math.BigDecimal.valueOf(1000L * i + k, 2),
          if (i % 2 == 0) at(i) else null,
          Row(if (k == 4L) null else s"t$i", i * 1.5),
          (0 to i % 3).map(j => s"g$j"), seq, op)
        spark.createDataFrame(Seq(
          row(1L + i % 3, 10L * i + 1, if (i % 4 == 3) "D" else op),
          row(4L, 10L * i + 2, op)).asJava, schema)
      },
      Streams.applyCdcBatch(_, _, _, Seq("k"), _),
      Streams.readCdcTable(spark, _, Seq("k")),
      Streams.readCdcTableVersion(spark, _, _, Seq("k")))
  }

  /** `kind`'s batches replayed into a full-snapshot table and a
    * snapshotEvery=3 log-structured one.
    */
  private def buildTwinLayouts(dir: String, kind: SinkKind): (String, String) = {
    val full = s"$dir/full"; val logT = s"$dir/log"
    kind.batches.zipWithIndex.foreach { case (b, i) =>
      kind.apply(b, i.toLong, full, 1)
      kind.apply(b, i.toLong, logT, 3)
    }
    (full, logT)
  }

  test("log-structured upsert layout: reads bit-identical to the full-snapshot layout at every version") {
    // both sinks run on one versioned-table core; pin each kind
    Seq(upsertKind, cdcKind, nestedCdcKind).foreach { kind =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_log_${kind.name}").toString
      val (full, logT) = buildTwinLayouts(dir, kind)
      // layout shape: a full snapshot only every 3rd batch — storage per
      // intermediate batch is the DELTA, not the table
      assert(dirNames(logT) == Set("v0", "d1", "d2", "v3", "d4", "d5", "v6", "d7"))
      assert(dirNames(full) == (0 until 8).map("v" + _).toSet)
      // current read and EVERY time-travel version bit-identical, schema
      // (incl. column order) included
      def same(got: org.apache.spark.sql.DataFrame,
          want: org.apache.spark.sql.DataFrame, what: String): Unit = {
        assert(got.schema == want.schema, s"${kind.name} $what: schema diverges")
        assert(canon(got) == canon(want), s"${kind.name} $what diverges")
      }
      same(kind.read(logT), kind.read(full), "current")
      (0 until 8).foreach { i =>
        same(kind.readVersion(logT, i.toLong), kind.readVersion(full, i.toLong),
          s"version $i")
      }
      // reads take each version dir's schema from its parquet footer: it
      // must equal what a schema-inferring read derives, nullability too
      (0 until 8).foreach { i =>
        assert(kind.readVersion(full, i.toLong).schema ==
          spark.read.parquet(s"$full/v$i").schema, s"${kind.name} v$i: footer schema")
      }
      // idempotent replay: an already-applied batch is a no-op
      kind.apply(kind.batches(2), 2L, logT, 3)
      assert(dirNames(logT).size == 8)
      // crashed flip after the last delta write: pointer gone → replay's
      // only duty is the flip itself (the fallback finds d7)
      assert(new java.io.File(s"$logT/_current").delete())
      kind.apply(kind.batches(7), 7L, logT, 3)
      same(kind.read(logT), kind.read(full), "current after the repair")
      // a zero-row batch still commits, as a delta (d8) and as a snapshot
      // (v9): Spark writes one empty part file carrying the footer schema
      val empty = kind.batches(0).limit(0)
      kind.apply(empty, 8L, logT, 3)
      kind.apply(empty, 9L, logT, 3)
      assert(Set("d8", "v9").subsetOf(dirNames(logT)), s"${kind.name}: ${dirNames(logT)}")
      Seq(8L, 9L).foreach { v =>
        same(kind.readVersion(logT, v), kind.read(full), s"empty batch $v")
      }
      same(kind.read(logT), kind.read(full), "current after the empty batches")
    }
  }

  test("building a read of a log-layout table runs no Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_no_job").toString
    val (up, cdc) = (s"$dir/upsert", s"$dir/cdc")
    (0 until 2).foreach { i =>
      upsertKind.apply(upsertKind.batches(i), i.toLong, up, 3)
      cdcKind.apply(cdcKind.batches(i), i.toLong, cdc, 3)
    }
    assert(dirNames(up) == Set("v0", "d1") && dirNames(cdc) == Set("v0", "d1"))
    // count only the jobs this thread starts (a local property rides
    // along on every job it submits)
    val tag = "graft.spec.readJobProbe"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(tag) != null)) jobs.incrementAndGet()
    }
    org.apache.spark.sql.graft.ListenerBus.flush(spark)
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setLocalProperty(tag, "1")
    val reads = try
      Seq(Streams.readUpsertTable(spark, up), Streams.readCdcTable(spark, cdc, Seq("k"))) ++
        Seq(0L, 1L).flatMap(v => Seq(Streams.readUpsertTableVersion(spark, up, v),
          Streams.readCdcTableVersion(spark, cdc, v, Seq("k"))))
    finally {
      spark.sparkContext.setLocalProperty(tag, null)
      org.apache.spark.sql.graft.ListenerBus.flush(spark)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs.get == 0, s"${jobs.get} Spark job(s) ran while building the reads")
    assert(reads.forall(_.count() > 0))
  }

  test("a malformed _current pointer fails loudly on the read and the commit path, naming it") {
    val table = java.nio.file.Files.createTempDirectory("graft_bad_ptr").toString + "/table"
    def batch(i: Int) = Seq(Ev(i + 1L, at(i), 100L, "click", i.toDouble)).toDF()
    Streams.applyUpsertBatch(batch(0), 0L, table)
    val fs = hadoopFs(table)
    def writePointer(content: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(table, "_current"), true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    // empty, truncated, a bad id, a dir that disagrees with the id
    Seq("", "v0", "v0,", "v0,x", "v1,0", "garbage").foreach { content =>
      writePointer(content)
      Seq[(String, () => Any)](
        "readUpsertTable" -> (() => Streams.readUpsertTable(spark, table)),
        "readUpsertTableVersion" -> (() => Streams.readUpsertTableVersion(spark, table, 0L)),
        "applyUpsertBatch" -> (() => Streams.applyUpsertBatch(batch(1), 1L, table)),
        "vacuumVersions" -> (() => Streams.vacuumVersions(spark, table, keepN = 1))
      ).foreach { case (path, run) =>
        val e = intercept[IllegalStateException](run())
        assert(e.getMessage.contains(s"$table/_current") &&
          e.getMessage.contains(s"'$content'"), s"$path on '$content': ${e.getMessage}")
      }
    }
    // nothing was committed or deleted meanwhile, and once the pointer is
    // repaired the next batch commits
    assert(dirNames(table) == Set("v0"))
    writePointer("v0,0")
    Streams.applyUpsertBatch(batch(1), 1L, table)
    assert(Streams.readUpsertTable(spark, table)
      .select("event_id").as[Long].collect().toSeq == Seq(2L))
  }

  test("upsert commits refuse a null user_id or a changed schema: as batch 0, as a delta, as a snapshot") {
    def batch(i: Int, key: Option[Long]) =
      Seq((Option(100L), at(i), 10L * i + 1, i.toDouble),
        (key, at(i), 10L * i + 2, i * 2.0)).toDF("user_id", "ts", "event_id", "value")
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
    // (snapshotEvery, the batch that carries the null key): batch 0 is
    // always a snapshot; under 3, batch 1 is a delta and batch 3 a
    // snapshot commit folding two deltas
    Seq((1, 0), (1, 1), (3, 0), (3, 1), (3, 3)).foreach { case (every, bad) =>
      val table = java.nio.file.Files
        .createTempDirectory(s"graft_null_key_${every}_$bad").toString + "/table"
      (0 until bad).foreach(i =>
        Streams.applyUpsertBatch(batch(i, Some(200L)), i.toLong, table, every))
      val before = if (bad == 0) Nil else canon(Streams.readUpsertTable(spark, table))
      val e = intercept[Exception](
        Streams.applyUpsertBatch(batch(bad, None), bad.toLong, table, every))
      assert(msgs(e).contains("user_id must be non-null"), s"($every, $bad): ${msgs(e)}")
      // nothing committed: the pointer and the served state are unchanged
      if (bad == 0)
        intercept[IllegalStateException](Streams.readUpsertTable(spark, table))
      else assert(canon(Streams.readUpsertTable(spark, table)) == before)
      // once a table exists, every commit must carry its exact columns
      // (order included) and types
      if (bad > 0) Seq(
          batch(bad, Some(200L)).withColumn("value", col("value").cast("string")),
          batch(bad, Some(200L)).select("ts", "user_id", "event_id", "value"))
        .foreach { b =>
          val e = intercept[IllegalArgumentException](
            Streams.applyUpsertBatch(b, bad.toLong, table, every))
          assert(e.getMessage.contains("must match the table's"), e.getMessage)
        }
      // and the same batchId still commits once the batch is clean
      Streams.applyUpsertBatch(batch(bad, Some(200L)), bad.toLong, table, every)
      assert(canon(Streams.readUpsertTable(spark, table)).map(_.take(3)) ==
        Seq(Seq(100L, at(bad), 10L * bad + 1), Seq(200L, at(bad), 10L * bad + 2)))
    }
  }

  test("vacuum on the log layout: keepN counts SNAPSHOTS, reachable deltas survive") {
    val dir = java.nio.file.Files.createTempDirectory("graft_log_vacuum").toString
    val (full, logT) = buildTwinLayouts(dir, upsertKind)
    val want7 = canon(Streams.readUpsertTableVersion(spark, full, 7L))
    val want4 = canon(Streams.readUpsertTableVersion(spark, full, 4L))
    // keep 2 snapshots: v3, v6 stay; deltas ≥ v3 stay (each retained
    // version reconstructs from a retained snapshot); v0 and the
    // now-unreachable d1, d2 expire
    assert(Streams.vacuumVersions(spark, logT, keepN = 2) == Seq(0L, 1L, 2L))
    assert(dirNames(logT) == Set("v3", "d4", "d5", "v6", "d7"))
    assert(canon(Streams.readUpsertTableVersion(spark, logT, 4L)) == want4)
    assert(canon(Streams.readUpsertTableVersion(spark, logT, 7L)) == want7)
    intercept[IllegalArgumentException](
      Streams.readUpsertTableVersion(spark, logT, 2L))
    // keep 1 snapshot: v6 is the floor, v3/d4/d5 expire, d7 survives
    assert(Streams.vacuumVersions(spark, logT, keepN = 1) == Seq(3L, 4L, 5L))
    assert(dirNames(logT) == Set("v6", "d7"))
    assert(canon(Streams.readUpsertTable(spark, logT)) == want7)
    assert(Streams.vacuumVersions(spark, logT, keepN = 1).isEmpty)
  }

  test("log-structured CDC sink: deltas store raw I/U/D records; fold ≡ one-shot applyLog") {
    val dir = java.nio.file.Files.createTempDirectory("graft_log_cdc").toString
    val table = s"$dir/table"
    val b0 = Seq(Chg(1, 10.0, "A", 1, "I"), Chg(2, 20.0, "B", 2, "I"),
      Chg(3, 30.0, "C", 3, "I"))
    val b1 = Seq(Chg(2, 21.0, "B1", 4, "U"), Chg(3, 0.0, null, 5, "D"))
    val b2 = Seq(Chg(3, 33.0, "C2", 6, "I"), Chg(4, 40.0, "D0", 7, "I"))
    val b3 = Seq(Chg(1, 11.0, "A1", 8, "U"))
    Seq(b0, b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
      Streams.applyCdcBatch(b.toDF(), i.toLong, table, Seq("k"),
        snapshotEvery = 3)
    }
    // v0, d1, d2 (delete folded only at read), v3
    assert(dirNames(table) == Set("v0", "d1", "d2", "v3"))
    val got = Streams.readCdcTable(spark, table, Seq("k"))
      .select("k", "v", "seg").as[(Long, Double, String)].collect().toSet
    val log = (b0 ++ b1 ++ b2 ++ b3).toDF()
    val oneShot = graft.operators.CdcApply
      .applyLog(log.select("k", "v", "seg").limit(0), log, keys = Seq("k"))
      .select("k", "v", "seg").as[(Long, Double, String)].collect().toSet
    assert(got == oneShot && got.nonEmpty)
    // time travel INSIDE the delta window folds the prefix: after d1,
    // k=3 is deleted and k=2 carries the update
    val atD1 = Streams.readCdcTableVersion(spark, table, 1L, Seq("k"))
      .select("k", "v", "seg").as[(Long, Double, String)].collect().toSet
    assert(atD1 == Set((1L, 10.0, "A"), (2L, 21.0, "B1")))
    // the upsert reader refuses a CDC delta pointer loudly (its deltas
    // carry seq/op change records, not snapshot rows): roll the table
    // one more DELTA batch so the pointer lands on a delta dir
    Streams.applyCdcBatch(Seq(Chg(5, 50.0, "E", 9, "I")).toDF(), 4L, table,
      Seq("k"), snapshotEvery = 3)
    val e = intercept[IllegalArgumentException](
      Streams.readUpsertTable(spark, table).collect())
    assert(e.getMessage.contains("readCdcTable"), e.getMessage)
  }

  // ---- round 18 second review: writer/maintainer races + seals ----

  test("append paths serialize on the maintenance lock (append-vs-compact race closed)") {
    import org.apache.spark.sql.functions.col
    // Ann.appendIndex: a held tree lock refuses the append — the same
    // scope compactIndex and writeIndex take, so an append can no
    // longer land inside a compact's stage/swap window
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val built = Ann.ivfBuild(emb.filter(col("vec_id") % 2 === 1), "embedding",
      nCentroids = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft_lock_append").toString
    try {
      Ann.writeIndex(built, s"$dir/idx")
      val fs = hadoopFs(dir)
      val lock = new org.apache.hadoop.fs.Path(s"$dir/idx/assigned__maintenance.lock")
      val out = fs.create(lock, false); out.write("x".getBytes); out.close()
      intercept[IllegalStateException](
        Ann.appendIndex(spark, s"$dir/idx",
          emb.filter(col("vec_id") % 2 === 0), "embedding"))
      fs.delete(lock, false)
      Ann.appendIndex(spark, s"$dir/idx",
        emb.filter(col("vec_id") % 2 === 0), "embedding")
      assert(Ann.readIndex(spark, s"$dir/idx").assigned.count() == emb.count())
      // TokenCorpus.append: same contract against Bucketing.compact's lock
      val docs = graft.tables.Tables(spark, sf).documents
        .select(col("doc_id"), col("text")).limit(30)
      val tbl = "graft_lock_append_tc"
      graft.tables.TokenCorpus.build(docs, tbl, buckets = 2)
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val clock = new org.apache.hadoop.fs.Path(wh, s"${tbl}__maintenance.lock")
      val co = hadoopFs(wh).create(clock, false); co.write("x".getBytes); co.close()
      intercept[IllegalStateException](graft.tables.TokenCorpus.append(spark, tbl,
        docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))))
      hadoopFs(wh).delete(clock, false)
      graft.tables.TokenCorpus.append(spark, tbl,
        docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      assert(spark.table(tbl).select("doc_id").distinct().count() == 60)
      spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    } finally {
      built.release()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("index readers refuse an unsealed tree (crashed multi-dir rebuild is loud)") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val built = Ann.ivfBuild(emb, "embedding", nCentroids = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft_seal").toString
    try {
      Ann.writeIndex(built, s"$dir/idx")
      assert(Ann.readIndex(spark, s"$dir/idx").centroids.nonEmpty)
      // simulate a crash between the part overwrites: seal gone
      assert(new java.io.File(s"$dir/idx/_graft_index_sealed").delete())
      val e = intercept[IllegalArgumentException](
        Ann.readIndex(spark, s"$dir/idx"))
      assert(e.getMessage.contains("not sealed"), e.getMessage)
      // a completed re-write reseals
      Ann.writeIndex(built, s"$dir/idx")
      assert(Ann.readIndex(spark, s"$dir/idx").centroids.nonEmpty)
    } finally {
      built.release()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("double-vector corpora build and probe identically to their float twins") {
    import org.apache.spark.sql.functions.{col, transform}
    val embF = spark.read.parquet(s"$sf/embeddings.parquet")
    val embD = embF.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("embedding"))
    val query = embF.filter(col("vec_id") === 0)
    val queryD = embD.filter(col("vec_id") === 0)
    val bF = Ann.ivfBuild(embF, "embedding", nCentroids = 4)
    val bD = Ann.ivfBuild(embD, "embedding", nCentroids = 4)
    try {
      // float→double casts are exact, so sampling, k-means, assignment
      // and the rounded cosine land bit-identically
      val gotF = Ann.ivfProbe(bF, query, "embedding", "vec_id", 10)
        .collect().map(_.toSeq).toSeq
      val gotD = Ann.ivfProbe(bD, queryD, "embedding", "vec_id", 10)
        .collect().map(_.toSeq).toSeq
      assert(gotF == gotD && gotF.nonEmpty)
    } finally { bF.release(); bD.release() }
  }

  test("zKey refuses a non-numeric dimension; distinct fixture dirs get distinct token tables") {
    import org.apache.spark.sql.functions.col
    val df = Seq((1L, "abc", 2.0), (2L, "def", 3.0)).toDF("id", "s", "v")
    val e = intercept[IllegalArgumentException](
      graft.operators.ZOrderLayout.zKey(df, "s", "v"))
    assert(e.getMessage.contains("NONE cast to double"), e.getMessage)
    // numeric-as-string still casts — only genuinely non-numeric refuses
    val ok = Seq((1L, "1.5", 2.0)).toDF("id", "s", "v")
    graft.operators.ZOrderLayout.zKey(ok, "s", "v")
    // the memoized token-table name disambiguates paths that sanitize
    // identically (r18 review: '/x/sf0.1' vs '/x/sf0_1' shared a table)
    val a = graft.tables.TokenCorpus.tableFor("/x/sf0.1")
    val b = graft.tables.TokenCorpus.tableFor("/x/sf0_1")
    assert(a != b && a.startsWith("graft_token_corpus__x_sf0_1_"))
  }

  test("maintenance ops refuse db-qualified names; crashed-mid-swap compactIndex names recovery") {
    // TableIdentifier would mis-parse "db.tbl" as ONE unqualified name
    // (r17 ADVICE) — both catalog-facing ops refuse it up front
    intercept[IllegalArgumentException](
      Bucketing.filesPerBucket(spark, "somedb.sometable"))
    intercept[IllegalArgumentException](
      Bucketing.compact(spark, "somedb.sometable"))
    // crashed between retire and promote: live tree missing, copies
    // survive — the error must name them instead of a bare not-found
    val dir = java.nio.file.Files.createTempDirectory("graft_crash_swap").toString
    val idx = s"$dir/index"
    new java.io.File(s"$idx/assigned__old").mkdirs()
    val e = intercept[IllegalArgumentException](Ann.compactIndex(spark, idx))
    assert(e.getMessage.contains("crashed mid-swap") &&
      e.getMessage.contains("assigned__old"), e.getMessage)
  }
}
