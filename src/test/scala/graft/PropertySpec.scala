package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based algebraic invariants (SURVEY.md §5.3): generated data
  * through the real engine, compared against straight-line Scala
  * reference computations. Raw ScalaCheck generators with fixed seeds
  * (the scalatest bridge artifact isn't in the offline cache) — each
  * property runs over 20 deterministic samples.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int = 20): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val rows: Gen[List[(Int, Int)]] = Gen.listOfN(60,
    Gen.zip(Gen.choose(0, 5), Gen.choose(-1000, 1000)))

  test("Bpe replace chain equals the classical loop on random a-z words") {
    // beyond Round17Spec's exhaustive merge-alphabet sweep: random
    // lengths and letters OUTSIDE the merge alphabet interleaved
    val word: Gen[String] = Gen.choose(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.choose('a', 'z')).map(_.mkString))
    val words = samples(Gen.listOfN(60, word), 10).flatten.distinct
    val got = words.toDF("w")
      .withColumn("n", graft.functions.Bpe.tokenCount(col("w")))
      .as[(String, Int)].collect()
    assert(got.length == words.length)
    got.foreach { case (w, n) =>
      assert(n == BpeReference.classicalBpeCount(w), s"word '$w'")
      assert(n >= 1 && n <= w.length, s"count out of range for '$w'")
    }
  }

  test("vacuum retention victims: pointer-safe, newer-safe, keeps exactly min(keepN, committed)") {
    val gen = for {
      ids <- Gen.listOf(Gen.choose(0L, 40L)).map(_.distinct)
      pointer <- Gen.choose(0L, 40L)
      keepN <- Gen.choose(1, 6)
    } yield ((ids :+ pointer).distinct, pointer, keepN) // the pointed dir always exists, ids unique (directory names)
    samples(gen, 60).foreach { case (ids, pointer, keepN) =>
      val victims = graft.streaming.Streams
        .retentionVictimsLog(ids, Nil, pointer, keepN)._1
      val committed = ids.filter(_ <= pointer)
      assert(!victims.contains(pointer), "pointed version deleted")
      assert(victims.forall(_ <= pointer), "crashed-flip version deleted")
      assert(committed.size - victims.size == math.min(keepN, committed.size))
      // victims are exactly the OLDEST expired committed versions
      assert(victims == committed.sorted.dropRight(keepN))
      assert(victims.toSet.subsetOf(ids.toSet))
    }
  }

  test("log-layout retention victims: keepN counts snapshots; every retained version reconstructs") {
    val gen = for {
      snaps <- Gen.listOf(Gen.choose(0L, 40L)).map(_.distinct)
      deltas <- Gen.listOf(Gen.choose(0L, 40L)).map(_.distinct)
      pointer <- Gen.choose(0L, 40L)
      keepN <- Gen.choose(1, 6)
      // a real table's ids are unique across KINDS too (one dir per
      // batch), and the pointed dir exists
    } yield {
      // a real table is REACHABLE: the first batch is always a full
      // snapshot, so every delta has a snapshot below it — drop orphans
      val d = deltas.filterNot(snaps.contains)
        .filter(id => snaps.exists(_ <= id))
      val (s2, d2) =
        if (snaps.contains(pointer) || d.contains(pointer)) (snaps, d)
        else (snaps :+ pointer, d)
      (s2, d2, pointer, keepN)
    }
    samples(gen, 60).foreach { case (snaps, deltas, pointer, keepN) =>
      val (sv, dv) = graft.streaming.Streams
        .retentionVictimsLog(snaps, deltas, pointer, keepN)
      val committedSnaps = snaps.filter(_ <= pointer)
      // the pointed version (snapshot OR delta) always survives
      assert(!sv.contains(pointer) && !dv.contains(pointer))
      // nothing newer than the pointer is touched
      assert((sv ++ dv).forall(_ <= pointer))
      // exactly min(keepN, committed) snapshots survive
      assert(committedSnaps.size - sv.size ==
        math.min(keepN, committedSnaps.size))
      // RECONSTRUCTABILITY: every surviving version at-or-below the
      // pointer still has a surviving snapshot at-or-before it
      val keptSnaps = committedSnaps.filterNot(sv.contains).sorted
      val keptVersions = keptSnaps ++
        deltas.filter(id => id <= pointer && !dv.contains(id))
      keptVersions.foreach { id =>
        assert(keptSnaps.exists(_ <= id),
          s"version $id survived without a base snapshot " +
            s"(snaps=$snaps deltas=$deltas pointer=$pointer keepN=$keepN)")
      }
      // pure-snapshot tables degrade to the original rule exactly
      if (deltas.isEmpty)
        assert(sv == committedSnaps.sorted.dropRight(keepN))
    }
  }

  test("groupBy-sum equals naive per-key sum") {
    samples(rows).foreach { data =>
      val got = data.toDF("k", "v").groupBy("k").agg(sum("v").as("s"))
        .as[(Int, Long)].collect().toMap
      val expected = data.groupBy(_._1).map { case (k, vs) =>
        k -> vs.map(_._2.toLong).sum
      }
      assert(got == expected)
    }
  }

  test("union-distinct is idempotent") {
    samples(rows, 10).foreach { data =>
      val df = data.toDF("k", "v")
      val once = df.union(df).distinct()
      val twice = once.union(once).distinct()
      assert(once.collect().toSet == twice.collect().toSet)
      assert(once.count() == data.distinct.size)
    }
  }

  test("window cumulative sum ends at the group total") {
    samples(rows, 10).filter(_.nonEmpty).foreach { data =>
      val df = data.zipWithIndex.map { case ((k, v), i) => (k, v, i) }
        .toDF("k", "v", "ord")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy("ord")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val lastCum = df.withColumn("cum", sum("v").over(w))
        .groupBy("k").agg(max_by(col("cum"), col("ord")).as("final"))
        .as[(Int, Long)].collect().toMap
      val groupSum = df.groupBy("k").agg(sum("v")).as[(Int, Long)].collect().toMap
      assert(lastCum == groupSum)
    }
  }

  test("dropDuplicates leaves no duplicate keys and loses no key") {
    samples(rows, 10).foreach { data =>
      val ks = data.toDF("k", "v").dropDuplicates("k")
        .select("k").as[Int].collect()
      assert(ks.length == ks.distinct.length)
      assert(ks.toSet == data.map(_._1).toSet)
    }
  }

  test("sort is an ordered permutation of its input") {
    samples(rows, 10).foreach { data =>
      val sorted = data.toDF("k", "v").orderBy("k", "v")
        .as[(Int, Int)].collect().toSeq
      assert(sorted.sorted == data.sorted)
      assert(sorted == sorted.sortBy(identity))
    }
  }

  // -------- native dedup kernels vs straight-line Scala references ----

  private val textGen: Gen[String] = Gen.listOfN(30,
    Gen.frequency(
      6 -> Gen.oneOf("the", "cat", "sat", "on", "a", "mat", "dog", "ran"),
      2 -> Gen.alphaStr.map(_.take(6)),
      1 -> Gen.oneOf("", " ", "\t", "café", "的是"),
      1 -> Gen.oneOf("Mixed", "CASE", "MiXeD")))
    .map(_.mkString(" "))

  private def refNgrams(text: String, n: Int): Seq[String] = {
    val t = Option(text).getOrElse("").toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (t.length < n) Seq.empty
    else t.sliding(n).map(_.mkString(" ")).toSeq.distinct
  }

  test("native ngram_set equals a sliding-window reference on generated text") {
    val texts = samples(textGen, 40)
    val got = texts.toDF("text")
      .select(graft.functions.FastText.ngramSet(col("text"), 3))
      .as[Seq[String]].collect()
    got.zip(texts).foreach { case (g, t) =>
      assert(g == refNgrams(t, 3), s"ngram mismatch for '$t'")
    }
  }

  test("native jaccard_sets equals set algebra on generated gram arrays") {
    val arrGen = Gen.listOf(Gen.oneOf("a", "b", "c", "d", "e", "f", "gé")).map(_.distinct)
    val pairs = samples(Gen.zip(arrGen, arrGen), 40)
    val got = pairs.toDF("a", "b")
      .select(graft.functions.FastText.jaccard(col("a"), col("b")))
      .as[Double].collect()
    got.zip(pairs).foreach { case (g, (a, b)) =>
      val expected =
        if (a.isEmpty && b.isEmpty) 0.0
        else (a.toSet intersect b.toSet).size.toDouble / (a.toSet union b.toSet).size.toDouble
      assert(math.abs(g - expected) < 1e-12, s"jaccard mismatch for $a / $b")
    }
  }

  test("lsh_band_buckets: permutation-invariant in gram order, sensitive to content") {
    val base = Seq("a b c", "c d e", "e f g", "g h i").flatMap(s => refNgrams(s + " x y", 2))
    val shuffled = scala.util.Random.javaRandomToRandom(new java.util.Random(7))
      .shuffle(base)
    val df = Seq(base, shuffled, base :+ "zz zz").toDF("grams")
      .select(graft.functions.FastText.lshBandBuckets(col("grams"), 8, 4).as("b"))
    val rows = df.as[Seq[Long]].collect()
    // minhash is a set signature: order must not matter, content must
    assert(rows(0) == rows(1), "gram order changed the signature")
    assert(rows(0) != rows(2), "added gram did not change any band")
  }

  test("connected components (both paths) equal reference union-find on generated graphs") {
    import graft.operators.ConnectedComponents
    val graphs: Gen[List[(Long, Long)]] = Gen.listOfN(40,
      Gen.zip(Gen.choose(0L, 30L), Gen.choose(0L, 30L)))
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.filter(e => e._1 != e._2).foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    samples(graphs, n = 8).foreach { edges =>
      val df = edges.toDF("a", "b")
      val expected = unionFind(edges)
      val driver = ConnectedComponents.resolve(df, "a", "b")
        .as[(Long, Long)].collect().toMap
      val dist = ConnectedComponents.resolve(df, "a", "b", driverThreshold = 0L)
        .as[(Long, Long)].collect().toMap
      assert(driver == expected && dist == expected)
    }
  }

  test("inner join equals reference nested-loop join") {
    val dims = Gen.listOfN(6, Gen.zip(Gen.choose(0, 5), Gen.alphaStr.map(_.take(4))))
    samples(Gen.zip(rows, dims), 10).foreach { case (fact, dim) =>
      val dimDedup = dim.distinctBy(_._1)
      val got = fact.toDF("k", "v")
        .join(dimDedup.toDF("k", "name"), Seq("k"))
        .as[(Int, Int, String)].collect().toSeq.sorted
      val dimMap = dimDedup.toMap
      val expected = fact.flatMap { case (k, v) =>
        dimMap.get(k).map(n => (k, v, n))
      }.sorted
      assert(got == expected)
    }
  }

  test("CDC apply equals a reference per-key last-writer-wins fold") {
    // random I/U/D logs over a small key space with per-key-unique
    // seqs (shuffled, then seq = position — uniqueness by construction)
    val logGen: Gen[List[(Long, Int, Long, String)]] = for {
      n <- Gen.choose(0, 40)
      ops <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 7L), Gen.choose(-99, 99),
        Gen.oneOf("I", "U", "D")))
    } yield ops.zipWithIndex.map { case ((k, v, op), i) =>
      (k, v, i.toLong + 1, op)
    }
    val baseGen: Gen[List[(Long, Int)]] =
      Gen.listOfN(5, Gen.zip(Gen.choose(0L, 7L), Gen.choose(-99, 99)))
        .map(_.distinctBy(_._1))
    samples(Gen.zip(baseGen, logGen), 15).foreach { case (base, log) =>
      val got = graft.operators.CdcApply.applyLog(
          base.toDF("k", "v"), log.toDF("k", "v", "seq", "op"),
          keys = Seq("k"), validateSeq = true)
        .as[(Long, Int)].collect().toMap
      // reference: base as seq-0 upserts, then highest seq decides
      val all = base.map { case (k, v) => (k, v, 0L, "U") } ++ log
      val expected = all.groupBy(_._1).flatMap { case (k, hist) =>
        val last = hist.maxBy(_._3)
        if (last._4 == "D") None else Some(k -> last._2)
      }
      assert(got == expected, s"base=$base log=$log")
    }
  }

  test("span dedup equals a reference sequential keep-first scan") {
    // random small corpora over a 4-token alphabet — dense in repeated
    // w-grams, the adversarial case for overlap merge
    val docGen = Gen.listOfN(12, Gen.oneOf("a", "b", "c", "d"))
      .map(_.mkString(" "))
    val corpusGen = Gen.listOfN(5, docGen)
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    val w = 3
    samples(corpusGen, 15).foreach { corpus =>
      val got = graft.operators.SpanDedup
        .removeDuplicateSpans(corpus.toDF("doc_id", "text"), "doc_id", "text", w)
        .select("doc_id", "text_clean")
        .as[(Long, String)].collect().toMap
      // reference: walk docs in id order, remember seen grams, mark
      // every token covered by a window whose gram was already seen
      val seen = scala.collection.mutable.Set[String]()
      val expected = corpus.sortBy(_._1).map { case (id, text) =>
        val toks = text.split(" ")
        val removed = Array.fill(toks.length)(false)
        for (p <- 0 to toks.length - w) {
          val gram = toks.slice(p, p + w).mkString(" ")
          if (seen(gram)) (p until p + w).foreach(removed(_) = true)
          else seen += gram
        }
        id -> toks.indices.filterNot(removed).map(toks).mkString(" ")
      }.toMap
      assert(got == expected, s"corpus=$corpus")
    }
  }

  test("map_overlap: random geometry equals the full-series reference") {
    // random series, random partition count (incl. far more partitions
    // than rows), random before/after: the boundary stitching must make
    // every per-position window read as if the series were one frame
    val gen = Gen.zip(
      Gen.listOfN(25, Gen.choose(-500, 500)),
      Gen.choose(1, 40), Gen.choose(0, 6), Gen.choose(0, 6))
    samples(gen, 12).foreach { case (vals, nParts, before, after) =>
      val data = vals.zipWithIndex.map { case (v, i) => (i.toLong, v.toLong) }
      val ds = spark.createDataset(data)
      val got = graft.operators.MapOverlap.mapOverlap(ds, nParts, col("_1"),
          before, after) { rows =>
        rows.indices.map { i =>
          val lo = math.max(0, i - before)
          val hi = math.min(rows.length - 1, i + after)
          (rows(i)._1, (lo to hi).map(rows(_)._2).sum)
        }
      }.collect().toMap
      val arr = data.map(_._2)
      val want = data.indices.map { i =>
        val lo = math.max(0, i - before)
        val hi = math.min(arr.length - 1, i + after)
        data(i)._1 -> (lo to hi).map(arr).sum
      }.toMap
      assert(got == want, s"n=$nParts before=$before after=$after")
    }
  }

  test("pruneVersions: keeps exactly the newest-at-or-below-floor version and everything after") {
    val gen = Gen.zip(
      Gen.listOfN(10, Gen.choose(0L, 30L)).map(_.distinct.sorted),
      Gen.choose(-5L, 35L))
    samples(gen, 20).foreach { case (ts, floor) =>
      val versions = ts.map(t => (t, s"v$t")).toList
      val got = graft.streaming.Streams.pruneVersions(versions, floor)
      val keptFloor = versions.filter(_._1 <= floor).lastOption
      val want = keptFloor.toList ++ versions.filter(_._1 > floor)
      assert(got == want, s"ts=$ts floor=$floor")
      // the floor answer for any event at time >= floor is unchanged
      for (ev <- floor to 32L if ev >= floor) {
        val full = versions.takeWhile(_._1 <= ev).lastOption
        val pruned = got.takeWhile(_._1 <= ev).lastOption
        assert(full == pruned, s"event@$ev ts=$ts floor=$floor")
      }
    }
  }
}
