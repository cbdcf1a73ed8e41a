package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators._
import graft.functions._

/** Edge-case unit tests the DuckDB differential harness can't isolate
  * (SURVEY.md §5.2): literal fixtures for custom operators, error-bound
  * checks for approximate sketches.
  */
class AsofJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("backward asof join: basic, exact-match, and no-match rows") {
    val left = Seq(
      (1L, "u1", ts("2024-01-01 10:00:00")),
      (2L, "u1", ts("2024-01-01 12:00:00")),
      (3L, "u2", ts("2024-01-01 09:00:00"))
    ).toDF("id", "u", "ts")
    val right = Seq(
      ("u1", ts("2024-01-01 09:30:00"), 100L),
      ("u1", ts("2024-01-01 12:00:00"), 200L),
      ("u2", ts("2024-01-01 09:30:00"), 300L)
    ).toDF("u", "ts", "payload")

    val got = AsofJoin.backward(left, right, "ts", Seq("u"), Seq("payload"))
      .orderBy("id").select("id", "payload").as[(Long, Option[Long])].collect()
    // id=1 matches 09:30 (100); id=2 matches the EXACT 12:00 row (200);
    // id=3 precedes every u2 right row -> null
    assert(got.toSeq == Seq((1L, Some(100L)), (2L, Some(200L)), (3L, None)))
  }

  test("allowExact=false excludes same-timestamp right rows") {
    val left = Seq((1L, "u1", ts("2024-01-01 12:00:00"))).toDF("id", "u", "ts")
    val right = Seq(
      ("u1", ts("2024-01-01 11:00:00"), 1L),
      ("u1", ts("2024-01-01 12:00:00"), 2L)).toDF("u", "ts", "payload")
    val strict = AsofJoin.backward(left, right, "ts", Seq("u"), Seq("payload"),
      allowExact = false).select("payload").as[Long].head()
    assert(strict == 1L)
  }

  private lazy val dirLeft = Seq(
    (1L, "u1", ts("2024-01-01 10:00:00")),
    (2L, "u1", ts("2024-01-01 12:00:00")),
    (3L, "u2", ts("2024-01-01 09:00:00"))
  ).toDF("id", "u", "ts")
  private lazy val dirRight = Seq(
    ("u1", ts("2024-01-01 09:30:00"), 100L),
    ("u1", ts("2024-01-01 10:45:00"), 150L),
    ("u2", ts("2024-01-01 09:20:00"), 300L)
  ).toDF("u", "ts", "payload")

  test("forward asof join matches the nearest following right row") {
    val got = AsofJoin.forward(dirLeft, dirRight, "ts", Seq("u"), Seq("payload"))
      .orderBy("id").select("id", "payload").as[(Long, Option[Long])].collect()
    // id=1 -> next u1 row at 10:45 (150); id=2 -> nothing after 12:00;
    // id=3 -> 09:20 already passed? no: forward needs ts >= 09:00 -> 09:20 (300)
    assert(got.toSeq == Seq((1L, Some(150L)), (2L, None), (3L, Some(300L))))
  }

  test("nearest asof join takes the closer side, ties to backward") {
    val got = AsofJoin.nearest(dirLeft, dirRight, "ts", Seq("u"), Seq("payload"))
      .orderBy("id").select("id", "payload").as[(Long, Option[Long])].collect()
    // id=1: backward gap 30m (100) vs forward gap 45m (150) -> 100
    // id=2: backward 10:45 (150), nothing forward -> 150
    // id=3: nothing backward, forward 09:20 (300) -> 300
    assert(got.toSeq == Seq((1L, Some(100L)), (2L, Some(150L)), (3L, Some(300L))))
    // exact tie goes backward: a left row equidistant from two rights
    val l = Seq((1L, "u", ts("2024-01-01 10:00:00"))).toDF("id", "u", "ts")
    val r = Seq(("u", ts("2024-01-01 09:50:00"), 1L),
      ("u", ts("2024-01-01 10:10:00"), 2L)).toDF("u", "ts", "payload")
    assert(AsofJoin.nearest(l, r, "ts", Seq("u"), Seq("payload"))
      .select("payload").as[Long].head() == 1L)
  }

  test("tolerance bounds the match gap in every direction") {
    val tol = Some("INTERVAL 35 MINUTES")
    val back = AsofJoin.backward(dirLeft, dirRight, "ts", Seq("u"), Seq("payload"),
      tolerance = tol).orderBy("id").select("id", "payload")
      .as[(Long, Option[Long])].collect()
    // id=1: 30m gap ok (100); id=2: backward 10:45 is 75m -> null; id=3: none
    assert(back.toSeq == Seq((1L, Some(100L)), (2L, None), (3L, None)))
    val fwd = AsofJoin.forward(dirLeft, dirRight, "ts", Seq("u"), Seq("payload"),
      tolerance = tol).orderBy("id").select("id", "payload")
      .as[(Long, Option[Long])].collect()
    // id=1: 45m gap -> null; id=3: 20m gap ok (300)
    assert(fwd.toSeq == Seq((1L, None), (2L, None), (3L, Some(300L))))
    val near = AsofJoin.nearest(dirLeft, dirRight, "ts", Seq("u"), Seq("payload"),
      tolerance = Some("INTERVAL 20 MINUTES"))
      .orderBy("id").select("id", "payload").as[(Long, Option[Long])].collect()
    // id=1: both gaps exceed 20m -> null; id=3: 20m exactly -> 300
    assert(near.toSeq == Seq((1L, None), (2L, None), (3L, Some(300L))))
  }
}

class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  test("session boundaries at the gap threshold") {
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // gaps: 10m (same session), 31m (new), exactly 30m (same: > not >=)
    val df = Seq(("u", ts(0)), ("u", ts(10)), ("u", ts(41)), ("v", ts(0)))
      .toDF("user_id", "ts")
    val got = Sessionize.withSessionId(df, "ts", Seq("user_id"), gapSeconds = 1800)
      .select("user_id", "session_id").as[(String, Long)].collect().toSeq.sorted
    assert(got == Seq(("u", 1L), ("u", 1L), ("u", 2L), ("v", 1L)))
  }
}

class CentroidAggregatorSpec extends SparkSpec {
  import spark.implicits._

  test("centroid equals hand-computed elementwise mean") {
    val agg = udaf(new CentroidAggregator(2))
    val df = Seq((0, Array(1.0f, 2.0f)), (0, Array(3.0f, 6.0f)), (1, Array(5.0f, 5.0f)))
      .toDF("label", "v")
    val got = df.groupBy("label").agg(agg(col("v")).as("c"))
      .orderBy("label").as[(Int, Array[Double])].collect()
    assert(got(0)._2.toSeq == Seq(2.0, 4.0))
    assert(got(1)._2.toSeq == Seq(5.0, 5.0))
  }
}

class NearDupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
    .select(col("doc_id"), lower(col("text")).as("text"))

  /** documents ∪ near-identical plants (drop first 2 words). */
  private lazy val planted = docs.unionByName(
    docs.select((col("doc_id") + 1000L).as("doc_id"),
      concat_ws(" ", slice(split(col("text"), "\\s+"), 3, 10000)).as("text")))

  test("containment join finds the quote-in-document pair jaccard misses") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "intro words precede alpha beta gamma delta epsilon then a " +
        "very long tail of many additional unrelated words keeps going " +
        "well past the quoted span"),
      (3L, "completely different content with no shared phrasing at all")
    ).toDF("doc_id", "text")
    val got = NearDup.ngramContainmentPairs(corpus, "doc_id", "text",
        n = 3, threshold = 0.9)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)), s"quote pair missed: $got")
    assert(!got.contains((2L, 1L)), "reverse containment should be low")
    val jac = NearDup.ngramJaccardPairs(corpus, "doc_id", "text",
        n = 3, threshold = 0.9)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(!jac.contains((1L, 2L)),
      "jaccard at 0.9 should miss the asymmetric pair (else this test is vacuous)")
  }

  test("containment join equals the all-pairs reference on the planted corpus") {
    val t = 0.9
    val got = NearDup.ngramContainmentPairs(planted, "doc_id", "text",
        n = 3, threshold = t)
      .select("a", "b", "containment")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    def gramsOf(s: String): Set[String] =
      s.split("\\s+").filter(_.nonEmpty).sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet
    val sets = planted.as[(Long, String)].collect().toMap.map {
      case (id, text) => id -> gramsOf(text)
    }.filter(_._2.nonEmpty)
    // HALF_UP like Spark's round(), not rint's half-even
    val expected = (for {
      (a, ga) <- sets; (b, gb) <- sets if a != b
      c = ga.intersect(gb).size.toDouble / ga.size if c >= t
    } yield (a, b) -> BigDecimal(c)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
    assert(got.keySet == expected.keySet,
      s"missing=${expected.keySet -- got.keySet} extra=${got.keySet -- expected.keySet}")
    got.foreach { case (k, v) => assert(v == expected(k), s"containment drift at $k") }
  }

  test("containment chunked verify is result-identical to one-shot") {
    // scratchBytes=1 forces the chunked path; values must be
    // bit-identical (same i/sa IEEE division)
    val oneShot = NearDup.ngramContainmentPairs(planted, "doc_id", "text",
        n = 3, threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSet
    withConf(NearDup.VerifyScratchBytesConf -> "1") {
      val chunked = NearDup.ngramContainmentPairs(planted, "doc_id", "text",
          n = 3, threshold = 0.9)
        .as[(Long, Long, Double)].collect().toSet
      assert(chunked == oneShot && oneShot.nonEmpty)
    }
  }

  test("minhash LSH finds every planted high-jaccard pair") {
    val pairs = NearDup.minHashLshPairs(planted, "doc_id", "text",
      n = 3, bands = 8, rowsPerBand = 4, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val nDocs = docs.count()
    // dropping 2 of ~54 words keeps 3-gram jaccard ~0.9 >> 0.5
    val missed = (0L until nDocs).map(i => (i, i + 1000L)).filterNot(pairs.contains)
    assert(missed.isEmpty, s"planted pairs missed by LSH: $missed")
  }

  test("minhash pairs agree with exact ngram jaccard at the threshold") {
    val lsh = NearDup.minHashLshPairs(planted, "doc_id", "text", threshold = 0.5)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toMap2
    val exact = NearDup.ngramJaccardPairs(planted, "doc_id", "text", threshold = 0.5)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toMap2
    // every LSH-verified pair must carry the exact jaccard value
    lsh.foreach { case (k, j) => assert(exact.get(k).contains(j), s"pair $k") }
  }

  implicit class Map2[T](rows: Array[(Long, Long, T)]) {
    def toMap2: Map[(Long, Long), T] = rows.map(r => ((r._1, r._2), r._3)).toMap
  }

  test("broadcast-index PPJoin equals the shuffle path pair-for-pair incl. jaccard") {
    val shuffled = NearDup.ngramJaccardPairs(planted, "doc_id", "text", threshold = 0.5)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toMap2
    val indexed = NearDup.ngramJaccardPairsIndexed(planted, "doc_id", "text", threshold = 0.5)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toMap2
    assert(indexed == shuffled)
    // and at a second threshold (different prefix lengths + bounds)
    val s8 = NearDup.ngramJaccardPairs(planted, "doc_id", "text", threshold = 0.8)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toMap2
    val i8 = NearDup.ngramJaccardPairsIndexed(planted, "doc_id", "text", threshold = 0.8)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toMap2
    assert(i8 == s8)
  }

  test("broadcast verify is plan-different but result-identical to shuffle verify") {
    val shuffled = NearDup.ngramJaccardPairs(planted, "doc_id", "text", threshold = 0.5)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toMap2
    val bcast = NearDup.ngramJaccardPairs(planted, "doc_id", "text", threshold = 0.5,
      verifyBroadcast = true)
    // the verify joins must be map-side lookups: broadcast hash joins,
    // with no exchange carrying the gram-hash arrays
    assert(bcast.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    val got = bcast.select("a", "b", "jaccard")
      .as[(Long, Long, Double)].collect().toMap2
    assert(got == shuffled)
    val mhShuffled = NearDup.minHashLshPairs(planted, "doc_id", "text", threshold = 0.5)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toMap2
    val mhBcast = NearDup.minHashLshPairs(planted, "doc_id", "text", threshold = 0.5,
        verifyBroadcast = true)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toMap2
    assert(mhBcast == mhShuffled)
  }

  test("forced-sharded regime is plan-different but result-identical to broadcast") {
    // the regime switch (spark.graft.ngram.broadcastPrefixBytes=0) must
    // flip the physical plan — shuffled-hash verify instead of broadcast
    // joins — without changing a single pair or jaccard value. This is
    // the only sbt-test coverage of the sharded branch (stress measures
    // it at scale); a silent correctness drift between regimes would
    // otherwise only surface as a count mismatch at 64×.
    val default = NearDup.ngramJaccardPairs(planted, "doc_id", "text", threshold = 0.5)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toMap2
    // default-regime minhash BEFORE the conf flips — computing it inside
    // the forced block would compare two sharded runs (vacuous)
    val mhDefault = NearDup.minHashLshPairs(planted, "doc_id", "text", threshold = 0.5)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toMap2
    withConf(NearDup.BroadcastPrefixBytesConf -> "0") {
      val sharded = NearDup.ngramJaccardPairs(planted, "doc_id", "text", threshold = 0.5)
      val got = sharded.select("a", "b", "jaccard")
        .as[(Long, Long, Double)].collect().toMap2
      assert(got == default)
      // the verify attach must be shuffled-hash (the sharded strategy);
      // Catalyst may still auto-broadcast genuinely tiny sides at spec
      // scale (accurate cached stats) — the conf picks the PPJoin
      // strategy, it does not outlaw small-side broadcasts
      val plan = sharded.queryExecution.executedPlan.toString
      assert(plan.contains("ShuffledHashJoin"), "sharded verify must be SHJ")
      val mhSharded = NearDup.minHashLshPairs(planted, "doc_id", "text", threshold = 0.5)
        .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toMap2
      assert(mhSharded == mhDefault)
    }
  }

  test("cross-corpus ngram join finds every planted pair, cross-side only") {
    val plants = docs.select((col("doc_id") + 1000L).as("doc_id"),
      concat_ws(" ", slice(split(col("text"), "\\s+"), 3, 10000)).as("text"))
    val pairs = NearDup.ngramJaccardJoin(docs, plants, "doc_id", "text",
        threshold = 0.5)
      .select("left_id", "right_id").as[(Long, Long)].collect()
    val nDocs = docs.count()
    val got = pairs.toSet
    val missed = (0L until nDocs).map(i => (i, i + 1000L)).filterNot(got.contains)
    assert(missed.isEmpty, s"planted cross pairs missed: $missed")
    // strictly cross-side: every left from the reference, every right
    // from the new batch
    assert(pairs.forall { case (l, r) => l < 1000L && r >= 1000L })
    // swapping sides transposes the output
    val swapped = NearDup.ngramJaccardJoin(plants, docs, "doc_id", "text",
        threshold = 0.5)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert(swapped == got.map { case (l, r) => (r, l) })
    // the approximate cross-corpus variants find the planted pairs too
    val viaLsh = NearDup.minHashLshJoin(docs, plants, "doc_id", "text",
        threshold = 0.5)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert((0L until nDocs).map(i => (i, i + 1000L)).forall(viaLsh.contains))
    val exact = docs.select((col("doc_id") + 7000L).as("doc_id"), col("text"))
    val viaSim = NearDup.simHashJoin(docs, exact, "doc_id", "text", maxHamming = 0)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert((0L until nDocs).map(i => (i, i + 7000L)).forall(viaSim.contains))
  }

  test("simhash: identical docs collide at hamming 0, near-dups stay close") {
    val exactPlant = docs.unionByName(
      docs.select((col("doc_id") + 5000L).as("doc_id"), col("text")))
    val pairs = NearDup.simHashPairs(exactPlant, "doc_id", "text", maxHamming = 0)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val nDocs = docs.count()
    val missed = (0L until nDocs).map(i => (i, i + 5000L)).filterNot(pairs.contains)
    assert(missed.isEmpty, s"identical pairs not at hamming 0: $missed")
  }
}

class SimHashSpec extends SparkSpec {
  import spark.implicits._
  import TextFunctions._

  test("native simhash64 equals the HOF reference on the fixture corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val diff = docs.select(
        simHash(tokens(lower(col("text")))).as("native"),
        simHashHof(tokens(lower(col("text")))).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diff.count() == 0)
  }

  test("native simhash64 stays within 61 positive bits") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val bad = docs.select(simHash(tokens(col("text"))).as("s"))
      .filter(col("s") < 0 || col("s") >= (1L << 61))
    assert(bad.count() == 0)
  }
}

class AnnSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("LSH top-k is a subset of the bucket-probed space with decent recall") {
    val query = emb.filter(col("vec_id") === 0)
    val rest = emb.filter(col("vec_id") =!= 0)
    val brute = Ann.bruteForceTopK(rest, query, "embedding", "vec_id", 10)
      .select("vec_id").as[Long].collect().toSet
    val lsh = Ann.lshTopK(rest, query, "embedding", "vec_id", 10)
      .select("vec_id").as[Long].collect().toSet
    assert(lsh.nonEmpty, "LSH returned no candidates")
    val recall = (brute intersect lsh).size.toDouble / brute.size
    // multi-probe over 4 planes scans ~5/16 of the corpus; random data
    // gives no cluster structure, so recall is bounded but must be > 0
    assert(recall > 0.0, s"zero recall: brute=$brute lsh=$lsh")
  }

  test("IVF top-k probes a corpus subset with nonzero recall") {
    val query = emb.filter(col("vec_id") === 0)
    val rest = emb.filter(col("vec_id") =!= 0)
    val brute = Ann.bruteForceTopK(rest, query, "embedding", "vec_id", 10)
      .select("vec_id").as[Long].collect().toSet
    val ivf = Ann.ivfTopK(rest, query, "embedding", "vec_id", 10,
      nCentroids = 8, nProbe = 3)
      .select("vec_id").as[Long].collect().toSet
    assert(ivf.size == 10)
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall > 0.0, s"zero IVF recall: brute=$brute ivf=$ivf")
  }

  test("brute-force ranking matches a driver-side computation") {
    val vecs = emb.select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val q = vecs.find(_._1 == 0L).get._2.map(_.toDouble)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    val expected = vecs.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(v.map(_.toDouble), q)) }
      .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSeq
    val got = Ann.bruteForceTopK(emb.filter(col("vec_id") =!= 0),
        emb.filter(col("vec_id") === 0), "embedding", "vec_id", 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == expected)
  }

  test("PQ encode matches a driver-side per-subspace nearest-centroid reference") {
    val rest = emb.filter(col("vec_id") =!= 0)
    val idx = Ann.pqBuild(rest, "embedding", "vec_id", m = 8, k = 16)
    try {
      val got = idx.codes.select(col("vec_id"), col("__codes"))
        .as[(Long, Array[Int])].collect().toMap
      val vecs = rest.select("vec_id", "embedding")
        .as[(Long, Array[Float])].collect()
      val subDim = idx.subDim
      vecs.foreach { case (id, v) =>
        val expected = idx.codebooks.indices.map { s =>
          val sub = v.slice(s * subDim, (s + 1) * subDim).map(_.toDouble)
          idx.codebooks(s).zipWithIndex.map { case (c, ci) =>
            (sub.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum, ci)
          }.minBy { case (d, ci) => (d, ci) }._2
        }
        assert(got(id).toSeq == expected, s"codes diverge for vec $id")
      }
    } finally idx.release()
  }

  test("PQ ADC score equals the cosine against the codebook reconstruction") {
    val rest = emb.filter(col("vec_id") =!= 0)
    val idx = Ann.pqBuild(rest, "embedding", "vec_id", m = 8, k = 16)
    try {
      val q = emb.filter(col("vec_id") === 0)
        .select("embedding").as[Array[Float]].head().map(_.toDouble)
      val subDim = idx.subDim
      val m = idx.codebooks.length
      val lutDot = Array.tabulate(m)(s => idx.codebooks(s).map(c =>
        c.indices.map(i => q(s * subDim + i) * c(i)).sum))
      val lutSq = Array.tabulate(m)(s => idx.codebooks(s).map(c => c.map(x => x * x).sum))
      val qNorm = math.sqrt(q.map(x => x * x).sum)
      val scored = idx.codes.select(col("vec_id"),
          org.apache.spark.sql.graft.PqAdcScore.columnFor(
            col("__codes"), lutDot, lutSq, qNorm).as("adc"),
          col("__codes"))
        .as[(Long, Double, Array[Int])].collect()
      scored.foreach { case (id, adc, codes) =>
        val recon = codes.zipWithIndex.flatMap { case (c, s) => idx.codebooks(s)(c) }
        val dot = recon.indices.map(i => q(i) * recon(i)).sum
        val expected = dot / (qNorm * math.sqrt(recon.map(x => x * x).sum))
        assert(math.abs(adc - expected) < 1e-9, s"ADC diverges for vec $id")
      }
    } finally idx.release()
  }

  test("PQ top-k re-rank returns exact cosines with nonzero recall") {
    val query = emb.filter(col("vec_id") === 0)
    val rest = emb.filter(col("vec_id") =!= 0)
    val brute = Ann.bruteForceTopK(rest, query, "embedding", "vec_id", 10)
      .as[(Long, Double)].collect().toMap
    val pq = Ann.pqTopK(rest, query, "embedding", "vec_id", 10)
      .as[(Long, Double)].collect()
    assert(pq.length == 10)
    // stage-2 re-rank is EXACT cosine: every returned id the brute-force
    // head also contains must carry the identical rounded score
    pq.foreach { case (id, c) =>
      brute.get(id).foreach(b => assert(b == c, s"re-rank cosine drifts for $id")) }
    val recall = pq.map(_._1).count(brute.contains).toDouble / brute.size
    assert(recall > 0.0, s"zero PQ recall: brute=${brute.keySet} pq=${pq.map(_._1).toSeq}")
  }

  test("PQ malformed rows score -2.0 and sort last, never crash") {
    val good = Seq((1L, Array.fill(8)(1.0f)), (2L, Array.fill(8)(0.5f)),
      (3L, Array.fill(8)(-1.0f)), (4L, Array.fill(8)(2.0f))).toDF("vec_id", "embedding")
    val idx = Ann.pqBuild(good, "embedding", "vec_id", m = 4, k = 2)
    try {
      // corrupt: a codes row of wrong arity and one with an out-of-range code
      val badCodes = Seq((99L, Array(0, 1)), (98L, Array(0, 0, 0, 7))).toDF("vec_id", "__codes")
      val all = idx.codes.unionByName(badCodes)
      val q = Array.fill(8)(1.0)
      val lutDot = Array.tabulate(4)(s => idx.codebooks(s).map(c =>
        c.indices.map(i => q(s * 2 + i) * c(i)).sum))
      val lutSq = Array.tabulate(4)(s => idx.codebooks(s).map(c => c.map(x => x * x).sum))
      val scored = all.select(col("vec_id"),
          org.apache.spark.sql.graft.PqAdcScore.columnFor(
            col("__codes"), lutDot, lutSq, math.sqrt(8.0)).as("adc"))
        .as[(Long, Double)].collect().toMap
      assert(scored(99L) == -2.0 && scored(98L) == -2.0)
      assert(scored.filter(t => t._1 != 99L && t._1 != 98L).values.forall(_ > -2.0))
    } finally idx.release()
  }
}

class RangeFuzzyJoinSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed point-in-interval join equals the nested-loop reference") {
    val points = Seq.tabulate(200)(i => (i.toLong, i * 37L % 1000))
      .toDF("pid", "pt")
    val intervals = Seq((1L, 10L, 80L), (2L, 75L, 75L), (3L, 900L, 999L),
      (4L, 0L, 0L), (5L, 500L, 400L) /* empty: start > end */ ,
      (6L, 990L, 1100L)).toDF("iid", "s", "e")
    val got = RangeJoin.pointInInterval(points, "pt", intervals, "s", "e", 50L)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    val pts = points.as[(Long, Long)].collect()
    val ivs = intervals.as[(Long, Long, Long)].collect()
    val expected = (for {
      (pid, pt) <- pts; (iid, s, e) <- ivs if pt >= s && pt <= e
    } yield (pid, iid)).toSet
    assert(got == expected && expected.nonEmpty)
  }

  test("bucketed range join is bucket-width invariant (incl. width > span)") {
    val points = Seq.tabulate(300)(i => (i.toLong, i * 13L % 500)).toDF("pid", "pt")
    val intervals = Seq((1L, 100L, 160L), (2L, 300L, 301L)).toDF("iid", "s", "e")
    val res = Seq(7L, 64L, 10000L).map { w =>
      RangeJoin.pointInInterval(points, "pt", intervals, "s", "e", w)
        .select("pid", "iid").as[(Long, Long)].collect().toSet
    }
    assert(res.distinct.size == 1 && res.head.nonEmpty)
  }

  test("bucketed range join handles negative domains with floor semantics") {
    val points = Seq((1L, -101L), (2L, -100L), (3L, -1L), (4L, 0L), (5L, 99L))
      .toDF("pid", "pt")
    val intervals = Seq((1L, -100L, 0L)).toDF("iid", "s", "e")
    val got = RangeJoin.pointInInterval(points, "pt", intervals, "s", "e", 50L)
      .select("pid").as[Long].collect().toSet
    assert(got == Set(2L, 3L, 4L))
  }

  test("range join max-span guard fails loudly on explosive intervals") {
    val points = Seq((1L, 5L)).toDF("pid", "pt")
    val intervals = Seq((1L, 0L, 10000000L)).toDF("iid", "s", "e")
    val ex = intercept[Exception] {
      RangeJoin.pointInInterval(points, "pt", intervals, "s", "e", 10L,
        maxBucketsPerInterval = 1000).collect()
    }
    assert(ex.getMessage.contains("buckets") ||
      Option(ex.getCause).exists(_.getMessage.contains("buckets")))
  }

  test("interval overlap join equals the nested-loop reference, exactly once") {
    val left = Seq((1L, 10L, 80L), (2L, 75L, 75L), (3L, 900L, 999L),
      (4L, 0L, 0L), (5L, 500L, 400L) /* empty */, (6L, -50L, 5L))
      .toDF("lid", "ls", "le")
    val right = Seq((1L, 70L, 120L), (2L, 80L, 80L) /* touches 1's end */,
      (3L, 1000L, 1100L) /* touches 3's end +1: NO overlap */,
      (4L, -100L, -1L), (5L, 0L, 2000L) /* spans everything */)
      .toDF("rid", "rs", "re")
    def run(w: Long) = RangeJoin
      .intervalOverlap(left, "ls", "le", right, "rs", "re", w)
      .select("lid", "rid").as[(Long, Long)].collect().toList
    val got = run(50L)
    val expected = (for {
      (lid, ls, le) <- left.as[(Long, Long, Long)].collect()
      (rid, rs, re) <- right.as[(Long, Long, Long)].collect()
      if ls <= le && rs <= re && ls <= re && rs <= le
    } yield (lid, rid)).toList
    // exactly-once: multiset equality, not set equality — a pair
    // arriving via several shared buckets would hide under a Set
    assert(got.sorted == expected.sorted && expected.nonEmpty)
    assert(got.contains((1L, 2L)), "touching endpoints must overlap")
    assert(!got.exists(p => p._1 == 3L && p._2 == 3L),
      "adjacent-but-disjoint intervals must not pair")
    // bucket-width invariance incl. width > span
    assert(run(7L).sorted == got.sorted && run(10000L).sorted == got.sorted)
  }

  test("levenshtein self-join equals the all-pairs reference (incl. short strings)") {
    // mixed vocabulary: long strings (gram-blocked path), short strings
    // (cross stratum), and a short/long pair where the LONG string
    // sorts first (the orientation trap)
    val vocab = Seq("ab", "ac", "abc", "zzzz-widget", "zzzz-widgit",
      "small ring", "small rings", "smallring", "red widget", "aa", "b",
      // short "zzzzzz" (len 6) vs long "azzzzzz" (len 7, ed 1): the long
      // string sorts FIRST, so a one-sided short×long cross with a
      // bare a<b filter would drop this pair
      "zzzzzz", "azzzzzz")
    val df = vocab.toDF("s")
    val got = FuzzyJoin.levenshteinSelfJoin(df, "s", maxDist = 2)
      .select("a", "b", "dist").as[(String, String, Int)].collect().toSet
    def lev(x: String, y: String): Int = {
      val d = Array.tabulate(x.length + 1, y.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to x.length; j <- 1 to y.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1))
      d(x.length)(y.length)
    }
    val expected = (for {
      x <- vocab; y <- vocab if x < y && lev(x, y) <= 2
    } yield (x, y, lev(x, y))).toSet
    assert(got == expected && expected.exists(_._3 == 2))
  }

  test("levenshtein short stratum: untagged natural short-word vocabulary") {
    // a natural-language-shaped vocabulary is MOSTLY sub-gram-floor
    // words (len < 7 at q=2, d=2): the 1-gram-blocked short stratum
    // must stay complete on exactly this shape — dense near-miss
    // clusters ("cat"/"bat"/"rat"), micro strings with ≤ d distinct
    // chars ("aa", "abab"), and short/boundary-long cross pairs
    val vocab = Seq(
      "cat", "bat", "rat", "hat", "cart", "card", "care", "core", "bore",
      "the", "then", "them", "they", "she", "he", "we", "me", "be",
      "dog", "dig", "dug", "bag", "big", "bug", "bed", "bad",
      "aa", "ab", "abab", "aaa", "bb", "baba",
      "run", "ran", "rung", "sung", "sun", "son", "ton", "tone", "stone",
      // boundary-long partners of short words (len 7-8)
      "stones", "stoners", "cartoon", "caravan")
    val df = vocab.toDF("s")
    val got = FuzzyJoin.levenshteinSelfJoin(df, "s", maxDist = 2)
      .select("a", "b", "dist").as[(String, String, Int)].collect().toSet
    def lev(x: String, y: String): Int = {
      val d = Array.tabulate(x.length + 1, y.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to x.length; j <- 1 to y.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1))
      d(x.length)(y.length)
    }
    val expected = (for {
      x <- vocab; y <- vocab if x < y && lev(x, y) <= 2
    } yield (x, y, lev(x, y))).toSet
    assert(got == expected)
    // the fixture must actually exercise each stratum boundary
    assert(expected.contains(("aa", "ab", 1)), "micro pair present")
    assert(expected.contains(("stone", "stones", 1)), "cross-floor pair present")
    assert(expected.size > 50, s"dense short vocabulary (got ${expected.size} pairs)")
  }

  private def jwAllPairs(vocab: org.apache.spark.sql.DataFrame,
      minSim: Double): Set[(String, String)] = {
    val n = vocab.toDF("name").filter(col("name").isNotNull).distinct()
    n.select(col("name").as("a"))
      .crossJoin(n.select(col("name").as("b")))
      .filter(col("a") < col("b"))
      .filter(org.apache.spark.sql.graft.JaroWinkler
        .columnFor(col("a"), col("b")) >= minSim)
      .as[(String, String)].collect().toSet
  }

  test("jaro-winkler self-join equals the all-pairs reference on the fixture vocabulary") {
    // the recall contract behind the declared query: on the part-name
    // vocabulary every ≥0.85 pair disagrees in ≤1 token per side, so
    // the 2-rarest-token prefixes must meet — the blocked join and the
    // unblocked cross product must emit the IDENTICAL pair set
    val names = spark.read.parquet(s"$sf/part.parquet").select("p_name")
    val got = FuzzyJoin.jaroWinklerSelfJoin(names, "p_name", minSim = 0.85)
      .select("a", "b").as[(String, String)].collect().toSet
    val expected = jwAllPairs(names.toDF("name"), 0.85)
    assert(got == expected && expected.nonEmpty,
      s"blocked=${got.size} all-pairs=${expected.size}")
  }

  test("jaro-winkler prefix blocking: universal stopword never carries the match") {
    // the anti-df² scenario: every name ends in a corpus-wide stopword
    // token; qualifying pairs share a RARE token too, so the
    // 2-rarest-token prefixes (which exclude "corp" whenever anything
    // rarer exists) still meet and recall is exact — while the
    // all-shared-token design would candidate C(V,2) pairs through the
    // corp block
    val vocab = Seq(
      "alpha beta corp", "alpha betax corp", "gamma delta corp",
      "gamma deltas corp", "omega phi corp", "omegas phi corp",
      "zeta xi corp", "unrelated name corp").toDF("name")
    val got = FuzzyJoin.jaroWinklerSelfJoin(vocab, "name", minSim = 0.85)
      .select("a", "b").as[(String, String)].collect().toSet
    val expected = jwAllPairs(vocab, 0.85)
    assert(got == expected && expected.size >= 3,
      s"blocked=${got.size} all-pairs=${expected.size}")
  }

  test("jaro-winkler tokenDiff knob: 2-token-diff pairs need tokenDiff=2") {
    // the documented contract boundary: a high-JW pair disagreeing in
    // TWO tokens escapes the default tokenDiff=1 prefixes (its only
    // shared token is the commonest, outside both 2-prefixes) and is
    // recovered at tokenDiff=2 — the knob trades candidate volume for
    // recall class, exactly like levenshtein's maxDist
    val vocab = Seq("aaaa bbbb cccc", "aaaa bbbc cccd", "aaaa zzzz yyyy")
      .toDF("name")
    val all = jwAllPairs(vocab, 0.85)
    assert(all.contains(("aaaa bbbb cccc", "aaaa bbbc cccd")))
    val k1 = FuzzyJoin.jaroWinklerSelfJoin(vocab, "name", 0.85, tokenDiff = 1)
      .select("a", "b").as[(String, String)].collect().toSet
    val k2 = FuzzyJoin.jaroWinklerSelfJoin(vocab, "name", 0.85, tokenDiff = 2)
      .select("a", "b").as[(String, String)].collect().toSet
    assert(!k1.contains(("aaaa bbbb cccc", "aaaa bbbc cccd")))
    assert(k2 == all)
  }
}

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._
  import TextFunctions._

  test("langId recovers the language of crafted multilingual samples") {
    val samples = Seq(
      ("en", "the cat is on the mat and it is happy"),
      ("es", "el gato que vive en la casa y los perros"),
      ("de", "der hund und die katze sind nicht ein problem"),
      ("fr", "le chat est dans les jardins et la maison"),
      ("zh", "我 是 他 的 人 这 不 在"),
      // real zh is unsegmented: markers must be found as substrings,
      // not whitespace tokens (r4 verdict #3)
      ("zh", "我是一个在北京工作的人，他说这里的天气不错。"),
      ("und", "qwerty zxcvb asdfgh")).toDF("expected", "text")
    val got = samples.select(col("expected"), langId(col("text")).as("got"))
      .as[(String, String)].collect()
    got.foreach { case (exp, pred) => assert(pred == exp, s"expected $exp got $pred") }
  }

  test("simhash is deterministic and edit-local") {
    val df = Seq(
      (1L, "spark makes big data processing fast and reliable today"),
      (2L, "spark makes big data processing fast and reliable today"),
      (3L, "spark makes big data processing slow and reliable today"),
      (4L, "completely different words about gardening tulips roses daisies")
    ).toDF("id", "text").withColumn("sig", simHash(tokens(col("text"))))
    val sig = df.select("id", "sig").as[(Long, Long)].collect().toMap
    assert(sig(1L) == sig(2L), "identical text must hash identically")
    val near = java.lang.Long.bitCount(sig(1L) ^ sig(3L))
    val far = java.lang.Long.bitCount(sig(1L) ^ sig(4L))
    assert(near < far, s"one-word edit ($near bits) must be closer than unrelated ($far bits)")
  }

  test("quality score rewards function words, penalizes punctuation") {
    val df = Seq(
      ("clean", "the quick brown fox jumps over the lazy dog and runs to the hill"),
      ("soup", "@@@ ### !!! %%% ^^^ &&& *** ((( ))) ???")
    ).toDF("kind", "text").select(col("kind"), qualityScore(col("text")).as("q"))
    val q = df.as[(String, Double)].collect().toMap
    assert(q("clean") > q("soup"))
    assert(q("soup") == 0.0, "punctuation soup should clip to 0")
  }

  test("fingerprint is stable under edits away from the minimizing window") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val df = Seq((1L, base), (2L, base + " omega"), (3L, "x " + base))
      .toDF("id", "text")
      .select(col("id"), rollingFingerprint(tokens(col("text")), 5).as("fp"))
    val fp = df.as[(Long, Long)].collect().toMap
    // appending/prepending only adds candidate windows; the min can only
    // decrease or stay — at minimum the shared-window min survives
    assert(fp(2L) <= fp(1L) && fp(3L) <= fp(1L))
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("video decode is deterministic and partition-invariant") {
    val media = Multimodal.plantedVideos(
      spark, (0L until 120L).toDF("doc_id"), "doc_id")
    val once = Multimodal.decodeVideoStats(spark, media)
      .collect().map(s => s.doc_id -> s).toMap
    val repart = Multimodal.decodeVideoStats(spark, media, parallelism = 7)
      .collect().map(s => s.doc_id -> s).toMap
    assert(once == repart, "stats must not depend on partitioning")
    assert(once(0L).n_frames.isEmpty && once(50L).n_frames.isEmpty)
    assert(once(1L).n_frames.contains(3L) && once(1L).width.contains(5L))
  }

  test("frame sampling emits every Nth real AVI frame; non-AVI payloads contribute none") {
    val media = Multimodal.plantedVideos(
      spark, (0L until 60L).toDF("doc_id"), "doc_id")
    val frames = Multimodal.sampleFrames(spark, media, everyN = 2)
      .collect().groupBy(_.id)
    assert(!frames.contains(0L) && !frames.contains(50L), "corrupt ids must drop")
    (1L until 60L).filter(_ % 50 != 0).foreach { id =>
      val fs = frames(id)
      val nF = (2 + id % 4).toInt
      val w = (4 + id % 9).toInt; val h = (4 + id % 7).toInt
      val stride = (w * 3 + 3) & ~3
      assert(fs.forall(_.nFrames == nF))
      assert(fs.map(_.frameIdx).sorted.toSeq == (0 until nF by 2).toSeq)
      // each sampled frame is the full uncompressed DIB for its dims
      assert(fs.forall(_.frameBytes.length == stride * h))
    }
  }

  test("binaryFile ingest feeds the decode pipeline with correct metadata") {
    val dir = java.nio.file.Files.createTempDirectory("graft_media")
    try {
      val payloads = Map(7L -> "img-seven".getBytes("UTF-8"),
        42L -> Array.tabulate(300)(i => (i % 251).toByte),
        1001L -> "audio-bytes-here".getBytes("UTF-8"))
      java.nio.file.Files.write(dir.resolve("img_7.jpg"), payloads(7L))
      java.nio.file.Files.write(dir.resolve("clip42.png"), payloads(42L))
      java.nio.file.Files.write(dir.resolve("track-1001.wav"), payloads(1001L))
      java.nio.file.Files.write(dir.resolve("ignore.txt"), "no".getBytes("UTF-8"))
      val media = Multimodal.readMediaDir(spark, dir.toString, "*.{jpg,png,wav}")
      val rows = media.select("id", "format", "nBytes")
        .as[(Long, String, Long)].collect().toSet
      assert(rows == Set((7L, "jpg", 9L), (42L, "png", 300L), (1001L, "wav", 16L)))
      // the ingested rows feed the decode pipeline; none of these
      // payloads is a real image, so each surfaces as the null row
      val decoded = Multimodal.decodeImageStats(spark, media).collect()
      assert(decoded.map(_.doc_id).toSet == Set(7L, 42L, 1001L))
      assert(decoded.forall(_.width.isEmpty))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("real resize rescales decodable images to the target dims; corrupt rows empty out") {
    val media = Multimodal.plantedImages(
      spark, (0L until 60L).toDF("doc_id"), "doc_id")
    val resized = Multimodal.resizeImages(spark, media, 8, 6).collect()
    assert(resized.length == 60)
    resized.foreach { r =>
      if (r.id % 50 == 0) assert(r.content.isEmpty && r.nBytes == 0L)
      else {
        val st = Multimodal.ImageCodec.decodeStats(r.id, r.content)
        assert(st.width.contains(8L) && st.height.contains(6L),
          s"id ${r.id}: resized to ${st.width}x${st.height}")
        assert(r.nBytes == r.content.length.toLong)
      }
    }
  }

  test("metadata survives the binary round trip") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val media = Multimodal.asMediaTable(docs, "doc_id", "text")
    val byteLens = media.as[Multimodal.MediaRecord].collect()
      .map(r => r.id -> r.nBytes).toMap
    val expected = docs.select(col("doc_id"), octet_length(col("text")).cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(byteLens == expected)
  }

  test("real PNG codec: encode -> ImageIO decode round-trips exact channel sums") {
    // lossless round trip: decoded sums equal the planted pixel
    // functions' closed forms for several (w, h, r) shapes
    for (id <- Seq(1L, 12L, 49L, 255L, 256L, 511L)) {
      val w = (4 + id % 13).toInt
      val h = (4 + id % 11).toInt
      val bytes = Multimodal.ImageCodec.encodePng(w, h,
        (x, y) => ((id % 256).toInt, x + y, x * y))
      val st = Multimodal.ImageCodec.decodeStats(id, bytes)
      assert(st.width.contains(w.toLong) && st.height.contains(h.toLong))
      assert(st.n_channels.contains(3L))
      assert(st.sum_r.contains(w.toLong * h * (id % 256)))
      assert(st.sum_g.contains(h.toLong * w * (w - 1) / 2 + w.toLong * h * (h - 1) / 2))
      assert(st.sum_b.contains((w.toLong * (w - 1) / 2) * (h.toLong * (h - 1) / 2)))
    }
  }

  test("decode bomb (tiny payload, huge declared dims) is gated before allocation") {
    // forge the IHDR of a real PNG to claim 50000x50000 (~10 GB raster
    // if decoded): the header gate must reject it without allocating
    val bytes = Multimodal.ImageCodec.encodePng(8, 8, (_, _) => (1, 2, 3))
    def putInt(off: Int, v: Int): Unit = {
      bytes(off) = ((v >> 24) & 0xFF).toByte; bytes(off + 1) = ((v >> 16) & 0xFF).toByte
      bytes(off + 2) = ((v >> 8) & 0xFF).toByte; bytes(off + 3) = (v & 0xFF).toByte
    }
    putInt(16, 50000) // IHDR width
    putInt(20, 50000) // IHDR height
    // whether the reader rejects the stale IHDR CRC or the gate trips
    // first, the outcome must be a null row, never an OOM/crash
    val st = Multimodal.ImageCodec.decodeStats(1L, bytes)
    assert(st.width.isEmpty && st.sum_r.isEmpty)
  }

  test("corrupt payloads decode to all-null stat rows, never a crash") {
    val media = Seq(
      Multimodal.MediaRecord(1L, Array[Byte](1, 2, 3), "bin", 3L),
      Multimodal.MediaRecord(2L, "definitely not an image".getBytes("UTF-8"), "bin", 23L),
      Multimodal.MediaRecord(3L, Array.emptyByteArray, "bin", 0L),
      // a valid PNG header with a truncated body must also fail cleanly
      Multimodal.MediaRecord(4L, Multimodal.ImageCodec.encodePng(8, 8,
        (_, _) => (1, 2, 3)).take(20), "png", 20L)
    ).toDF()
    val out = Multimodal.decodeImageStats(spark, media).collect()
    assert(out.length == 4)
    assert(out.forall(s => s.width.isEmpty && s.sum_r.isEmpty && s.n_channels.isEmpty))
  }

  test("real WAV codec: encode -> javax.sound decode round-trips exact sums and peaks") {
    for (id <- Seq(1L, 12L, 49L, 99L, 140L, 511L)) {
      val n = (32 + id % 41).toInt
      val a = (id % 100).toInt
      val bytes = Multimodal.AudioCodec.encodeWav(8000,
        Array(Array.tabulate(n)(i => (a + i).toShort),
          Array.tabulate(n)(i => (i * i).toShort)))
      val st = Multimodal.AudioCodec.decodeStats(id, bytes)
      assert(st.n_frames.contains(n.toLong) && st.n_channels.contains(2L))
      assert(st.sample_rate.contains(8000L))
      assert(st.sum_ch0.contains(n.toLong * a + n.toLong * (n - 1) / 2))
      assert(st.sum_ch1.contains((n.toLong - 1) * n * (2 * n - 1) / 6))
      assert(st.peak_ch0.contains(a.toLong + n - 1))
      assert(st.peak_ch1.contains((n.toLong - 1) * (n - 1)))
    }
  }

  test("corrupt audio payloads decode to all-null stat rows, never a crash") {
    val wav = Multimodal.AudioCodec.encodeWav(8000,
      Array(Array.tabulate(40)(_.toShort), Array.tabulate(40)(i => (2 * i).toShort)))
    // forge the RIFF data-chunk size to declare ~2 GB of PCM behind a
    // tiny payload: the MaxFrames/actual-bytes gates must yield a null
    // row without allocating the declared buffer
    val bomb = wav.clone()
    val huge = 0x7FFFFFF0
    bomb(40) = (huge & 0xFF).toByte; bomb(41) = ((huge >> 8) & 0xFF).toByte
    bomb(42) = ((huge >> 16) & 0xFF).toByte; bomb(43) = ((huge >> 24) & 0xFF).toByte
    val media = Seq(
      Multimodal.MediaRecord(1L, Array[Byte](1, 2, 3), "bin", 3L),
      Multimodal.MediaRecord(2L, "definitely not audio".getBytes("UTF-8"), "bin", 20L),
      Multimodal.MediaRecord(3L, Array.emptyByteArray, "bin", 0L),
      Multimodal.MediaRecord(4L, wav.take(30), "wav", 30L), // truncated header
      Multimodal.MediaRecord(5L, bomb, "wav", bomb.length.toLong)
    ).toDF()
    val out = Multimodal.decodeAudioStats(spark, media).collect()
    assert(out.length == 5)
    assert(out.forall(s => s.n_frames.isEmpty && s.sum_ch0.isEmpty && s.peak_ch1.isEmpty))
  }

  test("plantedAudio marks every 50th id corrupt and decodes partition-invariantly") {
    val ids = (0L until 120L).toDF("doc_id")
    val once = Multimodal.decodeAudioStats(spark,
      Multimodal.plantedAudio(spark, ids, "doc_id")).collect()
      .map(s => s.doc_id -> s).toMap
    val repart = Multimodal.decodeAudioStats(spark,
      Multimodal.plantedAudio(spark, ids.repartition(7), "doc_id")).collect()
      .map(s => s.doc_id -> s).toMap
    assert(once.keySet == (0L until 120L).toSet && once == repart)
    assert(once(0L).n_frames.isEmpty && once(50L).n_frames.isEmpty && once(100L).n_frames.isEmpty)
    assert(once(1L).n_frames.contains(33L) && once(1L).n_channels.contains(2L))
  }

  test("plantedImages marks every 50th id corrupt and decodes partition-invariantly") {
    val ids = (0L until 120L).toDF("doc_id")
    val once = Multimodal.decodeImageStats(spark,
      Multimodal.plantedImages(spark, ids, "doc_id")).collect()
      .map(s => s.doc_id -> s).toMap
    val repart = Multimodal.decodeImageStats(spark,
      Multimodal.plantedImages(spark, ids.repartition(7), "doc_id")).collect()
      .map(s => s.doc_id -> s).toMap
    assert(once.keySet == (0L until 120L).toSet && once == repart)
    assert(once(0L).width.isEmpty && once(50L).width.isEmpty && once(100L).width.isEmpty)
    assert(once(1L).width.contains(5L) && once(1L).height.contains(5L))
  }

  test("real AVI codec: DIB encode -> container walk round-trips exact channel sums") {
    for (id <- Seq(1L, 12L, 49L, 255L, 511L)) {
      val w = (4 + id % 9).toInt; val h = (4 + id % 7).toInt
      val nF = (2 + id % 4).toInt
      val bytes = Multimodal.VideoCodec.encodeAviDib(w, h, nF,
        (x, y, f) => ((id % 200).toInt, x + y + f, x * y))
      val st = Multimodal.VideoCodec.decodeStats(id, bytes)
      assert(st.n_frames.contains(nF.toLong))
      assert(st.width.contains(w.toLong) && st.height.contains(h.toLong))
      assert(st.sum_r.contains(nF.toLong * w * h * (id % 200)))
      assert(st.sum_g.contains(
        nF.toLong * (h.toLong * w * (w - 1) / 2 + w.toLong * h * (h - 1) / 2) +
          w.toLong * h * (nF.toLong * (nF - 1) / 2)))
      assert(st.sum_b.contains(
        nF.toLong * (w.toLong * (w - 1) / 2) * (h.toLong * (h - 1) / 2)))
    }
  }

  test("real AVI codec: MJPEG frames decode through ImageIO, matching direct per-frame decodes") {
    val (w, h, nF) = (16, 12, 4)
    val bytes = Multimodal.VideoCodec.encodeAviMjpg(w, h, nF,
      (x, y, f) => (10 * x, 10 * y, 20 * f))
    val st = Multimodal.VideoCodec.decodeStats(7L, bytes)
    assert(st.n_frames.contains(nF.toLong))
    assert(st.width.contains(w.toLong) && st.height.contains(h.toLong))
    // parity oracle: sum ImageIO's own decode of each extracted frame
    // (JPEG is lossy, so the planted functions aren't the reference —
    // the standalone JPEG decode is)
    val media = Seq(Multimodal.MediaRecord(7L, bytes, "avi", bytes.length.toLong)).toDF()
    val frames = Multimodal.sampleFrames(spark, media, everyN = 1).collect()
    assert(frames.length == nF)
    var (sr, sg, sb) = (0L, 0L, 0L)
    frames.foreach { fr =>
      val fs = Multimodal.ImageCodec.decodeStats(0L, fr.frameBytes)
      assert(fs.width.contains(w.toLong), "each frame is a standalone JPEG")
      sr += fs.sum_r.get; sg += fs.sum_g.get; sb += fs.sum_b.get
    }
    assert(st.sum_r.contains(sr) && st.sum_g.contains(sg) && st.sum_b.contains(sb))
  }

  test("corrupt video containers decode to all-null stat rows, never a crash") {
    val good = Multimodal.VideoCodec.encodeAviDib(6, 5, 3,
      (x, y, f) => (x, y, f))
    // forge the avih frame count so the movi list can't back it up
    val forged = good.clone()
    val avihBody = {
      // RIFF(12) LIST-hdr(12) avih-hdr(8) => dwTotalFrames at +16
      12 + 12 + 8 + 16
    }
    forged(avihBody) = 99.toByte
    // header bomb: declared dims imply a raster the gate must refuse
    // before any allocation
    val bomb = good.clone()
    def putDim(off: Int): Unit = {
      bomb(off) = 0x50.toByte; bomb(off + 1) = 0xC3.toByte
      bomb(off + 2) = 0.toByte; bomb(off + 3) = 0.toByte // 50000 LE
    }
    putDim(12 + 12 + 8 + 32); putDim(12 + 12 + 8 + 36)
    val media = Seq(
      Multimodal.MediaRecord(1L, Array[Byte](1, 2, 3), "bin", 3L),
      Multimodal.MediaRecord(2L, "definitely not a video".getBytes("UTF-8"), "bin", 22L),
      Multimodal.MediaRecord(3L, Array.emptyByteArray, "bin", 0L),
      Multimodal.MediaRecord(4L, good.take(good.length / 2), "avi", good.length / 2L),
      Multimodal.MediaRecord(5L, forged, "avi", forged.length.toLong),
      Multimodal.MediaRecord(6L, bomb, "avi", bomb.length.toLong)
    ).toDF()
    val out = Multimodal.decodeVideoStats(spark, media).collect()
    assert(out.length == 6)
    assert(out.forall(s => s.n_frames.isEmpty && s.sum_r.isEmpty && s.width.isEmpty))
  }
}

/** Equivalence tests for non-oracle approximate operators (SURVEY.md
  * §5.4): sketches aren't hash-stable, but their error bounds are
  * contractual.
  */
class ApproxSpec extends SparkSpec {
  import spark.implicits._

  test("approx_count_distinct within declared rsd of exact") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val (approx, exact) = li.select(
        approx_count_distinct(col("l_partkey"), 0.05).as("a"),
        countDistinct(col("l_partkey")).as("e"))
      .as[(Long, Long)].head()
    val err = math.abs(approx.toDouble - exact) / exact
    assert(err < 0.15, s"approx=$approx exact=$exact err=$err")
  }

  test("percentile_approx brackets the exact percentile") {
    val c = spark.read.parquet(s"$sf/customer.parquet")
    val row = c.select(
      percentile_approx(col("c_acctbal"), lit(0.5), lit(10000)).as("a"),
      expr("percentile(c_acctbal, 0.5)").as("e")).head()
    val (approx, exact) = (row.getDouble(0), row.getDouble(1))
    assert(math.abs(approx - exact) < 100.0, s"approx=$approx exact=$exact")
  }

  test("sample(frac) row count within binomial bounds") {
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val n = o.count()
    val k = o.sample(withReplacement = false, 0.2, seed = 42).count()
    val (lo, hi) = (0.2 * n - 4 * math.sqrt(n * 0.2 * 0.8), 0.2 * n + 4 * math.sqrt(n * 0.2 * 0.8))
    assert(k >= lo && k <= hi, s"sampled $k of $n outside [$lo, $hi]")
  }
}

/** DataSketches HLL: error bound, low-cardinality exactness, and the
  * mergeability contract that makes sketches the 100 TB distinct-count
  * pattern (union of per-part sketches ≡ sketch of the whole).
  */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  // via Tables: the events fixture carries ns timestamps a raw parquet
  // read rejects
  private lazy val events = graft.tables.Tables(spark, sf).events

  test("hll estimate within 5% of exact at fixture cardinality") {
    val (est, exact) = events.select(
        hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("a"),
        countDistinct(col("user_id")).as("e"))
      .as[(Long, Long)].head()
    val err = math.abs(est.toDouble - exact) / exact
    assert(err < 0.05, s"est=$est exact=$exact err=$err")
  }

  test("union of per-day sketches equals the sketch of the whole") {
    val daily = events
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .groupBy("day").agg(hll_sketch_agg(col("user_id")).as("sk"))
    val merged = daily
      .agg(hll_sketch_estimate(hll_union_agg(col("sk")))).as[Long].head()
    val whole = events
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id")))).as[Long].head()
    assert(merged == whole,
      s"merge-of-parts $merged != sketch-of-whole $whole (mergeability broken)")
  }

  test("exact at low cardinality and partitioning-invariant") {
    val small = Seq.tabulate(500)(i => i.toLong % 37).toDF("id")
    val a = small.agg(hll_sketch_estimate(hll_sketch_agg(col("id")))).as[Long].head()
    val b = small.repartition(13)
      .agg(hll_sketch_estimate(hll_sketch_agg(col("id")))).as[Long].head()
    assert(a == 37L && b == 37L)
  }

  test("KLL quantiles within the normalized rank-error bound of exact") {
    import org.apache.spark.sql.graft.KllQuantileSketch
    val ranks = Seq(0.5, 0.9, 0.99)
    val est = events
      .agg(KllQuantileSketch.quantiles(
        KllQuantileSketch.agg(col("value")), ranks).as("q"))
      .select(col("q")).as[Array[Double]].head()
    val vals = events.select("value").as[Double].collect().sorted
    // k=200 two-sided normalized rank error ~1.65%; assert the rank
    // INTERVAL the estimate occupies (`value` is 2-decimal, so ties
    // make count(<=q) alone overshoot) meets the 2% envelope
    ranks.zip(est).foreach { case (r, q) =>
      val lo = vals.count(_ < q).toDouble / vals.length
      val hi = vals.count(_ <= q).toDouble / vals.length
      assert(lo - 0.02 < r && r < hi + 0.02,
        s"KLL p$r estimate $q has rank interval [$lo,$hi]")
    }
  }

  test("KLL union of per-day sketches estimates like the whole-stream sketch") {
    import org.apache.spark.sql.graft.KllQuantileSketch
    val ranks = Seq(0.5, 0.9, 0.99)
    val daily = events
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .groupBy("day").agg(KllQuantileSketch.agg(col("value")).as("sk"))
    val merged = daily
      .agg(KllQuantileSketch.quantiles(
        KllQuantileSketch.unionAgg(col("sk")), ranks).as("q"))
      .select(col("q")).as[Array[Double]].head()
    val vals = events.select("value").as[Double].collect().sorted
    // merging compounds the rank error (union of ~30 sketches), but the
    // bound stays small — assert the merged estimates' rank intervals
    // hold the same 2% envelope the whole-stream test uses
    ranks.zip(merged).foreach { case (r, q) =>
      val lo = vals.count(_ < q).toDouble / vals.length
      val hi = vals.count(_ <= q).toDouble / vals.length
      assert(lo - 0.02 < r && r < hi + 0.02,
        s"merged KLL p$r estimate $q has rank interval [$lo,$hi]")
    }
  }

  test("frequent-items sketch: bounds contain truth, heavy items never missed") {
    import org.apache.spark.sql.graft.FreqItemsSketch
    // skewed stream: item i (1..8) appears 2^(9-i) times, plus 500
    // singleton tail items — totals are known exactly
    val rows = (1 to 8).flatMap(i => Seq.fill(1 << (9 - i))(i.toLong)) ++
      (1000L until 1500L)
    val truth = rows.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val df = rows.toDF("item").repartition(7)
    val got = df.agg(FreqItemsSketch.topK(
        FreqItemsSketch.agg(col("item"), maxMapSize = 32), 10).as("t"))
      .select(explode(col("t")).as("r"))
      .select("r.item", "r.est", "r.lb", "r.ub")
      .as[(Long, Long, Long, Long)].collect()
    got.foreach { case (item, est, lb, ub) =>
      val t = truth(item)
      assert(lb <= t && t <= ub && lb <= est && est <= ub,
        s"bounds [$lb,$ub] est $est miss truth $t for item $item")
    }
    // the two most frequent items (256 and 128 occurrences, far above
    // the n/maxMapSize error bound) must be the top-2 returned
    assert(got.take(2).map(_._1).toSeq == Seq(1L, 2L))
  }

  test("frequent-items union of per-part sketches keeps the bound guarantee") {
    import org.apache.spark.sql.graft.FreqItemsSketch
    val rows = (1 to 6).flatMap(i => Seq.fill(1 << (8 - i))(i.toLong)) ++
      (2000L until 2300L)
    val truth = rows.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val parts = rows.zipWithIndex.map { case (v, i) => (v, i % 5) }
      .toDF("item", "part")
    val merged = parts.groupBy("part")
      .agg(FreqItemsSketch.agg(col("item"), maxMapSize = 32).as("sk"))
      .agg(FreqItemsSketch.topK(
        FreqItemsSketch.unionAgg(col("sk"), maxMapSize = 32), 6).as("t"))
      .select(explode(col("t")).as("r"))
      .select("r.item", "r.lb", "r.ub")
      .as[(Long, Long, Long)].collect()
    merged.foreach { case (item, lb, ub) =>
      val t = truth(item)
      assert(lb <= t && t <= ub, s"merged bounds [$lb,$ub] miss $t for $item")
    }
    assert(merged.head._1 == 1L)
  }

  test("KLL is partitioning-invariant on duplicate-free exact-capacity input") {
    import org.apache.spark.sql.graft.KllQuantileSketch
    // below k=200 retained items the sketch never compacts: estimates
    // are EXACT and cannot depend on partition layout
    val small = Seq.tabulate(150)(i => i.toDouble).toDF("v")
    val a = small.agg(KllQuantileSketch.quantiles(
      KllQuantileSketch.agg(col("v")), Seq(0.5)).as("q"))
      .select(col("q")).as[Array[Double]].head()
    val b = small.repartition(13).agg(KllQuantileSketch.quantiles(
      KllQuantileSketch.agg(col("v")), Seq(0.5)).as("q"))
      .select(col("q")).as[Array[Double]].head()
    assert(a.head == b.head && a.head == 74.0, s"a=${a.toSeq} b=${b.toSeq}")
  }
}
