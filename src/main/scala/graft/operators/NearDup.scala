package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Near-duplicate detection over a corpus of (id, text) — the LLM-data
  * dedup family (SURVEY.md §2.9): MinHash+LSH, SimHash blocking, and
  * exact n-gram Jaccard.
  *
  * Scale design: every method here reduces all-pairs O(n²) to
  * candidate generation via an equi-join on a bucket key (LSH band /
  * SimHash block / shared n-gram), which Spark executes as an ordinary
  * shuffle join — linear in corpus size plus output pairs. The exact
  * Jaccard verification then runs only on candidates. Skewed buckets
  * (stop-gram style) are the failure mode at 100 TB; `ngramJaccardPairs`
  * therefore self-joins only rarity-ordered PREFIX postings (exact, per
  * the prefix-filtering principle) with PPJoin's positional-filter
  * count bound, so high-df stop-grams never enter the pair join at all.
  *
  * Cache lifecycle: each operator persists its heavy intermediate
  * (gram-set / signature frame) for the duration of ONE materializing
  * action and releases it via [[CacheLifecycle.releaseAfterAction]] —
  * repeated invocations in a long-lived session leave no dead blocks.
  * Consequence for callers: MATERIALIZE THE RESULT ONCE. The first
  * completed action releases the intermediates, so a second action on
  * the same returned DataFrame (e.g. `count()` then `write`) silently
  * recomputes the whole candidate+verify pipeline. A multi-action
  * consumer should persist the returned frame itself (or write it out
  * and re-read) before fanning out.
  */
object NearDup {

  /** Spread a narrow-but-CPU-heavy transform across all cores: a corpus
    * read from a few small files would otherwise shingle/hash on as few
    * cores as there are input splits (measured 16× slowdown at sf0.1,
    * where the fixture is a single parquet file). The repartition is
    * CONDITIONAL on two plan-only checks (never an action):
    *  - a corpus whose lineage already contains a shuffle arrives at
    *    ~spark.sql.shuffle.partitions parallelism, and inspecting its
    *    partition count via `.rdd` would eagerly execute every upstream
    *    stage under AQE — skip both the probe and the repartition;
    *  - a pure scan lineage exposes its split count cheaply (`.rdd` on
    *    an exchange-free plan runs no jobs); repartition only when the
    *    splits can't feed every core.
    */
  private def withFullParallelism(corpus: DataFrame): DataFrame =
    FanOut(corpus) // generalized to [[FanOut]] in r19 — same two checks

  /** id + deduplicated word n-gram set per document (documents with
    * fewer than n words drop out — they have no n-gram signature).
    */
  private def gramSets(corpus: DataFrame, id: String, text: String, n: Int): DataFrame =
    withFullParallelism(corpus)
      .select(col(id).as("id"),
        graft.functions.FastText.ngramSet(col(text), n).as("grams"))
      .filter(size(col("grams")) > 0)

  /** The similarity threshold as an EXACT decimal — never a double
    * factor in integer-bound arithmetic. Double threshold products
    * silently mis-round exactly when t·|x| lands on an integer:
    * fp(0.8)·10 = 8.000000000000002, whose ceil is 9, so the PPJoin
    * prefix loses its final gram and an at-the-bound pair escapes the
    * candidate set with zero other symptom (found by the containment
    * all-pairs spec at t=0.9; the same hazard sat latent in the
    * Jaccard prefix and length band for every threshold whose binary
    * expansion exceeds the decimal — 0.8, 0.9 — while 0.5 was immune).
    * `BigDecimal.valueOf` takes the double's SHORTEST decimal
    * rendering, i.e. the number the caller actually wrote.
    */
  private def tDec(threshold: Double): Column =
    lit(java.math.BigDecimal.valueOf(threshold))

  /** ⌈sz·t⌉ with the same exact-decimal discipline, for driver-side
    * prefix arithmetic (the broadcast-index build).
    */
  private def ceilMulExact(sz: Int, threshold: Double): Int =
    (BigDecimal(sz) * BigDecimal.valueOf(threshold))
      .setScale(0, BigDecimal.RoundingMode.CEILING).toIntExact

  /** id + SORTED 64-bit gram-hash set per document — the form the
    * posting build AND the verify stage consume. Hashing at the source
    * (instead of after the posting explode) means gram STRINGS never
    * enter a shuffle or a persisted frame on the exact-Jaccard path:
    * at 64× stress scale the verify join's per-pair payload of two
    * gram-string arrays was the measured spill cliff (STRESS.md), and
    * sorted long arrays are ~5× smaller and merge-scannable. Same
    * xxhash64 the posting previously applied post-explode, so candidate
    * generation is bit-identical; a cross-gram collision inside one
    * pair's union (~2⁻⁵⁰) is the only way hash Jaccard can differ from
    * string Jaccard.
    */
  private def gramHashSets(corpus: DataFrame, id: String, text: String,
      n: Int): DataFrame =
    withFullParallelism(corpus)
      .select(col(id).as("id"),
        graft.functions.FastText.ngramHashSet(col(text), n).as("gh"))
      .filter(size(col("gh")) > 0)

  /** Exact n-gram Jaccard similarity join: pairs (a < b) with
    * |A∩B| / |A∪B| >= threshold.
    *
    * Candidate generation uses PREFIX FILTERING with PPJoin's
    * positional filter (Bayardo et al. "Scaling Up All Pairs Similarity
    * Search", WWW'07; Xiao et al. PPJoin, WWW'08):
    *
    *  1. Order every document's grams by global rarity (ascending
    *     document frequency, gram hash as tie-break — one total order
    *     shared by all documents). If J(A,B) >= t, A and B must share a
    *     gram inside each one's first |x| - ceil(t*|x|) + 1 grams, so
    *     self-joining only the prefix postings is EXACT (zero recall
    *     loss) while excluding precisely the high-df stop-grams whose
    *     Sum(df^2) blowup dominates a naive posting self-join.
    *  2. A length filter (t*|a| <= |b| <= |a|/t) prunes collisions
    *     before any per-pair state accumulates. (A per-row positional
    *     prune here is recall-safe but measured WORSE — it loosens
    *     item 3's aggregate bound; see the note at the join below.)
    *  3. Per surviving pair, one groupBy (map-side partial agg — no
    *     wide `distinct`) counts the shared prefix grams c and the
    *     maximum matched rarity ranks (ia, jb). Because both gram lists
    *     are sorted by the SAME total order, shared grams match
    *     monotonically, so every shared gram beyond the counted ones
    *     ranks after ia in A and after jb in B:
    *        |A∩B| <= c + min(|A| - ia, |B| - jb).
    *     Pairs whose bound can't reach t are pruned HERE — the verify
    *     join sees a near-final pair set instead of every pair sharing
    *     a single prefix gram (the round-2 mistake: that was a 3×
    *     regression at sf0.1).
    */
  def ngramJaccardPairs(corpus: DataFrame, id: String, text: String,
      n: Int = 3, threshold: Double = 0.5,
      verifyBroadcast: Boolean = false): DataFrame =
    ngramJaccardCore(corpus, id, text, n, threshold, (a, b) => a < b,
      verifyBroadcast)

  /** Cross-corpus exact n-gram Jaccard join: pairs (left_id, right_id,
    * jaccard) with J >= threshold, left from `left`, right from `right`
    * — the "dedup a new batch against an existing reference corpus"
    * shape (same-side pairs are NOT emitted; use [[ngramJaccardPairs]]
    * on one corpus for those). Runs the identical prefix-filter +
    * positional-filter machinery over the tagged union: the rarity
    * order is global across both sides, and prefix filtering is exact
    * for any pair regardless of which side its members come from.
    */
  def ngramJaccardJoin(left: DataFrame, right: DataFrame, id: String,
      text: String, n: Int = 3, threshold: Double = 0.5): DataFrame =
    ngramJaccardCore(taggedUnion(left, right, id, text), "__doc", "__text",
      n, threshold, (a, b) => a.getField("s") < b.getField("s"))
      .select(col("a.i").as("left_id"), col("b.i").as("right_id"), col("jaccard"))

  /** Exact n-gram CONTAINMENT join: DIRECTED pairs (a, b), a ≠ b, with
    * |G(a) ∩ G(b)| / |G(a)| >= threshold — a's grams mostly inside b.
    * The asymmetric sibling of [[ngramJaccardPairs]] and a distinct
    * training-data need: a short document quoted inside a much longer
    * one has high containment but LOW Jaccard (the union is dominated
    * by the long side), so the symmetric families never see it.
    *
    * Candidate generation is the containment prefix filter: a may miss
    * at most ⌊(1−t)·|A|⌋ of its OWN grams, so its ⌊(1−t)·|A|⌋+1 rarest
    * grams (same global rarity order as the Jaccard prefix) must hit
    * some gram of b — only a's prefix joins the posting lists. The b
    * side keeps its FULL postings: containment admits |B| ≫ |A|, so
    * the Jaccard length band disappears and only |B| ≥ t·|A| prunes
    * (|A∩B| ≤ min(|A|,|B|)). Verification is one sorted-set
    * intersection per distinct candidate via the codegen kernel —
    * containment = i / |A| from the same exact integers both engines
    * divide identically.
    */
  def ngramContainmentPairs(corpus: DataFrame, id: String, text: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(threshold > 0 && threshold <= 1, s"threshold: $threshold")
    val g = gramHashSets(corpus, id, text, n).persist()
    val posting = g.select(col("id"), size(col("gh")).as("sz"),
      explode(col("gh")).as("gram"))
    val df = posting.groupBy("gram").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy("id").orderBy(col("df"), col("gram"))
    val aPrefix = posting.join(df, "gram")
      .withColumn("rn", row_number().over(byRarity))
      .filter(col("rn") <= col("sz") - ceil(col("sz") * tDec(threshold)) + 1)
      .select(col("gram"), col("id").as("a"), col("sz").as("sa"))
    val bSide = posting.select(col("gram"), col("id").as("b"),
      col("sz").as("sb"))
    val candidates = aPrefix.join(bSide, Seq("gram"))
      .filter(col("a") =!= col("b") &&
        col("sb") >= col("sa") * tDec(threshold))
      .select("a", "b", "sa").distinct()
    // Scratch-aware verify, same discipline as shardedVerify: the
    // one-shot path carries two gram arrays per pair through the
    // joins — past the disk budget (64× stress died ENOSPC mid-spill)
    // the chunked intersection bounds each pass to 1/chunks of the fat
    // payload and reassembles exact counts from skinny partials.
    val spark = corpus.sparkSession
    val cand = candidates.persist()
    val nPairs = cand.count().toDouble
    val avgGh = g.agg(avg(size(col("gh")))).collect()(0) match {
      case r if r.isNullAt(0) => 0.0
      case r => r.getDouble(0)
    }
    val fatBytes = 2.0 * nPairs * (avgGh * 8 + 32)
    val budget = scratchBudget(spark)
    val verified =
      if (fatBytes <= budget) {
        cand
          .join(g.select(col("id"), col("gh").as("ga")), col("a") === col("id"))
          .drop("id")
          .join(g.select(col("id"), col("gh").as("gb")), col("b") === col("id"))
          .drop("id")
          .withColumn("containment",
            org.apache.spark.sql.graft.IntersectCountSorted
              .columnFor(col("ga"), col("gb")).cast("double") / col("sa"))
          .filter(col("containment") >= threshold)
          .select(col("a"), col("b"),
            round(col("containment"), 4).as("containment"))
      } else {
        var chunks = 2
        while (chunks < 64 && fatBytes / chunks > budget) chunks *= 2
        val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
        // same i/sa IEEE division as the one-shot kernel path, so
        // values are bit-identical across regimes
        chunkedIntersections(cand.select("a", "b"), g, chunks, width)
          .join(cand.select(col("a").as("ca"), col("b").as("cb"), col("sa")),
            col("a") === col("ca") && col("b") === col("cb"))
          .drop("ca", "cb")
          .withColumn("containment", col("i").cast("double") / col("sa"))
          .filter(col("containment") >= threshold)
          .select(col("a"), col("b"),
            round(col("containment"), 4).as("containment"))
      }
    CacheLifecycle.releaseAfterAction(verified, Seq(g, cand))
  }

  /** Conf key: the broadcast-budget bytes for the near-dup family's
    * physical-regime switches. The exact PPJoin path compares BOTH its
    * estimated prefix-index bytes and 2× the doc→hash-array verify
    * table (shipped once per verify side) against this budget (see
    * [[ngramJaccardCore]]); the minhash path gates its verify strategy
    * on the same 2× verify-table estimate. Set to 0 to force the
    * sharded regime everywhere — how Stress measures the
    * corpus-outgrows-memory path honestly at any scale.
    */
  val BroadcastPrefixBytesConf = "spark.graft.ngram.broadcastPrefixBytes"

  /** A broadcast relation occupies several times its flat-array byte
    * estimate once it is driver-collected, deserialized, and built into
    * a HashedRelation (JVM object headers, hash-table load factor, and
    * the temporary collect copy) — and near the budget one plan carries
    * the prefix index PLUS two verify-table broadcasts concurrently.
    * The regime gate therefore compares INFLATED estimates against the
    * budget, so "fits the budget" means "fits memory", not "the flat
    * bytes fit". 3.5× is the conservative end of measured HashedRelation
    * overhead for long-keyed skinny rows.
    */
  private val BroadcastInflation = 3.5

  /** Broadcast budget. An explicit [[BroadcastPrefixBytesConf]] wins
    * (0 forces the sharded regime); the default derives from the JVM
    * that actually has to hold the relation — 1/8 of min(driver heap,
    * executor heap) — instead of a fixed constant: the driver collects
    * the relation and every executor builds it, so a default-memory
    * (1 GiB) deployment gets a ~128 MB budget and safely shuffles
    * where a 96 GiB measurement box keeps the measured-best broadcast
    * regime through stress scale. In local mode the driver heap IS the
    * executor heap; on a cluster `spark.executor.memory` bounds the
    * executor side when set.
    */
  private def broadcastBudget(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption(BroadcastPrefixBytesConf)
      .flatMap(_.toLongOption)
      .getOrElse {
        val driverHeap = Runtime.getRuntime.maxMemory
        val execHeap = spark.conf.getOption("spark.executor.memory")
          .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
          .getOrElse(driverHeap)
        math.min(driverHeap, execHeap) / 8
      }

  /** (docs, total grams) from ONE bounded agg on the cached gram frame —
    * the regime statistic. Running it here also makes the gram cache
    * fill a single race-free job. This is an EAGER job at operator-
    * construction time (the same documented lazy-contract departure as
    * `scan_jdbc_partitioned` and the indexed PPJoin build): a caller
    * that builds the plan speculatively and never runs an action leaves
    * the corpus-sized cache pinned until CacheLifecycle's missed-action
    * backstop releases it. Callers that need cheap speculative
    * plan-building can set [[BroadcastPrefixBytesConf]]=0, which both
    * forces the (always-safe) sharded regime AND skips this job; the
    * sharded expansion-width statistics still run eagerly — true lazy
    * regime choice would need a custom plan node whose physical shape
    * resolves at execution, which this operator deliberately avoids.
    */
  private def corpusStats(g: DataFrame): (Long, Long) = {
    val r = g.agg(count(lit(1)).as("docs"),
      sum(size(col("gh")).cast("long")).as("grams")).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Output-derived stage width for a skinny-input/fat-output expansion
    * self-join: Σ n² over the bucket groups is EXACTLY the join's output
    * row count, so size the stage for ~32 MB of output per task (the
    * per-pair aggregation state then stays in the hash map), floored at
    * the session shuffle width, capped at 4096. AQE cannot do this — it
    * sizes stage width from INPUT exchange bytes, which understate an
    * expansion join by orders of magnitude (measured: 33-task stages,
    * ~10 GB sort-spill; STRESS.md round 9).
    */
  private def expansionWidth(buckets: DataFrame, keys: Seq[String],
      bytesPerRow: Int): Int = {
    val rows = buckets.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .agg(sum((col("n") * col("n")).cast("double")).as("v"))
      .collect()(0) match {
        case r if r.isNullAt(0) => 0.0
        case r => r.getDouble(0)
      }
    widthForOutputRows(buckets.sparkSession, rows, bytesPerRow)
  }

  /** Output-rows → stage width (the sizing rule of [[expansionWidth]],
    * factored out for callers that obtain Σ n² from a piggybacked
    * statistic instead of a dedicated job).
    */
  private def widthForOutputRows(spark: org.apache.spark.sql.SparkSession,
      rows: Double, bytesPerRow: Int): Int = {
    val sqlPartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.min(4096,
      math.max(sqlPartitions, (rows * bytesPerRow / (32 << 20)).toInt))
  }

  /** Shared PPJoin pipeline; `pairPredicate(a, b)` decides which
    * candidate orientations survive (self-join: a < b; cross-corpus:
    * strictly increasing side).
    *
    * TWO physical regimes, chosen EXPLICITLY from one cheap measured
    * statistic (round-9 lesson, STRESS.md): Catalyst used to pick
    * broadcast joins here by luck — the optimizer's size estimate of
    * the not-yet-materialized prefix cache undershot the broadcast
    * threshold — and any caller that happened to materialize the cache
    * first silently fell into a ~30× slower accidental-shuffle plan at
    * stress scale. The regime is now a deliberate switch on the
    * estimated prefix-index size:
    *
    *  - BROADCAST (prefix fits an executor — the mid-size / dup-heavy
    *    regime, measured best through 128× stress): the candidate
    *    self-join broadcasts the index side and verify broadcasts the
    *    doc→hash-array table, so candidate orientation rows and fat
    *    verify rows NEVER shuffle — only pair states do. This is the
    *    Catalyst-native twin of [[ngramJaccardPairsIndexed]].
    *  - SHARDED (prefix outgrows executor memory — the 100 TB shape):
    *    everything shuffles, but every expansion stage is explicitly
    *    sized for its OUTPUT and the fat verify rows are never sorted
    *    (shuffle-hash joins); see the inline notes.
    */
  private def ngramJaccardCore(corpus: DataFrame, id: String, text: String,
      n: Int, threshold: Double,
      pairPredicate: (Column, Column) => Column,
      verifyBroadcast: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // cached: read by the posting build and twice more in verify.
    // Hash-set form throughout — gram strings never leave the scan
    // projection (see gramHashSets; the 64× verify-spill fix).
    val g = gramHashSets(corpus, id, text, n).persist()
    val posting = g.select(col("id"), size(col("gh")).as("sz"),
        explode(col("gh")).as("gram"))
    val df = posting.groupBy("gram").agg(count(lit(1)).as("df"))
    // rarest-first rank of each gram within its document; ties broken by
    // the gram hash so the global order is consistent across documents
    val byRarity = Window.partitionBy("id").orderBy(col("df"), col("gram"))
    // persisted: both sides of the pair self-join read it, and the df
    // join + per-document rank sort feeding it are themselves shuffles
    val prefix = posting.join(df, "gram")
      .withColumn("rn", row_number().over(byRarity))
      .filter(col("rn") <= col("sz") - ceil(col("sz") * tDec(threshold)) + 1)
      .select("id", "sz", "gram", "rn").persist()
    // Regime statistic: prefix rows ≈ (1-t)·total grams + one per doc at
    // ~28 B per (gram, id, sz, rn) row in broadcast form — AND the
    // doc→hash-array verify table, which the broadcast regime ships
    // TWICE (one exchange per verify side) and whose size does NOT
    // shrink with the threshold, so it must be gated independently of
    // the prefix (a t≈0.95 corpus has a tiny prefix but a full-size
    // verify table).
    val spark = corpus.sparkSession
    val budget = broadcastBudget(spark)
    // budget 0 forces the sharded regime (how Stress measures the 100 TB
    // shape) — skip the regime-statistic job entirely in that case, so
    // forced-sharded callers don't pay a corpus pass whose only output
    // is a decision already made
    val broadcastRegime = budget > 0 && {
      val (nDocs, totalGrams) = corpusStats(g)
      val prefixBytesEst = ((totalGrams * (1.0 - threshold)) + nDocs) * 28
      val ghBytesEst = totalGrams * 8 + nDocs * 32
      // inflated estimate vs budget: see BroadcastInflation
      BroadcastInflation * math.max(prefixBytesEst, 2.0 * ghBytesEst) <= budget
    }

    val probeSide = prefix.select(col("gram"), col("id").as("a"),
      col("sz").as("sa"), col("rn").as("ra"))
    val indexSide = prefix.select(col("gram"), col("id").as("b"),
      col("sz").as("sb"), col("rn").as("rb"))
    // Sharded regime: the pair self-join is the EXPANSION point — see
    // expansionWidth (Σ_gram df_prefix² orientation rows at ~56 B).
    // In the broadcast branch the multi-shuffle prefix build runs
    // INSIDE the broadcast exchange — bounded because the regime gate
    // caps the prefix at the broadcast budget, and GraftSession raises
    // spark.sql.broadcastTimeout from its 300 s default. An eager
    // prefix.count() pre-fill was measured at +70% whole-query time at
    // 32× stress (one full extra pass) and rejected.
    lazy val pairWidth = expansionWidth(prefix, Seq("gram"), bytesPerRow = 56)
    val joined =
      if (broadcastRegime) {
        probeSide.join(broadcast(indexSide), "gram")
      } else {
        // always at the explicit width in the sharded regime (pairWidth
        // is floored at the session shuffle width): leaving mid-size
        // expansions to AQE re-opens the input-sized coalescing cliff
        def byGram(side: DataFrame) = side.repartition(pairWidth, col("gram"))
        byGram(probeSide).join(byGram(indexSide), "gram")
      }
    val candidates = joined
      .filter(pairPredicate(col("a"), col("b")) &&
        col("sb") >= col("sa") * tDec(threshold) &&
        col("sa") >= col("sb") * tDec(threshold))
      .groupBy("a", "b", "sa", "sb")
      .agg(count(lit(1)).as("c"), max("ra").as("ia"), max("rb").as("jb"))
      .withColumn("ub",
        col("c") + least(col("sa") - col("ia"), col("sb") - col("jb")))
      // ub <= min(sa, sb), so the union denominator stays positive
      .filter(col("ub").cast("double") /
        (col("sa") + col("sb") - col("ub")).cast("double") >= threshold)
      .select("a", "b")
    // NOTE on a per-row in-posting-list positional prune (PPJoin's
    // probe-time filter) at the join above: measured, and REJECTED.
    // Dropping matched rows whose own positional bound fails is
    // recall-safe (every row of a true pair passes the bound), but it
    // LOOSENS the aggregate count bound for sub-threshold pairs — a
    // dropped row lowers c but also lowers the max ranks ia/jb, growing
    // min(sa-ia, sb-jb) by more than the c it removes — so the verify
    // set inflates for a ~6% saving on the skinny candidate rows
    // (event-log A/B at 32× stress, STRESS.md round 9).
    val verified =
      if (broadcastRegime || verifyBroadcast)
        verifyJaccard(candidates, g, threshold, bcast = true)
      else shardedVerify(candidates, g, threshold, pairWidth)
    CacheLifecycle.releaseAfterAction(verified, Seq(g, prefix))
  }

  /** Scratch budget for the sharded verify's fat exchanges. Explicit
    * [[VerifyScratchBytesConf]] wins (0 = unlimited, never chunk); the
    * default is half the usable space of the first shuffle local dir —
    * the 96×/128× stress lesson: the sharded verify's two
    * pairs×gram-array exchanges coexist on disk for the query's
    * lifetime, and past ~24M pairs that exceeds a single box's scratch
    * outright (`No space left on device`), so the budget must be a
    * property of the machine, not a constant.
    */
  val VerifyScratchBytesConf = "spark.graft.verify.scratchBytes"

  private def scratchBudget(spark: org.apache.spark.sql.SparkSession): Double =
    spark.conf.getOption(VerifyScratchBytesConf)
      .flatMap(_.toLongOption)
      .map(v => if (v <= 0) Double.MaxValue else v.toDouble)
      .getOrElse {
        val dir = spark.conf.getOption("spark.local.dir")
          .map(_.split(",")(0))
          .getOrElse(System.getProperty("java.io.tmpdir"))
        new java.io.File(dir).getUsableSpace * 0.5
      }

  /** Sharded verify with scratch management: persist + count the skinny
    * candidate pairs (the count decides the verify shape; the persist
    * keeps the expansion join from re-running per chunk pass), then
    * either the one-shot width-pinned verify (fat payload fits the
    * scratch budget) or the chunked scratch-bounded verify. Eager jobs
    * at operator-construction time, like the rest of the sharded
    * family's statistics.
    */
  private def shardedVerify(candidates: DataFrame, hashSets: DataFrame,
      threshold: Double, shardWidth: Int): DataFrame = {
    val spark = candidates.sparkSession
    val cand = candidates.select("a", "b").persist()
    val nPairs = cand.count().toDouble
    val avgGh = hashSets.agg(avg(size(col("gh")))).collect()(0) match {
      case r if r.isNullAt(0) => 0.0
      case r => r.getDouble(0)
    }
    val fatBytes = 2.0 * nPairs * (avgGh * 8 + 32)
    val budget = scratchBudget(spark)
    if (fatBytes <= budget)
      CacheLifecycle.releaseAfterAction(
        verifyJaccard(cand, hashSets, threshold, shardWidth = shardWidth),
        Seq(cand))
    else {
      // smallest power-of-two chunk count that brings one pass under
      // budget (cap 64: beyond that the per-pass fixed costs dominate)
      var chunks = 2
      while (chunks < 64 && fatBytes / chunks > budget) chunks *= 2
      val out = verifyJaccardChunked(cand, hashSets, threshold, chunks, shardWidth)
      cand.unpersist() // consumed eagerly by the chunk passes
      out
    }
  }

  /** Scratch-BOUNDED exact verify (round 10): Σ over hash-range chunks
    * of sorted-set intersections equals the whole-set intersection, so
    * exact Jaccard reassembles from integer partials — and each chunk
    * pass only ever shuffles 1/chunks of the fat pairs×array payload.
    * Passes run as SEQUENTIAL actions spilling skinny (a, b, cnt)
    * partials to a tmp parquet dir; between passes the previous pass's
    * shuffle files are released by the ContextCleaner once their
    * dependencies are collected (System.gc() nudges it — best-effort,
    * measured effective: the 128× sharded run peaks ~1/chunks of the
    * unchunked footprint). The final assembly aggregates the partials
    * (skinny) and joins sizes back for the jaccard division — the SAME
    * i/(sa+sb−i) IEEE division as the one-kernel path, so values are
    * bit-identical. Pairs with zero total intersection never appear in
    * the partials, which is correct for any threshold > 0.
    */
  /** The chunk loop factored out: (a, b) pairs → (a, b, i) exact
    * intersection counts, Σ over hash-range chunks, each pass shuffling
    * 1/chunks of the fat payload and spilling skinny partials to tmp
    * parquet. Pairs with zero intersection never appear — callers'
    * thresholds must treat absence as i = 0 (both the Jaccard and the
    * containment finals filter at a positive threshold, so dropped
    * pairs were dead anyway).
    */
  private def chunkedIntersections(cand: DataFrame, hashSets: DataFrame,
      chunks: Int, shardWidth: Int): DataFrame = {
    val spark = cand.sparkSession
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_verify_${java.util.UUID.randomUUID().toString.take(8)}")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp)
    }))
    def pin(df: DataFrame, key: String) = df.repartition(shardWidth, col(key))
    for (c <- 0 until chunks) {
      val ghc = hashSets
        .select(col("id"),
          org.apache.spark.sql.graft.SliceHashChunk
            .columnFor(col("gh"), c, chunks).as("gh"))
        .filter(size(col("gh")) > 0)
        .repartition(shardWidth, col("id")).hint("SHUFFLE_HASH")
      val part = pin(cand, "a")
        .join(ghc.as("s1"), col("a") === col("s1.id"))
        .drop(col("s1.id")).withColumnRenamed("gh", "ga")
        .transform(pin(_, "b"))
        .join(ghc.as("s2"), col("b") === col("s2.id"))
        .drop(col("s2.id")).withColumnRenamed("gh", "gb")
        .select(col("a"), col("b"),
          org.apache.spark.sql.graft.IntersectCountSorted
            .columnFor(col("ga"), col("gb")).as("cnt"))
        .filter(col("cnt") > 0)
      part.write.mode(if (c == 0) "overwrite" else "append")
        .parquet(tmp.getPath)
      System.gc() // nudge shuffle-file release before the next pass
    }
    spark.read.parquet(tmp.getPath)
      .groupBy("a", "b").agg(sum("cnt").cast("int").as("i"))
  }

  private[graft] def verifyJaccardChunked(cand: DataFrame,
      hashSets: DataFrame, threshold: Double, chunks: Int,
      shardWidth: Int): DataFrame = {
    require(threshold > 0, "chunked verify drops zero-intersection pairs")
    val sz = hashSets.select(col("id"), size(col("gh")).as("sz"))
    chunkedIntersections(cand, hashSets, chunks, shardWidth)
      .join(sz.as("za"), col("a") === col("za.id"))
      .drop(col("za.id")).withColumnRenamed("sz", "sa")
      .join(sz.as("zb"), col("b") === col("zb.id"))
      .drop(col("zb.id")).withColumnRenamed("sz", "sb")
      .withColumn("jaccard", col("i").cast("double") /
        (col("sa") + col("sb") - col("i")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Attach SORTED gram-hash sets to candidate (a, b) pairs and keep
    * those with exact Jaccard >= threshold. `hashSets` must expose
    * (id, gh: sorted array<long>).
    *
    * Two physical strategies, same answer:
    *  - `bcast = false` (default): two shuffle joins. Right when the
    *    CORPUS is the big thing — the doc→hash-set table shards across
    *    the cluster and each pair meets its arrays where they live.
    *    Cost: the pair rows carry one array through the second shuffle
    *    (~pairs × array bytes of shuffle I/O).
    *  - `bcast = true`: broadcast the doc→hash-set table; both joins
    *    become map-side hash lookups and only the SKINNY (a, b) pairs
    *    ever shuffle. Right in the pairs ≫ docs regime (dup-heavy
    *    corpora, stress replication: 10.6M pairs vs 320k docs at 64× —
    *    the measured ~30 GB verify spill collapses to the ~160 MB pair
    *    shuffle). The caller asserts the corpus-linear table fits the
    *    executors (it is NOT probed here — probing would break the
    *    lazy-build contract).
    *
    * In the sharded strategy, `shardWidth > 0` pins every verify
    * exchange at the candidate stage's output-derived width and makes
    * both joins shuffle-hash instead of sort-merge: the doc→array table
    * is the natural (bounded: corpus/width rows per task) build side,
    * and hashing it means the FAT stream side — pairs carrying kB-scale
    * gram arrays after the first attach — is never SORTED. SMJ's
    * reduce-side sort rewrites the whole fat payload through disk
    * (shuffle writes only bucket rows); SHJ keeps the fat rows
    * streaming, and the explicit width keeps each task's slice of them
    * memory-sized (AQE would size these exchanges from their skinny
    * INPUTS and run fat stages ~32 wide — same cliff as the candidate
    * join, measured in the round-9 event-log A/B).
    */
  private[graft] def verifyJaccard(candidates: DataFrame, hashSets: DataFrame,
      threshold: Double, bcast: Boolean = false,
      shardWidth: Int = 0): DataFrame = {
    // jaccard is one imperative kernel call (sorted-merge scan), NOT an
    // array_intersect expression chain: Catalyst pushes the threshold
    // filter into the join condition, where an interpreted
    // array_intersect was evaluated several times per matched pair
    // (measured: it dominated the whole query; the kernel is ~µs/pair).
    // Long-hash arrays instead of gram strings keep the per-pair join
    // payload ~5× smaller — the 64× stress spill lived here.
    // both attach joins reference the IDENTICAL side plan (same select,
    // same repartition key) so ReuseExchange materializes the gh table's
    // broadcast (or shuffle) exchange ONCE and the second join reads the
    // reused relation — the round-10 A/B found the duplicated broadcast
    // build was a measurable slice of the whole query at bench scale
    val side = {
      val s = hashSets.select(col("id"), col("gh"))
      if (bcast) broadcast(s)
      else if (shardWidth > 0)
        s.repartition(shardWidth, col("id")).hint("SHUFFLE_HASH")
      else s
    }
    def pin(df: DataFrame, key: String) =
      if (bcast || shardWidth <= 0) df
      else df.repartition(shardWidth, col(key))
    def attach(df: DataFrame, key: String, arr: String, tag: String) =
      df.join(side.as(tag), col(key) === col(s"$tag.id"))
        .drop(col(s"$tag.id")).withColumnRenamed("gh", arr)
    attach(attach(pin(candidates, "a"), "a", "ga", "s1")
        .transform(pin(_, "b")), "b", "gb", "s2")
      .withColumn("jaccard", graft.functions.FastText.jaccardHash(col("ga"), col("gb")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Broadcast-index PPJoin: the same EXACT prefix-filter + positional-
    * filter + verify semantics as [[ngramJaccardPairs]], executed as a
    * map-side probe against a broadcast in-memory index instead of a
    * posting self-join + groupBy. Zero shuffle after the corpus scan:
    * candidate ORIENTATION rows (the measured 64×-stress disk cliff —
    * tens of GB of (gram, a, b, rank) traffic through one box) never
    * exist as rows at all; each task accumulates its docs' candidates
    * in a per-doc hash map and verifies inline.
    *
    * The trade is explicit and the caller's: the index (rarity-ordered
    * prefix postings + full sorted hash arrays, flat primitive arrays)
    * is corpus-linear and must fit the driver and each executor
    * (~0.5 GB at 64× stress = 320k docs; the same pairs ≫ docs regime
    * where `verifyBroadcast` applies). The build is EAGER (one collect
    * at call time — same documented lazy-contract departure as
    * `scan_jdbc_partitioned`). The sharded [[ngramJaccardPairs]] is the
    * right path when the corpus itself outgrows executor memory.
    *
    * Result parity with the shuffle path is spec-asserted pair-for-pair
    * including the jaccard values (same rarity order, same positional
    * bound, same verify kernel semantics, same HALF_UP rounding).
    */
  def ngramJaccardPairsIndexed(corpus: DataFrame, id: String, text: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val rows = gramHashSets(corpus, id, text, n)
      .as[(Long, Array[Long])].collect()
    val m = rows.length
    val ids = new Array[Long](m)
    val full = new Array[Array[Long]](m)   // hash-sorted (verify form)
    val pref = new Array[Array[Long]](m)   // rarity-ordered prefix grams
    // global document frequency of every gram hash
    val dfm = scala.collection.mutable.LongMap.empty[Int]
    rows.foreach { case (_, gh) =>
      gh.foreach(g => dfm(g) = dfm.getOrElse(g, 0) + 1)
    }
    var i = 0
    var totalP = 0
    while (i < m) {
      val (idv, gh) = rows(i)
      ids(i) = idv; full(i) = gh
      val sz = gh.length
      val pl = sz - ceilMulExact(sz, threshold) + 1
      // candidate state packs (c:20 | ia:22 | jb:22) bits below; every
      // field is <= the prefix length, so an oversized document must
      // fail LOUDLY here rather than silently corrupt the packed
      // positional bound (which could wrongly prune true pairs)
      require(pl <= 0xFFFFF,
        s"ngramJaccardPairsIndexed: document $idv has a prefix of $pl grams " +
          s"(> 2^20-1); the packed candidate state cannot represent it — " +
          s"use the shuffle path ngramJaccardPairs for this corpus")
      // the shared total order of the distributed path: (df asc, hash asc)
      pref(i) = gh.sortBy(g => (dfm(g), g)).take(pl)
      totalP += pl
      i += 1
    }
    // inverted prefix index over flat arrays: (gram, docIdx, 1-based rank)
    // sorted by gram, range-located by binary search
    val order = new Array[Int](totalP)
    val pg = new Array[Long](totalP)
    val pd = new Array[Int](totalP)
    val pr = new Array[Int](totalP)
    var k = 0
    i = 0
    while (i < m) {
      val p = pref(i); var j = 0
      while (j < p.length) { pg(k) = p(j); pd(k) = i; pr(k) = j + 1; k += 1; j += 1 }
      i += 1
    }
    java.util.Arrays.setAll(order, (x: Int) => x)
    val boxed = order.map(Integer.valueOf)
    java.util.Arrays.sort(boxed, (x: Integer, y: Integer) =>
      java.lang.Long.compare(pg(x), pg(y)))
    val sg = new Array[Long](totalP); val sd = new Array[Int](totalP)
    val sr = new Array[Int](totalP)
    k = 0
    while (k < totalP) {
      val o = boxed(k); sg(k) = pg(o); sd(k) = pd(o); sr(k) = pr(o); k += 1
    }
    val bc = spark.sparkContext.broadcast((ids, full, pref, sg, sd, sr))
    val t = threshold
    // exact length band: sb >= sa·t compared as sb·D >= sa·N with
    // t = N/D from the threshold's shortest decimal rendering — the
    // double product mis-rounds at integer boundaries (see tDec)
    val tScaled = BigDecimal.valueOf(threshold)
    val tNum = tScaled.underlying.unscaledValue.longValueExact
    val tDen = { var d = 1L; var s = tScaled.scale; while (s > 0) { d *= 10; s -= 1 }; d }
    val out = spark.sparkContext
      .parallelize(0 until m, spark.sparkContext.defaultParallelism)
      .mapPartitions { docs =>
        val (bIds, bFull, bPref, bSg, bSd, bSr) = bc.value
        val total = bSg.length
        docs.flatMap { a =>
          val sa = bFull(a).length
          val pa = bPref(a)
          // bIdx -> packed (c:20 | ia:22 | jb:22); ranks are 1-based
          val cand = scala.collection.mutable.LongMap.empty[Long]
          var ii = 0
          while (ii < pa.length) {
            val g = pa(ii)
            // binary search the first posting of g
            var lo = 0; var hi = total
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (bSg(mid) < g) lo = mid + 1 else hi = mid
            }
            while (lo < total && bSg(lo) == g) {
              val b = bSd(lo)
              val sb = bFull(b).length
              if (bIds(b) > bIds(a) &&
                  sb.toLong * tDen >= sa.toLong * tNum &&
                  sa.toLong * tDen >= sb.toLong * tNum) {
                val prev = cand.getOrElse(b.toLong, 0L)
                val c = (prev >>> 44) + 1
                val ia = math.max((prev >>> 22) & 0x3FFFFF, (ii + 1).toLong)
                val jb = math.max(prev & 0x3FFFFF, bSr(lo).toLong)
                cand(b.toLong) = (c << 44) | (ia << 22) | jb
              }
              lo += 1
            }
            ii += 1
          }
          cand.iterator.flatMap { case (bL, packed) =>
            val b = bL.toInt
            val sb = bFull(b).length
            val c = packed >>> 44
            val ia = (packed >>> 22) & 0x3FFFFF
            val jb = packed & 0x3FFFFF
            val ub = c + math.min(sa - ia, sb - jb)
            if (ub.toDouble / (sa + sb - ub).toDouble >= t) {
              // sorted-merge intersection on the full hash arrays — the
              // same count the jaccard_hash_sets kernel computes
              val ga = bFull(a); val gb = bFull(b)
              var x = 0; var y = 0; var inter = 0
              while (x < ga.length && y < gb.length) {
                if (ga(x) == gb(y)) { inter += 1; x += 1; y += 1 }
                else if (ga(x) < gb(y)) x += 1
                else y += 1
              }
              val j = inter.toDouble / (sa + sb - inter).toDouble
              if (j >= t)
                // Catalyst's Round(double) goes through BigDecimal
                // .valueOf (canonical string repr), NOT the exact
                // binary constructor — match it or near-tie values
                // round differently than the DF path
                Some((bIds(a), bIds(b),
                  java.math.BigDecimal.valueOf(j)
                    .setScale(4, java.math.RoundingMode.HALF_UP)
                    .doubleValue()))
              else None
            } else None
          }
        }
      }
    out.toDF("a", "b", "jaccard")
  }

  /** MinHash + LSH banding near-dup join: k = bands * rowsPerBand
    * hashes; candidates collide on at least one band; every candidate is
    * verified with exact Jaccard >= threshold. With b bands of r rows the
    * collision probability is 1-(1-j^r)^b — b=8, r=4 gives the classic
    * S-curve centered near j≈0.6.
    */
  def minHashLshPairs(corpus: DataFrame, id: String, text: String,
      n: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.5, verifyBroadcast: Boolean = false): DataFrame =
    minHashCore(corpus, id, text, n, bands, rowsPerBand, threshold,
      (a, b) => a < b, verifyBroadcast)

  /** Cross-corpus MinHash+LSH near-dup join — the approximate analogue
    * of [[ngramJaccardJoin]] (same banding candidates + exact-Jaccard
    * verification; only cross-side pairs are emitted).
    */
  def minHashLshJoin(left: DataFrame, right: DataFrame, id: String,
      text: String, n: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.5): DataFrame =
    minHashCore(taggedUnion(left, right, id, text), "__doc", "__text",
      n, bands, rowsPerBand, threshold, (a, b) => a.getField("s") < b.getField("s"))
      .select(col("a.i").as("left_id"), col("b.i").as("right_id"), col("jaccard"))

  private def minHashCore(corpus: DataFrame, id: String, text: String,
      n: Int, bands: Int, rowsPerBand: Int, threshold: Double,
      pairPredicate: (Column, Column) => Column,
      verifyBroadcast: Boolean = false): DataFrame = {
    // cached: read by both banding-join sides and twice more in verify.
    // Carries BOTH forms: gram strings feed the banding kernel (keeps
    // signatures bit-identical to the spec'd constants), sorted hashes
    // feed verify (the pair-join payload — see gramHashSets). The cache
    // is corpus-sized; only the skinny gh column rides the pair join.
    val g = gramSets(corpus, id, text, n)
      .withColumn("gh", array_sort(transform(col("grams"), x => xxhash64(x))))
      .persist()
    // Banding join is all-scalar (band, bucket, id); hash arrays join in
    // only for verification of surviving candidates (see
    // ngramJaccardPairs for the rationale). Signature + banding is one
    // imperative kernel call per document (see FastText.lshBandBuckets).
    val banded = g
      .select(col("id"), size(col("gh")).as("sz"), posexplode(
        graft.functions.FastText.lshBandBuckets(col("grams"), bands, rowsPerBand)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    // Same explicit physical-regime choice as ngramJaccardCore (see its
    // doc): broadcast the corpus-linear doc→hash-array table into verify
    // when it fits the budget; otherwise size the banding expansion join
    // and the fat verify attach for their OUTPUT (Σ bucket-df² rows) and
    // keep verify sort-free. Without this the 128× banded-family verify
    // re-hits the same skinny-input/fat-output AQE cliff the exact path
    // had (STRESS.md round 9).
    //
    // ONE piggybacked stats job computes every regime statistic AND
    // fills g's cache: banded has exactly `bands` rows per doc, so the
    // grouped sums recover nDocs and totalGrams alongside Σ n² — the
    // round-9 shape (separate corpusStats + expansionWidth jobs, the
    // latter re-running the banding kernel over the whole corpus with
    // nothing cached) measured a within-session 1.5× bench regression
    // on this query (r10 A/B vs the round-8 twin: 1.87-2.16 s vs
    // 1.26-1.33 s; single-job rework recovers it).
    val spark = corpus.sparkSession
    val budget = broadcastBudget(spark)
    // Cheapest gate first: the optimizer's FILE-SIZE estimate of the
    // corpus (no job; deterministic — file sizes, unlike the cache-
    // materialization luck the round-9 regime switch removed). A corpus
    // whose raw input is ≤ 32 MB cannot produce a gh table or an
    // expansion join any plan handles badly, so skip the stats job and
    // the explicit machinery entirely and leave the tiny query to AQE —
    // the stats job was the residual bench-scale overhead in the r10
    // A/B (its pass over the corpus is also the cache fill, but the
    // extra shuffle + driver round-trips are pure overhead at 5k docs).
    val tinyInput = budget > 0 &&
      corpus.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(32L << 20)
    if (tinyInput) {
      val candidates = banded.select(col("band"), col("bucket"), col("id").as("a"))
        .join(banded.select(col("band"), col("bucket"), col("id").as("b")),
          Seq("band", "bucket"))
        .filter(pairPredicate(col("a"), col("b")))
        .select("a", "b").distinct()
      return CacheLifecycle.releaseAfterAction(
        verifyJaccard(candidates, g.select(col("id"), col("gh")), threshold,
          bcast = verifyBroadcast), Seq(g))
    }
    val st = banded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("n"), sum("sz").as("s"))
      .agg(sum((col("n") * col("n")).cast("double")).as("nn"),
        sum(col("n")).as("rows"), sum(col("s")).as("szsum"))
      .collect()(0)
    val pairRows = if (st.isNullAt(0)) 0.0 else st.getDouble(0)
    val nDocs = if (st.isNullAt(1)) 0L else st.getLong(1) / bands
    val totalGrams = if (st.isNullAt(2)) 0L else st.getLong(2) / bands
    val ghBytesEst = totalGrams * 8 + nDocs * 32
    val sqlPartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // LIGHT regime (third branch, round 10): when the measured expansion
    // fits the session's default stage width AND the gh table is small
    // enough that shuffling it twice is trivial, the explicit machinery
    // (broadcast builds, width pins) costs more than it saves — the r10
    // within-session A/B measured the broadcast-regime verify 1.5× over
    // the plain-AQE plan at bench scale (1.87-2.16 s vs 1.26-1.33 s on
    // the round-8 twin). Same doctrine as the other regimes: a
    // DETERMINISTIC decision from the measured statistic, not optimizer
    // luck. Forced-sharded (budget 0) still wins, so Stress measures the
    // 100 TB shape at any scale.
    val lightRegime = budget > 0 &&
      pairRows * 48 <= (32L << 20).toDouble * sqlPartitions &&
      ghBytesEst <= (64L << 20)
    val broadcastRegime = !lightRegime && budget > 0 && {
      // verify broadcasts the table twice (one exchange per side;
      // ReuseExchange dedupes the build); inflated estimate vs budget:
      // see BroadcastInflation
      BroadcastInflation * 2.0 * ghBytesEst <= budget
    }
    // unlike ngram's broadcast regime (where the whole candidate join is
    // map-side), the banding join always shuffles — so its output-derived
    // width applies in BOTH regimes; the regime only picks the verify
    // strategy
    val pairWidth = widthForOutputRows(spark, pairRows, bytesPerRow = 48)
    def byBucket(side: DataFrame) =
      if (pairWidth <= sqlPartitions) side
      else side.repartition(pairWidth, col("band"), col("bucket"))
    val candidates = byBucket(banded.select(col("band"), col("bucket"), col("id").as("a")))
      .join(byBucket(banded.select(col("band"), col("bucket"), col("id").as("b"))),
        Seq("band", "bucket"))
      .filter(pairPredicate(col("a"), col("b")))
      .select("a", "b").distinct()
    CacheLifecycle.releaseAfterAction(
      if (broadcastRegime || lightRegime || verifyBroadcast)
        verifyJaccard(candidates, g.select(col("id"), col("gh")), threshold,
          bcast = broadcastRegime || verifyBroadcast)
      else shardedVerify(candidates, g.select(col("id"), col("gh")),
        threshold, pairWidth), Seq(g))
  }

  /** Side-tagged union for the cross-corpus joins: composite doc key
    * struct(side, id) so ids may collide across corpora, and the pair
    * predicate can require strictly increasing side.
    */
  private def taggedUnion(left: DataFrame, right: DataFrame, id: String,
      text: String): DataFrame = {
    def tag(df: DataFrame, side: Int) = df.select(
      struct(lit(side).as("s"), col(id).as("i")).as("__doc"),
      col(text).as("__text"))
    tag(left, 0).unionByName(tag(right, 1))
  }

  /** SimHash near-dup join: 61-bit signatures, candidates generated by
    * equality on one of four 16-bit blocks (pigeonhole: hamming <= 3
    * pairs must agree on at least one block), verified by exact hamming
    * <= maxHamming.
    */
  def simHashPairs(corpus: DataFrame, id: String, text: String,
      maxHamming: Int = 3): DataFrame =
    simHashCore(corpus, id, text, maxHamming, (a, b) => a < b)

  /** Cross-corpus SimHash near-dup join (only cross-side pairs; same
    * pigeonhole candidates + exact hamming verification).
    */
  def simHashJoin(left: DataFrame, right: DataFrame, id: String,
      text: String, maxHamming: Int = 3): DataFrame =
    simHashCore(taggedUnion(left, right, id, text), "__doc", "__text",
      maxHamming, (a, b) => a.getField("s") < b.getField("s"))
      .select(col("a.i").as("left_id"), col("b.i").as("right_id"), col("hamming"))

  private def simHashCore(corpus: DataFrame, id: String, text: String,
      maxHamming: Int, pairPredicate: (Column, Column) => Column): DataFrame = {
    val blocks = 4
    // persisted: both sides of the block self-join read it — without
    // this the tokenize + SimHash64 pass runs twice
    val s = withFullParallelism(corpus)
      .select(col(id).as("id"), simHash(tokens(col(text))).as("sig"))
      .withColumn("block", explode(transform(sequence(lit(0), lit(blocks - 1)),
        b => struct(b.as("block_id"),
          call_function("shiftright", col("sig"), b * 16).bitwiseAND(0xFFFF).as("block_val")))))
      .select(col("id"), col("sig"), col("block.block_id"), col("block.block_val"))
      .persist()
    // The block self-join is the same skinny-input/fat-output expansion
    // shape as the ngram/banding candidate joins: left to AQE, its join
    // + partial-distinct stage runs ~defaultParallelism wide and
    // sort-spills at 128× stress (measured 376 s; STRESS.md round 9).
    val sqlPartitions =
      corpus.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val pairWidth = expansionWidth(s, Seq("block_id", "block_val"), bytesPerRow = 48)
    def byBlock(side: DataFrame) =
      if (pairWidth <= sqlPartitions) side
      else side.repartition(pairWidth, col("block_id"), col("block_val"))
    val pairs = byBlock(s
      .select(col("block_id"), col("block_val"), col("id").as("a"), col("sig").as("siga")))
      .join(byBlock(s.select(col("block_id"), col("block_val"), col("id").as("b"), col("sig").as("sigb"))),
        Seq("block_id", "block_val"))
      .filter(pairPredicate(col("a"), col("b")))
      .select("a", "b", "siga", "sigb").distinct()
      .withColumn("hamming", hamming(col("siga"), col("sigb")))
      .filter(col("hamming") <= maxHamming)
      .select("a", "b", "hamming")
    CacheLifecycle.releaseAfterAction(pairs, Seq(s))
  }
}
