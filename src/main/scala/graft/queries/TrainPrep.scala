package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.functions.TextFunctions.tokens

/** Training-set preparation surface (SURVEY.md §2.9 extension, round 10):
  * the operations that sit between a cleaned corpus and a training run —
  * reproducible sampling / split / mixture, token-budget sequence
  * packing, and C4-style global line-level deduplication.
  *
  * Determinism doctrine: sampling here is HASH-based, not RNG-based.
  * A production pipeline wants membership decisions that are a pure
  * function of the row key (re-runs, backfills, and incremental updates
  * must agree on which rows are in), which is exactly what also makes
  * these queries DuckDB-oracle-checkable. The hash is Knuth's
  * multiplicative scheme h(k) = (k · 2654435761) mod 2^32 — exact int64
  * arithmetic in both engines (max key ≈ 1e9 keeps the product < 2^63),
  * uniform enough for fraction selection, and trivially portable.
  * `sample(frac, seed)` / `randomSplit` RNG twins exist as non-oracle
  * specs (OperatorSpecs); these are the reproducible versions.
  */
object TrainPrep {

  /** Knuth multiplicative hash bucket in [0, 2^32). */
  private def kbucket(c: org.apache.spark.sql.Column) =
    pmod(c * lit(2654435761L), lit(4294967296L))

  private def kbucketSql(expr: String) = s"(($expr) * 2654435761) % 4294967296"

  // ---------------------------------------------------------------- sampling

  /** Per-stratum reproducible sample: each language keeps rows whose
    * hash bucket clears a per-stratum threshold (the deterministic twin
    * of `df.stat.sampleBy`). One pass, no shuffle before the per-lang
    * aggregate; emits kept/total counts plus an id checksum so content
    * (not just cardinality) is oracle-checked.
    */
  def sampleStratified(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir).documents
    // thresholds are exact int64 contract values (≈ frac · 2^32):
    // en 25%, zh/es 50%, de/fr 100%
    val thr = when(col("lang") === "en", lit(1073741824L))
      .when(col("lang").isin("zh", "es"), lit(2147483648L))
      .otherwise(lit(4294967296L))
    d.select(col("doc_id"), col("lang"),
        (kbucket(col("doc_id")) < thr).as("keep"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("doc_id")).otherwise(0L)).as("ids_sum"))
      .orderBy("lang")
  }

  val sampleStratifiedSql: String = {
    val h = kbucketSql("doc_id")
    s"""SELECT lang, count(*) AS n_total,
       | CAST(sum(CASE WHEN $h < (CASE WHEN lang = 'en' THEN 1073741824
       |                          WHEN lang IN ('zh','es') THEN 2147483648
       |                          ELSE 4294967296 END) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       | CAST(sum(CASE WHEN $h < (CASE WHEN lang = 'en' THEN 1073741824
       |                          WHEN lang IN ('zh','es') THEN 2147483648
       |                          ELSE 4294967296 END) THEN doc_id ELSE 0 END) AS BIGINT) AS ids_sum
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Reproducible train/eval split (deterministic `randomSplit` twin):
    * 90/10 by hash bucket, keyed so a document can never migrate between
    * splits across runs or corpus growth — the property that protects a
    * held-out set from contamination when the corpus is re-ingested.
    */
  def splitTrainEval(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir).documents
    // floor(0.9 · 2^32) = 3865470566
    val split = when(kbucket(col("doc_id")) < lit(3865470566L), lit("train"))
      .otherwise(lit("eval"))
    d.select(col("lang"), split.as("split"), col("doc_id"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("ids_sum"))
      .orderBy("lang", "split")
  }

  val splitTrainEvalSql: String = {
    val h = kbucketSql("doc_id")
    s"""SELECT lang,
       | CASE WHEN $h < 3865470566 THEN 'train' ELSE 'eval' END AS split,
       | count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS ids_sum
       |FROM documents GROUP BY 1, 2 ORDER BY lang, split""".stripMargin
  }

  /** Domain-weighted mixture: given target language weights, compute the
    * per-language keep fraction that realises the mixture over this
    * corpus (frac_l = min(1, w_l · N / n_l)) and select by hash bucket.
    * The per-domain stats are one tiny aggregate broadcast back onto the
    * corpus — the 100 TB shape (corpus scans once; the weights join is a
    * few-row broadcast). Thresholds go through an explicit floor() so
    * Spark (truncating cast) and DuckDB (round-half-even cast) agree.
    */
  def mixWeighted(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir).documents
    val w = when(col("lang") === "en", 0.20).when(col("lang") === "zh", 0.30)
      .when(col("lang") === "es", 0.25).when(col("lang") === "de", 0.15)
      .otherwise(0.10)
    val stats = d.groupBy("lang").agg(count(lit(1)).as("n_l"))
      .withColumn("n_total", sum("n_l").over(Window.partitionBy()))
    val frac = least(lit(1.0), w * col("n_total").cast("double") / col("n_l").cast("double"))
    val thr = floor(frac * lit(4294967296.0)).cast("long")
    d.join(broadcast(stats.select(col("lang"), thr.as("thr"))), "lang")
      .filter(kbucket(col("doc_id")) < col("thr"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("ids_sum"))
      .orderBy("lang")
  }

  val mixWeightedSql: String = {
    val h = kbucketSql("doc_id")
    val w = """CASE lang WHEN 'en' THEN 0.20 WHEN 'zh' THEN 0.30
              | WHEN 'es' THEN 0.25 WHEN 'de' THEN 0.15 ELSE 0.10 END""".stripMargin
    s"""WITH stats AS (
       |  SELECT lang, count(*) AS n_l, sum(count(*)) OVER () AS n_total
       |  FROM documents GROUP BY lang),
       |thr AS (
       |  SELECT lang, CAST(floor(least(1.0, ($w) * CAST(n_total AS DOUBLE) / CAST(n_l AS DOUBLE)) * 4294967296.0) AS BIGINT) AS thr
       |  FROM stats)
       |SELECT d.lang, count(*) AS n_kept, CAST(sum(d.doc_id) AS BIGINT) AS ids_sum
       |FROM documents d JOIN thr ON d.lang = thr.lang
       |WHERE $h < thr.thr
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin
  }

  // ---------------------------------------------------------------- packing

  /** Token-budget sequence packing (concat-and-chunk): documents stream
    * in deterministic (lang, shard, doc_id) order; each doc's start
    * offset is the running token total before it, and it is assigned to
    * bin floor(start / budget) — the standard "concatenate then split at
    * the context boundary" training layout (docs may straddle bins; a
    * doc belongs to the bin where it starts). Sharding: a global
    * running-sum is a single-reducer scan, so packing runs per
    * (lang, doc_id mod 8) stream — 8 independent deterministic streams
    * per language, which is how a 1000-executor packer actually lays out
    * work (width = langs × shards; raise the shard count with the
    * corpus).
    */
  def packSequences(spark: SparkSession, sfDir: String): DataFrame = {
    val budget = 2048L
    val d = Tables(spark, sfDir).documents
      .select(col("doc_id"), col("lang"),
        pmod(col("doc_id"), lit(8L)).as("shard"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
    val stream = Window.partitionBy("lang", "shard").orderBy("doc_id")
    d.withColumn("start", sum("n_tok").over(stream) - col("n_tok"))
      // explicit floor: Spark's double->long cast truncates while
      // DuckDB's CAST rounds half-even, so the shared contract is
      // floor() (identical for the non-negative offsets here)
      .withColumn("bin", floor(col("start") / lit(budget.toDouble)).cast("long"))
      .groupBy("lang", "shard", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("lang", "shard", "bin")
  }

  val packSequencesSql: String =
    """WITH d AS (
      |  SELECT doc_id, lang, doc_id % 8 AS shard,
      |   len(list_filter(string_split_regex(lower(text), '\s+'), w -> len(w) > 0)) AS n_tok
      |  FROM documents),
      |s AS (
      |  SELECT *, sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS start
      |  FROM d)
      |SELECT lang, shard, CAST(floor(start / 2048.0) AS BIGINT) AS bin,
      | count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tokens,
      | min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM s GROUP BY 1, 2, 3 ORDER BY lang, shard, bin""".stripMargin

  /** [[packSequences]] under the BPE token budget (r16 verdict #4's
    * "Done =" criterion: the packing family consumes the merge-table
    * count, making the context-window math vocabulary-true instead of
    * whitespace-approximate). Same concat-and-chunk layout and
    * (lang, shard) stream sharding; each doc's cost is its
    * [[graft.functions.Bpe]] token total — computed with the
    * encode-once-per-distinct-word plan of `text_token_count_bpe`
    * (persisted collapsed frame, one tokenize pass) and then packed by
    * the identical running-offset window. Docs with no [a-z] word have
    * no BPE cost and drop from the stream — identically in both
    * engines (the oracle derives from the same word set).
    */
  def packSequencesBpe(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Bpe
    val budget = 2048L
    val words = Tables(spark, sfDir).documents
      .select(col("doc_id"), col("lang"),
        explode(split(regexp_replace(lower(col("text")), "[^a-z]+", " "), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val wordCounts = words.groupBy("doc_id", "lang", "w")
      .agg(count(lit(1)).as("cnt")).persist()
    // r18: priority-merge kernel (|merges|-independent); oracle keeps
    // the chain twin — see textTokenCountBpe
    val vocab = wordCounts.select("w").distinct()
      .withColumn("tok_w", Bpe.tokenCountFast(col("w")).cast("long"))
    val perDoc = wordCounts.join(vocab, "w")
      .groupBy("doc_id", "lang")
      .agg(sum(col("cnt") * col("tok_w")).as("n_tok"))
      .withColumn("shard", pmod(col("doc_id"), lit(8L)))
    val stream = Window.partitionBy("lang", "shard").orderBy("doc_id")
    val out = perDoc
      .withColumn("start", sum("n_tok").over(stream) - col("n_tok"))
      .withColumn("bin", floor(col("start") / lit(budget.toDouble)).cast("long"))
      .groupBy("lang", "shard", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("lang", "shard", "bin")
    graft.operators.CacheLifecycle.releaseAfterAction(out, Seq(wordCounts))
  }

  val packSequencesBpeSql: String = {
    import graft.functions.Bpe
    s"""WITH words AS (
       |  SELECT doc_id, lang, w FROM (
       |    SELECT doc_id, lang,
       |      unnest(string_split(regexp_replace(lower(text), '[^a-z]+', ' ', 'g'), ' ')) AS w
       |    FROM documents) WHERE len(w) > 0),
       |wc AS (SELECT doc_id, lang, w, count(*) AS cnt FROM words GROUP BY 1, 2, 3),
       |enc AS (
       |  SELECT w, ${Bpe.encodeSql("w")} AS e
       |  FROM (SELECT DISTINCT w FROM wc)),
       |vocab AS (
       |  SELECT w, CAST(len(e) - len(replace(e, ' ', '')) - 1 AS BIGINT) AS tok_w
       |  FROM enc),
       |perdoc AS (
       |  SELECT wc.doc_id, wc.lang, CAST(sum(cnt * tok_w) AS BIGINT) AS n_tok,
       |    wc.doc_id % 8 AS shard
       |  FROM wc JOIN vocab ON wc.w = vocab.w GROUP BY 1, 2),
       |s AS (
       |  SELECT *, sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS start
       |  FROM perdoc)
       |SELECT lang, shard, CAST(floor(start / 2048.0) AS BIGINT) AS bin,
       | count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tokens,
       | min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM s GROUP BY 1, 2, 3 ORDER BY lang, shard, bin""".stripMargin
  }

  /** Overlapping chunk windows — the RAG / long-context prep that
    * [[packSequences]]' concat-and-chunk deliberately is NOT: each
    * document is split into fixed-size token windows advancing by a
    * stride < size, so consecutive chunks share `size − stride` tokens
    * of context and no chunk crosses a document boundary. One
    * tokenize + one `sequence`/`explode` + one positional `slice` per
    * row — a pure zero-shuffle projection (the ORDER BY is the declared
    * query's presentation, not the operator's): at 100 TB chunking is
    * embarrassingly parallel and the plan must keep it that way.
    *
    * Chunk count = ceil(max(n − size, 0) / stride) + 1 in exact
    * integer arithmetic (`div`, never a double ceil): every token is
    * covered, the final chunk is the only short one, and a ≤ size-token
    * document yields exactly one chunk of itself.
    */
  def chunkOverlapWindows(spark: SparkSession, sfDir: String): DataFrame = {
    val size = 32
    val stride = 24
    Tables(spark, sfDir).documents
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", org.apache.spark.sql.functions.size(col("toks")))
      .withColumn("chunk_id", explode(sequence(lit(0),
        // div returns LONG; sequence needs both bounds the same type
        expr(s"cast((greatest(n - $size, 0) + ${stride - 1}) div $stride as int)"))))
      .select(col("doc_id"), col("chunk_id"),
        concat_ws(" ",
          slice(col("toks"), col("chunk_id") * stride + 1, lit(size)))
          .as("chunk_text"),
        least(lit(size), col("n") - col("chunk_id") * stride).as("n_tokens"))
      .orderBy("doc_id", "chunk_id")
  }

  val chunkOverlapWindowsSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |   len(string_split(text, ' ')) AS n
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, toks, n,
      |   unnest(generate_series(0,
      |     (greatest(n - 32, 0) + 23) // 24)) AS chunk_id
      |  FROM d)
      |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
      | array_to_string(toks[chunk_id*24 + 1 : chunk_id*24 + 32], ' ')
      |   AS chunk_text,
      | CAST(least(32, n - chunk_id*24) AS INT) AS n_tokens
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  // ------------------------------------------------------- global line dedup

  /** Shared plant: every document gets the same 16-word boilerplate line
    * prepended (the C4 motivation case — site chrome repeated across a
    * crawl), and every doc_id % 3 == 0 document additionally repeats its
    * own first 16 words at the end (within-corpus duplication).
    */
  private val Boiler = // exactly 16 words = exactly the first chunk
    "subscribe to our newsletter for updates terms of service privacy policy all rights reserved contact us"

  /** C4-style global line-level deduplication. A "line" is a 16-word
    * chunk of the document (the fixture corpus has no newlines; real
    * corpora split on '\n' — the plumbing is identical). Every line
    * keeps exactly its globally-first occurrence (min (doc_id, pos)),
    * all other occurrences are dropped, and surviving docs are
    * reassembled in original line order. Scale shape: explode →
    * one groupBy on the line (min order-key) → join back → one re-agg
    * per doc. Both shuffles are keyed on high-cardinality columns; the
    * all-docs boilerplate line is the skew case and collapses in the
    * partial aggregate (min is map-side combinable).
    */
  def dedupLinesGlobal(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir).documents
      .select(col("doc_id"),
        concat(lit(Boiler + " "), lower(col("text"))).as("text"))
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat_ws(" ", col("text"),
            array_join(slice(split(col("text"), "\\s+"), 1, 16), " ")))
          .otherwise(col("text")).as("text"))
    val lines = d
      .select(col("doc_id"), split(col("text"), "\\s+").as("words"))
      .filter(size(col("words")) > 0)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), (ceil(size(col("words")) / lit(16.0))).cast("int") - 1),
          i => array_join(slice(col("words"), i * 16 + 1, lit(16)), " "))))
      .withColumnRenamed("pos", "pos").withColumnRenamed("col", "line")
      .withColumn("ord", col("doc_id") * 1000000L + col("pos"))
    val firsts = lines.groupBy("line").agg(min("ord").as("keep_ord"))
    lines.join(firsts, "line")
      .filter(col("ord") === col("keep_ord"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")), " ").as("text_dedup"))
      .join(lines.groupBy("doc_id").agg(count(lit(1)).as("n_lines")), "doc_id")
      .select("doc_id", "n_lines", "n_kept", "text_dedup")
      .orderBy("doc_id")
  }

  val dedupLinesGlobalSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, '$Boiler ' || lower(text) AS text FROM documents),
       |planted AS (
       |  SELECT doc_id, CASE WHEN doc_id % 3 = 0
       |    THEN text || ' ' || array_to_string(string_split_regex(text, '\\s+')[1:16], ' ')
       |    ELSE text END AS text
       |  FROM base),
       |w AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS words FROM planted
       |  WHERE len(string_split_regex(text, '\\s+')) > 0),
       |lines AS (
       |  SELECT doc_id, CAST(i AS INTEGER) AS pos,
       |   array_to_string(words[(i*16+1):(i*16+16)], ' ') AS line,
       |   doc_id * 1000000 + i AS ord
       |  FROM w, UNNEST(range(CAST(ceil(len(words) / 16.0) AS BIGINT))) AS t(i)),
       |kept AS (
       |  SELECT * FROM (
       |    SELECT doc_id, pos, line, ord, min(ord) OVER (PARTITION BY line) AS keep_ord
       |    FROM lines) WHERE ord = keep_ord)
       |SELECT k.doc_id, t.n_lines, count(*) AS n_kept,
       | string_agg(k.line, ' ' ORDER BY k.pos) AS text_dedup
       |FROM kept k JOIN (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id) t
       | ON k.doc_id = t.doc_id
       |GROUP BY k.doc_id, t.n_lines ORDER BY k.doc_id""".stripMargin

  // -------------------------------------------- duplicate-span removal

  /** Span width for [[dedupSpanNgram]]: a span is "duplicated" when a
    * full 8-token window recurs anywhere in the corpus. */
  private val SpanW = 8

  /** Exact duplicate-SPAN removal — the token-level refinement of
    * [[dedupLinesGlobal]] (which can only drop aligned 16-word lines)
    * and of `dedup_docs_exact` (which can only drop whole documents):
    * any 8-token window that occurs more than once in the corpus is
    * removed from every occurrence EXCEPT the globally first
    * (min (doc_id, pos)), at its exact token boundaries. Algorithm and
    * scale analysis: [[graft.operators.SpanDedup]].
    *
    * Plant (fixture corpora are near-duplicate-free by construction):
    * every doc is prefixed with the same 16-word boilerplate (cross-doc
    * duplication — doc 1 keeps it, everyone else loses it), and every
    * doc_id % 5 == 0 doc appends its own first 12 tokens (intra-doc
    * duplication: 5 of the appended windows recur from the doc's own
    * prefix, so the tail — and only the tail — is removed).
    */
  def dedupSpanNgram(spark: SparkSession, sfDir: String): DataFrame = {
    val planted = graft.operators.FanOut(Tables(spark, sfDir).documents)
      .select(col("doc_id"), concat(lit(Boiler + " "), lower(col("text"))).as("text"))
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat_ws(" ", col("text"),
            array_join(slice(split(col("text"), " "), 1, 12), " ")))
          .otherwise(col("text")).as("text"))
    graft.operators.SpanDedup
      .removeDuplicateSpans(planted, "doc_id", "text", SpanW)
      .orderBy("doc_id")
  }

  val dedupSpanNgramSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, '$Boiler ' || lower(text) AS text FROM documents),
       |planted AS (
       |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
       |    THEN text || ' ' || array_to_string(string_split(text, ' ')[1:12], ' ')
       |    ELSE text END AS text
       |  FROM base),
       |w AS (
       |  SELECT doc_id, string_split(text, ' ') AS words,
       |   len(string_split(text, ' ')) AS n FROM planted),
       |occ AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS p,
       |   array_to_string(words[(i+1):(i+8)], ' ') AS gram,
       |   doc_id * 1048576 + i AS key
       |  FROM w, UNNEST(range(n - 8 + 1)) AS t(i) WHERE n >= 8),
       |stats AS (
       |  SELECT gram, min(key) AS min_key, count(*) AS df FROM occ GROUP BY gram),
       |marks AS (
       |  SELECT o.doc_id, o.p, 0 AS kind, NULL AS tok, o.p + 8 AS span_end
       |  FROM occ o JOIN stats s USING (gram)
       |  WHERE s.df > 1 AND o.key <> s.min_key),
       |toks AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS p, 1 AS kind, words[i+1] AS tok,
       |   NULL::BIGINT AS span_end
       |  FROM w, UNNEST(range(n)) AS t(i)),
       |cov AS (
       |  SELECT doc_id, p, kind, tok,
       |   max(span_end) OVER (PARTITION BY doc_id ORDER BY p, kind
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cov_end
       |  FROM (SELECT * FROM toks UNION ALL SELECT * FROM marks))
       |SELECT doc_id, count(*) AS n_tokens,
       | CAST(sum(CASE WHEN cov_end IS NOT NULL AND cov_end > p THEN 1 ELSE 0 END)
       |   AS BIGINT) AS n_removed,
       | coalesce(string_agg(CASE WHEN cov_end IS NULL OR cov_end <= p
       |   THEN tok END, ' ' ORDER BY p), '') AS text_clean
       |FROM cov WHERE kind = 1
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------- tf-idf

  /** Rarity-weighted top terms per document (TF-IDF-shaped; the weight is
    * the rational (N+1)/(df+1) rather than its log — same ranking per
    * fixed tf, and exactly portable: both engines compute one integer
    * promotion, one IEEE division, one multiplication). Top-3 per doc by
    * (score desc, word) through a rank window — the filter compiles to
    * WindowGroupLimit, so per-doc state in the exchange is 3 rows, not
    * the vocabulary.
    */
  def textTfidfTopterms(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir).documents
    val tf = d.select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val nDocs = d.groupBy().agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df_, "word").crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf").cast("double") *
          ((col("n_docs").cast("double") + 1.0) / (col("df").cast("double") + 1.0)), 6))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("word"))))
      .filter(col("rk") <= 3)
      .select("doc_id", "rk", "word", "tf", "df", "score")
      .orderBy("doc_id", "rk")
  }

  val textTfidfToptermsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), w -> len(w) > 0)) AS word
      |  FROM documents),
      |tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.word, tf.tf, df.df,
      |   round(CAST(tf.tf AS DOUBLE) * ((CAST(n.n_docs AS DOUBLE) + 1.0) / (CAST(df.df AS DOUBLE) + 1.0)), 6) AS score
      |  FROM tf JOIN df ON tf.word = df.word CROSS JOIN n)
      |SELECT doc_id, rk, word, tf, df, score FROM (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rk
      |  FROM scored)
      |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  /** [[textTfidfTopterms]] off the TOKENIZE-ONCE layout
    * ([[graft.tables.TokenCorpus]]) — same result, same oracle SQL
    * (layout-blind by construction), different physical plan: the
    * stored (doc_id, tok, tf, dl) table replaces the explode (no
    * Generate in the plan), the df aggregate AND the tf–df join are
    * co-located on the tok bucketing (zero hash exchanges until the
    * per-doc top-k window — plan-pinned at exactly ONE), and the
    * corpus is tokenized exactly once per fixture, not once per query.
    * The r15 STRESS A/B measured this layout 12.2× faster with zero
    * exchange RECORDS at 32× corpus scale (`tfidf_table` vs
    * `tfidf_retokenize`, STRESS.md r15) — this declaration locks its
    * correctness with the same hash-matched oracle the raw-text twin
    * passes, the way `join_bucketed_facts` locked the bucketed-fact
    * layout.
    */
  def textTfidfTable(spark: SparkSession, sfDir: String): DataFrame = {
    val t = graft.tables.TokenCorpus(spark, sfDir)
    val df_ = t.groupBy("tok").agg(count(lit(1)).as("df"))
    val nDocs = Tables(spark, sfDir).documents
      .groupBy().agg(count(lit(1)).as("n_docs"))
    t.join(df_, "tok").crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf").cast("double") *
          ((col("n_docs").cast("double") + 1.0) / (col("df").cast("double") + 1.0)), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("tok"))))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("tok").as("word"),
        col("tf"), col("df"), col("score"))
      .orderBy("doc_id", "rk")
  }

  // ------------------------------------------------------------- dq report

  /** Data-quality expectation report (Deequ-style): each declared
    * constraint contributes one row (constraint, violations, n_rows).
    * Row-level expectations fold into ONE scan (conditional sums);
    * the uniqueness expectation is the only extra aggregate. At 100 TB
    * this is the shape you want: the report costs one pass + one
    * key-distinct, regardless of how many row-level constraints are
    * declared.
    */
  def dqConstraintReport(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir).lineitem
    def viol(name: String, pred: org.apache.spark.sql.Column) =
      struct(lit(name).as("check_name"),
        sum(when(pred, 1L).otherwise(0L)).as("violations"))
    val rowLevel = li.agg(
      count(lit(1)).as("n_rows"),
      viol("l_discount_le_0.08", col("l_discount") > 0.08).as("c1"),
      viol("l_quantity_le_45", col("l_quantity") > 45).as("c2"),
      viol("l_returnflag_domain", !col("l_returnflag").isin("A", "N", "R")).as("c3"),
      viol("l_tax_nonneg", col("l_tax") < 0).as("c4"))
    val uniq = li.groupBy("l_orderkey", "l_linenumber")
      .agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_keys"), sum("c").as("n_rows"))
      .select(lit("pk_unique").as("check_name"),
        (col("n_rows") - col("n_keys")).as("violations"), col("n_rows"))
    rowLevel.select(explode(array(col("c1"), col("c2"), col("c3"), col("c4"))).as("s"),
        col("n_rows"))
      .select(col("s.check_name"), col("s.violations"), col("n_rows"))
      .unionByName(uniq)
      .orderBy("check_name")
  }

  val dqConstraintReportSql: String =
    """SELECT * FROM (
      |  SELECT 'l_discount_le_0.08' AS check_name,
      |   CAST(sum(CASE WHEN l_discount > 0.08 THEN 1 ELSE 0 END) AS BIGINT) AS violations, count(*) AS n_rows
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'l_quantity_le_45', CAST(sum(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END) AS BIGINT), count(*) FROM lineitem
      |  UNION ALL
      |  SELECT 'l_returnflag_domain', CAST(sum(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT), count(*) FROM lineitem
      |  UNION ALL
      |  SELECT 'l_tax_nonneg', CAST(sum(CASE WHEN l_tax < 0 THEN 1 ELSE 0 END) AS BIGINT), count(*) FROM lineitem
      |  UNION ALL
      |  SELECT 'pk_unique', count(*) - count(DISTINCT (l_orderkey, l_linenumber)), count(*) FROM lineitem
      |) ORDER BY check_name""".stripMargin

  // ---------------------------------------------------------- two-level agg

  /** Exact per-group distinct via explicit two-level aggregation:
    * groupBy(key, value) partial-dedups map-side, then groupBy(key)
    * counts — the skew-safe plan for exact nunique when one group
    * dominates (a hot event_type never concentrates its users on one
    * reducer; the first level spreads (type, user) across the cluster).
    * Oracle: count(DISTINCT), the semantics this plan implements.
    */
  def aggDistinctTwolevel(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir).events
    ev.groupBy("event_type", "user_id").agg(count(lit(1)).as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"), sum("c").as("n_events"))
      .orderBy("event_type")
  }

  val aggDistinctTwolevelSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Reservoir-equivalent fixed-k per-group sample: exactly k uniform
    * (hash-ordered) rows per language, reproducibly — rank rows within
    * each group by the Knuth bucket (doc_id tiebreak) and keep the first
    * k. The plan is the scale story: the rank-filter compiles to
    * WindowGroupLimit, so every partition keeps only its local top-k
    * candidates BEFORE the shuffle — a per-group reservoir, not a full
    * per-group sort (ExplainAuditSpec asserts the pushdown). The classic
    * distributed-reservoir alternative (mapPartitions + RNG state) loses
    * reproducibility across partition layouts; hash-rank is the same
    * sample every run on every cluster shape.
    */
  def sampleGroupFixedK(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir).documents
    val w = Window.partitionBy("lang").orderBy(kbucket(col("doc_id")), col("doc_id"))
    d.select(col("lang"), col("doc_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 20)
      .orderBy("lang", "rn")
  }

  val sampleGroupFixedKSql: String = {
    val h = kbucketSql("doc_id")
    s"""SELECT lang, doc_id, rn FROM (
       | SELECT lang, doc_id,
       |  row_number() OVER (PARTITION BY lang ORDER BY $h, doc_id) AS rn
       | FROM documents) t
       |WHERE rn <= 20 ORDER BY lang, rn""".stripMargin
  }

  // ------------------------------------------------------- feature scaling

  /** Per-group z-score standardization (StandardScaler shape): per-flag
    * moments in one map-side-combined aggregate over EXACT cents-scaled
    * integers, broadcast back onto the rows, z computed per row from the
    * same IEEE operands in both engines. The per-row numerator
    * `x·100·n − Σ(x·100)` stays an exact BIGINT (the trick that makes a
    * standardized column hash-checkable at all — `(x − avg(x))/std(x)`
    * in raw doubles differs across engines in the last ulp), and the
    * one variance expression routes n·Σx² − (Σx)² through DECIMAL(38,0)
    * because at bench scale it already crosses 2^63. Emitted per group:
    * row count, |z| > 2 outlier count, min/max z — order-independent
    * reductions of the per-row z, so the full standardized column is
    * pinned without emitting 600k rows.
    */
  def featureScaleStandard(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir).lineitem
    val m = li.select(col("l_returnflag").as("f"),
      (col("l_quantity").cast("decimal(18,2)") * 100).cast("long").as("x"))
    val mom = m.groupBy("f").agg(
      count(lit(1)).as("n"),
      sum(col("x").cast("decimal(38,0)")).as("s1"),
      sum((col("x") * col("x")).cast("decimal(38,0)")).as("s2"))
    val sd = sqrt((col("n").cast("decimal(38,0)") * col("s2") -
        col("s1") * col("s1")).cast("double") /
      (col("n").cast("double") * (col("n") - lit(1)).cast("double")))
    val z = (col("x") * col("n") - col("s1")).cast("double") /
      (col("n").cast("double") * col("__sd"))
    m.join(broadcast(mom.withColumn("__sd", sd)), "f")
      .select(col("f"), z.as("z"))
      .groupBy("f")
      .agg(count(lit(1)).as("n"),
        sum(when(abs(col("z")) > 2.0d, 1L).otherwise(0L)).as("n_outliers"),
        round(min("z"), 6).as("min_z"),
        round(max("z"), 6).as("max_z"))
      .orderBy("f")
  }

  val featureScaleStandardSql: String =
    """WITH m AS (
      |  SELECT l_returnflag AS f,
      |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      |  FROM lineitem),
      |mom AS (
      |  SELECT f, count(*) AS n,
      |    sum(CAST(x AS DECIMAL(38,0))) AS s1,
      |    sum(CAST(x * x AS DECIMAL(38,0))) AS s2
      |  FROM m GROUP BY 1),
      |sdd AS (
      |  SELECT f, n, s1,
      |    sqrt(CAST(CAST(n AS DECIMAL(38,0)) * s2 - s1 * s1 AS DOUBLE) /
      |         (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) AS sd
      |  FROM mom),
      |z AS (
      |  SELECT m.f,
      |    CAST(m.x * sdd.n - sdd.s1 AS DOUBLE) /
      |      (CAST(sdd.n AS DOUBLE) * sdd.sd) AS z
      |  FROM m JOIN sdd USING (f))
      |SELECT f, count(*) AS n,
      |  CAST(sum(CASE WHEN abs(z) > 2.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  round(min(z), 6) AS min_z, round(max(z), 6) AS max_z
      |FROM z GROUP BY 1 ORDER BY f""".stripMargin

  // ------------------------------------------------- privacy / fold prep

  /** k-anonymity profile over quasi-identifiers — the privacy gate a
    * training corpus with user-derived rows runs before release: group
    * by the quasi-identifier tuple (nation, market segment, account
    * balance band), then report the GROUP-SIZE HISTOGRAM (how many QI
    * groups have exactly m members) plus, per size, how many people
    * that is. Rows with m below the k threshold are the re-identifiable
    * population; the histogram shape tells you which generalization
    * (wider bands, dropped columns) buys herd size cheapest. Two
    * map-side-combinable aggregates back-to-back — the second input is
    * |distinct QI tuples|, so at 100 TB the heavy shuffle is only the
    * first, keyed on the QI tuple itself.
    *
    * The balance band is floor(acctbal/1000): band edges land on exact
    * thousands, which are exactly representable doubles, so the two
    * engines' floor() agree everywhere a 2-decimal input can fall.
    */
  def dqKAnonymity(spark: SparkSession, sfDir: String): DataFrame = {
    val groups = Tables(spark, sfDir).customer
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).as("bal_band"))
      .agg(count(lit(1)).as("m"))
    groups.groupBy("m")
      .agg(count(lit(1)).as("n_groups"), sum("m").as("n_people"))
      .orderBy("m")
  }

  val dqKAnonymitySql: String =
    """WITH g AS (
      |  SELECT c_nationkey, c_mktsegment,
      |   CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
      |   count(*) AS m
      |  FROM customer GROUP BY 1, 2, 3)
      |SELECT m, count(*) AS n_groups, CAST(sum(m) AS BIGINT) AS n_people
      |FROM g GROUP BY m ORDER BY m""".stripMargin

  /** Class-balance profile per language: Shannon entropy and Gini
    * impurity of each language's SOURCE distribution — the
    * label-balance report a training-mixture owner reads before
    * weighting (a lang whose mass is one source is a deduplication /
    * contamination risk; maximum entropy = ln(n_classes) means
    * perfectly mixed). Two map-side-combinable aggregates; the heavy
    * one is keyed on (lang, source) so corpus mass collapses in the
    * partial pass.
    *
    * Determinism: both moments are computed from exact integer class
    * counts — entropy via the rearrangement H = ln N − (Σ nᵢ ln nᵢ)/N
    * (one double sum over ≤ n_classes terms, rounded at 6), Gini from
    * the exact BIGINT Σ nᵢ² — so engine-order effects are confined to
    * a ≤ n_classes-term double sum, well inside the rounding.
    */
  def dqLabelBalance(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables(spark, sfDir).documents
      .groupBy("lang", "source").agg(count(lit(1)).as("n"))
    counts.groupBy("lang").agg(
        sum("n").as("n_docs"), count(lit(1)).as("n_classes"),
        sum(col("n") * log(col("n"))).as("__snln"),
        sum(col("n") * col("n")).as("__sn2"))
      .select(col("lang"), col("n_docs"), col("n_classes"),
        round(log(col("n_docs")) - col("__snln") / col("n_docs"), 6)
          .as("entropy"),
        round(lit(1.0) - col("__sn2") / (col("n_docs") * col("n_docs")), 6)
          .as("gini"))
      .orderBy("lang")
  }

  val dqLabelBalanceSql: String =
    """WITH c AS (
      |  SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2)
      |SELECT lang, CAST(sum(n) AS BIGINT) AS n_docs, count(*) AS n_classes,
      | round(ln(CAST(sum(n) AS BIGINT)) - sum(n * ln(n)) / CAST(sum(n) AS BIGINT), 6) AS entropy,
      | round(1.0 - CAST(sum(n * n) AS BIGINT) / (CAST(sum(n) AS BIGINT) * CAST(sum(n) AS BIGINT)), 6) AS gini
      |FROM c GROUP BY lang ORDER BY lang""".stripMargin

  /** Smoothed target-mean encoding (the ML-prep "target encoding" /
    * James-Stein shrink): each category's code is the weighted blend
    * (n·mean_cat + m·mean_global)/(n + m) with smoothing mass m = 10 —
    * rare categories shrink toward the global mean instead of
    * memorizing noise. Emitted as the per-category encoding TABLE (the
    * artifact a trainer broadcasts onto the fact side); one map-side
    * aggregate per category + a 1-row global aggregate that broadcasts
    * into the blend. Determinism: both means come from exact
    * DECIMAL(38,8) sums; the blend is the identical double expression
    * (sum_cat + m·g)/(n + m) on both engines, rounded at 6.
    */
  def encodeTargetMean(spark: SparkSession, sfDir: String): DataFrame = {
    val m = 10.0
    val c = Tables(spark, sfDir).customer
    val perSeg = c.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(col("c_acctbal").cast("decimal(38,8)")).as("__sum"))
    val global = c.agg(
      (sum(col("c_acctbal").cast("decimal(38,8)")).cast("double") /
        count(lit(1))).as("__g"))
    perSeg.crossJoin(broadcast(global))
      .select(col("c_mktsegment"), col("n"),
        round((col("__sum").cast("double") + lit(m) * col("__g")) /
          (col("n") + lit(m)), 6).as("enc"))
      .orderBy("c_mktsegment")
  }

  val encodeTargetMeanSql: String =
    """WITH g AS (
      |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(38,8))) AS DOUBLE)
      |    / count(*) AS g FROM customer)
      |SELECT c_mktsegment, count(*) AS n,
      | round((CAST(sum(CAST(c_acctbal AS DECIMAL(38,8))) AS DOUBLE)
      |   + 10.0 * (SELECT g FROM g)) / (count(*) + 10.0), 6) AS enc
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** IQR-fence outlier report per segment — the Tukey boxplot gate a
    * feature column passes before training: discrete quartiles (the
    * ⌈n/4⌉-th / ⌈3n/4⌉-th smallest — RANK-BASED, so both engines pick
    * the same exact 2-decimal element and the fence arithmetic
    * q ± 1.5·IQR is the identical double expression, no interpolation
    * ulp-risk), then one pass counting rows outside the fences. One
    * rank window + one join + one aggregate, all keyed on the segment.
    */
  def dqOutlierIqr(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables(spark, sfDir).customer
    val ranked = c.select(col("c_mktsegment"), col("c_acctbal"),
      row_number().over(Window.partitionBy("c_mktsegment")
        .orderBy("c_acctbal", "c_custkey")).as("rn"),
      count(lit(1)).over(Window.partitionBy("c_mktsegment")).as("n"))
    val quarts = ranked
      .filter(col("rn") === ceil(col("n") / lit(4.0)).cast("long") ||
        col("rn") === ceil(col("n") * lit(3.0) / lit(4.0)).cast("long"))
      .groupBy("c_mktsegment")
      .agg(min("c_acctbal").as("q1"), max("c_acctbal").as("q3"))
      .withColumn("lo", col("q1") - lit(1.5) * (col("q3") - col("q1")))
      .withColumn("hi", col("q3") + lit(1.5) * (col("q3") - col("q1")))
    c.join(broadcast(quarts), "c_mktsegment")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), first("q1").as("q1"), first("q3").as("q3"),
        sum(when(col("c_acctbal") < col("lo") ||
          col("c_acctbal") > col("hi"), 1L).otherwise(0L)).as("n_outliers"))
      .orderBy("c_mktsegment")
  }

  val dqOutlierIqrSql: String =
    """WITH ranked AS (
      |  SELECT c_mktsegment, c_acctbal,
      |    row_number() OVER (PARTITION BY c_mktsegment
      |      ORDER BY c_acctbal, c_custkey) AS rn,
      |    count(*) OVER (PARTITION BY c_mktsegment) AS n
      |  FROM customer),
      |q AS (
      |  SELECT c_mktsegment, min(c_acctbal) AS q1, max(c_acctbal) AS q3
      |  FROM ranked
      |  WHERE rn = CAST(ceil(n / 4.0) AS BIGINT)
      |     OR rn = CAST(ceil(n * 3.0 / 4.0) AS BIGINT)
      |  GROUP BY 1)
      |SELECT c.c_mktsegment, count(*) AS n, min(q.q1) AS q1, min(q.q3) AS q3,
      | CAST(sum(CASE WHEN c.c_acctbal < q.q1 - 1.5 * (q.q3 - q.q1)
      |   OR c.c_acctbal > q.q3 + 1.5 * (q.q3 - q.q1) THEN 1 ELSE 0 END)
      |   AS BIGINT) AS n_outliers
      |FROM customer c JOIN q USING (c_mktsegment)
      |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin

  /** Deterministic k-fold assignment for cross-validation: fold =
    * knuth_hash(key) mod 5 — a pure function of the row key, so folds
    * are stable across re-runs, backfills and engines (the same
    * doctrine as every sampler in this file; RNG folds cannot be
    * incrementally maintained). Emits per-(fold, segment) counts and a
    * key checksum so the oracle pins MEMBERSHIP, not just sizes. One
    * zero-shuffle projection + one aggregate.
    */
  def sampleKfold(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir).customer
      .withColumn("fold", pmod(kbucket(col("c_custkey")), lit(5)))
      .groupBy("fold", "c_mktsegment")
      .agg(count(lit(1)).as("n"), sum("c_custkey").as("key_checksum"))
      .orderBy("fold", "c_mktsegment")
  }

  val sampleKfoldSql: String =
    s"""SELECT ${kbucketSql("c_custkey")} % 5 AS fold, c_mktsegment,
       | count(*) AS n, CAST(sum(c_custkey) AS BIGINT) AS key_checksum
       |FROM customer
       |GROUP BY 1, 2 ORDER BY fold, c_mktsegment""".stripMargin

  /** pandas `factorize(sort=True)` / sklearn LabelEncoder: dense
    * integer codes for two categorical part columns, codes assigned in
    * sorted domain order (first-appearance order is partition-order-
    * dependent and so not reproducible on a cluster; sorted codes are a
    * pure function of the DOMAIN — stable across re-runs, backfills,
    * and engines, the same doctrine as the hash samplers above).
    *
    * Scale shape: the naive phrasing — `dense_rank() OVER (ORDER BY
    * col)` on the fact table — is a GLOBAL window: every row through
    * one task. Instead the code table is built on the DISTINCT domain
    * (bounded: |p_type| = 150, |p_brand| = 25 — the window sorts
    * the domain, not the corpus) and BROADCAST-joined back, so the
    * fact side stays exchange-free at any row count.
    */
  def encodeLabelFactorize(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables(spark, sfDir).part
    def codes(c: String, out: String): DataFrame =
      p.select(col(c)).distinct()
        .withColumn(out,
          (dense_rank().over(Window.orderBy(col(c))) - 1).cast("long"))
    p.join(broadcast(codes("p_type", "type_code")), Seq("p_type"))
      .join(broadcast(codes("p_brand", "brand_code")),
        Seq("p_brand"))
      .select(col("p_partkey"), col("p_type"), col("type_code"),
        col("p_brand"), col("brand_code"))
      .orderBy("p_partkey")
  }

  val encodeLabelFactorizeSql: String =
    """WITH tc AS (
      |  SELECT p_type, dense_rank() OVER (ORDER BY p_type) - 1 AS type_code
      |  FROM (SELECT DISTINCT p_type FROM part)),
      |cc AS (
      |  SELECT p_brand,
      |    dense_rank() OVER (ORDER BY p_brand) - 1 AS brand_code
      |  FROM (SELECT DISTINCT p_brand FROM part))
      |SELECT p_partkey, p_type, type_code, p_brand, brand_code
      |FROM part JOIN tc USING (p_type) JOIN cc USING (p_brand)
      |ORDER BY p_partkey""".stripMargin

  /** BM25 top-k retrieval (Robertson/Sparck-Jones, the lexical ranker a
    * RAG / decontamination pipeline runs before any embedding pass):
    * score the whole corpus against a fixed query-term set and keep the
    * 10 best documents. One tokenize+aggregate pass computes per-doc
    * length AND the k per-term tfs as k conditional sums (the corpus
    * crosses the wire once, map-side combined, k widens columns — not
    * passes); per-term dfs and avg doclen fold off that per-doc frame
    * into ONE 1-row broadcast; top-10 is TakeOrderedAndProject, never a
    * global sort. At 100 TB every stage is embarrassingly partial.
    *
    * Determinism: the classic idf log is replaced by its rational
    * argument (N−df+0.5)/(df+0.5) — same device as [[textTfidfTopterms]]
    * (log is the one non-portable transcendental; the rational keeps
    * per-term ranking identical and every operation IEEE-exact in both
    * engines). tf, dl, N, df, Σdl are exact BIGINTs; the score is a
    * fixed-shape double expression (k1 = 1.2, b = 0.75 appear as the
    * literal doubles both parsers produce) summed over the k terms in
    * ONE left-associated chain, so there is no engine-order ambiguity
    * to round away; ties pin on doc_id.
    */
  def textBm25Topk(spark: SparkSession, sfDir: String): DataFrame = {
    val terms = Seq("vector", "hash", "window")
    val d = Tables(spark, sfDir).documents
    val tok = d.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("w") === t, 1L).otherwise(0L)).as(s"tf$i") }
    val per = tok.groupBy("doc_id")
      .agg(count(lit(1)).as("dl"), tfCols: _*)
    val dfCols = terms.indices.map { i =>
      sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i") }
    val stats = per.agg(count(lit(1)).as("nd"),
      (sum(col("dl")).as("sdl") +: dfCols): _*)
    val z = (col("dl") * col("nd")).cast("double") /
      col("sdl").cast("double")
    val lenNorm = lit(1.2) * (lit(0.25) + lit(0.75) * z)
    def contrib(i: Int) = {
      val tf = col(s"tf$i").cast("double")
      val idf = ((col("nd") - col(s"df$i")).cast("double") + lit(0.5)) /
        (col(s"df$i").cast("double") + lit(0.5))
      idf * (tf * lit(2.2) / (tf + lenNorm))
    }
    per.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl"),
        col("tf0").as("tf_vector"), col("tf1").as("tf_hash"),
        col("tf2").as("tf_window"),
        round(contrib(0) + contrib(1) + contrib(2), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)
  }

  val textBm25TopkSql: String = {
    def c(i: Int) =
      s"((CAST(nd - df$i AS DOUBLE) + 0.5) / (CAST(df$i AS DOUBLE) + 0.5))" +
        s" * (CAST(tf$i AS DOUBLE) * 2.2 / (CAST(tf$i AS DOUBLE)" +
        " + 1.2 * (0.25 + 0.75 * (CAST(dl * nd AS DOUBLE) / CAST(sdl AS DOUBLE)))))"
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), w -> len(w) > 0)) AS w
       |  FROM documents),
       |per AS (
       |  SELECT doc_id, count(*) AS dl,
       |    CAST(sum(CASE WHEN w = 'vector' THEN 1 ELSE 0 END) AS BIGINT) AS tf0,
       |    CAST(sum(CASE WHEN w = 'hash' THEN 1 ELSE 0 END) AS BIGINT) AS tf1,
       |    CAST(sum(CASE WHEN w = 'window' THEN 1 ELSE 0 END) AS BIGINT) AS tf2
       |  FROM toks GROUP BY 1),
       |st AS (
       |  SELECT count(*) AS nd, CAST(sum(dl) AS BIGINT) AS sdl,
       |    CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
       |    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
       |    CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
       |  FROM per)
       |SELECT doc_id, dl, tf0 AS tf_vector, tf1 AS tf_hash, tf2 AS tf_window,
       |  round(${c(0)} + ${c(1)} + ${c(2)}, 6) AS score
       |FROM per CROSS JOIN st
       |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
  }

  /** [[textBm25Topk]] off the TOKENIZE-ONCE layout
    * ([[graft.tables.TokenCorpus]]) — same result, same oracle SQL,
    * the layout's second declared consumer (after
    * [[textTfidfTable]]). Plan: corpus statistics (nd, sdl) are ONE
    * aggregate over the stored table (sdl = Σtf — the per-doc dl never
    * re-derives); the per-term tf frame FILTERS the table to the three
    * query terms first, so the doc-keyed shuffle carries only
    * query-term rows (the IN filter pushes into the parquet scan —
    * dictionary/row-group skipping; at 100 TB this is the
    * inverted-index posting read, and a tok-keyed consumer would
    * additionally bucket-prune) and left-joins back
    * onto the tiny (doc_id, dl) spine; docs matching no term keep
    * score 0 through the identical float formula. No Generate in the
    * plan — the text is never re-tokenized.
    */
  def textBm25Table(spark: SparkSession, sfDir: String): DataFrame = {
    val terms = Seq("vector", "hash", "window")
    val t = graft.tables.TokenCorpus(spark, sfDir)
    val spine = t.select(col("doc_id"), col("dl")).distinct()
    val tfRows = t.filter(col("tok").isin(terms: _*))
      .groupBy("doc_id")
      .agg(terms.zipWithIndex.map { case (term, i) =>
        sum(when(col("tok") === term, col("tf")).otherwise(0L)).as(s"tf$i")
      }.head, terms.zipWithIndex.tail.map { case (term, i) =>
        sum(when(col("tok") === term, col("tf")).otherwise(0L)).as(s"tf$i")
      }: _*)
    val dfStats = tfRows.agg(
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")).head,
      terms.indices.tail.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")): _*)
      // an all-miss term set aggregates over zero rows -> null dfs; the
      // raw twin sums zeros over its full per-doc frame -> 0. Align.
      .select(terms.indices.map(i =>
        coalesce(col(s"df$i"), lit(0L)).as(s"df$i")): _*)
    val corpusStats = t.agg(count_distinct(col("doc_id")).as("nd"),
      sum("tf").as("sdl"))
    val per = spine.join(tfRows, Seq("doc_id"), "left")
      .select(Seq(col("doc_id"), col("dl")) ++
        (0 until 3).map(i => coalesce(col(s"tf$i"), lit(0L)).as(s"tf$i")): _*)
    val z = (col("dl") * col("nd")).cast("double") /
      col("sdl").cast("double")
    val lenNorm = lit(1.2) * (lit(0.25) + lit(0.75) * z)
    def contrib(i: Int) = {
      val tf = col(s"tf$i").cast("double")
      val idf = ((col("nd") - col(s"df$i")).cast("double") + lit(0.5)) /
        (col(s"df$i").cast("double") + lit(0.5))
      idf * (tf * lit(2.2) / (tf + lenNorm))
    }
    per.crossJoin(broadcast(corpusStats)).crossJoin(broadcast(dfStats))
      .select(col("doc_id"), col("dl"),
        col("tf0").as("tf_vector"), col("tf1").as("tf_hash"),
        col("tf2").as("tf_window"),
        round(contrib(0) + contrib(1) + contrib(2), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)
  }

  /** Join-key skew profile — the operational report that decides
    * whether a key needs salting / AQE skew handling BEFORE the 100 TB
    * join runs: the 5 heaviest keys with their absolute counts, their
    * share of all rows (ppm) and their multiple of the mean key load
    * (pct). One map-side-combinable count per key, one 1-row broadcast
    * of (total, n_keys), top-5 via TakeOrderedAndProject — the profile
    * costs one pass whatever the table size.
    *
    * Determinism: pure integer arithmetic end to end — shares are
    * INTEGER-division ppm (`div` here, `//` in the oracle: identical
    * floor on non-negatives), so no double ever forms. Envelope:
    * cnt·1e6 and cnt·n_keys·100 must stay inside int64 — true whenever
    * the heaviest key holds < 9e12 rows (any profile worth salting),
    * and loudly wrong (overflow), not subtly wrong, beyond it.
    */
  def dqSkewProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir).events
    val perKey = ev.groupBy("user_id").agg(count(lit(1)).as("cnt"))
    val tot = perKey.agg(sum(col("cnt")).as("total"),
      count(lit(1)).as("n_keys"))
    perKey.crossJoin(broadcast(tot))
      .select(col("user_id"), col("cnt"), col("n_keys"),
        expr("cnt * 1000000 div total").as("share_ppm"),
        expr("cnt * n_keys * 100 div total").as("mean_mult_pct"))
      .orderBy(col("cnt").desc, col("user_id"))
      .limit(5)
  }

  val dqSkewProfileSql: String =
    """WITH pk AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
      |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS n_keys
      |      FROM pk)
      |SELECT user_id, cnt, n_keys,
      |  cnt * 1000000 // total AS share_ppm,
      |  cnt * n_keys * 100 // total AS mean_mult_pct
      |FROM pk CROSS JOIN t
      |ORDER BY cnt DESC, user_id LIMIT 5""".stripMargin

  /** Per-group winsorization report (`scipy.stats.mstats.winsorize` /
    * the clip-at-percentile feature-prep step): clip c_acctbal at the
    * rank-based p05/p95 of its market segment and report, per segment,
    * how much mass moved. Same discrete-quantile discipline as
    * [[dqOutlierIqr]]: the fence IS a data value picked by row_number
    * (`rn = ceil(n/20)` / `ceil(19n/20)` under the total
    * (c_acctbal, c_custkey) order), so no interpolation ulp can diverge
    * between engines; fences broadcast back (|segments| rows). The
    * winsorized sum rides exact cents (c_acctbal has 2 decimals, clip
    * bounds are data values, so clipped values stay 2-decimal) through
    * one BIGINT, emitted via the single bigint→double conversion both
    * engines round identically.
    *
    * Scale note: the rank window partitions by segment — few FAT
    * partitions, each sorted on one task. Fine at |group| ≤ a few
    * hundred million rows; past that the fence-picking step routes
    * through [[graft.operators.ExactQuantiles]]' batched
    * count-then-select device (the `agg_quantile` at-scale path) and
    * the clip pass is unchanged.
    */
  def transformWinsorize(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables(spark, sfDir).customer
    val ranked = c.select(col("c_mktsegment"), col("c_acctbal"),
      row_number().over(Window.partitionBy("c_mktsegment")
        .orderBy("c_acctbal", "c_custkey")).as("rn"),
      count(lit(1)).over(Window.partitionBy("c_mktsegment")).as("n"))
    val fences = ranked
      .filter(col("rn") === ceil(col("n") / lit(20.0)).cast("long") ||
        col("rn") === ceil(col("n") * lit(19.0) / lit(20.0)).cast("long"))
      .groupBy("c_mktsegment")
      .agg(min("c_acctbal").as("lo"), max("c_acctbal").as("hi"))
    val clipped = greatest(least(col("c_acctbal"), col("hi")), col("lo"))
    c.join(broadcast(fences), "c_mktsegment")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), first("lo").as("lo"), first("hi").as("hi"),
        sum(when(col("c_acctbal") < col("lo"), 1L).otherwise(0L)).as("n_clipped_lo"),
        sum(when(col("c_acctbal") > col("hi"), 1L).otherwise(0L)).as("n_clipped_hi"),
        (sum(round(clipped * 100).cast("long")).cast("double") / lit(100.0))
          .as("winsorized_sum"))
      .orderBy("c_mktsegment")
  }

  val transformWinsorizeSql: String =
    """WITH ranked AS (
      |  SELECT c_mktsegment, c_acctbal,
      |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS rn,
      |    count(*) OVER (PARTITION BY c_mktsegment) AS n
      |  FROM customer),
      |fences AS (
      |  SELECT c_mktsegment, min(c_acctbal) AS lo, max(c_acctbal) AS hi
      |  FROM ranked
      |  WHERE rn = CAST(ceil(n / 20.0) AS BIGINT)
      |     OR rn = CAST(ceil(n * 19.0 / 20.0) AS BIGINT)
      |  GROUP BY 1)
      |SELECT c.c_mktsegment, count(*) AS n, min(f.lo) AS lo, min(f.hi) AS hi,
      |  CAST(sum(CASE WHEN c_acctbal < f.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
      |  CAST(sum(CASE WHEN c_acctbal > f.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
      |  CAST(sum(CAST(round(greatest(least(c_acctbal, f.hi), f.lo) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS winsorized_sum
      |FROM customer c JOIN fences f USING (c_mktsegment)
      |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin

  /** Quantile-uniform encoding (sklearn `QuantileTransformer` /
    * pandas `rank(pct=True)` feature map): each value maps to its
    * within-group percent rank under a TOTAL order — the uniform[0,1]
    * feature a tree-free model wants, and a pure function of the
    * group's order statistics so train and serve agree. row_number
    * under (c_acctbal, c_custkey) replaces rank(): rank()'s tie
    * semantics differ subtly across engines, a unique tiebreak does
    * not. Under a unique order percent_rank() IS (rn−1)/(n−1) — one
    * double division with identical integer operands in both engines
    * (both return 0 for a single-row group), and ONE window function,
    * so the whole encode is a single window pass over a single keyed
    * exchange.
    */
  def encodeQuantileUniform(spark: SparkSession, sfDir: String): DataFrame = {
    val seg = Window.partitionBy("c_mktsegment")
      .orderBy("c_acctbal", "c_custkey")
    Tables(spark, sfDir).customer
      .select(col("c_custkey"), col("c_mktsegment"),
        percent_rank().over(seg).as("acctbal_pr"))
      .orderBy("c_custkey")
  }

  val encodeQuantileUniformSql: String =
    """SELECT c_custkey, c_mktsegment,
      |  percent_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS acctbal_pr
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** Bucketed checksum reconciliation (the anti-entropy / table-diff
    * primitive): compare two table versions WITHOUT moving either —
    * each side folds to 64 bucket rows (count + order-independent
    * content checksum), and only mismatched buckets would then be
    * re-read row-level. At 100 TB this is THE way to answer "did the
    * replica drift" — the alternative (a full-outer row diff) shuffles
    * both tables; this shuffles 64 rows per side. Checksum discipline:
    * per-row term = knuth(custkey)·65599 + pmod(cents, 2³²) — exact
    * int64 per row — summed in DECIMAL(38,0) (order-independent, no
    * overflow at any table size; DuckDB's HUGEINT sum is the same
    * fold) and reduced mod 2⁶¹−1 into a BIGINT both engines emit
    * identically. The "other" version is derived deterministically from
    * the fixture (delete every custkey≡0 mod 13, bump acctbal +50 for
    * ≡0 mod 11 — the [[Joins.snapshotDiff]] mutation, minus inserts so
    * the bucket domain is shared).
    */
  def dqTableChecksum(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables(spark, sfDir).customer
    val other = c.filter(col("c_custkey") % 13 =!= 0)
      .withColumn("c_acctbal", when(col("c_custkey") % 11 === 0,
        col("c_acctbal") + 50.0).otherwise(col("c_acctbal")))
    val prime = 2305843009213693951L // 2^61 - 1
    def fold(df: DataFrame, nc: String, kc: String) = {
      val term = kbucket(col("c_custkey")) * lit(65599L) +
        pmod(round(col("c_acctbal") * 100).cast("long"), lit(4294967296L))
      df.groupBy(pmod(col("c_custkey"), lit(64L)).as("bucket"))
        .agg(count(lit(1)).as(nc),
          (sum(term.cast("decimal(38,0)")) % lit(prime))
            .cast("long").as(kc))
    }
    // align the two 64-row folds by UNION + one pivot aggregate, not a
    // join: a full-outer join cannot broadcast, so catalyst would plan
    // a SortMergeJoin for 64x64 rows; the tagged union re-uses one
    // bucket-keyed exchange and an absent side surfaces as null exactly
    // like the outer join would
    fold(c, "n_a", "ck_a").withColumn("side", lit("a"))
      .unionByName(fold(other, "n_a", "ck_a").withColumn("side", lit("b")))
      .groupBy("bucket")
      .agg(max(when(col("side") === "a", col("n_a"))).as("n_a"),
        max(when(col("side") === "b", col("n_a"))).as("n_b"),
        max(when(col("side") === "a", col("ck_a"))).as("ck_a"),
        max(when(col("side") === "b", col("ck_a"))).as("ck_b"))
      .select(col("bucket"), col("n_a"), col("n_b"), col("ck_a"), col("ck_b"),
        (col("n_a") === col("n_b") && col("ck_a") === col("ck_b"))
          .as("is_match"))
      .orderBy("bucket")
  }

  val dqTableChecksumSql: String =
    s"""WITH other AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 11 = 0 THEN c_acctbal + 50.0
      |         ELSE c_acctbal END AS c_acctbal
      |  FROM customer WHERE c_custkey % 13 <> 0),
      |a AS (
      |  SELECT c_custkey % 64 AS bucket, count(*) AS n_a,
      |    CAST(CAST(sum(${kbucketSql("c_custkey")} * 65599 +
      |      ((CAST(round(c_acctbal * 100) AS BIGINT) % 4294967296) + 4294967296) % 4294967296) AS HUGEINT)
      |      % 2305843009213693951 AS BIGINT) AS ck_a
      |  FROM customer GROUP BY 1),
      |b AS (
      |  SELECT c_custkey % 64 AS bucket, count(*) AS n_b,
      |    CAST(CAST(sum(${kbucketSql("c_custkey")} * 65599 +
      |      ((CAST(round(c_acctbal * 100) AS BIGINT) % 4294967296) + 4294967296) % 4294967296) AS HUGEINT)
      |      % 2305843009213693951 AS BIGINT) AS ck_b
      |  FROM other GROUP BY 1)
      |SELECT bucket, n_a, n_b, ck_a, ck_b,
      |  (n_a = n_b AND ck_a = ck_b) AS is_match
      |FROM a FULL OUTER JOIN b USING (bucket)
      |ORDER BY bucket""".stripMargin

  /** Referential-integrity audit (the dq gate a star schema runs before
    * training joins): one row per FK edge with child count and orphan
    * count. Each edge is ONE left-anti join of child keys against the
    * parent key set — distributed, never a collected key list; at
    * 100 TB the anti join shuffles each side once on the key (or rides
    * [[graft.operators.BloomPrefilter]] when the parent set is small
    * enough to sketch). Orphans are PLANTED deterministically (parents
    * with key ≡ 0 mod 97 are treated as purged — the backfill-
    * amputation scenario), so the expected counts are nonzero and both
    * engines audit the identical violation set. The child side
    * pre-aggregates to (key, n) per DISTINCT key before the anti join —
    * the orphan count shuffle carries one row per key, not per child
    * row.
    */
  def dqRefIntegrity(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    def edge(name: String, child: DataFrame, ck: String,
             parent: DataFrame, pk: String): DataFrame = {
      val keyed = child.groupBy(col(ck).as("k")).agg(count(lit(1)).as("n"))
      val kept = parent.filter(pmod(col(pk), lit(97)) =!= 0)
        .select(col(pk).as("k"))
      keyed.join(kept, Seq("k"), "left_anti")
        .agg(coalesce(sum("n"), lit(0L)).as("n_orphans"),
          count(lit(1)).as("n_orphan_keys"))
        .crossJoin(child.agg(count(lit(1)).as("n_children")))
        .select(lit(name).as("fk_edge"), col("n_children"),
          col("n_orphans"), col("n_orphan_keys"))
    }
    edge("lineitem.l_orderkey->orders", t.lineitem, "l_orderkey",
        t.orders, "o_orderkey")
      .unionByName(edge("lineitem.l_partkey->part", t.lineitem, "l_partkey",
        t.part, "p_partkey"))
      .unionByName(edge("lineitem.l_suppkey->supplier", t.lineitem,
        "l_suppkey", t.supplier, "s_suppkey"))
      .unionByName(edge("orders.o_custkey->customer", t.orders, "o_custkey",
        t.customer, "c_custkey"))
      .orderBy("fk_edge")
  }

  val dqRefIntegritySql: String =
    """WITH e AS (
      |  SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
      |    (SELECT count(*) FROM lineitem) AS n_children,
      |    l_orderkey AS k, count(*) AS n
      |  FROM lineitem GROUP BY 3
      |  UNION ALL
      |  SELECT 'lineitem.l_partkey->part',
      |    (SELECT count(*) FROM lineitem), l_partkey, count(*)
      |  FROM lineitem GROUP BY 3
      |  UNION ALL
      |  SELECT 'lineitem.l_suppkey->supplier',
      |    (SELECT count(*) FROM lineitem), l_suppkey, count(*)
      |  FROM lineitem GROUP BY 3
      |  UNION ALL
      |  SELECT 'orders.o_custkey->customer',
      |    (SELECT count(*) FROM orders), o_custkey, count(*)
      |  FROM orders GROUP BY 3),
      |p AS (
      |  SELECT 'lineitem.l_orderkey->orders' AS fk_edge, o_orderkey AS k
      |  FROM orders WHERE o_orderkey % 97 <> 0
      |  UNION ALL
      |  SELECT 'lineitem.l_partkey->part', p_partkey
      |  FROM part WHERE p_partkey % 97 <> 0
      |  UNION ALL
      |  SELECT 'lineitem.l_suppkey->supplier', s_suppkey
      |  FROM supplier WHERE s_suppkey % 97 <> 0
      |  UNION ALL
      |  SELECT 'orders.o_custkey->customer', c_custkey
      |  FROM customer WHERE c_custkey % 97 <> 0)
      |SELECT e.fk_edge AS fk_edge, min(e.n_children) AS n_children,
      |  CAST(coalesce(sum(CASE WHEN p.k IS NULL THEN e.n END), 0) AS BIGINT) AS n_orphans,
      |  CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_keys
      |FROM e LEFT JOIN p ON e.fk_edge = p.fk_edge AND e.k = p.k
      |GROUP BY e.fk_edge ORDER BY fk_edge""".stripMargin
  /** Weighted sampling without replacement, DETERMINISTIC (the
    * Efraimidis–Spirakis A-Res scheme under the repo's hash-not-RNG
    * sampling doctrine): each row draws u ∈ (0, 1] from a pure integer
    * mix of its key (Knuth multiplicative hash mod 2³¹ — exact in both
    * engines), and the k rows with the largest u^(1/w) win, w = the
    * row's positive weight. Membership is a pure function of the data
    * — re-runs, retries, and the DuckDB oracle all pick the SAME
    * sample, which RNG-based sampling cannot promise on a cluster.
    * Top-k is TakeOrderedAndProject (per-partition heaps), never a
    * global sort; the u^(1/w) key enters floating point through one
    * identical ln/exp-free pow sequence in both engines, with the key
    * as a total-order tiebreak.
    */
  def sampleWeighted(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables(spark, sfDir).customer
    // u in (0,1]: (mix in [0, 2^31) + 1) / 2^31; w = positive cents
    val mix = pmod(col("c_custkey") * lit(2654435761L), lit(2147483648L))
    val u = (mix + 1L).cast("double") / 2147483648.0
    val w = (round(col("c_acctbal") * 100).cast("long") + 100000L)
      .cast("double")
    c.select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        round(pow(u, lit(1.0) / w), 12).as("ares_key"))
      .orderBy(col("ares_key").desc, col("c_custkey"))
      .limit(100)
  }

  val sampleWeightedSql: String =
    """SELECT c_custkey, c_mktsegment, c_acctbal,
      |  round(pow(CAST((c_custkey * 2654435761) % 2147483648 + 1 AS DOUBLE) / 2147483648.0,
      |            1.0 / CAST(CAST(round(c_acctbal * 100) AS BIGINT) + 100000 AS DOUBLE)), 12) AS ares_key
      |FROM customer
      |ORDER BY ares_key DESC, c_custkey LIMIT 100""".stripMargin

  /** Column-completeness profile (`df.info()` / missingness report —
    * the first thing a data audit prints): per column, row count, null
    * count, distinct count, and fill rate in exact integer ppm. ONE
    * aggregate computes every column's facts in a single pass (the
    * multi-countDistinct Expand plan — still one scan, one exchange),
    * then the 1-row result UNPIVOTS to the (column, facts) report
    * shape; the table is never rescanned per column. Nulls are planted
    * (every 7th name, every 11th balance) so the report is
    * non-vacuous and the oracle must agree on the masks.
    */
  def dqCompleteness(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables(spark, sfDir).customer
      .select(col("c_custkey"),
        when(col("c_custkey") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("c_name")).as("c_name"),
        when(col("c_custkey") % 11 === 0, lit(null).cast("double"))
          .otherwise(col("c_acctbal")).as("c_acctbal"),
        col("c_mktsegment"))
    val cols = Seq("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    val one = c.agg(
      count(lit(1)).as("n_rows"),
      cols.flatMap(cn => Seq(
        sum(when(col(cn).isNull, 1L).otherwise(0L)).as(s"null_$cn"),
        count_distinct(col(cn)).as(s"dist_$cn"))): _*)
    one.select(explode(array(cols.map(cn =>
        struct(lit(cn).as("column"), col("n_rows"),
          col(s"null_$cn").as("n_null"), col(s"dist_$cn").as("n_distinct"),
          expr(s"(n_rows - null_$cn) * 1000000 DIV n_rows").as("fill_ppm"))): _*))
        .as("r"))
      .select(col("r.column"), col("r.n_rows"), col("r.n_null"),
        col("r.n_distinct"), col("r.fill_ppm"))
      .orderBy("column")
  }

  val dqCompletenessSql: String = {
    def row(cn: String) =
      s"""SELECT '$cn' AS "column", count(*) AS n_rows,
         |  CAST(sum(CASE WHEN $cn IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  CAST(count(DISTINCT $cn) AS BIGINT) AS n_distinct,
         |  (count(*) - CAST(sum(CASE WHEN $cn IS NULL THEN 1 ELSE 0 END) AS BIGINT)) * 1000000 // count(*) AS fill_ppm
         |FROM p""".stripMargin
    s"""WITH p AS (
       |  SELECT c_custkey,
       |    CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_name END AS c_name,
       |    CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE c_acctbal END AS c_acctbal,
       |    c_mktsegment
       |  FROM customer)
       |${Seq("c_custkey", "c_name", "c_acctbal", "c_mktsegment").map(row).mkString("\n|UNION ALL\n|")}
       |ORDER BY "column"""".stripMargin
  }
  /** Temperature-scaled mixture weights (the multilingual/multi-source
    * sampling-rate design move: wᵢ ∝ pᵢ^α with α < 1 UPSAMPLES the
    * tail sources — the data-mixture staple): per-source document
    * shares as EXACT integer ppm, then the renormalized α = 0.7
    * weights. The Σ pᵢ^α normalizer is a float sum whose value depends
    * on ADDITION ORDER, so the per-source (count) rows collect into
    * ONE source-name-sorted array and the normalizer folds over it
    * left-to-right — the [[graft.queries.Aggregations.aggEntropy]]
    * determinism device; pow enters through one identical sequence in
    * both engines. The collect is bounded by the SOURCE vocabulary
    * (20), never the corpus.
    */
  def mixTemperatureWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables(spark, sfDir).documents
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
    val packed = counts.agg(
      sum("n_docs").as("total"),
      array_sort(collect_list(struct(col("source"), col("n_docs"))))
        .as("ps"))
    val norm = aggregate(col("ps"), lit(0.0),
      (acc, p) => acc + pow(
        p.getField("n_docs").cast("double") / col("total").cast("double"),
        lit(0.7)))
    counts.join(broadcast(packed.select(col("total"), norm.as("z"))))
      .select(col("source"), col("n_docs"),
        expr("n_docs * 1000000 DIV total").as("share_ppm"),
        round(pow(col("n_docs").cast("double") / col("total").cast("double"),
          lit(0.7)) / col("z"), 6).as("weight"))
      .orderBy("source")
  }

  val mixTemperatureWeightsSql: String =
    """WITH c AS (
      |  SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
      |p AS (
      |  SELECT CAST(sum(n_docs) AS BIGINT) AS total,
      |    list_sort(list({'source': source, 'n_docs': n_docs})) AS ps
      |  FROM c),
      |z AS (
      |  SELECT total,
      |    list_aggregate(list_transform(ps,
      |      q -> pow(CAST(q['n_docs'] AS DOUBLE) / CAST(total AS DOUBLE), 0.7)), 'sum') AS z
      |  FROM p)
      |SELECT source, n_docs,
      |  n_docs * 1000000 // total AS share_ppm,
      |  round(pow(CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE), 0.7) / z, 6) AS weight
      |FROM c, z ORDER BY source""".stripMargin

  /** Mixture epoch schedule — the step AFTER [[mixTemperatureWeights]]
    * in a pretraining-data plan: given the temperature weights and a
    * token BUDGET, how many full epochs of each source to take and
    * what fraction of one more epoch to sample. Per source: exact
    * token mass from one tokenize aggregate, target = ⌊budget·w⌋
    * (identical float sequence in both engines — the portable
    * floor-binning device), then epochs and the remainder sampling
    * fraction in pure integer arithmetic (`div`/`%`/ppm). The corpus
    * is scanned once; the 1-row normalizer broadcasts; output is one
    * row per source.
    */
  def mixEpochSchedule(spark: SparkSession, sfDir: String): DataFrame = {
    val budget = 10000000L
    val counts = Tables(spark, sfDir).documents
      .groupBy("source").agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("src_tokens"))
    val packed = counts.agg(
      sum("n_docs").as("total"),
      array_sort(collect_list(struct(col("source"), col("n_docs"))))
        .as("ps"))
    val norm = aggregate(col("ps"), lit(0.0),
      (acc, p) => acc + pow(
        p.getField("n_docs").cast("double") / col("total").cast("double"),
        lit(0.7)))
    val w = pow(col("n_docs").cast("double") / col("total").cast("double"),
      lit(0.7)) / col("z")
    counts.join(broadcast(packed.select(col("total"), norm.as("z"))))
      .select(col("source"), col("n_docs"), col("src_tokens"),
        floor(lit(budget.toDouble) * w).cast("long").as("target_tokens"))
      .select(col("source"), col("n_docs"), col("src_tokens"),
        col("target_tokens"),
        expr("target_tokens div src_tokens").as("full_epochs"),
        expr("(target_tokens % src_tokens) * 1000000 div src_tokens")
          .as("partial_epoch_ppm"))
      .orderBy("source")
  }

  val mixEpochScheduleSql: String =
    """WITH c AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(list_filter(string_split_regex(lower(text), '\s+'), w -> len(w) > 0))) AS BIGINT) AS src_tokens
      |  FROM documents GROUP BY 1),
      |p AS (
      |  SELECT CAST(sum(n_docs) AS BIGINT) AS total,
      |    list_sort(list({'source': source, 'n_docs': n_docs})) AS ps
      |  FROM c),
      |z AS (
      |  SELECT total,
      |    list_aggregate(list_transform(ps,
      |      q -> pow(CAST(q['n_docs'] AS DOUBLE) / CAST(total AS DOUBLE), 0.7)), 'sum') AS z
      |  FROM p),
      |t AS (
      |  SELECT source, n_docs, src_tokens,
      |    CAST(floor(10000000.0 * pow(CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE), 0.7) / z) AS BIGINT) AS target_tokens
      |  FROM c, z)
      |SELECT source, n_docs, src_tokens, target_tokens,
      |  target_tokens // src_tokens AS full_epochs,
      |  (target_tokens % src_tokens) * 1000000 // src_tokens AS partial_epoch_ppm
      |FROM t ORDER BY source""".stripMargin

  /** Snapshot-to-snapshot column-profile drift — the DQ report a
    * pipeline runs BEFORE trusting a refreshed table: per column, row
    * count, null-ppm and exact distinct count of the old vs new
    * snapshot side by side, with the delta in ppm. (The
    * [[graft.queries.Joins.snapshotDiff]] family answers "which ROWS
    * changed"; this answers "did the DISTRIBUTION move" — schema-level
    * drift like a fill-rate drop or a cardinality explosion that
    * row-diffs don't surface.) The new snapshot is the same
    * deterministic mutation snapshotDiff diffs against. Each side is
    * ONE multi-distinct aggregate (Expand) producing a 1-row frame;
    * the per-column report rows come from a driver-free unpivot of the
    * 1×1 joined frame — the snapshots are never joined row-to-row.
    * Integer ppm everywhere; no floating point.
    */
  def dqSchemaDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables(spark, sfDir).customer
    val newSnap = c.filter(col("c_custkey") % 13 =!= 0)
      .withColumn("c_acctbal", when(col("c_custkey") % 11 === 0,
        col("c_acctbal") + 50.0).otherwise(col("c_acctbal")))
      .unionByName(c.filter(col("c_custkey") % 17 === 0)
        .withColumn("c_custkey", col("c_custkey") + 10000000L))
      // drift injection: a failing upstream feed nulls acctbal on one shard
      .withColumn("c_acctbal", when(col("c_custkey") % 19 === 0,
        lit(null).cast("double")).otherwise(col("c_acctbal")))
    val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    def profile(df: DataFrame, tag: String) = df.agg(
      count(lit(1)).as(s"n_$tag"),
      cols.flatMap(cn => Seq(
        sum(when(col(cn).isNull, 1L).otherwise(0L)).as(s"null_${cn}_$tag"),
        count_distinct(col(cn)).as(s"dist_${cn}_$tag"))): _*)
    val joined = profile(c, "a").crossJoin(profile(newSnap, "b"))
    joined.select(explode(array(cols.map { cn =>
        val nullPpmA = expr(s"null_${cn}_a * 1000000 DIV n_a")
        val nullPpmB = expr(s"null_${cn}_b * 1000000 DIV n_b")
        struct(lit(cn).as("column"),
          col("n_a").as("rows_before"), col("n_b").as("rows_after"),
          nullPpmA.as("null_ppm_before"), nullPpmB.as("null_ppm_after"),
          col(s"dist_${cn}_a").as("distinct_before"),
          col(s"dist_${cn}_b").as("distinct_after"),
          (nullPpmB - nullPpmA).as("null_ppm_delta"))
      }: _*)).as("r"))
      .select(col("r.*"))
      .orderBy("column")
  }

  val dqSchemaDriftSql: String = {
    val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    def side(cn: String) = Seq(
      s"CAST(sum(CASE WHEN $cn IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_$cn",
      s"CAST(count(DISTINCT $cn) AS BIGINT) AS dist_$cn").mkString(",\n    ")
    def prof(src: String, name: String) =
      s"""$name AS (
         |  SELECT count(*) AS n,
         |    ${cols.map(side).mkString(",\n    ")}
         |  FROM $src)""".stripMargin
    def row(cn: String) =
      s"""SELECT '$cn' AS "column",
         |  a.n AS rows_before, b.n AS rows_after,
         |  a.null_$cn * 1000000 // a.n AS null_ppm_before,
         |  b.null_$cn * 1000000 // b.n AS null_ppm_after,
         |  a.dist_$cn AS distinct_before, b.dist_$cn AS distinct_after,
         |  b.null_$cn * 1000000 // b.n - a.null_$cn * 1000000 // a.n AS null_ppm_delta
         |FROM a, b""".stripMargin
    s"""WITH snap2 AS (
       |  SELECT c_custkey,
       |    CASE WHEN c_custkey % 19 = 0 THEN NULL ELSE c_acctbal END AS c_acctbal,
       |    c_name, c_nationkey, c_mktsegment
       |  FROM (
       |    SELECT c_custkey,
       |      CASE WHEN c_custkey % 11 = 0 THEN c_acctbal + 50.0 ELSE c_acctbal END AS c_acctbal,
       |      c_name, c_nationkey, c_mktsegment
       |    FROM customer WHERE c_custkey % 13 <> 0
       |    UNION ALL
       |    SELECT c_custkey + 10000000, c_acctbal, c_name, c_nationkey, c_mktsegment
       |    FROM customer WHERE c_custkey % 17 = 0)),
       |${prof("customer", "a")},
       |${prof("snap2", "b")}
       |${cols.map(row).mkString("\nUNION ALL\n")}
       |ORDER BY "column"""".stripMargin
  }

  /** Benford's-law first-digit audit over order totals — the classic
    * fraud/corruption screen for financial columns: a naturally-grown
    * amount column's FIRST significant digit follows
    * P(d) = log₁₀(1 + 1/d); a fabricated or truncated one doesn't.
    * The digit is extracted on the INTEGER cents lattice (first char
    * of the cents decimal string — no float log10 whose power-of-ten
    * edge could split engines), shares are exact integer ppm
    * (n·10⁶ div total), and the Benford expectations are HARDCODED ppm
    * constants (both engines read the same literals — never each
    * engine's own log₁₀, whose last ulp could split a floor).
    * ONE aggregate over orders; the 9-row result joins nothing.
    */
  def dqBenford(spark: SparkSession, sfDir: String): DataFrame = {
    // floor(1e6 * log10(1 + 1/d)) for d = 1..9
    val benfordPpm =
      Seq(301029L, 176091L, 124938L, 96910L, 79181L, 66946L, 57991L,
        51152L, 45757L)
    val expect = benfordPpm.zipWithIndex.tail.foldLeft(
        when(col("digit") === 1, benfordPpm.head)) {
      case (acc, (p, i)) => acc.when(col("digit") === i + 1, p)
    }
    val d = Tables(spark, sfDir).orders
      .select(substring(round(col("o_totalprice") * 100).cast("long")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    d.crossJoin(broadcast(d.groupBy().agg(sum("n").as("total"))))
      .select(col("digit"), col("n"),
        expr("n * 1000000 div total").as("share_ppm"),
        expect.as("benford_ppm"))
      .withColumn("delta_ppm", col("share_ppm") - col("benford_ppm"))
      .orderBy("digit")
  }

  val dqBenfordSql: String = {
    val benford = Seq(301029L, 176091L, 124938L, 96910L, 79181L, 66946L,
      57991L, 51152L, 45757L).zipWithIndex
      .map { case (p, i) => s"(${i + 1}, ${p})" }.mkString(", ")
    s"""WITH d AS (
       |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
       |    count(*) AS n
       |  FROM orders GROUP BY 1),
       |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM d),
       |b(digit, benford_ppm) AS (VALUES $benford)
       |SELECT d.digit, d.n,
       |  CAST(n * 1000000 // total AS BIGINT) AS share_ppm,
       |  CAST(b.benford_ppm AS BIGINT) AS benford_ppm,
       |  CAST((n * 1000000 // total) - b.benford_ppm AS BIGINT) AS delta_ppm
       |FROM d CROSS JOIN t JOIN b ON d.digit = b.digit
       |ORDER BY d.digit""".stripMargin
  }

}
