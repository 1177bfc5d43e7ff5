package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.expressions.{GramShape, countedGrams}

/** Text-analysis operators for training-data curation over the `documents`
  * table: token counting, quality scoring, language-ID heuristic, document
  * fingerprinting. All per-row projections (no shuffle) built from
  * deterministic integer/string primitives so the DuckDB oracle matches
  * bitwise; ratios are single divisions of exact integers.
  *
  * Scale: narrow map over the scan; at 100 TB these run at I/O speed and
  * feed the dedup/curation joins downstream.
  */
object TextAnalysis {

  /** Shared stopword list for the language/quality heuristics. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  /** Words = whitespace split, empties dropped (parity-safe in both
    * dialects). */
  val wordsExpr = "filter(split(text, ' '), w -> w <> '')"
  val duckWordsExpr = "list_filter(string_split(text, ' '), w -> w <> '')"

  /** 32-bit word hash from the first 8 hex chars of md5 — identical in
    * Spark (`conv`) and DuckDB (hex-literal cast). */
  val wordHashExpr = "CAST(conv(substring(md5(w), 1, 8), 16, 10) AS BIGINT)"
  val duckWordHashExpr = "CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT)"

  /** Per-doc analysis columns. */
  def analyze(documents0: DataFrame): DataFrame = {
    val documents = graft.core.Partitioning.balance(documents0, "doc_id")
    documents
      .withColumn("words", expr(wordsExpr))
      .withColumn("n_words", expr("CAST(size(words) AS INT)"))
      .withColumn("n_alnum_tokens",
        expr("CAST(size(regexp_extract_all(text, '[a-z0-9]+', 0)) AS INT)"))
      // BPE-ish subword count: GPT-2-flavored pre-tokenizer classes with
      // the leading space merged onto the next token (the Ġ convention) —
      // alternation is leftmost-first in BOTH Java regex and RE2, so the
      // count is cross-engine exact
      .withColumn("n_bpe_tokens", expr(
        "CAST(size(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+', 0)) AS INT)"))
      .withColumn("n_stopwords", expr(
        s"CAST(size(filter(words, w -> array_contains(array(${
          Stopwords.map(s => s"'$s'").mkString(", ")}), w))) AS INT)"))
      .withColumn("stopword_ratio",
        expr("CAST(n_stopwords AS DOUBLE) / n_words"))
      .withColumn("mean_word_len", expr(
        "CAST(aggregate(words, 0, (a, w) -> a + length(w)) AS DOUBLE) / n_words"))
      .withColumn("quality_score", expr(
        """0.4 * least(CAST(n_words AS DOUBLE) / 64.0, CAST(1.0 AS DOUBLE))
          | + 0.4 * stopword_ratio
          | + 0.2 * least(mean_word_len / 8.0, CAST(1.0 AS DOUBLE))""".stripMargin))
      .withColumn("lang_guess",
        expr("IF(stopword_ratio > 0.05, 'en', 'unk')"))
      .withColumn("fingerprint", expr(
        s"""aggregate(transform(words, w -> $wordHashExpr),
           |  CAST(0 AS BIGINT),
           |  (acc, h) -> (acc * 31 + h) % 1000000007)""".stripMargin))
      .drop("words")
  }

  /** Corpus length-distribution report: per-language doc count, total
    * chars, and DISCRETE p50/p90/p99 of `n_chars` — the standard corpus
    * health/report op before training. Percentiles are selected (element
    * at rank ceil(p·n) under a total (n_chars, doc_id) order), not
    * interpolated: interpolation mixes FP op orders across engines, while
    * rank selection is pure integer logic once both sides compute
    * ceil(p·n) in DOUBLE (the DuckDB mirror spells `0.9e0` so the literal
    * parses as DOUBLE, not DECIMAL — different rounding at exact-integer
    * boundaries otherwise). One window + one groupBy, both keyed on
    * `lang` — a single exchange at scale. */
  def lengthReport(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars"), col("doc_id"))
    def pick(p: Double) = max(when(
      col("rn") === ceil(lit(p) * col("n")).cast("long"), col("n_chars")))
    documents
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy(col("lang"))))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        pick(0.5).as("p50_chars"),
        pick(0.9).as("p90_chars"),
        pick(0.99).as("p99_chars"))
  }

  /** Tokenizer fertility / compression report: per source, the two
    * numbers a tokenizer is judged by on a new corpus — mean subword
    * tokens per word (fertility; high = the vocab fragments this domain)
    * and chars per subword token (compression; low = poor coverage).
    * Uses [[analyze]]'s cross-engine-exact word/BPE-ish counts, so the
    * report needs no trained vocabulary and is comparable across rounds.
    *
    * One narrow [[analyze]] pass + one source-keyed aggregation with
    * map-side partials; sums are exact int64, each ratio ONE IEEE divide
    * at the boundary (NULL when the denominator is empty). */
  def fertilityReport(documents: DataFrame): DataFrame =
    analyze(documents)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars"),
        sum(col("n_words").cast("long")).as("words"),
        sum(col("n_bpe_tokens").cast("long")).as("bpe_tokens"))
      .select(col("source"), col("n_docs"), col("chars"), col("words"),
        col("bpe_tokens"),
        expr("""CASE WHEN words = 0 THEN CAST(NULL AS DOUBLE)
               |     ELSE CAST(bpe_tokens AS DOUBLE) / words END"""
          .stripMargin).as("tokens_per_word"),
        expr("""CASE WHEN bpe_tokens = 0 THEN CAST(NULL AS DOUBLE)
               |     ELSE CAST(chars AS DOUBLE) / bpe_tokens END"""
          .stripMargin).as("chars_per_token"))

  /** DuckDB mirror of [[fertilityReport]]. */
  lazy val duckFertilitySql: String = // lazy: duckAnalyzeSql declared below
    s"""SELECT source, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS chars,
       |  CAST(sum(CAST(n_words AS BIGINT)) AS BIGINT) AS words,
       |  CAST(sum(CAST(n_bpe_tokens AS BIGINT)) AS BIGINT) AS bpe_tokens,
       |  CASE WHEN sum(CAST(n_words AS BIGINT)) = 0 THEN CAST(NULL AS DOUBLE)
       |       ELSE CAST(CAST(sum(CAST(n_bpe_tokens AS BIGINT)) AS BIGINT)
       |                 AS DOUBLE)
       |            / CAST(sum(CAST(n_words AS BIGINT)) AS BIGINT)
       |  END AS tokens_per_word,
       |  CASE WHEN sum(CAST(n_bpe_tokens AS BIGINT)) = 0
       |       THEN CAST(NULL AS DOUBLE)
       |       ELSE CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE)
       |            / CAST(sum(CAST(n_bpe_tokens AS BIGINT)) AS BIGINT)
       |  END AS chars_per_token
       |FROM ($duckAnalyzeSql) a
       |GROUP BY 1""".stripMargin

  /** Sketch-based variant of [[lengthReport]] for the uncapped-scale path:
    * `approx_percentile` (Greenwald–Khanna) replaces the exact rank
    * selection, turning the per-lang full window SORT into a mergeable
    * sketch aggregation — map-side partials, no per-lang ordering, bounded
    * memory per sketch regardless of group size. At 100 TB the exact
    * report's `row_number` window must sort every group; the sketch is
    * the right default there, with [[lengthReport]] as the exact backstop
    * (and the oracle query). `accuracy` trades sketch size for error
    * (1/accuracy relative-rank error); OpsSpec pins the sketch within
    * tolerance of the exact report on the test corpus. */
  def lengthReportApprox(documents: DataFrame,
                         accuracy: Int = 10000): DataFrame =
    documents
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        expr(s"approx_percentile(n_chars, array(0.5D, 0.9D, 0.99D), $accuracy)")
          .as("pcts"))
      .select(col("lang"), col("n_docs"), col("total_chars"),
        col("pcts")(0).as("p50_chars"),
        col("pcts")(1).as("p90_chars"),
        col("pcts")(2).as("p99_chars"))

  /** DuckDB mirror of [[lengthReport]] (exponent-form literals force
    * DOUBLE arithmetic — see the Scaladoc there). */
  val duckLengthReportSql: String =
    s"""WITH r AS (
       |  SELECT lang, n_chars,
       |    CAST(row_number() OVER (PARTITION BY lang
       |      ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
       |    count(*) OVER (PARTITION BY lang) AS n
       |  FROM documents)
       |SELECT lang,
       |  count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |  max(CASE WHEN rn = CAST(ceil(0.5e0 * n) AS BIGINT)
       |      THEN n_chars END) AS p50_chars,
       |  max(CASE WHEN rn = CAST(ceil(0.9e0 * n) AS BIGINT)
       |      THEN n_chars END) AS p90_chars,
       |  max(CASE WHEN rn = CAST(ceil(0.99e0 * n) AS BIGINT)
       |      THEN n_chars END) AS p99_chars
       |FROM r GROUP BY lang""".stripMargin

  /** Repetition-based quality stats (the Gopher/RefinedWeb-style repetition
    * filters): per doc, unigram and bigram duplication — `dup_word_frac`
    * (fraction of word occurrences that are repeats) and `top_bigram_frac`
    * (share of the most frequent bigram), the signals used to drop
    * boilerplate/spam docs before training.
    *
    * == Shape ==
    * A single NARROW projection — all counts are per-doc array expressions,
    * so there is no explode and no shuffle at any corpus size; cost per doc
    * is O(uniq·n) via the distinct-scan count, with n capped by the
    * analysis-length cap. (For uncapped multi-MB docs the same stats come
    * from the explode → count → max relational shape at one extra exchange;
    * this corpus caps n, so the zero-shuffle form wins.) The two fractions
    * are single IEEE divisions of exact integers — bitwise across engines. */
  def repetitionStats(documents0: DataFrame): DataFrame = {
    val documents = graft.core.Partitioning.balance(documents0, "doc_id")
    documents
      .withColumn("words", expr(wordsExpr))
      .withColumn("bigrams", expr(
        """CASE WHEN size(words) >= 2 THEN
          |  transform(sequence(0, size(words) - 2),
          |    i -> concat(words[i], ' ', words[i + 1]))
          |ELSE array() END""".stripMargin))
      .withColumn("n_words", expr("CAST(size(words) AS INT)"))
      .withColumn("n_uniq_words",
        expr("CAST(size(array_distinct(words)) AS INT)"))
      .withColumn("top_word_n", expr(
        """CAST(IF(n_words = 0, 0, array_max(
          |  transform(array_distinct(words),
          |    d -> size(filter(words, g -> g = d))))) AS INT)""".stripMargin))
      .withColumn("n_bigrams", expr("CAST(size(bigrams) AS INT)"))
      .withColumn("n_uniq_bigrams",
        expr("CAST(size(array_distinct(bigrams)) AS INT)"))
      .withColumn("top_bigram_n", expr(
        """CAST(IF(n_bigrams = 0, 0, array_max(
          |  transform(array_distinct(bigrams),
          |    d -> size(filter(bigrams, g -> g = d))))) AS INT)""".stripMargin))
      .withColumn("dup_word_frac", expr(
        "IF(n_words = 0, CAST(0.0 AS DOUBLE), CAST(n_words - n_uniq_words AS DOUBLE) / n_words)"))
      .withColumn("top_bigram_frac", expr(
        "IF(n_bigrams = 0, CAST(0.0 AS DOUBLE), CAST(top_bigram_n AS DOUBLE) / n_bigrams)"))
      .select("doc_id", "n_words", "n_uniq_words", "top_word_n",
        "dup_word_frac", "n_bigrams", "n_uniq_bigrams", "top_bigram_n",
        "top_bigram_frac")
  }

  /** DuckDB mirror of [[repetitionStats]]. */
  val duckRepetitionSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, $duckWordsExpr AS words FROM documents),
       |b AS (
       |  SELECT doc_id, words,
       |    CASE WHEN len(words) >= 2 THEN
       |      list_transform(range(CAST(len(words) - 1 AS BIGINT)),
       |        i -> concat(words[i + 1], ' ', words[i + 2]))
       |    ELSE [] END AS bigrams
       |  FROM w),
       |c AS (
       |  SELECT doc_id,
       |    CAST(len(words) AS INTEGER) AS n_words,
       |    CAST(len(list_distinct(words)) AS INTEGER) AS n_uniq_words,
       |    CAST(CASE WHEN len(words) = 0 THEN 0 ELSE list_max(
       |      list_transform(list_distinct(words),
       |        d -> len(list_filter(words, g -> g = d)))) END AS INTEGER)
       |      AS top_word_n,
       |    CAST(len(bigrams) AS INTEGER) AS n_bigrams,
       |    CAST(len(list_distinct(bigrams)) AS INTEGER) AS n_uniq_bigrams,
       |    CAST(CASE WHEN len(bigrams) = 0 THEN 0 ELSE list_max(
       |      list_transform(list_distinct(bigrams),
       |        d -> len(list_filter(bigrams, g -> g = d)))) END AS INTEGER)
       |      AS top_bigram_n
       |  FROM b)
       |SELECT doc_id, n_words, n_uniq_words, top_word_n,
       |  CASE WHEN n_words = 0 THEN CAST(0.0 AS DOUBLE)
       |       ELSE CAST(n_words - n_uniq_words AS DOUBLE) / n_words END
       |    AS dup_word_frac,
       |  n_bigrams, n_uniq_bigrams, top_bigram_n,
       |  CASE WHEN n_bigrams = 0 THEN CAST(0.0 AS DOUBLE)
       |       ELSE CAST(top_bigram_n AS DOUBLE) / n_bigrams END
       |    AS top_bigram_frac
       |FROM c""".stripMargin

  /** DuckDB mirror of [[analyze]] over the `documents` view. */
  val duckAnalyzeSql: String = duckAnalyzeSqlFrom("documents")

  /** [[duckAnalyzeSql]] over an arbitrary source relation (used by the
    * composed curation-pipeline oracle, which analyzes a subsample). */
  def duckAnalyzeSqlFrom(src: String): String = {
    val stop = Stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH w AS (
       |  SELECT *, $duckWordsExpr AS words FROM $src),
       |c AS (
       |  SELECT *,
       |    CAST(len(words) AS INTEGER) AS n_words,
       |    CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INTEGER)
       |      AS n_alnum_tokens,
       |    CAST(len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+'))
       |      AS INTEGER) AS n_bpe_tokens,
       |    CAST(len(list_filter(words, w -> list_contains([$stop], w)))
       |      AS INTEGER) AS n_stopwords,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(words, w -> $duckWordHashExpr)),
       |         (acc, h) -> (acc * 31 + h) % 1000000007) AS BIGINT)
       |      AS fingerprint,
       |    CAST(list_reduce(list_prepend(0,
       |           list_transform(words, w -> CAST(length(w) AS INTEGER))),
       |         (a, l) -> a + l) AS DOUBLE) / len(words) AS mean_word_len
       |  FROM w)
       |SELECT doc_id, lang, source, n_chars,
       |  n_words, n_alnum_tokens, n_bpe_tokens, n_stopwords,
       |  CAST(n_stopwords AS DOUBLE) / n_words AS stopword_ratio,
       |  mean_word_len,
       |  0.4 * least(CAST(n_words AS DOUBLE) / 64.0, CAST(1.0 AS DOUBLE))
       |    + 0.4 * (CAST(n_stopwords AS DOUBLE) / n_words)
       |    + 0.2 * least(mean_word_len / 8.0, CAST(1.0 AS DOUBLE)) AS quality_score,
       |  CASE WHEN CAST(n_stopwords AS DOUBLE) / n_words > 0.05
       |       THEN 'en' ELSE 'unk' END AS lang_guess,
       |  fingerprint
       |FROM c""".stripMargin
  }

  /** Vocabulary-growth (Heaps'-law) report: distinct-token vocabulary and
    * token volume at `nCkpts` evenly-spaced doc-id checkpoints — the
    * corpus diagnostic behind "is more data still adding new vocabulary".
    *
    * == Scale shape ==
    * The naive form (a distinct count per prefix) rescans the corpus per
    * checkpoint; this one reduces each gram to its FIRST-APPEARANCE doc id
    * (one `groupBy(gram).min` shuffle over the per-doc distinct grams from
    * the [[graft.functions.expressions.GramCounts]] histogram kernel —
    * vocab-bounded output), then every checkpoint's vocabulary is a
    * conditional count over that vocab-sized table against a broadcast
    * checkpoint list. Doc/token volumes fan the scan out `nCkpts`-fold
    * through the same broadcast — fan-out = checkpoint count, constant.
    * All integers; bitwise across engines. */
  def vocabGrowth(seqs: DataFrame, nCkpts: Int = 5): DataFrame = {
    graft.functions.expressions.register(seqs.sparkSession)
    val bounds = seqs.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
    val ckpts = bounds
      .select(explode(expr(s"sequence(1, $nCkpts)")).as("i"),
        expr("CAST(substring(lo, 2) AS BIGINT)").as("lo_n"),
        expr("CAST(substring(hi, 2) AS BIGINT)").as("hi_n"))
      .select(col("i").cast("int").as("ckpt"),
        expr(s"""concat('d', lpad(CAST(lo_n + (hi_n - lo_n) * i div $nCkpts
                |  AS STRING), 6, '0'))""".stripMargin).as("thr"))
    val firstSeen = countedGrams(seqs, GramShape.Unigram, col("doc_id"))
      .groupBy(col("gram")).agg(min(col("doc_id")).as("first_seen"))
    val vocab = firstSeen.join(broadcast(ckpts),
        col("first_seen") <= col("thr"))
      .groupBy(col("ckpt"), col("thr")).agg(count(lit(1)).as("vocab"))
    val volume = seqs.select(col("doc_id"), col("n_tok"))
      .join(broadcast(ckpts), col("doc_id") <= col("thr"))
      .groupBy(col("ckpt"), col("thr"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok").cast("long")).as("n_tokens"))
    volume.join(vocab, Seq("ckpt", "thr"))
      .select(col("ckpt"), col("thr"), col("n_docs"), col("n_tokens"),
        col("vocab"))
  }

  /** Robust per-source length-outlier report: lower median and MAD
    * (median absolute deviation) of `n_tok`, plus the count of docs
    * beyond `k·MAD` — the quality-monitoring gate that, unlike
    * mean/stddev, a few giant documents cannot drag. ALL comparisons stay
    * in exact integers (`|x − med| > k·mad` — no division anywhere), so
    * both engines agree bitwise.
    *
    * == Scale shape ==
    * Median/MAD come from per-source rank windows (one sort exchange per
    * pass, keyed by source); the two medians then broadcast back as a
    * strata-sized table — no per-group collect, no global sort. */
  def lengthOutliers(seqs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = seqs.select(col("source"), col("doc_id"),
      col("n_tok").cast("long").as("x"))
    val wN = Window.partitionBy(col("source"))
    def lowerMedian(df: DataFrame, v: String, out: String): DataFrame = {
      val w = Window.partitionBy(col("source"))
        .orderBy(col(v).asc, col("doc_id").asc)
      // floor((n+1)/2): Spark's `/` is double division — without the
      // floor, even-sized groups select rank n/2 + 0.5 = no row at all
      // (DuckDB's `//` truncates; this keeps the two rank rules equal)
      df.withColumn("__r", row_number().over(w))
        .withColumn("__n", count(lit(1)).over(wN))
        .filter(col("__r") === floor((col("__n") + 1) / 2))
        .select(col("source"), col(v).as(out))
    }
    val med = lowerMedian(base, "x", "med_tok")
    val dev = base.join(broadcast(med), Seq("source"))
      .withColumn("dev", abs(col("x") - col("med_tok")))
    val mad = lowerMedian(dev.select(col("source"), col("doc_id"),
      col("dev").as("x")), "x", "mad_tok")
    dev.join(broadcast(mad), Seq("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("med_tok")).as("med_tok"),
        min(col("mad_tok")).as("mad_tok"),
        sum(when(col("dev") > lit(k) * col("mad_tok"), 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** DuckDB mirror of [[lengthOutliers]] (same lower-median rank
    * selection, same integer-only outlier comparison). */
  def duckLengthOutliersSql(prelude: String, k: Int = 3): String =
    s"""WITH $prelude,
       |base AS (
       |  SELECT source, doc_id, CAST(n_tok AS BIGINT) AS x FROM seqs),
       |med AS (
       |  SELECT source, x AS med_tok FROM (
       |    SELECT source, x,
       |      row_number() OVER (PARTITION BY source ORDER BY x, doc_id)
       |        AS r,
       |      count(*) OVER (PARTITION BY source) AS n
       |    FROM base)
       |  WHERE r = (n + 1) // 2),
       |dev AS (
       |  SELECT b.source, b.doc_id, abs(b.x - m.med_tok) AS dev, m.med_tok
       |  FROM base b JOIN med m USING (source)),
       |mad AS (
       |  SELECT source, dev AS mad_tok FROM (
       |    SELECT source, dev,
       |      row_number() OVER (PARTITION BY source ORDER BY dev, doc_id)
       |        AS r,
       |      count(*) OVER (PARTITION BY source) AS n
       |    FROM dev)
       |  WHERE r = (n + 1) // 2)
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  min(d.med_tok) AS med_tok, min(a.mad_tok) AS mad_tok,
       |  CAST(sum(CASE WHEN d.dev > $k * a.mad_tok THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_outliers
       |FROM dev d JOIN mad a USING (source)
       |GROUP BY d.source""".stripMargin

  /** DuckDB mirror of [[vocabGrowth]] over a `seqs` CTE body bound by
    * `prelude` (no leading WITH). */
  /** Vocabulary-richness estimators per source + `__all__` — the
    * unseen-species toolkit of corpus curation (how much vocabulary has
    * the crawl NOT seen yet): bias-corrected Chao1 richness
    * `V + f1(f1−1)/(2(f2+1))` (Chao 1984; the f2+1 form is defined at
    * f2 = 0) and the Good-Turing unseen-probability mass `p0 = f1/N` —
    * both driven purely by the frequency-of-frequencies of the unigram
    * count table. Complements [[vocabGrowth]]'s empirical Heaps curve
    * with the asymptote estimate.
    *
    * Plan: one (source, gram) counting aggregation (map-side partials,
    * vocab-bounded output), the global row re-aggregates that VOCAB-SIZED
    * table by gram (never the corpus), then a sources+1-row summary. All
    * counts exact int64; each estimator is one double expression over
    * exact ints, micro-quantized — bitwise across engines. */
  def vocabRichness(seqs: DataFrame): DataFrame = {
    graft.functions.expressions.register(seqs.sparkSession)
    val counts = countedGrams(seqs, GramShape.Unigram, col("source"))
      .groupBy(col("source"), col("gram")).agg(sum(col("n")).as("c"))
    val global = counts.groupBy(col("gram")).agg(sum(col("c")).as("c"))
      .select(lit("__all__").as("source"), col("gram"), col("c"))
    counts.unionByName(global)
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("source"), col("n_tokens"), col("vocab"), col("f1"),
        col("f2"),
        expr("""CAST(floor((CAST(vocab AS DOUBLE)
               |  + CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE)
               |    / (2.0 * CAST(f2 + 1 AS DOUBLE))) * 1000000.0 + 0.5)
               |  AS BIGINT)""".stripMargin).as("chao1_micro"),
        expr("""CAST(floor(CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)
               |  * 1000000.0 + 0.5) AS BIGINT)""".stripMargin)
          .as("gt_p0_micro"))
  }

  /** DuckDB mirror of [[vocabRichness]] (raw token values key the count
    * table — the aggregates are invariant to the gram-id encoding). */
  def duckVocabRichnessSql(prelude: String): String =
    s"""WITH $prelude,
       |cnts AS MATERIALIZED (
       |  SELECT source, t AS g, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT source, unnest(tokens) AS t FROM seqs) GROUP BY 1, 2),
       |allc AS (
       |  SELECT source, g, c FROM cnts
       |  UNION ALL
       |  SELECT '__all__' AS source, g, CAST(sum(c) AS BIGINT) AS c
       |  FROM cnts GROUP BY 2),
       |agg AS (
       |  SELECT source,
       |    CAST(sum(c) AS BIGINT) AS n_tokens,
       |    CAST(count(*) AS BIGINT) AS vocab,
       |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
       |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
       |  FROM allc GROUP BY 1)
       |SELECT source, n_tokens, vocab, f1, f2,
       |  CAST(floor((CAST(vocab AS DOUBLE)
       |    + CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE)
       |      / (2.0 * CAST(f2 + 1 AS DOUBLE))) * 1000000.0 + 0.5)
       |    AS BIGINT) AS chao1_micro,
       |  CAST(floor(CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)
       |    * 1000000.0 + 0.5) AS BIGINT) AS gt_p0_micro
       |FROM agg""".stripMargin

  def duckVocabGrowthSql(prelude: String, nCkpts: Int = 5): String =
    s"""WITH $prelude,
       |b AS (
       |  SELECT CAST(substr(min(doc_id), 2) AS BIGINT) AS lo_n,
       |         CAST(substr(max(doc_id), 2) AS BIGINT) AS hi_n
       |  FROM seqs),
       |ck AS (
       |  SELECT CAST(i AS INTEGER) AS ckpt,
       |    'd' || lpad(CAST(lo_n + (hi_n - lo_n) * i // $nCkpts AS VARCHAR),
       |      6, '0') AS thr
       |  FROM b CROSS JOIN (SELECT unnest(range(1, $nCkpts + 1)) AS i)),
       |fs AS (
       |  SELECT t AS g, min(doc_id) AS first_seen
       |  FROM (SELECT doc_id, unnest(tokens) AS t FROM seqs) GROUP BY 1),
       |v AS (
       |  SELECT ck.ckpt, CAST(count(*) AS BIGINT) AS vocab
       |  FROM fs JOIN ck ON fs.first_seen <= ck.thr GROUP BY 1),
       |d AS (
       |  SELECT ck.ckpt, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(s.n_tok) AS BIGINT) AS n_tokens
       |  FROM seqs s JOIN ck ON s.doc_id <= ck.thr GROUP BY 1)
       |SELECT ck.ckpt, ck.thr, d.n_docs, d.n_tokens, v.vocab
       |FROM ck JOIN v ON v.ckpt = ck.ckpt JOIN d ON d.ckpt = ck.ckpt"""
      .stripMargin
}
