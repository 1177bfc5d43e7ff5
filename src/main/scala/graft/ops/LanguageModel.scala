package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.models
import graft.functions.expressions.{BigramNllScore, GramShape, corpusUnigrams,
  countedGrams}

/** Corpus-level statistical language modeling for data curation: add-one
  * smoothed bigram cross-entropy scoring (the CCNet-style "perplexity
  * filter" that ranks documents by how well a reference LM predicts them)
  * and DSIR-style importance weighting (per-doc average token log-ratio
  * between a target subcorpus and the raw corpus — the importance-resampling
  * score of Xie et al.'s "Data Selection for Language Models via Importance
  * Resampling", arXiv:2302.03169).
  *
  * Token n-grams are the EXACT 48-bit packed identities of
  * `graft_pack_ngrams` ([[graft.functions.expressions.PackNgrams]]) — no
  * hash-collision noise, and the DuckDB mirrors stay pure vectorized zip
  * arithmetic (no per-gram lambdas).
  *
  * == Determinism (bitwise across engines and partitionings) ==
  * Every per-gram log value is converted to exact integer MICRO-NATS
  * (`CAST(round(ln(·) · 10^6) AS BIGINT)`) before any aggregation: sums of
  * int64 are order-free, so repartitioning can never flip a low bit. The
  * ln argument is always ONE double division of two exact int64 products —
  * a single libm call per distinct gram (parity corpus-verified, same
  * status as the mfcc/gmean oracles).
  *
  * == Plan shape / scale ==
  * Fit = explode (narrow, doc_id-only payload) + one gram-keyed exchange
  * with map-side partials. Score = per-(doc, gram) pre-aggregation, one
  * shuffle join on gram, one doc-keyed agg. Hot grams (Zipf head) land
  * whole on one reducer at the join — bounded by the per-gram instance
  * count; for 10^12-token corpora pre-aggregate instances per
  * (gram, doc-bucket) or salt the join ([[graft.core.Partitioning]]). The
  * count tables are O(vocab²) ≪ corpus and never leave the cluster.
  */
object LanguageModel {

  /** Per-occurrence packed k-gram instances: `(doc_id, gram)` — explode
    * carries only the doc id, never the token array. */
  def gramInstances(seqs: DataFrame, k: Int): DataFrame =
    seqs.select(col("doc_id"),
      explode(expr(s"graft_pack_ngrams(tokens, $k)")).as("gram"))

  /** Bigram model: `(gram, t1, c12, c1)` — bigram count and left-context
    * count, both exact int64. One gram exchange + one (tiny) t1 exchange +
    * a broadcast join of contexts back onto grams. */
  def bigramCounts(seqs: DataFrame): DataFrame = {
    val c12 = gramInstances(seqs, 2)
      .groupBy(col("gram")).agg(count(lit(1)).as("c12"))
      .withColumn("t1", expr("gram div 4096"))
    val c1 = c12.groupBy(col("t1")).agg(sum(col("c12")).as("c1"))
    c12.join(broadcast(c1), Seq("t1"))
  }

  /** The dense alphabet-bounded nll table + fused scoring pass shared by
    * [[scoreBigramNll]] and [[scoreBigramKn]] (r6): `nllOf` maps each
    * model entry (gram, c12) to its micro-nat value; the 16.7M-slot int
    * table broadcasts once and each document scores in ONE narrow kernel
    * projection ([[graft.functions.expressions.BigramNllScore]], which
    * holds the broadcast itself) — zero explode, zero join, zero
    * aggregation exchange on the scoring side. */
  private def scoreWithDense(seqs: DataFrame, grams: Array[Long],
                             c12s: Array[Long], nllOf: (Long, Long) => Long,
                             outCol: String): DataFrame = {
    val dense = new Array[Int](4096 * 4096)
    java.util.Arrays.fill(dense, Int.MinValue)
    var i = 0
    while (i < grams.length) {
      val v = nllOf(grams(i), c12s(i))
      require(v > Int.MinValue && v <= Int.MaxValue,
        s"nll_micro $v out of the dense-table int range")
      dense(grams(i).toInt) = v.toInt
      i += 1
    }
    val bc = seqs.sparkSession.sparkContext.broadcast(dense)
    // the kernel is null for a doc of < 2 tokens, and the generator drops
    // it: a `size(tokens) >= 2` filter would be pushed below the source's
    // balance exchange and synthesize every doc's tokens twice
    seqs.select(col("doc_id"), explode(array_compact(array(
        models.kernel(col("tokens"))(BigramNllScore(_, bc))))).as("__r"))
      .select(col("doc_id"),
        col("__r")(0).as("n_bigrams"),
        (col("__r")(1).cast("double") /
          (col("__r")(0) * lit(1000000L)).cast("double")).as(outCol))
  }

  /** Per-document add-one-smoothed bigram negative log-likelihood:
    * `avg_nll = (1/n) Σ ln((c1 + V) / (c12 + 1))` in nats, with `V` the
    * unigram vocabulary size and the model fit on `seqs` itself (the
    * self-scoring form; to score against a reference corpus, fit
    * [[bigramCounts]] there and join here). Low = predictable, fluent
    * under the corpus model; high = outlier (the filter threshold axis).
    * `n_bigrams` rides along so callers can re-weight. */
  def scoreBigramNll(seqs: DataFrame): DataFrame = {
    // r6 final shape (guide §1.2/§2.4): the model is vocab²-bounded
    // (≤16.7M distinct bigrams at ANY corpus size — the 12-bit token
    // alphabet caps it), so ONE counting job folds it into primitive
    // arrays (bigram counts + tagged unigram rows for the vocabulary size
    // V in the same union pass), the per-gram add-one nll is computed
    // driver-side (micro-nat HALF_UP — the oracle-pinned quantization),
    // and scoring is the fused dense-table kernel pass: the corpus side
    // runs zero shuffles and zero joins. Replaces the r6-intermediate
    // checkpoint + broadcast-join form (2.4 s) and the r5 corpus-window
    // form (3.4 s) — measured ~1.5 s at sf0.1, bitwise identical.
    graft.functions.expressions.register(seqs.sparkSession)
    val grams = Array.newBuilder[Long]
    val c12s = Array.newBuilder[Long]
    val c1 = new Array[Long](4096)
    var v = 0L
    models.foldRows(countedGrams(seqs, GramShape.Bigram, lit(0).as("k"))
        .unionByName(countedGrams(seqs, GramShape.Unigram, lit(1).as("k")))
        .groupBy(col("k"), col("gram")).agg(sum(col("n")).as("c12"))) { r =>
      if (r.getInt(0) == 1) v += 1
      else {
        val g = r.getLong(1); val c = r.getLong(2)
        grams += g; c12s += c; c1((g / 4096).toInt) += c
      }
    }
    scoreWithDense(seqs, grams.result(), c12s.result(),
      (g, c12) => models.microNat(math.log(
        (c1((g / 4096).toInt) + v).toDouble / (c12 + 1).toDouble) * 1000000),
      "avg_nll")
  }

  /** DuckDB mirror of [[scoreBigramNll]] (seqsSql = a CTE body yielding
    * (doc_id, tokens)). */
  def duckBigramNllSql(seqsSql: String): String =
    s"""WITH seqs AS ($seqsSql),
       |inst AS MATERIALIZED (
       |  SELECT doc_id, (z[1] + 2048)::BIGINT * 4096 + (z[2] + 2048) AS gram
       |  FROM (SELECT doc_id,
       |          unnest(list_zip(tokens[1:-2], tokens[2:-1])) AS z
       |        FROM seqs)),
       |c12 AS (SELECT gram, gram // 4096 AS t1, count(*) AS c12
       |        FROM inst GROUP BY 1, 2),
       |c1 AS (SELECT t1, sum(c12) AS c1 FROM c12 GROUP BY 1),
       |v AS (SELECT count(DISTINCT t + 2048) AS v
       |      FROM (SELECT unnest(tokens) AS t FROM seqs)),
       |nll AS (
       |  SELECT c12.gram,
       |    CAST(round(ln(CAST(c1.c1 + v.v AS DOUBLE)
       |                  / CAST(c12.c12 + 1 AS DOUBLE)) * 1000000) AS BIGINT)
       |      AS nll_micro
       |  FROM c12 JOIN c1 USING (t1) CROSS JOIN v),
       |dg AS (SELECT doc_id, gram, count(*) AS n_occ
       |       FROM inst GROUP BY 1, 2)
       |SELECT dg.doc_id,
       |  CAST(sum(dg.n_occ) AS BIGINT) AS n_bigrams,
       |  CAST(sum(dg.n_occ * nll.nll_micro) AS DOUBLE)
       |    / CAST(sum(dg.n_occ) * 1000000 AS DOUBLE) AS avg_nll
       |FROM dg JOIN nll USING (gram)
       |GROUP BY dg.doc_id""".stripMargin

  /** Per-document INTERPOLATED KNESER-NEY bigram NLL — the standard
    * upgrade over add-one smoothing ([[scoreBigramNll]]): unseen-context
    * mass comes from the CONTINUATION distribution (in how many distinct
    * contexts does w2 appear) rather than raw frequency, which is what
    * makes KN the n-gram quality-filter reference model. With absolute
    * discount D = 3/4,
    *
    *   P(w2|w1) = max(c12 − D, 0)/c1 + D·N1w(w1)/c1 · Ncont(w2)/N11
    *
    * (N1w = distinct continuations of w1, Ncont = distinct left-contexts
    * of w2, N11 = distinct bigram types). Multiplying through by 4·c1·N11
    * gives the EXACT integer form used here:
    *
    *   P = (max(4·c12 − 3, 0)·N11 + 3·N1w·Ncont) / (4·c1·N11)
    *
    * — numerator and denominator are exact int64 products, so each
    * per-gram NLL is ONE double division + one micro-nat-quantized ln
    * (the module's determinism contract), and document scores are exact
    * integer folds. Self-scoring form: every scored bigram exists, so the
    * discounted term is never the only mass and P > 0 always.
    *
    * Shape: ONE counting job collects the vocab²-bounded distinct-bigram
    * model (alphabet-, not corpus-scaled); all four count families are
    * ≤4096-slot driver arrays; scoring is one fused dense-table kernel
    * projection of the corpus scan — zero corpus shuffles, zero joins. */
  def scoreBigramKn(seqs: DataFrame): DataFrame = {
    // r6 final shape, mirroring [[scoreBigramNll]]: ONE counting job
    // collects the vocab²-bounded distinct-bigram model; all four KN
    // count families (c1/n1w by t1, ncont by t2, N11) are ≤4096-slot
    // driver arrays; the per-gram nll quantizes driver-side with the
    // SAME Long-wrap multiply order and HALF_UP rounding as the former
    // SQL expression; scoring is the fused dense-table kernel pass —
    // zero corpus shuffles. (The r5 corpus-window form read 8.4 s at
    // sf0.1, the r6-intermediate checkpoint + broadcast-join form
    // 2.8 s; this measures ~1.7 s, bitwise identical.)
    graft.functions.expressions.register(seqs.sparkSession)
    // per-doc distinct bigrams, counted in the row
    // ([[graft.functions.expressions.GramCounts]]): no corpus-sized
    // (doc, gram) aggregation runs before the model's; the four count
    // families accumulate in the same fold that reads the model
    val grams = Array.newBuilder[Long]
    val c12s = Array.newBuilder[Long]
    val c1 = new Array[Long](4096)
    val n1w = new Array[Long](4096)
    val ncont = new Array[Long](4096)
    var n11 = 0L
    models.foldRows(countedGrams(seqs, GramShape.Bigram)
        .groupBy(col("gram")).agg(sum(col("n")).as("c12"))) { r =>
      val g = r.getLong(0); val c = r.getLong(1)
      val t1 = (g / 4096).toInt; val t2 = (g % 4096).toInt
      grams += g; c12s += c
      c1(t1) += c; n1w(t1) += 1; ncont(t2) += 1; n11 += 1
    }
    scoreWithDense(seqs, grams.result(), c12s.result(),
      (g, c12) => {
        val t1 = (g / 4096).toInt; val t2 = (g % 4096).toInt
        models.microNat(math.log(
          (4 * c1(t1) * n11).toDouble /
            (math.max(4 * c12 - 3, 0L) * n11 + 3 * n1w(t1) * ncont(t2)).toDouble)
          * 1000000)
      },
      "avg_nll_kn")
  }

  /** DuckDB mirror of [[scoreBigramKn]]. */
  def duckBigramKnSql(seqsSql: String): String =
    s"""WITH seqs AS ($seqsSql),
       |inst AS MATERIALIZED (
       |  SELECT doc_id, (z[1] + 2048)::BIGINT * 4096 + (z[2] + 2048) AS gram
       |  FROM (SELECT doc_id,
       |          unnest(list_zip(tokens[1:-2], tokens[2:-1])) AS z
       |        FROM seqs)),
       |dg AS MATERIALIZED (
       |  SELECT doc_id, gram, count(*) AS n_occ FROM inst GROUP BY 1, 2),
       |g AS MATERIALIZED (
       |  SELECT gram, gram // 4096 AS t1, gram % 4096 AS t2,
       |    CAST(sum(n_occ) AS BIGINT) AS c12
       |  FROM dg GROUP BY 1, 2, 3),
       |gw AS (
       |  SELECT gram, c12,
       |    CAST(sum(c12) OVER (PARTITION BY t1) AS BIGINT) AS c1,
       |    CAST(count(*) OVER (PARTITION BY t1) AS BIGINT) AS n1w,
       |    CAST(count(*) OVER (PARTITION BY t2) AS BIGINT) AS ncont
       |  FROM g),
       |n11 AS (SELECT count(*) AS n11 FROM g),
       |nll AS (
       |  SELECT gram,
       |    CAST(round(ln(CAST(4 * c1 * n11.n11 AS DOUBLE)
       |      / CAST(greatest(4 * c12 - 3, 0) * n11.n11
       |             + 3 * n1w * ncont AS DOUBLE))
       |      * 1000000) AS BIGINT) AS nll_micro
       |  FROM gw CROSS JOIN n11)
       |SELECT dg.doc_id,
       |  CAST(sum(dg.n_occ) AS BIGINT) AS n_bigrams,
       |  CAST(sum(dg.n_occ * nll.nll_micro) AS DOUBLE)
       |    / CAST(sum(dg.n_occ) * 1000000 AS DOUBLE) AS avg_nll_kn
       |FROM dg JOIN nll USING (gram)
       |GROUP BY dg.doc_id""".stripMargin

  /** DSIR importance weight per document: average per-token log-ratio
    * `(1/n) Σ_tok ln(p_target(tok) / p_raw(tok))` with add-one smoothing,
    * `p_target` fit on the rows satisfying `targetPred` (the high-quality
    * reference slice) and `p_raw` on all of `seqs`. Positive = looks like
    * the target distribution; the resampling step keeps documents with
    * probability ∝ exp(weight) (here we emit the weight — sampling policy
    * is the caller's). Smoothed ratio:
    * `((ct + 1) · (Nr + V)) / ((Nt + V) · (cr + 1))` — one double division
    * of exact int64 products per distinct token. */
  def importanceWeights(seqs: DataFrame, targetPred: org.apache.spark.sql.Column): DataFrame = {
    graft.functions.expressions.register(seqs.sparkSession)
    // per-doc distinct-gram counts from the native histogram kernel
    // ([[graft.functions.expressions.GramCounts]]) — the target flag
    // rides along so BOTH distributions come from this one pre-aggregated
    // stream, and no corpus-sized (doc, gram) hash-agg runs
    val dg = countedGrams(seqs, GramShape.Unigram,
      col("doc_id"), targetPred.as("__t"))
    val cnt = dg.groupBy(col("gram")).agg(
      sum(col("n")).as("cr"),
      sum(when(col("__t"), col("n")).otherwise(lit(0L))).as("ct"))
    // nullif: an EMPTY target slice must yield NULL __nt (-> NULL weights,
    // the pre-rewrite and DuckDB-mirror semantics), not a finite ratio
    // against a zero-token target distribution
    val totals = cnt.agg(sum(col("cr")).as("__nr"),
      count(lit(1)).cast("long").as("__v"),
      expr("nullif(sum(ct), 0)").as("__nt"))
    // every scored token exists in raw (the model's support); absent-in-
    // target tokens have ct = 0 and smooth to ct + 1
    val lr = cnt.crossJoin(broadcast(totals))
      .select(col("gram"),
        expr("""CAST(round(ln(CAST((ct + 1) * (__nr + __v) AS DOUBLE)
                / CAST((__nt + __v) * (cr + 1) AS DOUBLE)) * 1000000) AS BIGINT)""")
          .as("lr_micro"))
    dg.join(broadcast(lr), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_tok"),
        sum(col("n") * col("lr_micro")).as("__sum"))
      .select(col("doc_id"), col("n_tok"),
        (col("__sum").cast("double") /
          (col("n_tok") * lit(1000000L)).cast("double")).as("avg_llr"))
  }

  /** DuckDB mirror of [[importanceWeights]] (targetWhere filters the seqs
    * CTE rows that define the target distribution). */
  def duckImportanceSql(seqsSql: String, targetWhere: String): String =
    s"""WITH seqs AS ($seqsSql),
       |inst AS MATERIALIZED (
       |  SELECT doc_id, source, (t + 2048)::BIGINT AS gram
       |  FROM (SELECT doc_id, source, unnest(tokens) AS t FROM seqs)),
       |raw AS (SELECT gram, count(*) AS cr FROM inst GROUP BY 1),
       |tgt AS (SELECT gram, count(*) AS ct FROM inst
       |        WHERE $targetWhere GROUP BY 1),
       |tot AS (SELECT (SELECT sum(cr) FROM raw) AS nr,
       |               (SELECT count(*) FROM raw) AS v,
       |               (SELECT sum(ct) FROM tgt) AS nt),
       |lr AS (
       |  SELECT raw.gram,
       |    CAST(round(ln(CAST((coalesce(tgt.ct, 0) + 1) * (tot.nr + tot.v) AS DOUBLE)
       |         / CAST((tot.nt + tot.v) * (raw.cr + 1) AS DOUBLE)) * 1000000) AS BIGINT)
       |      AS lr_micro
       |  FROM raw LEFT JOIN tgt USING (gram) CROSS JOIN tot),
       |dg AS (SELECT doc_id, gram, count(*) AS n_occ FROM inst GROUP BY 1, 2)
       |SELECT dg.doc_id,
       |  CAST(sum(dg.n_occ) AS BIGINT) AS n_tok,
       |  CAST(sum(dg.n_occ * lr.lr_micro) AS DOUBLE)
       |    / CAST(sum(dg.n_occ) * 1000000 AS DOUBLE) AS avg_llr
       |FROM dg JOIN lr USING (gram)
       |GROUP BY dg.doc_id""".stripMargin

  /** Hash-uniform modulus for [[dsirSample]] (20-bit slots: granular
    * enough that keep rates resolve to ~1e-6). */
  val DsirSlotMod = 1 << 20

  /** The RESAMPLING step completing [[importanceWeights]] (the "R" of
    * DSIR): keep document d with probability `min(1, exp(avg_llr_d))` —
    * documents at or above the target distribution always survive, ones
    * below survive in proportion to their importance ratio. The Bernoulli
    * draw is the engine's deterministic hash uniform
    * `u_d = (slot_d + 0.5) / 2^20` with
    * `slot_d = md5Slot(doc_id · ":dsir", 2^20)` (salted so the draw is
    * independent of [[graft.ops.Sampling.assignSplit]]'s slots), accepted
    * iff `ln(u_d) < avg_llr_d` — reproducible across runs, partitionings
    * and corpus growth, like every sampling decision in the engine.
    *
    * Determinism: one `ln` of an exact rational per doc; the comparison
    * could flip across engines only if `ln(u_d)` lands within an ulp of
    * `avg_llr_d` (parity corpus-verified, same status as the mfcc/gmean
    * oracles). Plan: [[importanceWeights]] + one narrow filter — no new
    * shuffle. */
  def dsirSample(seqs: DataFrame, targetPred: org.apache.spark.sql.Column): DataFrame =
    importanceWeights(seqs, targetPred)
      .withColumn("__slot", graft.ops.Sampling.md5Slot(
        concat(col("doc_id"), lit(":dsir")), DsirSlotMod))
      .filter(log((col("__slot").cast("double") + lit(0.5d))
        / lit(DsirSlotMod.toDouble)) < col("avg_llr"))
      .select(col("doc_id"), col("n_tok"), col("avg_llr"))

  /** DuckDB mirror of [[dsirSample]]. */
  def duckDsirSampleSql(seqsSql: String, targetWhere: String): String =
    s"""SELECT doc_id, n_tok, avg_llr
       |FROM (${duckImportanceSql(seqsSql, targetWhere)}) w
       |WHERE ln((${graft.ops.Sampling.duckMd5Slot(
              "w.doc_id || ':dsir'", DsirSlotMod)} + 0.5)
         / ${DsirSlotMod.toDouble}) < avg_llr""".stripMargin

  /** Per-document top-`k` terms by tf·idf — the classic salience
    * ranking, here entirely in exact integers: `score_micro = tf ·
    * idf_micro` with `tf` the int64 in-doc count and `idf_micro =
    * round(ln(D / df_t) · 10^6)` (one ln of a ratio of exact int64s per
    * DISTINCT gram — the [[scoreBigramNll]] discipline), so ranking,
    * tiebreak (score desc, gram asc) and output are all bitwise.
    *
    * Plan: one (doc, gram) count (doc-keyed exchange), a vocab-sized
    * doc-frequency agg broadcast back, and a per-doc top-k window bounded
    * by distinct grams per document — never a global sort. */
  def tfidfTop(seqs: DataFrame, k: Int): DataFrame = {
    graft.functions.expressions.register(seqs.sparkSession)
    // per-doc gram counts from the native histogram kernel — explode
    // carries only distinct grams, no corpus-sized hash-aggregate
    val dg = countedGrams(seqs, GramShape.Unigram, col("doc_id"))
      .withColumnRenamed("n", "tf")
    val df = dg.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    val idf = df.crossJoin(broadcast(seqs.agg(count(lit(1)).as("__d"))))
      .select(col("gram"),
        expr("CAST(round(ln(CAST(__d AS DOUBLE) / CAST(df AS DOUBLE)) * 1000000) AS BIGINT)")
          .as("idf_micro"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score_micro").desc, col("gram"))
    dg.join(broadcast(idf), Seq("gram"))
      .withColumn("score_micro", col("tf") * col("idf_micro"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("gram"), col("tf"),
        col("score_micro"))
  }

  /** CCNet-style perplexity bucketing: rank every document within its
    * source by [[scoreBigramNll]] and cut the ranking into exact thirds —
    * `head` (most fluent under the corpus model), `middle`, `tail` (the
    * noise CCNet drops or downweights). Buckets are pure integer-rank
    * arithmetic (`3·rank ≤ n`, `3·rank ≤ 2n`), the NLL ordering is a
    * deterministic double (one exact-int division per doc) with doc_id
    * tiebreak, so the assignment is bitwise.
    *
    * Scale: the per-source window is a keyed exchange + in-partition sort
    * (CCNet's own per-language percentile split). For sources too large to
    * sort per key, replace the rank with sketch-percentile thresholds (the
    * [[TextAnalysis.lengthReport]] pattern) — the exact form here IS the
    * correctness oracle for that approximation. */
  def perplexityBuckets(seqs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("avg_nll"), col("doc_id"))
    scoreBigramNll(seqs)
      .join(seqs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))))
      .select(col("doc_id"), col("source"), col("avg_nll"),
        when(col("rn") * 3 <= col("n"), "head")
          .when(col("rn") * 3 <= col("n") * 2, "middle")
          .otherwise("tail").as("ppl_bucket"))
  }

  /** Per-document unigram diversity: Shannon entropy of the in-doc token
    * distribution (nats; low = repetitive/templated text — the
    * distributional complement of the dup-word repetition shares) and
    * KL(doc ‖ corpus) against the corpus unigram distribution (high =
    * off-distribution vocabulary — the doc-level form of the per-source
    * JSD drift screen). No smoothing needed: every in-doc token has a
    * corpus occurrence by construction.
    *
    * Identities over exact integer counts — `H = (1/n) Σ_t c_t·ln(n/c_t)`
    * and `KL = (1/n) Σ_t c_t·ln(c_t·N / (n·C_t))` — with each ln
    * micro-nat-quantized per DISTINCT (doc, token) row, so both folds are
    * exact int64 sums (order-free, bitwise cross-engine).
    *
    * Shape: per-doc counts off the native histogram kernel (distinct
    * (doc, token) rows only — no corpus aggregation exchange); the
    * corpus token histogram is an alphabet-bounded (≤4096-row) aggregate
    * broadcast back, and the corpus total rides in as a broadcast
    * scalar — the corpus side never shuffles before its per-doc
    * partial aggregation. */
  def unigramDiversity(seqs: DataFrame): DataFrame = {
    // r6 restructure: per-doc counts from the native histogram kernel
    // (explode carries only distinct (doc, token) rows — no corpus
    // hash-aggregate), the corpus token histogram cg is a ≤4096-row
    // (alphabet-bounded) aggregate broadcast back, and the per-doc total
    // n is the doc's own token count (size(tokens) = Σ c exactly) — the
    // previous form paid TWO corpus-wide window sorts (by token and by
    // doc) over the distinct (doc, token) table (5.9 s at sf0.1).
    graft.functions.expressions.register(seqs.sparkSession)
    val dg = countedGrams(seqs, GramShape.Unigram, col("doc_id"),
        size(col("tokens")).cast("long").as("len"))
      .select(col("doc_id"), col("len").as("n"), col("gram"), col("n").as("c"))
    // ≤4096 rows, materialized once for its two consumers (totals + the
    // broadcast join) so the corpus histogram pass runs a single time
    val cgT = dg.groupBy(col("gram")).agg(sum(col("c")).as("cg"))
      .localCheckpoint(true)
    val totals = cgT.agg(sum(col("cg")).as("__nn"))
    dg.join(broadcast(cgT), Seq("gram"))
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("c"), col("n"),
        expr("""CAST(round(ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE))
                |  * 1000000) AS BIGINT)""".stripMargin).as("h_micro"),
        expr("""CAST(round(ln((CAST(c AS DOUBLE) * CAST(__nn AS DOUBLE))
                |  / (CAST(n AS DOUBLE) * CAST(cg AS DOUBLE)))
                |  * 1000000) AS BIGINT)""".stripMargin).as("kl_micro"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("n_tok"),
        sum(col("c") * col("h_micro")).as("__h"),
        sum(col("c") * col("kl_micro")).as("__k"))
      .select(col("doc_id"), col("n_tok"),
        (col("__h").cast("double") /
          (col("n_tok") * lit(1000000L)).cast("double")).as("entropy"),
        (col("__k").cast("double") /
          (col("n_tok") * lit(1000000L)).cast("double")).as("kl_corpus"))
  }

  /** DuckDB mirror of [[unigramDiversity]]. */
  def duckUnigramDiversitySql(seqsSql: String): String =
    s"""WITH seqs AS ($seqsSql),
       |inst AS MATERIALIZED (
       |  SELECT doc_id, (t + 2048)::BIGINT AS gram
       |  FROM (SELECT doc_id, unnest(tokens) AS t FROM seqs)),
       |dg AS MATERIALIZED (
       |  SELECT doc_id, gram, count(*) AS c FROM inst GROUP BY 1, 2),
       |cg AS (SELECT gram, sum(c) AS cg FROM dg GROUP BY 1),
       |dn AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n
       |       FROM dg GROUP BY 1),
       |nn AS (SELECT count(*) AS nn FROM inst),
       |terms AS (
       |  SELECT dg.doc_id, dg.c, dn.n,
       |    CAST(round(ln(CAST(dn.n AS DOUBLE) / CAST(dg.c AS DOUBLE))
       |      * 1000000) AS BIGINT) AS h_micro,
       |    CAST(round(ln((CAST(dg.c AS DOUBLE) * CAST(nn.nn AS DOUBLE))
       |      / (CAST(dn.n AS DOUBLE) * CAST(cg.cg AS DOUBLE)))
       |      * 1000000) AS BIGINT) AS kl_micro
       |  FROM dg JOIN dn USING (doc_id) JOIN cg USING (gram) CROSS JOIN nn)
       |SELECT doc_id, max(n) AS n_tok,
       |  CAST(sum(c * h_micro) AS DOUBLE)
       |    / CAST(max(n) * 1000000 AS DOUBLE) AS entropy,
       |  CAST(sum(c * kl_micro) AS DOUBLE)
       |    / CAST(max(n) * 1000000 AS DOUBLE) AS kl_corpus
       |FROM terms GROUP BY doc_id""".stripMargin

  /** DuckDB mirror of [[perplexityBuckets]]. */
  def duckPerplexityBucketsSql(seqsSql: String): String =
    s"""WITH nll AS (${duckBigramNllSql(seqsSql)}),
       |seqs2 AS ($seqsSql),
       |r AS (
       |  SELECT nll.doc_id, seqs2.source, nll.avg_nll,
       |    row_number() OVER (PARTITION BY seqs2.source
       |      ORDER BY nll.avg_nll, nll.doc_id) AS rn,
       |    count(*) OVER (PARTITION BY seqs2.source) AS n
       |  FROM nll JOIN seqs2 USING (doc_id))
       |SELECT doc_id, source, avg_nll,
       |  CASE WHEN rn * 3 <= n THEN 'head'
       |       WHEN rn * 3 <= n * 2 THEN 'middle'
       |       ELSE 'tail' END AS ppl_bucket
       |FROM r""".stripMargin

  /** Top-`k` adjacent-pair collocations by pointwise mutual information —
    * the classic corpus association miner. `PMI(a,b) = ln(p(a,b) /
    * (p(a)·p(b)))` decomposed into TWO exactly-representable terms so the
    * score stays int64:
    * `pmi_micro = round(ln(c_ab·N1 / (c_a·c_b))·10^6)
    *            + round(ln(N1 / N2)·10^6)`
    * — every count casts to IEEE double BEFORE the multiplies (exact below
    * 2^53, deterministic round-to-nearest above, never overflows at ANY
    * corpus size; an int64 product would silently wrap in Spark while
    * DuckDB promotes to HUGEINT — a parity break), both dialects compute
    * the identical double expression, and the two roundings are
    * deterministic, so ranking and tiebreak (pmi desc, then tokens asc)
    * are bitwise.
    * Pairs below `minCount` occurrences are dropped (rare-pair PMI is
    * noise). N1 = total tokens, N2 = total bigrams.
    *
    * Plan: one bigram-keyed exchange (map-side partials) for `c_ab`; the
    * unigram count table is vocab-sized and joins broadcast twice (left /
    * right context); top-k is orderBy+limit = distributed take-ordered,
    * never a global sort materialization. */
  def pmiTop(seqs: DataFrame, k: Int, minCount: Long): DataFrame = {
    graft.functions.expressions.register(seqs.sparkSession)
    val uni = corpusUnigrams(seqs)
    val n1 = uni.agg(sum(col("c")).as("__n1"))
    val bi = gramInstances(seqs, 2)
      .groupBy(col("gram")).agg(count(lit(1)).as("c_ab"))
    val n2 = bi.agg(sum(col("c_ab")).as("__n2"))
    bi.filter(col("c_ab") >= minCount)
      .join(broadcast(uni.select(col("gram").as("__g1"), col("c").as("c_a"))),
        expr("gram div 4096") === col("__g1"))
      .join(broadcast(uni.select(col("gram").as("__g2"), col("c").as("c_b"))),
        expr("gram % 4096") === col("__g2"))
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .select(
        expr("CAST(gram div 4096 - 2048 AS INT)").as("t1"),
        expr("CAST(gram % 4096 - 2048 AS INT)").as("t2"),
        col("c_ab"), col("c_a"), col("c_b"),
        (expr("""CAST(round(ln((CAST(c_ab AS DOUBLE) * CAST(__n1 AS DOUBLE))
               / (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE))) * 1000000) AS BIGINT)""") +
         expr("""CAST(round(ln(CAST(__n1 AS DOUBLE)
               / CAST(__n2 AS DOUBLE)) * 1000000) AS BIGINT)"""))
          .as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("t1"), col("t2"))
      .limit(k)
  }

  /** DuckDB mirror of [[pmiTop]]. */
  def duckPmiSql(seqsSql: String, k: Int, minCount: Long): String =
    s"""WITH seqs AS ($seqsSql),
       |bi AS (
       |  SELECT (z[1] + 2048)::BIGINT * 4096 + (z[2] + 2048) AS gram,
       |         count(*) AS c_ab
       |  FROM (SELECT unnest(list_zip(tokens[1:-2], tokens[2:-1])) AS z
       |        FROM seqs)
       |  GROUP BY 1),
       |uni AS (
       |  SELECT (t + 2048)::BIGINT AS g, count(*) AS c
       |  FROM (SELECT unnest(tokens) AS t FROM seqs) GROUP BY 1),
       |n1 AS (SELECT sum(c) AS n1 FROM uni),
       |n2 AS (SELECT sum(c_ab) AS n2 FROM bi)
       |SELECT CAST(gram // 4096 - 2048 AS INTEGER) AS t1,
       |  CAST(gram % 4096 - 2048 AS INTEGER) AS t2,
       |  CAST(c_ab AS BIGINT) AS c_ab,
       |  CAST(ua.c AS BIGINT) AS c_a, CAST(ub.c AS BIGINT) AS c_b,
       |  CAST(round(ln((CAST(c_ab AS DOUBLE) * CAST(n1.n1 AS DOUBLE))
       |       / (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE))) * 1000000) AS BIGINT)
       |  + CAST(round(ln(CAST(n1.n1 AS DOUBLE)
       |       / CAST(n2.n2 AS DOUBLE)) * 1000000) AS BIGINT) AS pmi_micro
       |FROM bi
       |JOIN uni ua ON ua.g = gram // 4096
       |JOIN uni ub ON ub.g = gram % 4096
       |CROSS JOIN n1 CROSS JOIN n2
       |WHERE c_ab >= $minCount
       |ORDER BY pmi_micro DESC, t1, t2
       |LIMIT $k""".stripMargin

  /** DuckDB mirror of [[tfidfTop]]. */
  def duckTfidfSql(seqsSql: String, k: Int): String =
    s"""WITH seqs AS ($seqsSql),
       |inst AS MATERIALIZED (
       |  SELECT doc_id, (t + 2048)::BIGINT AS gram
       |  FROM (SELECT doc_id, unnest(tokens) AS t FROM seqs)),
       |dg AS (SELECT doc_id, gram, count(*) AS tf FROM inst GROUP BY 1, 2),
       |dfq AS (SELECT gram, count(*) AS df FROM dg GROUP BY 1),
       |d AS (SELECT count(*) AS d FROM seqs),
       |idf AS (
       |  SELECT gram,
       |    CAST(round(ln(CAST(d.d AS DOUBLE) / CAST(df AS DOUBLE)) * 1000000)
       |      AS BIGINT) AS idf_micro
       |  FROM dfq CROSS JOIN d)
       |SELECT doc_id, CAST(rank AS INTEGER) AS rank, gram,
       |  CAST(tf AS BIGINT) AS tf, CAST(score_micro AS BIGINT) AS score_micro
       |FROM (
       |  SELECT dg.doc_id, dg.gram, dg.tf,
       |    dg.tf * idf.idf_micro AS score_micro,
       |    row_number() OVER (PARTITION BY dg.doc_id
       |      ORDER BY dg.tf * idf.idf_micro DESC, dg.gram) AS rank
       |  FROM dg JOIN idf USING (gram))
       |WHERE rank <= $k""".stripMargin

  /** BM25 retrieval (Robertson–Spärck Jones probabilistic relevance, the
    * Okapi k1/b form — the lexical-search scorer of every
    * retrieval-augmented pipeline and the classic hard-negative miner for
    * training rerankers): a deterministic hash slice of documents plays
    * the QUERY set, every query scores the whole corpus through an
    * inverted-index gram join, and the top-`k` docs per query are
    * emitted.
    *
    * == Exact integer form ==
    * With k1 = 6/5 and b = 3/4 cleared of fractions, the per-gram
    * saturation ratio `tf·(k1+1) / (tf + k1·(1−b+b·L/avgL))` becomes the
    * integer rational `22·t·T / (10·t·T + 3·T + 9·L·N)` (t = tf in the
    * candidate doc, L = its token count, N docs, T total tokens). It is
    * quantized once as `q = (22·t·T·4096) DIV (10·t·T + 3·T + 9·L·N)`
    * (1/4096-resolution, all positive → DIV is floor in both engines) and
    * the IDF once as `idf_micro = round(ln((N−df+0.5)/(df+0.5) + 1)·10⁶)`
    * (the [[tfidfTop]] micro-nat discipline; the +1 keeps it positive at
    * any df). `score_raw = Σ_g idf_micro·q` is then an exact order-free
    * int64 sum — ranking, tiebreak (score desc, doc asc) and the single
    * readability divide `score = score_raw / (10⁶·4096)` are bitwise.
    * Magnitudes: `22·t·T·4096` overflows only past T ≈ 10¹² corpus
    * tokens (then: the [[graft.ops.Regression]] DECIMAL(38) convention);
    * `idf_micro·q ≤ 2.2·4096·idf_micro` ≈ 10¹¹ per term.
    *
    * == Scale shape ==
    * The postings table (doc, gram, tf) comes off the native unigram
    * histogram kernel (explode bounded by distinct grams per doc); df and
    * idf live on the vocab-sized grid; the query-gram table (hash-sliced
    * queries × their distinct grams) BROADCASTS into the postings join,
    * so the corpus side never shuffles for scoring — the map-side
    * inverted-index probe. The only corpus exchanges are the (doc, gram)
    * count and the per-query top-k window (bounded by matched docs per
    * query; production adds a WAND/max-score idf floor to prune postings,
    * which this exact form oracles). */
  def bm25Retrieve(seqs: DataFrame, queryMod: Int, k: Int): DataFrame = {
    graft.functions.expressions.register(seqs.sparkSession)
    val dg = countedGrams(seqs, GramShape.Unigram,
        col("doc_id"), col("n_tok").cast("long").as("len"))
      .withColumnRenamed("n", "tf")
    val totals = seqs.agg(count(lit(1)).as("__n"),
      sum(col("n_tok").cast("long")).as("__t"))
    val idf = dg.groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(totals))
      .selectExpr("gram",
        """CAST(round(ln((CAST(__n - df AS DOUBLE) + CAST(0.5 AS DOUBLE))
          |  / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
          |  + CAST(1.0 AS DOUBLE)) * 1000000) AS BIGINT) AS idf_micro"""
          .stripMargin)
    val qg = dg.filter(graft.ops.Sampling.md5Slot(col("doc_id"),
        queryMod) === 0)
      .select(col("doc_id").as("q_id"), col("gram"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("score_raw").desc, col("doc_id").asc)
    dg.join(broadcast(qg), Seq("gram"))
      .join(broadcast(idf), Seq("gram"))
      .crossJoin(broadcast(totals))
      .selectExpr("q_id", "doc_id",
        """idf_micro * ((22 * tf * __t * 4096)
          |  DIV (10 * tf * __t + 3 * __t + 9 * len * __n)) AS term"""
          .stripMargin)
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("term")).as("score_raw"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .selectExpr("q_id", "rank", "doc_id", "score_raw",
        "CAST(score_raw AS DOUBLE) / CAST(4096000000 AS DOUBLE) AS score")
  }

  /** DuckDB mirror of [[bm25Retrieve]] — same histogram-derived postings,
    * same integer saturation quantization, same micro-nat IDF. */
  def duckBm25Sql(seqsSql: String, queryMod: Int, k: Int): String =
    s"""WITH seqs AS ($seqsSql),
       |inst AS MATERIALIZED (
       |  SELECT doc_id, CAST(n_tok AS BIGINT) AS len,
       |    (t + 2048)::BIGINT AS gram
       |  FROM (SELECT doc_id, n_tok, unnest(tokens) AS t FROM seqs)),
       |dg AS MATERIALIZED (
       |  SELECT doc_id, len, gram, count(*) AS tf
       |  FROM inst GROUP BY 1, 2, 3),
       |tot AS (SELECT count(*) AS n, CAST(sum(n_tok) AS BIGINT) AS t
       |        FROM seqs),
       |idf AS (
       |  SELECT gram,
       |    CAST(round(ln((CAST(tot.n - df AS DOUBLE) + CAST(0.5 AS DOUBLE))
       |      / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
       |      + CAST(1.0 AS DOUBLE)) * 1000000) AS BIGINT) AS idf_micro
       |  FROM (SELECT gram, count(*) AS df FROM dg GROUP BY 1)
       |  CROSS JOIN tot),
       |qg AS (
       |  SELECT doc_id AS q_id, gram FROM dg
       |  WHERE ${graft.ops.Sampling.duckMd5Slot("doc_id", queryMod)} = 0),
       |scored AS (
       |  SELECT qg.q_id, dg.doc_id,
       |    CAST(sum(idf.idf_micro * ((22 * dg.tf * tot.t * 4096)
       |      // (10 * dg.tf * tot.t + 3 * tot.t + 9 * dg.len * tot.n)))
       |      AS BIGINT) AS score_raw
       |  FROM dg
       |  JOIN qg USING (gram)
       |  JOIN idf USING (gram)
       |  CROSS JOIN tot
       |  GROUP BY 1, 2)
       |SELECT q_id, CAST(rank AS INTEGER) AS rank, doc_id, score_raw,
       |  CAST(score_raw AS DOUBLE) / CAST(4096000000 AS DOUBLE) AS score
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY score_raw DESC, doc_id) AS rank
       |  FROM scored)
       |WHERE rank <= $k""".stripMargin

  /** Hybrid retrieval fusion — reciprocal-rank fusion (Cormack/Clarke/
    * Buettcher, SIGIR 2009) of the BM25 lexical ranking and the dense
    * cosine ranking over the SAME query slice: the standard first-stage
    * retriever of RAG / hard-negative-mining pipelines, where neither
    * arm dominates and `rrf(d) = Σ_arms 1/(C + rank_arm(d))` is the
    * robust rank-level combiner (no score normalization across
    * incomparable scales).
    *
    * The query slice is [[bm25Retrieve]]'s deterministic md5-slot rule;
    * embeddings join the document table on the shared zero-padded id
    * (`d%06d` — vec_id and doc_id are the same entity). RRF terms are
    * exact integers (`10⁶ div (C + rank)` — floor division in both
    * engines), so the fused ranking and its tiebreak (rrf desc, doc
    * asc) are bitwise. Missing-from-arm docs carry rank 0 sentinels at
    * the boundary.
    *
    * == Scale shape ==
    * Each arm keeps its own audited shape (broadcast inverted-index
    * probe; broadcast query set vs corpus scan); fusion adds one
    * (q_id, doc_id)-keyed outer join of two k-row-per-query tables —
    * query-set-sized, never corpus-sized. */
  def hybridRrf(seqs: DataFrame, embeddings: DataFrame, queryMod: Int,
                k: Int, c: Int = 60): DataFrame = {
    graft.functions.expressions.register(seqs.sparkSession)
    val lex = bm25Retrieve(seqs, queryMod, k)
      .select(col("q_id"), col("doc_id"), col("rank").as("rank_lex"))
    val emb = graft.core.Partitioning.balance(embeddings, "vec_id")
      .select(expr("concat('d', lpad(CAST(vec_id AS STRING), 6, '0'))")
        .as("doc_id"), col("embedding"))
    val queries = emb
      .filter(graft.ops.Sampling.md5Slot(col("doc_id"), queryMod) === 0)
      .select(col("doc_id").as("q_id"), col("embedding").as("qv"))
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("doc_id").asc)
    val dense = emb.join(broadcast(queries), expr("doc_id != q_id"))
      .withColumn("cos", expr("graft_cosine(qv, embedding)"))
      .withColumn("rank_dense", row_number().over(wd))
      .filter(col("rank_dense") <= k)
      .select(col("q_id"), col("doc_id"), col("rank_dense"))
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("rrf_micro").desc, col("doc_id").asc)
    lex.join(dense, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf_micro", expr(
        s"""CAST(coalesce(1000000 div ($c + rank_lex), 0)
           |   + coalesce(1000000 div ($c + rank_dense), 0) AS BIGINT)"""
          .stripMargin))
      .withColumn("rank", row_number().over(wf))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("doc_id"), col("rrf_micro"),
        coalesce(col("rank_lex"), lit(0)).as("rank_lex"),
        coalesce(col("rank_dense"), lit(0)).as("rank_dense"))
  }

  /** DuckDB mirror of [[hybridRrf]]. `embWhere` restricts the embedding
    * table to the same document universe the `seqsSql` slice covers
    * (raw-id predicate over `vec_id`). */
  def duckHybridRrfSql(seqsSql: String, queryMod: Int, k: Int,
                       embWhere: String = "TRUE", c: Int = 60): String =
    s"""WITH lex AS (
       |  SELECT q_id, doc_id, rank AS rank_lex
       |  FROM (${duckBm25Sql(seqsSql, queryMod, k)})),
       |e AS (
       |  SELECT 'd' || lpad(CAST(vec_id AS VARCHAR), 6, '0') AS doc_id,
       |         embedding
       |  FROM embeddings WHERE $embWhere),
       |q AS (
       |  SELECT doc_id AS q_id, embedding AS qv FROM e
       |  WHERE ${graft.ops.Sampling.duckMd5Slot("doc_id", queryMod)} = 0),
       |dsc AS (
       |  SELECT q.q_id, e.doc_id,
       |    (SELECT CASE WHEN na = 0.0 OR nb = 0.0 THEN 0.0
       |            ELSE dot / sqrt(na * nb) END
       |     FROM (SELECT
       |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |         list_transform(q.qv, (x, i) ->
       |           CAST(x AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
       |         (a, b) -> a + b) AS dot,
       |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |         list_transform(q.qv, x ->
       |           CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |         (a, b) -> a + b) AS na,
       |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |         list_transform(e.embedding, x ->
       |           CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |         (a, b) -> a + b) AS nb)) AS cos
       |  FROM q JOIN e ON e.doc_id <> q.q_id),
       |dense AS (
       |  SELECT q_id, doc_id, rank_dense FROM (
       |    SELECT q_id, doc_id,
       |      CAST(row_number() OVER (PARTITION BY q_id
       |        ORDER BY cos DESC, doc_id ASC) AS INTEGER) AS rank_dense
       |    FROM dsc) WHERE rank_dense <= $k),
       |fused AS (
       |  SELECT coalesce(l.q_id, d.q_id) AS q_id,
       |    coalesce(l.doc_id, d.doc_id) AS doc_id,
       |    l.rank_lex, d.rank_dense
       |  FROM lex l FULL OUTER JOIN dense d
       |    ON d.q_id = l.q_id AND d.doc_id = l.doc_id),
       |rr AS (
       |  SELECT q_id, doc_id, rank_lex, rank_dense,
       |    CAST(coalesce(1000000 // ($c + rank_lex), 0)
       |       + coalesce(1000000 // ($c + rank_dense), 0) AS BIGINT)
       |      AS rrf_micro
       |  FROM fused)
       |SELECT q_id, CAST(rank AS INTEGER) AS rank, doc_id, rrf_micro,
       |  CAST(coalesce(rank_lex, 0) AS INTEGER) AS rank_lex,
       |  CAST(coalesce(rank_dense, 0) AS INTEGER) AS rank_dense
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY rrf_micro DESC, doc_id ASC) AS rank
       |  FROM rr)
       |WHERE rank <= $k""".stripMargin

  /** Negative-sampling distribution table (the word2vec unigram^{3/4}
    * smoothing — flattens the Zipf head so frequent tokens don't dominate
    * the negatives drawn for contrastive/NCE training): per token,
    * `w = ⌊count^{3/4}⌋`, its probability in micro-units, and the
    * cumulative bucket start a sampler binary-searches — the alias-table
    * input, materialized deterministically.
    *
    * == Exact fourth root ==
    * `⌊c^{3/4}⌋ = ⌊(c³)^{1/4}⌋` must round identically in both engines;
    * libm `pow(c, 0.75)` does not guarantee that. Instead: `c³` exactly
    * in wide integers (Spark DECIMAL(38,0), DuckDB HUGEINT — equal
    * values, equal comparisons), the guess `r₀ = ⌊√√(c³ as double)⌋`
    * from two CORRECTLY-ROUNDED IEEE sqrts (bit-identical everywhere, at
    * most ±1 off after the double rounding of c³), and the answer picked
    * from {r₀±2} by exact wide-integer comparison `r⁴ ≤ c³` — the same
    * guess-then-correct rule text in both dialects.
    *
    * == Scale shape ==
    * One counting exchange off the native histogram kernel; everything
    * else (root, weights, the cumulative window) runs on the VOCAB-sized
    * grid. Weight sums: Σw ≤ |V|·c_max^{3/4} — int64 through any
    * realistic corpus (10¹⁵-count hot token → w ≈ 6·10¹¹). */
  def negSampleTable(seqs: DataFrame): DataFrame = {
    graft.functions.expressions.register(seqs.sparkSession)
    val counts = corpusUnigrams(seqs)
    def cand(r: String) =
      s"""(CAST(greatest($r, 0L) AS DECIMAL(38,0))
         | * CAST(greatest($r, 0L) AS DECIMAL(38,0))
         | * CAST(greatest($r, 0L) AS DECIMAL(38,0))
         | * CAST(greatest($r, 0L) AS DECIMAL(38,0)))""".stripMargin
    val w34 = counts
      .withColumn("ccc", expr(
        "CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))" +
          " * CAST(c AS DECIMAL(38,0))"))
      .withColumn("r0", expr(
        "CAST(floor(sqrt(sqrt(CAST(ccc AS DOUBLE)))) AS BIGINT)"))
      .withColumn("w34", expr(
        s"""CASE WHEN ${cand("r0 + 2")} <= ccc THEN r0 + 2
           |     WHEN ${cand("r0 + 1")} <= ccc THEN r0 + 1
           |     WHEN ${cand("r0")} <= ccc THEN r0
           |     WHEN ${cand("r0 - 1")} <= ccc THEN r0 - 1
           |     ELSE r0 - 2 END""".stripMargin))
      .select(col("gram"), col("c"), col("w34"))
    val tot = w34.agg(sum(col("w34")).as("__w"))
    val win = org.apache.spark.sql.expressions.Window
      .orderBy(col("gram"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    w34.crossJoin(broadcast(tot))
      .withColumn("bucket_start",
        coalesce(sum(col("w34")).over(win), lit(0L)))
      .selectExpr("gram", "c", "w34", "bucket_start",
        "(w34 * 1000000L) DIV __w AS p_micro", "__w AS total_w")
  }

  /** DuckDB mirror of [[negSampleTable]] — HUGEINT for the wide-integer
    * exact comparisons, same guess-then-correct rule. */
  def duckNegSampleSql(seqsSql: String): String = {
    def cand(r: String) =
      s"""(CAST(greatest($r, 0) AS HUGEINT)
         | * CAST(greatest($r, 0) AS HUGEINT)
         | * CAST(greatest($r, 0) AS HUGEINT)
         | * CAST(greatest($r, 0) AS HUGEINT))""".stripMargin
    s"""WITH seqs AS ($seqsSql),
       |cnt AS (
       |  SELECT (t + 2048)::BIGINT AS gram, count(*) AS c
       |  FROM (SELECT unnest(tokens) AS t FROM seqs)
       |  GROUP BY 1),
       |root AS (
       |  SELECT gram, CAST(c AS BIGINT) AS c,
       |    CASE WHEN ${cand("r0 + 2")} <= ccc THEN r0 + 2
       |         WHEN ${cand("r0 + 1")} <= ccc THEN r0 + 1
       |         WHEN ${cand("r0")} <= ccc THEN r0
       |         WHEN ${cand("r0 - 1")} <= ccc THEN r0 - 1
       |         ELSE r0 - 2 END AS w34
       |  FROM (
       |    SELECT gram, c, ccc,
       |      CAST(floor(sqrt(sqrt(CAST(ccc AS DOUBLE)))) AS BIGINT) AS r0
       |    FROM (SELECT gram, c,
       |            CAST(c AS HUGEINT) * CAST(c AS HUGEINT)
       |              * CAST(c AS HUGEINT) AS ccc
       |          FROM cnt))),
       |tot AS (SELECT CAST(sum(w34) AS BIGINT) AS w FROM root)
       |SELECT gram, c, w34,
       |  CAST(coalesce(sum(w34) OVER (ORDER BY gram
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS bucket_start,
       |  (w34 * 1000000) // tot.w AS p_micro,
       |  tot.w AS total_w
       |FROM root CROSS JOIN tot""".stripMargin
  }

  /** Per-source token-distribution drift: the Jensen–Shannon divergence
    * between each source's unigram distribution `p` and the REST of the
    * corpus `q` — the corpus-level "is this slice distributionally off?"
    * monitor (the token-space sibling of [[graft.sink.Drift]]'s feature
    * moments). JSD ∈ [0, ln 2]; 0 = identical mixtures, ln 2 = disjoint
    * vocabularies. Output: `(source, n_tok, jsd)`.
    *
    * == Exactness ==
    * With m = (p+q)/2 and integer counts, each log argument is a pure
    * ratio: p_g/m_g = 2·c·Nq / (c·Nq + d·Np) (c,d = the gram's count in
    * the source / the rest; Np,Nq = the token totals). Every product is
    * evaluated as the SAME IEEE double expression in both engines, the
    * single `ln` per (source, gram) is quantized to micro-nats
    * (`round(·1e6)` → BIGINT — the [[importanceWeights]] convention), and
    * the weighted sums Σc·mn, Σd·mn are exact int64 — order-free. The
    * final JSD is three IEEE divides/adds of exact integers. (Magnitude
    * note: c·mn ≤ N·|ln ratio|·1e6 — fits int64 through ~3·10^11 tokens
    * per gram even at ratio e±30; beyond that split the sum like
    * [[pmiTop]]'s two-term trick.)
    *
    * == Scale shape ==
    * One (source, gram)-keyed count off the native histogram kernel is
    * the only corpus-sized exchange; everything after runs on the
    * |sources|×|vocab| grid (bounded by the token alphabet, NOT the
    * corpus), with the vocab histogram and per-source totals broadcast.
    * The count sub-plan is REFERENCED three times below (vocab histogram,
    * per-source totals, grid join) but EXECUTED once: the three exchanges
    * are canonically identical, so AQE stage reuse runs the corpus scan +
    * count one time and serves the other two as ReusedQueryStage —
    * measured by `graft.tools.ReuseProbe` (2 reused stages, exactly the
    * two re-references). */
  def sourceDrift(seqs: DataFrame): DataFrame = {
    graft.functions.expressions.register(seqs.sparkSession)
    val sg = countedGrams(seqs, GramShape.Unigram, col("source"))
      .groupBy("source", "gram").agg(sum(col("n")).as("c"))
    val g = sg.groupBy("gram").agg(sum(col("c")).as("cg"))
    val np = sg.groupBy("source").agg(sum(col("c")).as("np"))
    val n = g.agg(sum(col("cg")).as("n"))
    val mnP =
      """CAST(round(ln((2.0 * CAST(c AS DOUBLE) * CAST(nq AS DOUBLE))
        |  / (CAST(c AS DOUBLE) * CAST(nq AS DOUBLE)
        |     + CAST(d AS DOUBLE) * CAST(np AS DOUBLE))) * 1000000)
        |  AS BIGINT)""".stripMargin
    val mnQ =
      """CAST(round(ln((2.0 * CAST(d AS DOUBLE) * CAST(np AS DOUBLE))
        |  / (CAST(c AS DOUBLE) * CAST(nq AS DOUBLE)
        |     + CAST(d AS DOUBLE) * CAST(np AS DOUBLE))) * 1000000)
        |  AS BIGINT)""".stripMargin
    np.crossJoin(broadcast(g))
      .join(sg, Seq("source", "gram"), "left")
      .select(col("source"), col("np"), col("cg"),
        coalesce(col("c"), lit(0L)).as("c"))
      .crossJoin(broadcast(n))
      .withColumn("d", col("cg") - col("c"))
      .withColumn("nq", col("n") - col("np"))
      .withColumn("tp",
        when(col("c") > 0, col("c") * expr(mnP)).otherwise(lit(0L)))
      .withColumn("tq",
        when(col("d") > 0, col("d") * expr(mnQ)).otherwise(lit(0L)))
      .groupBy(col("source"))
      .agg(min(col("np")).as("n_tok"), min(col("nq")).as("__nq"),
        sum(col("tp")).as("__sp"), sum(col("tq")).as("__sq"))
      .select(col("source"), col("n_tok"),
        when(col("__nq") > 0,
          (col("__sp").cast("double") / col("n_tok").cast("double")
            + col("__sq").cast("double") / col("__nq").cast("double"))
            / lit(2000000.0)).as("jsd"))
  }

  /** DuckDB mirror of [[sourceDrift]] (same grid, same micro-nat
    * quantization, same IEEE expression shapes). */
  def duckSourceDriftSql(seqsSql: String): String =
    s"""WITH seqs AS ($seqsSql),
       |inst AS MATERIALIZED (
       |  SELECT source, (t + 2048)::BIGINT AS gram
       |  FROM (SELECT source, unnest(tokens) AS t FROM seqs)),
       |sg AS (SELECT source, gram, count(*) AS c FROM inst GROUP BY 1, 2),
       |g AS (SELECT gram, CAST(sum(c) AS BIGINT) AS cg FROM sg GROUP BY 1),
       |np AS (SELECT source, CAST(sum(c) AS BIGINT) AS np FROM sg GROUP BY 1),
       |tot AS (SELECT (SELECT sum(cg) FROM g) AS n),
       |grid AS (
       |  SELECT np.source, np.np, g.gram, g.cg,
       |    coalesce(sg.c, 0) AS c, g.cg - coalesce(sg.c, 0) AS d,
       |    tot.n - np.np AS nq
       |  FROM np CROSS JOIN g CROSS JOIN tot
       |  LEFT JOIN sg ON sg.source = np.source AND sg.gram = g.gram),
       |terms AS (
       |  SELECT source, np, nq,
       |    CASE WHEN c > 0 THEN c * CAST(round(ln(
       |        (2.0 * CAST(c AS DOUBLE) * CAST(nq AS DOUBLE))
       |        / (CAST(c AS DOUBLE) * CAST(nq AS DOUBLE)
       |           + CAST(d AS DOUBLE) * CAST(np AS DOUBLE))) * 1000000)
       |      AS BIGINT) ELSE 0 END AS tp,
       |    CASE WHEN d > 0 THEN d * CAST(round(ln(
       |        (2.0 * CAST(d AS DOUBLE) * CAST(np AS DOUBLE))
       |        / (CAST(c AS DOUBLE) * CAST(nq AS DOUBLE)
       |           + CAST(d AS DOUBLE) * CAST(np AS DOUBLE))) * 1000000)
       |      AS BIGINT) ELSE 0 END AS tq
       |  FROM grid)
       |SELECT source, CAST(min(np) AS BIGINT) AS n_tok,
       |  CASE WHEN min(nq) > 0 THEN
       |    (CAST(sum(tp) AS DOUBLE) / CAST(min(np) AS DOUBLE)
       |     + CAST(sum(tq) AS DOUBLE) / CAST(min(nq) AS DOUBLE))
       |    / 2000000.0 END AS jsd
       |FROM terms GROUP BY source""".stripMargin
}
