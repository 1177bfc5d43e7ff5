package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.expressions.{GramShape, countedGrams}

/** Supervised feature selection: one-vs-rest chi-squared AND mutual
  * information over n-gram DOCUMENT frequencies, top-k grams per source —
  * the classic pre-training screens for text classification (pick the
  * vocabulary the model sees; drop grams whose presence is independent of
  * the label). Complements the fitted surfaces ([[NaiveBayes]],
  * [[LinearModel]]): these ops decide WHICH features deserve a weight
  * before anything is fit. Reference analog: the classification stage's
  * feature screening / model-input selection role
  * (`Source/Crawler/Classification/Source/Models/GBDT.cpp:50-117` trains
  * over a fixed pre-selected descriptor set; a Spark-first engine derives
  * the set from the corpus itself as a first-class operator).
  *
  * Both selectors share ONE presence-contingency grid ([[presenceGrid]] /
  * [[gridSql]] — single source of truth in each dialect, so the two
  * rankings can never disagree about the counts they rank). For each
  * (source s, gram g) the 2x2 presence/absence contingency is
  *   a = docs of s containing g          b = docs of other sources with g
  *   c = docs of s without g             d = docs of other sources without g
  * chi2 = D*(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)) with D = a+b+c+d the corpus
  * doc count; MI (nats) = Σ_cells (n/D)·ln(D·n / (rowMarg·colMarg)), zero
  * cells contributing zero. `dir` = sign(ad-bc): +1 means g is
  * OVER-represented in s (a selection-worthy marker), -1 under-represented.
  *
  * == Determinism (bitwise across engines and partitionings) ==
  * Every cell and marginal is an exact int64 count; `det = a*d - b*c` is
  * exact int64 (magnitude <= D^2 — exact through ~3*10^9 docs; beyond
  * that widen det to DECIMAL(38) in both dialects). The chi2 itself is
  * assembled at the boundary as the SAME IEEE expression shape in both
  * engines: one double multiply chain over the casts, one divide. For MI,
  * each cell's `ln` is quantized to integer MICRO-NATS before summation
  * (`CAST(round(ln(·)·10^6) AS BIGINT)`, the [[LanguageModel]] rule), so
  * the per-gram score is an exact int64 weighted sum — order-free — and
  * the reported double is ONE divide at the boundary. The ln argument is
  * a ratio of two exact-double products (cells/marginals are exact through
  * 2^53, far past the 10^12-doc design point; the n·q products bound the
  * int64 sum through ~3·10^11 docs — widen to DECIMAL(38) past that).
  * Ranking orders by (score DESC, gram); scores are bitwise-equal ints or
  * doubles, so the row_number is deterministic, and the gram tie-break
  * makes equal-score runs a total order. MI ranks by the integer
  * `mi_sum` directly — within one source the 1/(D·10^6) factor is
  * constant, so integer order == MI order, no float comparison at all.
  * Universal grams (`df_all = D`, zero-variance column) and single-source
  * corpora are filtered: chi2 is 0/0 and MI is 0 by construction.
  *
  * == Scale shape (100 TB) ==
  * The per-doc DISTINCT grams come straight off the unigram histogram
  * kernel [[graft.functions.expressions.GramCounts]] (one 4096-slot pass
  * per row — no doc-level distinct shuffle), so the ONLY corpus-sized
  * exchange is the (source, gram) doc-frequency count with map-side
  * partials.
  * Everything downstream — gram marginals, per-source doc counts, the
  * score grid, the per-source top-k window — runs on the |S| x |vocab|
  * grid, bounded by the token alphabet, NOT the corpus. The doc-count
  * dims are broadcast; the top-k window partitions by source over
  * model-sized data. */
object FeatureSelect {

  /** Shared contingency grid: per (source, gram) the presence cell
    * `df_in` (= a), the marginals `df_all`, `d_s`, `d_tot`, and the
    * derived cells `b`, `c`, `dd` (= d). Zero-variance grams filtered. */
  private def presenceGrid(seqs: DataFrame): DataFrame = {
    graft.functions.expressions.register(seqs.sparkSession)
    val dg = countedGrams(seqs, GramShape.Unigram, col("source"))
    // the one corpus-sized exchange
    val a = dg.groupBy("source", "gram").agg(count(lit(1)).as("df_in"))
    val dfg = a.groupBy("gram").agg(sum(col("df_in")).as("df_all"))
    val ds = seqs.groupBy("source").agg(count(lit(1)).as("d_s"))
    val dTot = seqs.agg(count(lit(1)).as("d_tot"))
    a.join(broadcast(dfg), Seq("gram"))
      .join(broadcast(ds), Seq("source"))
      .crossJoin(broadcast(dTot))
      .filter(col("df_all") < col("d_tot") && col("d_s") < col("d_tot"))
      .withColumn("b", col("df_all") - col("df_in"))
      .withColumn("c", col("d_s") - col("df_in"))
      .withColumn("dd", col("d_tot") - col("d_s") - col("b"))
  }

  /** Top-`k` grams per source by one-vs-rest chi2. Output: `(source, rk,
    * gram, df_in, df_all, d_s, d_tot, dir, chi2)` — `df_in` = a,
    * `df_all` = a+b, `d_s` = a+c, `d_tot` = D. */
  def chi2Select(seqs: DataFrame, k: Int): DataFrame = {
    val grid = presenceGrid(seqs)
      .withColumn("det",
        col("df_in") * col("dd") - col("b") * col("c"))
      .withColumn("chi2",
        col("d_tot").cast("double")
          * (col("det").cast("double") * col("det").cast("double"))
          / (col("df_all").cast("double")
            * (col("d_tot") - col("df_all")).cast("double")
            * col("d_s").cast("double")
            * (col("d_tot") - col("d_s")).cast("double")))
      .withColumn("dir",
        when(col("det") > 0, lit(1)).when(col("det") < 0, lit(-1))
          .otherwise(lit(0)))
    grid
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("chi2").desc, col("gram"))))
      .filter(col("rk") <= k)
      .select(col("source"), col("rk"), col("gram"), col("df_in"),
        col("df_all"), col("d_s"), col("d_tot"), col("dir"), col("chi2"))
  }

  /** One MI cell term, dual-dialect SQL: `n · round(ln(D·n/(mx·my))·10^6)`
    * in exact int64, 0 for empty cells. The same string parses in Spark
    * SQL and DuckDB — shared verbatim so the dialects cannot drift. */
  private def miTermSql(n: String, mx: String, my: String): String =
    s"""CASE WHEN $n > 0 THEN $n * CAST(round(ln(
       |  (CAST(d_tot AS DOUBLE) * CAST($n AS DOUBLE))
       |  / (CAST($mx AS DOUBLE) * CAST($my AS DOUBLE))) * 1000000) AS BIGINT)
       |ELSE CAST(0 AS BIGINT) END""".stripMargin.replace('\n', ' ')

  /** Sum of the four cell terms (micro-nat int64). */
  private def miSumSql: String = Seq(
    miTermSql("df_in", "df_all", "d_s"),
    miTermSql("b", "df_all", "d_tot - d_s"),
    miTermSql("c", "d_tot - df_all", "d_s"),
    miTermSql("dd", "d_tot - df_all", "d_tot - d_s")).mkString(" + ")

  /** Top-`k` grams per source by one-vs-rest mutual information (nats).
    * Output: `(source, rk, gram, df_in, df_all, d_s, d_tot, dir, mi)`.
    * Chi2 over-weights rare high-ratio grams; MI weights by how much of
    * the corpus the split actually explains — the pair is the standard
    * two-screen vocabulary audit. */
  def miSelect(seqs: DataFrame, k: Int): DataFrame = {
    val grid = presenceGrid(seqs)
      .withColumn("mi_sum", expr(miSumSql))
      .withColumn("det",
        col("df_in") * col("dd") - col("b") * col("c"))
      .withColumn("dir",
        when(col("det") > 0, lit(1)).when(col("det") < 0, lit(-1))
          .otherwise(lit(0)))
      .withColumn("mi",
        col("mi_sum").cast("double")
          / (col("d_tot") * lit(1000000L)).cast("double"))
    grid
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("mi_sum").desc, col("gram"))))
      .filter(col("rk") <= k)
      .select(col("source"), col("rk"), col("gram"), col("df_in"),
        col("df_all"), col("d_s"), col("d_tot"), col("dir"), col("mi"))
  }

  /** Shared DuckDB grid CTEs (mirror of [[presenceGrid]]); yields
    * relation `grid(source, gram, df_in, df_all, d_s, d_tot, b, c, dd)`. */
  private def gridSql(seqsSql: String): String =
    s"""WITH seqs AS ($seqsSql),
       |dg AS (
       |  SELECT DISTINCT doc_id, source, (t + 2048)::BIGINT AS gram
       |  FROM (SELECT doc_id, source, unnest(tokens) AS t FROM seqs)),
       |a AS (SELECT source, gram, CAST(count(*) AS BIGINT) AS df_in
       |      FROM dg GROUP BY 1, 2),
       |g AS (SELECT gram, CAST(sum(df_in) AS BIGINT) AS df_all
       |      FROM a GROUP BY 1),
       |s AS (SELECT source, CAST(count(*) AS BIGINT) AS d_s
       |      FROM seqs GROUP BY 1),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS d_tot FROM seqs),
       |grid AS (
       |  SELECT a.source, a.gram, a.df_in, g.df_all, s.d_s, t.d_tot,
       |    g.df_all - a.df_in AS b, s.d_s - a.df_in AS c,
       |    t.d_tot - s.d_s - (g.df_all - a.df_in) AS dd
       |  FROM a JOIN g USING (gram) JOIN s ON s.source = a.source
       |  CROSS JOIN t
       |  WHERE g.df_all < t.d_tot AND s.d_s < t.d_tot)""".stripMargin

  /** DuckDB mirror of [[chi2Select]] — same grid, same IEEE expression
    * shapes. `seqsSql` yields `(doc_id, tokens, source)`. */
  def duckChi2Sql(seqsSql: String, k: Int): String =
    s"""${gridSql(seqsSql)},
       |x AS (
       |  SELECT source, gram, df_in, df_all, d_s, d_tot,
       |    df_in * dd - b * c AS det,
       |    CAST(d_tot AS DOUBLE)
       |      * (CAST(df_in * dd - b * c AS DOUBLE)
       |         * CAST(df_in * dd - b * c AS DOUBLE))
       |      / (CAST(df_all AS DOUBLE) * CAST(d_tot - df_all AS DOUBLE)
       |         * CAST(d_s AS DOUBLE) * CAST(d_tot - d_s AS DOUBLE))
       |      AS chi2
       |  FROM grid)
       |SELECT source, CAST(rk AS INTEGER) AS rk, gram, df_in, df_all,
       |  d_s, d_tot,
       |  CASE WHEN det > 0 THEN 1 WHEN det < 0 THEN -1 ELSE 0 END AS dir,
       |  chi2
       |FROM (SELECT *, row_number() OVER (PARTITION BY source
       |        ORDER BY chi2 DESC, gram) AS rk
       |      FROM x)
       |WHERE rk <= $k""".stripMargin

  /** DuckDB mirror of [[miSelect]] — the cell terms are the IDENTICAL
    * strings [[miTermSql]] builds for the Spark plan. */
  def duckMiSql(seqsSql: String, k: Int): String =
    s"""${gridSql(seqsSql)},
       |x AS (
       |  SELECT source, gram, df_in, df_all, d_s, d_tot,
       |    df_in * dd - b * c AS det,
       |    $miSumSql AS mi_sum
       |  FROM grid)
       |SELECT source, CAST(rk AS INTEGER) AS rk, gram, df_in, df_all,
       |  d_s, d_tot,
       |  CASE WHEN det > 0 THEN 1 WHEN det < 0 THEN -1 ELSE 0 END AS dir,
       |  CAST(mi_sum AS DOUBLE) / CAST(d_tot * 1000000 AS DOUBLE) AS mi
       |FROM (SELECT *, row_number() OVER (PARTITION BY source
       |        ORDER BY mi_sum DESC, gram) AS rk
       |      FROM x)
       |WHERE rk <= $k""".stripMargin
}
