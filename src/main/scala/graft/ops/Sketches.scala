package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.expressions.{GramShape, corpusUnigrams, countedGrams}

/** Mergeable sketch operators — the sublinear-state summaries a 100 TB
  * corpus pipeline runs where exact state would not fit: count-min
  * frequency sketches, KMV distinct-count sketches, and Bloom-filter join
  * pruning. Reference analog: the crawler keeps per-corpus summary
  * statistics to steer incremental re-runs (`Source/Crawler/Crawler.cpp`
  * change-list bookkeeping); at web scale those summaries must be
  * *mergeable* (per-partition partials combined associatively), which is
  * exactly the property all three sketches here share.
  *
  * == Determinism / oracle parity ==
  * Every hash derives from [[Sampling.md5Slot]] (first md5 hex chars as an
  * integer — identical in Spark and DuckDB), every count stays int64, and
  * every floating-point output is a SINGLE division of exact integers at
  * the query boundary — bitwise across engines regardless of row order.
  */
object Sketches {

  // ------------------------------------------------------------------
  // count-min sketch
  // ------------------------------------------------------------------

  /** Count-min sketch error report over the corpus unigram frequencies:
    * a `depth × width` counter grid (row r counts token g in cell
    * `(r, md5Slot("cms r : g", width))`), point estimate = min over rows —
    * never under exact, over by hash-collision mass. One row per distinct
    * token: `(gram, c_exact, c_est, overest)`.
    *
    * == Scale shape ==
    * Sketch cells are ADDITIVE: per-partition partial grids merge by
    * element-wise sum, which is literally the map-side partial aggregation
    * of the `groupBy(r, col).sum` below — state is `depth × width`
    * counters per partition regardless of corpus size. Here the gram
    * frequency table is first reduced exactly (one shuffle with map-side
    * combine, ≤ vocab rows) and the ≤ vocab-sized table is hashed into the
    * grid — same cells, md5 cost on the vocab instead of per occurrence.
    * The exact side exists only because the report *measures* the sketch
    * error; production keeps the grid alone. */
  def countMinReport(seqs: DataFrame, depth: Int, width: Int): DataFrame = {
    graft.functions.expressions.register(seqs.sparkSession)
    val uni = corpusUnigrams(seqs)
    // every (row, cell) coordinate of every gram — vocab × depth rows
    val gh = uni.select(col("gram"), col("c"),
      posexplode(array((0 until depth).map(r =>
        Sampling.md5Slot(concat(lit(s"cms$r:"), col("gram").cast("string")),
          width)): _*)).as(Seq("r", "cell")))
    val grid = gh.groupBy(col("r"), col("cell"))
      .agg(sum(col("c")).as("cell_sum"))
    gh.join(grid, Seq("r", "cell"))
      .groupBy(col("gram"))
      .agg(min(col("cell_sum")).as("c_est"), min(col("c")).as("c_exact"))
      .select((col("gram") - 2048).cast("int").as("gram"),
        col("c_exact"), col("c_est"),
        (col("c_est") - col("c_exact")).as("overest"))
  }

  /** DuckDB mirror of [[countMinReport]]. */
  def duckCountMinSql(seqsSql: String, depth: Int, width: Int): String =
    s"""WITH seqs AS ($seqsSql),
       |uni AS (
       |  SELECT (t + 2048)::BIGINT AS g, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(tokens) AS t FROM seqs) GROUP BY 1),
       |gh AS MATERIALIZED (
       |  SELECT g, c, r,
       |    ${Sampling.duckMd5Slot("'cms' || r || ':' || g", width)} AS cell
       |  FROM uni CROSS JOIN (SELECT unnest(range(0, $depth)) AS r)),
       |grid AS (
       |  SELECT r, cell, CAST(sum(c) AS BIGINT) AS cell_sum
       |  FROM gh GROUP BY 1, 2)
       |SELECT CAST(g - 2048 AS INTEGER) AS gram,
       |  min(c) AS c_exact, min(cell_sum) AS c_est,
       |  min(cell_sum) - min(c) AS overest
       |FROM gh JOIN grid USING (r, cell)
       |GROUP BY g""".stripMargin

  // ------------------------------------------------------------------
  // KMV distinct-count sketch
  // ------------------------------------------------------------------

  /** 2^60 as an exactly-representable double (the KMV hash range). */
  val KmvRange = 1152921504606846976L

  /** KMV (k-minimum-values) distinct-count sketch over the per-source
    * distinct bigram sets, plus the MERGED global sketch (`source =
    * '__all__'`): per key set, keep the `k` smallest 60-bit hashes; the
    * k-th smallest `h_k` estimates distinct ≈ `(k−1) · 2^60 / h_k`.
    * Output `(source, n_exact, kth_min, est_distinct)`; `n_exact` rides
    * along because this is the error *report* form.
    *
    * == Scale shape / mergeability ==
    * The k-min reduction runs in the native bounded
    * [[graft.functions.expressions.KMinAgg]] aggregate: aggregation state
    * is a k-slot max-heap at EVERY stage (map-side partial, shuffle,
    * final merge), so the per-source exchange carries ≤ k hashes per
    * partition — never the distinct set itself. Exact count and sketch
    * come out of the SAME `groupBy(source)` pass (one heavy reduce over
    * the distinct set — an earlier form aggregated `bi` three times and
    * tripled the reduce-side cost, measured by `tools.KmvProbe`), and the
    * global row is built by merging the 20-row per-source PARTIALS
    * (`sum` of counts + k-min over the unioned k-min lists, ≤ sources × k
    * elements), not by rescanning the corpus — the associative merge that
    * makes the sketch work across 1000 executors; merged == direct
    * because per-source key sets are disjoint (source-salted hashes) and
    * the global k smallest hashes survive in some per-source list. */
  def kmvReport(seqs: DataFrame, k: Int): DataFrame = {
    graft.functions.expressions.register(seqs.sparkSession)
    val bi = seqs
      .select(col("source"),
        explode(expr("graft_pack_ngrams(tokens, 2)")).as("gram"))
      .distinct()
    val h = bi.select(col("source"),
      conv(substring(md5(concat(lit("kmv:"), col("source"), lit(":"),
        col("gram").cast("string"))), 1, 15), 16, 10)
        .cast("long").as("h"))
    val perSource = h.groupBy(col("source"))
      .agg(count(lit(1)).as("n_exact"), expr(s"graft_kmin(h, $k)").as("hs"))
    // MERGED global row from the tiny per-source partials (not a rescan;
    // the flatten input is ≤ sources × k longs)
    val merged = perSource
      .agg(sum(col("n_exact")).as("n_exact"),
        expr(s"slice(array_sort(flatten(collect_list(hs))), 1, $k)").as("hs"))
      .select(lit("__all__").as("source"), col("n_exact"), col("hs"))
    perSource.select(col("source"), col("n_exact"), col("hs"))
      .unionByName(merged)
      .select(col("source"), col("n_exact"),
        expr(s"try_element_at(hs, $k)").as("kth_min"),
        size(col("hs")).as("n_kept"))
      .select(col("source"), col("n_exact"), col("kth_min"),
        expr(s"""CASE WHEN n_kept < $k OR kth_min IS NULL
                |  THEN CAST(n_exact AS DOUBLE)
                |  ELSE CAST(${k - 1} AS DOUBLE) * CAST($KmvRange AS DOUBLE)
                |       / CAST(kth_min AS DOUBLE) END""".stripMargin)
          .as("est_distinct"))
  }

  /** DuckDB mirror of [[kmvReport]] (a k-min over distinct hashes is
    * bucketing-invariant, so the mirror reduces each source directly). */
  def duckKmvSql(seqsSql: String, k: Int): String =
    s"""WITH seqs AS ($seqsSql),
       |bi AS MATERIALIZED (
       |  SELECT DISTINCT source,
       |    (z[1] + 2048)::BIGINT * 4096 + (z[2] + 2048) AS gram
       |  FROM (SELECT source, unnest(list_zip(tokens[1:-2], tokens[2:-1])) AS z
       |        FROM seqs)),
       |h AS (
       |  SELECT source,
       |    ('0x' || substr(md5('kmv:' || source || ':' || gram), 1, 15))::BIGINT
       |      AS h
       |  FROM bi),
       |per_source AS MATERIALIZED (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_exact,
       |    (list(h ORDER BY h))[1:$k] AS hs
       |  FROM h GROUP BY 1),
       |merged AS (
       |  SELECT '__all__' AS source,
       |    (SELECT CAST(sum(n_exact) AS BIGINT) FROM per_source) AS n_exact,
       |    (SELECT (list(x ORDER BY x))[1:$k]
       |     FROM (SELECT unnest(hs) AS x FROM per_source)) AS hs),
       |sk AS (
       |  SELECT source, n_exact, hs[$k] AS kth_min, len(hs) AS n_kept
       |  FROM (SELECT * FROM per_source UNION ALL SELECT * FROM merged))
       |SELECT source, n_exact, kth_min,
       |  CASE WHEN n_kept < $k OR kth_min IS NULL
       |    THEN CAST(n_exact AS DOUBLE)
       |    ELSE CAST(${k - 1} AS DOUBLE) * CAST($KmvRange AS DOUBLE)
       |         / CAST(kth_min AS DOUBLE) END AS est_distinct
       |FROM sk""".stripMargin

  /** Sketch-only KMV: the production form of [[kmvReport]] with the exact
    * side (and its corpus-wide `.distinct()` shuffle) removed.
    *
    * [[kmvReport]] is the error-*report* form: it carries `n_exact`, which
    * forces a full distinct over every per-source bigram before the
    * bounded k-min reduce — at sf0.1 that distinct was 34 % of the whole
    * bench battery, and at 100× it is a corpus-wide shuffle the sketch
    * exists to avoid. Here the raw (duplicated) gram stream feeds
    * `graft_kmin_d` directly: [[graft.functions.expressions.KMinAgg]] with
    * in-heap dedup keeps the k smallest DISTINCT hashes, so the k-min of
    * the distinct set is computed WITHOUT materializing the distinct set —
    * state stays a k-slot heap at map/shuffle/final stages and the only
    * exchange is ≤ k longs per (source, partition). The merged `__all__`
    * row still folds the 20-row per-source partials (disjoint
    * source-salted hash spaces, so a plain sort+slice merge is exact).
    * `n_est` replaces `n_exact` everywhere downstream; keep [[kmvReport]]
    * as the accuracy oracle at test scale. */
  def kmvSketch(seqs: DataFrame, k: Int): DataFrame = {
    graft.functions.expressions.register(seqs.sparkSession)
    val h = seqs
      .select(col("source"),
        explode(expr("graft_pack_ngrams(tokens, 2)")).as("gram"))
      .select(col("source"),
        conv(substring(md5(concat(lit("kmv:"), col("source"), lit(":"),
          col("gram").cast("string"))), 1, 15), 16, 10)
          .cast("long").as("h"))
    val perSource = h.groupBy(col("source"))
      .agg(expr(s"graft_kmin_d(h, $k)").as("hs"))
    val merged = perSource
      .agg(expr(s"slice(array_sort(flatten(collect_list(hs))), 1, $k)")
        .as("hs"))
      .select(lit("__all__").as("source"), col("hs"))
    perSource.unionByName(merged)
      .select(col("source"),
        expr(s"try_element_at(hs, $k)").as("kth_min"),
        size(col("hs")).as("n_kept"))
      .select(col("source"), col("kth_min"),
        expr(s"""CASE WHEN n_kept < $k OR kth_min IS NULL
                |  THEN CAST(n_kept AS DOUBLE)
                |  ELSE CAST(${k - 1} AS DOUBLE) * CAST($KmvRange AS DOUBLE)
                |       / CAST(kth_min AS DOUBLE) END""".stripMargin)
          .as("est_distinct"))
  }

  /** Production KMV: the fused token-array form. One narrow pass —
    * [[graft.functions.expressions.KmvTokensAgg]] packs each bigram,
    * mixes it with a per-SOURCE salt through the Murmur3 64-bit finalizer
    * (integer ops only; the md5 render that made the explode form pay a
    * string hash per gram OCCURRENCE runs here once per DOC row for the
    * salt), and keeps the k smallest distinct 60-bit hashes in-heap. No
    * explode, no distinct, no per-occurrence strings; the only exchange is
    * ≤ k longs per (source, partition), merged exactly as [[kmvSketch]].
    * Salting keeps per-source hash spaces effectively disjoint, so the
    * `__all__` row (k-min over the folded per-source partials) estimates
    * the SUM of per-source distinct counts — the same contract as
    * [[kmvReport]], which remains the error oracle at test scale. */
  def kmvTokens(seqs: DataFrame, k: Int): DataFrame = {
    val spark = seqs.sparkSession
    graft.functions.expressions.register(spark)
    val salted = seqs.select(col("source"), col("tokens"),
      conv(substring(md5(concat(lit("kmv:"), col("source"))), 1, 15), 16, 10)
        .cast("long").as("salt"))
    // ONE corpus pass. The `__all__` row is then the associative merge of
    // the per-source PARTIALS (≤ sources × k longs — model-sized), folded
    // on the driver: a `unionByName(perSource.agg(...))` form instead made
    // Catalyst plan the scan + kernel aggregation TWICE (no cross-branch
    // subtree reuse), doubling the only expensive stage.
    val per = salted.groupBy(col("source"))
      .agg(expr(s"graft_kmv_tokens(tokens, salt, $k)").as("hs"))
      .collect()
    val mergedHs = per.flatMap(_.getSeq[Long](1)).sorted.take(k).toSeq
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("hs",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = false),
        nullable = false)))
    val rows: Seq[org.apache.spark.sql.Row] =
      per.toSeq.map(r => org.apache.spark.sql.Row(
        r.getString(0), r.getSeq[Long](1))) :+
        org.apache.spark.sql.Row("__all__", mergedHs)
    spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
      .select(col("source"),
        expr(s"try_element_at(hs, $k)").as("kth_min"),
        size(col("hs")).as("n_kept"))
      .select(col("source"), col("kth_min"),
        expr(s"""CASE WHEN n_kept < $k OR kth_min IS NULL
                |  THEN CAST(n_kept AS DOUBLE)
                |  ELSE CAST(${k - 1} AS DOUBLE) * CAST($KmvRange AS DOUBLE)
                |       / CAST(kth_min AS DOUBLE) END""".stripMargin)
          .as("est_distinct"))
  }

  // -- DuckDB u64 arithmetic renderings for the KMV mixer ---------------
  // DuckDB BIGINT raises on overflow, so the mod-2^64 lattice that Java
  // Long arithmetic gives for free is rendered in HUGEINT with explicit
  // `% 2^64`, 32-bit-half decomposition for xor (DuckDB's xor() is
  // BIGINT-only) and for the 128-bit-safe multiply.

  private val U64 = "18446744073709551616" // 2^64
  private val U32 = 4294967296L            // 2^32

  /** u64 xor via 32-bit halves (each half fits signed BIGINT). */
  private def duckXor64(a: String, b: String): String =
    s"""(CAST(xor(CAST(($a) // $U32 AS BIGINT),
       |          CAST(($b) // $U32 AS BIGINT)) AS HUGEINT) * $U32
       | + xor(CAST(($a) % $U32 AS BIGINT), CAST(($b) % $U32 AS BIGINT)))"""
      .stripMargin.replaceAll("\n", " ")

  /** (a · c) mod 2^64 with constant c split c = ch·2^32 + cl, so every
    * intermediate product stays under 2^96 (hugeint-safe). */
  private def duckMul64(a: String, c: Long): String = {
    val cl = java.lang.Long.toUnsignedString(c & 0xffffffffL)
    val ch = java.lang.Long.toUnsignedString(c >>> 32)
    s"""((($a) * $cl + ((($a) * $ch) % $U32) * $U32) % $U64)"""
  }

  /** DuckDB mirror of [[kmvTokens]]. The mirror is free to take the slow
    * road (DISTINCT per-source grams first, then hash the distinct set —
    * the k-min of distinct hashes is exactly what the in-heap dedup
    * computes from the raw stream); the Murmur3 fmix64 steps run as a CTE
    * chain of hugeint ops bitwise-equal to Java Long arithmetic. */
  def duckKmvTokensSql(seqsSql: String, k: Int): String = {
    import graft.functions.expressions.KmvMix
    val k3 = java.lang.Long.toUnsignedString(KmvMix.K3)
    val shift33 = "8589934592" // 2^33
    val mask60 = "1152921504606846976" // 2^60
    def xs(x: String) = duckXor64(x, s"(($x) // $shift33)")
    s"""WITH seqs AS ($seqsSql),
       |salt AS (
       |  SELECT source,
       |    CAST(('0x' || substr(md5('kmv:' || source), 1, 15))::BIGINT
       |      AS HUGEINT) AS salt
       |  FROM (SELECT DISTINCT source FROM seqs)),
       |bi AS MATERIALIZED (
       |  SELECT DISTINCT source,
       |    (z[1] + 2048)::BIGINT * 4096 + (z[2] + 2048) AS gram
       |  FROM (SELECT source, unnest(list_zip(tokens[1:-2], tokens[2:-1])) AS z
       |        FROM seqs)),
       |m0 AS (
       |  SELECT b.source,
       |    (s.salt + CAST(b.gram AS HUGEINT) * $k3) % $U64 AS x
       |  FROM bi b JOIN salt s ON b.source = s.source),
       |m1 AS (SELECT source, ${xs("x")} AS x FROM m0),
       |m2 AS (SELECT source, ${duckMul64("x", KmvMix.C1)} AS x FROM m1),
       |m3 AS (SELECT source, ${xs("x")} AS x FROM m2),
       |m4 AS (SELECT source, ${duckMul64("x", KmvMix.C2)} AS x FROM m3),
       |m5 AS (SELECT source, ${xs("x")} AS x FROM m4),
       |h AS (SELECT DISTINCT source, CAST(x % $mask60 AS BIGINT) AS h FROM m5),
       |per_source AS MATERIALIZED (
       |  SELECT source, (list(h ORDER BY h))[1:$k] AS hs
       |  FROM h GROUP BY 1),
       |merged AS (
       |  SELECT '__all__' AS source,
       |    (SELECT (list(x ORDER BY x))[1:$k]
       |     FROM (SELECT unnest(hs) AS x FROM per_source)) AS hs),
       |sk AS (
       |  SELECT source, hs[$k] AS kth_min, len(hs) AS n_kept
       |  FROM (SELECT * FROM per_source UNION ALL SELECT * FROM merged))
       |SELECT source, kth_min,
       |  CASE WHEN n_kept < $k OR kth_min IS NULL
       |    THEN CAST(n_kept AS DOUBLE)
       |    ELSE CAST(${k - 1} AS DOUBLE) * CAST($KmvRange AS DOUBLE)
       |         / CAST(kth_min AS DOUBLE) END AS est_distinct
       |FROM sk""".stripMargin
  }

  // ------------------------------------------------------------------
  // HyperLogLog distinct-count sketch
  // ------------------------------------------------------------------

  /** HLL register width: 60-bit md5 hash → p index bits + (60 − p)
    * pattern bits, so an all-zero pattern word gets rho = 61 − p. */
  private def hllMaxRho(p: Int): Int = 61 - p

  /** HyperLogLog distinct-count report over the distinct source-bigram
    * sets — the fixed-size (2^p registers) counterpart of [[kmvReport]]'s
    * k-min sketch. Where KMV salts hashes per source (disjoint key sets,
    * merged row = SUM of per-source distincts), HLL here hashes the gram
    * UNSALTED, so the `__all__` row is the element-wise MAX merge of the
    * per-source register tables — the true union-cardinality merge that
    * makes HLL the industry-standard distributed sketch: registers built
    * on 1000 executors (or 1000 days of increments) combine with max, no
    * rescan.
    *
    * == Determinism / parity ==
    * Registers are exact integers: bucket = h mod 2^p, rho = index of the
    * lowest set bit of the pattern word via `bit_count((w & -w) - 1) + 1`
    * (pure integer ops, identical both engines). The harmonic-mean
    * denominator is kept in EXACT fixed point — each register contributes
    * `2^(54 − reg)` (an integer shift; Σ ≤ 2^p·2^54 = 2^62 fits int64) —
    * so `sum_scaled` is an order-free integer sum. `raw_est` =
    * `alpha·m²·2^54 / sum_scaled` is ONE IEEE divide of a shared decimal
    * constant by an exact integer; the small-range linear-counting branch
    * (`m·ln(m/V)`, V = zero registers > 0 and raw_est ≤ 2.5m) is
    * micro-quantized to int64 — its ln argument set is ≤ m small
    * rationals, the [[graft.ops.FeatureSelect]] micro-nat rule.
    *
    * The exact per-source/global distinct counts exist only because the
    * report *measures* the sketch error (the [[countMinReport]] rule);
    * production keeps the 2^p-row register table alone.
    *
    * == Plan shape ==
    * ONE corpus-sized pass, and the physical plan is a straight pipeline —
    * no operator tree diamond anywhere (a diamond over the corpus subtree
    * is only safe if ReusedExchange fires, and column pruning makes the
    * branches non-canonical; the first form of this query re-ran the
    * corpus explode up to 7× — 7 Generate nodes, 24 s vs ~2 s at sf0.1).
    * The dedup and the first-source marking fuse into ONE `groupBy(gram)`
    * with `sort_array(collect_set(source))` (set size ≤ |sources|, so the
    * map-side partials stay tiny even for hot grams), the 60-bit hash /
    * bucket / rho are computed once per DISTINCT GRAM (2.0 M at sf0.1, vs
    * 9.65 M (source, gram) pairs), and ONE GROUPING SETS aggregation —
    * ((source, bucket), (bucket)) — builds the per-source register tables
    * and the `__all__` union row together: bucket/rho are functions of the
    * gram alone, so the global register is the max over all rows, and the
    * global exact tally counts each gram only at its first (sorted-set
    * position 0) source. The element-wise-max union merge (registers built
    * on 1000 executors or 1000 days of increments combine with max, no
    * rescan) is thereby computed in the same pass that builds the
    * per-source sketches; everything after the gram aggregation is vocab-
    * then register-bounded. */
  def hllReport(seqs: DataFrame, p: Int): DataFrame = {
    graft.functions.expressions.register(seqs.sparkSession)
    val m = 1 << p
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    // alpha·m²·2^54 — rendered via Double.toString so the DuckDB mirror
    // parses the bit-identical constant
    val numer = alpha * m * m * math.pow(2.0, 54)
    val rho =
      s"""IF(h DIV $m = 0, ${hllMaxRho(p)},
         |   CAST(bit_count(((h DIV $m) & -(h DIV $m)) - 1) AS INT) + 1)"""
        .stripMargin
    val marked = seqs
      .select(col("source"),
        explode(expr("graft_pack_ngrams(tokens, 2)")).as("gram"))
      .groupBy(col("gram"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .withColumn("h",
        conv(substring(md5(concat(lit("hll:"), col("gram").cast("string"))),
          1, 15), 16, 10).cast("long"))
      .select(posexplode(col("srcs")).as(Seq("pos", "source")),
        (col("h") % m).cast("int").as("bucket"), expr(rho).as("rho"))
      .select(col("source"), (col("pos") === 0).cast("long").as("is_first"),
        col("bucket"), col("rho"))
    val regs = marked
      .groupingSets(Seq(Seq(col("source"), col("bucket")), Seq(col("bucket"))),
        col("source"), col("bucket"))
      .agg(max(col("rho")).as("reg"), count(lit(1)).as("cnt_rows"),
        sum(col("is_first")).as("cnt_first"),
        grouping(col("source")).as("is_union"))
      .select(
        when(col("is_union") === 1, lit("__all__")).otherwise(col("source"))
          .as("source"),
        col("reg"),
        when(col("is_union") === 1, col("cnt_first"))
          .otherwise(col("cnt_rows")).as("cnt"))
    regs
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_used"),
        sum(expr("IF(reg <= 54, shiftleft(CAST(1 AS BIGINT), 54 - reg), " +
          "CAST(0 AS BIGINT))")).as("sum_present"),
        sum(col("cnt")).as("n_exact"))
      .select(col("source"),
        (lit(m.toLong) - col("n_used")).as("n_zero"),
        (col("sum_present") +
          (lit(m.toLong) - col("n_used")) * lit(1L << 54)).as("sum_scaled"),
        col("n_exact"))
      .withColumn("raw_est",
        lit(numer) / col("sum_scaled").cast("double"))
      .withColumn("est_micro", expr(
        s"""CASE WHEN n_zero > 0 AND raw_est <= CAST(${5L * m / 2} AS DOUBLE)
           |  THEN CAST(floor(CAST($m AS DOUBLE) * ln(CAST($m AS DOUBLE)
           |    / CAST(n_zero AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
           |  ELSE CAST(floor(raw_est * 1000000.0 + 0.5) AS BIGINT)
           |END""".stripMargin))
      .select(col("source"), col("n_zero"), col("sum_scaled"),
        col("raw_est"), col("est_micro"), col("n_exact"))
  }

  /** Production HLL: fused token-array registers, sketch-only. ONE pass —
    * [[graft.functions.expressions.HllTokensAgg]] packs each bigram,
    * mixes it UNSALTED (fixed seed) through the integer Murmur3 finalizer
    * and max-updates the 2^p-byte register table in-state (max is
    * duplicate-insensitive, so the raw gram stream needs no distinct and
    * no per-occurrence hash strings — the [[kmvTokens]] fix applied to
    * HLL). The `__all__` row is the element-wise max of the collected
    * per-source register tables (sources × 2^p bytes — model-sized), and
    * the estimator math runs on the driver over exact integer inputs with
    * the identical formulas as [[hllReport]] (whose error-report form,
    * with its exact-distinct side, stays the accuracy oracle). */
  /** HLL estimator over a register table: `(n_zero, sum_scaled, raw_est,
    * est_micro)` — the identical fixed-point + linear-counting rules as
    * [[hllReport]], shared by [[hllSketch]] and the streaming form
    * ([[graft.streaming.StreamOps.hllStream]]). */
  def hllEstimate(regs: Array[Int], p: Int): (Long, Long, Double, Long) = {
    val m = 1 << p
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val numer = alpha * m * m * math.pow(2.0, 54)
    val nZero = regs.count(_ == 0).toLong
    var sumScaled = 0L
    for (r <- regs) sumScaled += (if (r <= 54) 1L << (54 - r) else 0L)
    val rawEst = numer / sumScaled.toDouble
    val estMicro =
      if (nZero > 0 && rawEst <= 5L * m / 2)
        math.floor(m.toDouble * math.log(m.toDouble / nZero.toDouble)
          * 1000000.0 + 0.5).toLong
      else math.floor(rawEst * 1000000.0 + 0.5).toLong
    (nZero, sumScaled, rawEst, estMicro)
  }

  def hllSketch(seqs: DataFrame, p: Int): DataFrame = {
    val spark = seqs.sparkSession
    graft.functions.expressions.register(spark)
    val m = 1 << p
    val per = seqs.groupBy(col("source"))
      .agg(expr(s"graft_hll_tokens(tokens, $p)").as("regs"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Int](1).toArray)
    val union = new Array[Int](m)
    for ((_, regs) <- per; i <- 0 until m)
      if (regs(i) > union(i)) union(i) = regs(i)
    def estRow(source: String, regs: Array[Int]): org.apache.spark.sql.Row = {
      val (nZero, sumScaled, rawEst, estMicro) = hllEstimate(regs, p)
      org.apache.spark.sql.Row(source, nZero, sumScaled, rawEst, estMicro)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("n_zero",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("sum_scaled",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("raw_est",
        org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("est_micro",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val rows = per.toSeq.map { case (s, r) => estRow(s, r) } :+
      estRow("__all__", union)
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
  }

  /** DuckDB mirror of [[hllSketch]] — distinct grams (dedup-insensitive
    * max makes the slow road exact), the hugeint rendering of the same
    * unsalted mixer, identical register/fixed-point/correction rules. */
  def duckHllSketchSql(seqsSql: String, p: Int): String = {
    import graft.functions.expressions.{KmvMix, HllTokensAgg}
    val m = 1 << p
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val numer = alpha * m * m * math.pow(2.0, 54)
    val k3 = java.lang.Long.toUnsignedString(KmvMix.K3)
    val shift33 = "8589934592"
    val mask60 = "1152921504606846976"
    def xs(x: String) = duckXor64(x, s"(($x) // $shift33)")
    s"""WITH seqs AS ($seqsSql),
       |bi AS MATERIALIZED (
       |  SELECT DISTINCT source,
       |    (z[1] + 2048)::BIGINT * 4096 + (z[2] + 2048) AS gram
       |  FROM (SELECT source, unnest(list_zip(tokens[1:-2], tokens[2:-1])) AS z
       |        FROM seqs)),
       |gr AS MATERIALIZED (SELECT DISTINCT gram FROM bi),
       |m0 AS (
       |  SELECT gram,
       |    (CAST(${HllTokensAgg.HllSalt} AS HUGEINT)
       |     + CAST(gram AS HUGEINT) * $k3) % $U64 AS x
       |  FROM gr),
       |m1 AS (SELECT gram, ${xs("x")} AS x FROM m0),
       |m2 AS (SELECT gram, ${duckMul64("x", KmvMix.C1)} AS x FROM m1),
       |m3 AS (SELECT gram, ${xs("x")} AS x FROM m2),
       |m4 AS (SELECT gram, ${duckMul64("x", KmvMix.C2)} AS x FROM m3),
       |m5 AS (SELECT gram, ${xs("x")} AS x FROM m4),
       |gh AS MATERIALIZED (
       |  SELECT gram, CAST(x % $mask60 AS BIGINT) AS h FROM m5),
       |h AS (SELECT bi.source, gh.h FROM bi JOIN gh USING (gram)),
       |regs_src AS MATERIALIZED (
       |  SELECT source, CAST(h % $m AS INTEGER) AS bucket,
       |    max(CASE WHEN h // $m = 0 THEN ${hllMaxRho(p)}
       |        ELSE CAST(bit_count(((h // $m) & -(h // $m)) - 1) AS INTEGER)
       |             + 1 END) AS reg
       |  FROM h GROUP BY 1, 2),
       |regs AS (
       |  SELECT * FROM regs_src
       |  UNION ALL
       |  SELECT '__all__' AS source, bucket, max(reg) AS reg
       |  FROM regs_src GROUP BY bucket),
       |est AS (
       |  SELECT source,
       |    CAST($m - count(*) AS BIGINT) AS n_zero,
       |    CAST(CAST(sum(CASE WHEN reg <= 54
       |            THEN (CAST(1 AS BIGINT) << (54 - reg))
       |            ELSE 0 END) AS BIGINT)
       |      + ($m - count(*)) * (CAST(1 AS BIGINT) << 54) AS BIGINT)
       |      AS sum_scaled
       |  FROM regs GROUP BY 1),
       |est2 AS (
       |  SELECT source, n_zero, sum_scaled,
       |    CAST($numer AS DOUBLE) / CAST(sum_scaled AS DOUBLE) AS raw_est
       |  FROM est)
       |SELECT source, n_zero, sum_scaled, raw_est,
       |  CASE WHEN n_zero > 0 AND raw_est <= CAST(${5L * m / 2} AS DOUBLE)
       |    THEN CAST(floor(CAST($m AS DOUBLE) * ln(CAST($m AS DOUBLE)
       |      / CAST(n_zero AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
       |    ELSE CAST(floor(raw_est * 1000000.0 + 0.5) AS BIGINT)
       |  END AS est_micro
       |FROM est2""".stripMargin
  }

  /** DuckDB mirror of [[hllReport]] — same hash, register, fixed-point
    * and correction rules (sums cast back to BIGINT against HUGEINT
    * widening). */
  def duckHllSql(seqsSql: String, p: Int): String = {
    val m = 1 << p
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val numer = alpha * m * m * math.pow(2.0, 54)
    s"""WITH seqs AS ($seqsSql),
       |bi AS MATERIALIZED (
       |  SELECT DISTINCT source,
       |    (z[1] + 2048)::BIGINT * 4096 + (z[2] + 2048) AS gram
       |  FROM (SELECT source, unnest(list_zip(tokens[1:-2], tokens[2:-1])) AS z
       |        FROM seqs)),
       |h AS (
       |  SELECT source,
       |    ('0x' || substr(md5('hll:' || gram), 1, 15))::BIGINT AS h
       |  FROM bi),
       |regs_src AS MATERIALIZED (
       |  SELECT source, CAST(h % $m AS INTEGER) AS bucket,
       |    max(CASE WHEN h // $m = 0 THEN ${hllMaxRho(p)}
       |        ELSE CAST(bit_count(((h // $m) & -(h // $m)) - 1) AS INTEGER)
       |             + 1 END) AS reg
       |  FROM h GROUP BY 1, 2),
       |regs AS (
       |  SELECT * FROM regs_src
       |  UNION ALL
       |  SELECT '__all__' AS source, bucket, max(reg) AS reg
       |  FROM regs_src GROUP BY bucket),
       |est AS (
       |  SELECT source,
       |    CAST($m - count(*) AS BIGINT) AS n_zero,
       |    CAST(CAST(sum(CASE WHEN reg <= 54
       |            THEN (CAST(1 AS BIGINT) << (54 - reg))
       |            ELSE 0 END) AS BIGINT)
       |      + ($m - count(*)) * (CAST(1 AS BIGINT) << 54) AS BIGINT)
       |      AS sum_scaled
       |  FROM regs GROUP BY 1),
       |est2 AS (
       |  SELECT source, n_zero, sum_scaled,
       |    CAST($numer AS DOUBLE) / CAST(sum_scaled AS DOUBLE) AS raw_est
       |  FROM est),
       |est3 AS (
       |  SELECT source, n_zero, sum_scaled, raw_est,
       |    CASE WHEN n_zero > 0 AND raw_est <= CAST(${5L * m / 2} AS DOUBLE)
       |      THEN CAST(floor(CAST($m AS DOUBLE) * ln(CAST($m AS DOUBLE)
       |        / CAST(n_zero AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
       |      ELSE CAST(floor(raw_est * 1000000.0 + 0.5) AS BIGINT)
       |    END AS est_micro
       |  FROM est2),
       |n_src AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_exact
       |  FROM bi GROUP BY 1
       |  UNION ALL
       |  SELECT '__all__' AS source,
       |    CAST(count(DISTINCT gram) AS BIGINT) AS n_exact
       |  FROM bi)
       |SELECT e.source, e.n_zero, e.sum_scaled, e.raw_est, e.est_micro,
       |  n.n_exact
       |FROM est3 e JOIN n_src n USING (source)""".stripMargin
  }

  // ------------------------------------------------------------------
  // Bloom-filter join pruning
  // ------------------------------------------------------------------

  /** Bloom-filter semi-join pruning report: build an `m`-bit / `j`-hash
    * Bloom filter over `member`'s keys, probe every `universe` key, and
    * report `(n_universe, n_member, n_pass, n_false_pos, fp_rate)` in one
    * row — the pre-shuffle fact-table pruning step of a selective
    * dim-filter join (Spark's own runtime row-group Bloom pushdown,
    * expressed as an explicit operator with a measured error).
    *
    * == Scale shape ==
    * The filter is the distinct SET-BIT POSITION table (≤ m rows — bounded
    * by the filter size, not the member count), built with one shuffle
    * over the small side and BROADCAST to the probe; per-partition bit-set
    * partials OR together (here: distinct of unioned position sets), so
    * the build is mergeable. The probe is a narrow broadcast hash join —
    * the big side never shuffles, which is the entire point: at 100 TB the
    * pruned fact scan feeds the real join with (1 − pass_rate) of its
    * shuffle deleted, at the cost of `fp_rate` stowaways the exact join
    * later drops. No false negatives by construction (every member bit is
    * set). */
  def bloomPruneReport(universe: DataFrame, key: Column, memberPred: Column,
                       m: Int, j: Int): DataFrame = {
    val keyed = universe.select(key.cast("string").as("k"),
      memberPred.as("is_member"))
    val pos = (r: Int) =>
      Sampling.md5Slot(concat(lit(s"bf$r:"), col("k")), m)
    val withPos = keyed.select(col("k"), col("is_member"),
      explode(array((0 until j).map(pos): _*)).as("p")).distinct()
    val bits = withPos.filter(col("is_member")).select(col("p")).distinct()
    val probed = withPos
      .join(broadcast(bits.withColumn("hit", lit(1))), Seq("p"), "left_outer")
      .groupBy(col("k"), col("is_member"))
      .agg(count(lit(1)).as("n_pos"), count(col("hit")).as("n_hit"))
      .withColumn("pass", col("n_pos") === col("n_hit"))
    probed.agg(
        count(lit(1)).as("n_universe"),
        sum(when(col("is_member"), 1L).otherwise(0L)).as("n_member"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
        sum(when(col("pass") && !col("is_member"), 1L).otherwise(0L))
          .as("n_false_pos"))
      .select(col("n_universe"), col("n_member"), col("n_pass"),
        col("n_false_pos"),
        (col("n_false_pos").cast("double") /
          (col("n_universe") - col("n_member")).cast("double")).as("fp_rate"))
  }

  /** DuckDB mirror of [[bloomPruneReport]] over a `(k, is_member)` SELECT. */
  def duckBloomSql(keyedSql: String, m: Int, j: Int): String =
    s"""WITH keyed AS ($keyedSql),
       |with_pos AS MATERIALIZED (
       |  SELECT DISTINCT k, is_member,
       |    ${Sampling.duckMd5Slot("'bf' || r || ':' || k", m)} AS p
       |  FROM keyed CROSS JOIN (SELECT unnest(range(0, $j)) AS r)),
       |bits AS (
       |  SELECT DISTINCT p FROM with_pos WHERE is_member),
       |probed AS (
       |  SELECT w.k, w.is_member, count(*) AS n_pos, count(b.p) AS n_hit
       |  FROM with_pos w LEFT JOIN bits b ON b.p = w.p
       |  GROUP BY 1, 2)
       |SELECT CAST(count(*) AS BIGINT) AS n_universe,
       |  CAST(sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_member,
       |  CAST(sum(CASE WHEN n_pos = n_hit THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_pass,
       |  CAST(sum(CASE WHEN n_pos = n_hit AND NOT is_member THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_false_pos,
       |  CAST(sum(CASE WHEN n_pos = n_hit AND NOT is_member THEN 1 ELSE 0 END)
       |    AS DOUBLE)
       |  / CAST(count(*) - sum(CASE WHEN is_member THEN 1 ELSE 0 END)
       |    AS DOUBLE) AS fp_rate
       |FROM probed""".stripMargin

  // ------------------------------------------------------------------
  // skip-gram pair generation
  // ------------------------------------------------------------------

  /** Top-`topK` skip-gram context pairs: for every position `i` and
    * distance `d ∈ [1, window]`, count the ordered pair
    * `(tokens[i], tokens[i+d])`; output
    * `(t1, t2, dist, c)` for the `topK` most frequent, ties broken by
    * `(t1, t2, dist)` — the training-pair generator of a word2vec-style
    * embedding step, with the distance kept as a column (distance-weighted
    * subsampling happens downstream).
    *
    * == Scale shape ==
    * Pair generation is a NARROW per-row pass over the token array by the
    * native [[graft.functions.expressions.GramCounts]] kernel (one int64
    * code per distinct pair of the doc, counted in the row — the
    * `(t+2048)`-gram convention — so the shuffle carries 8-byte keys, no
    * structs); counting is one hash
    * exchange with map-side partials over a key space bounded by
    * `vocab² × window`, and top-k is `orderBy(...).limit` = distributed
    * take-ordered, never a global sort. */
  def skipgramTop(seqs: DataFrame, window: Int, topK: Int): DataFrame = {
    graft.functions.expressions.register(seqs.sparkSession)
    // r6: per-doc COUNTED codes off the native sort+RLE kernel — the
    // global count aggregation and its exchange see each doc's distinct
    // codes once (~2.4× fewer rows) instead of every instance
    countedGrams(seqs, GramShape.skip(window))
      .groupBy(col("gram").as("code")).agg(sum(col("n")).as("c"))
      .select(
        expr("CAST(code div 4 div 4096 - 2048 AS INT)").as("t1"),
        expr("CAST(code div 4 % 4096 - 2048 AS INT)").as("t2"),
        expr("CAST(code % 4 AS INT)").as("dist"),
        col("c"))
      .orderBy(col("c").desc, col("t1"), col("t2"), col("dist"))
      .limit(topK)
  }

  /** DuckDB mirror of [[skipgramTop]] (UNION ALL branch per distance). */
  def duckSkipgramSql(seqsSql: String, window: Int, topK: Int): String = {
    val branches = (1 to window).map { d =>
      s"""  SELECT ((z[1] + 2048)::BIGINT * 4096 + (z[2] + 2048)) * 4 + $d
         |    AS code
         |  FROM (SELECT unnest(list_zip(tokens[1:-${d + 1}],
         |                               tokens[${d + 1}:-1])) AS z
         |        FROM seqs)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH seqs AS MATERIALIZED ($seqsSql),
       |inst AS (
       |$branches)
       |SELECT CAST(code // 4 // 4096 - 2048 AS INTEGER) AS t1,
       |  CAST(code // 4 % 4096 - 2048 AS INTEGER) AS t2,
       |  CAST(code % 4 AS INTEGER) AS dist,
       |  CAST(count(*) AS BIGINT) AS c
       |FROM inst
       |GROUP BY code
       |ORDER BY c DESC, t1, t2, dist
       |LIMIT $topK""".stripMargin
  }

  /** Mergeable equal-width histogram QUANTILE sketch over `n_tok`, per
    * source plus a merged `__all__` row — the quantile member of the
    * sketch family (CMS = frequency, KMV/HLL = distinct, Bloom =
    * membership, SpaceSaving = heavy hitters).
    *
    * State = at most `nBins` integer counters per group over the known
    * token-cap domain `[0, nBins·width)` — bounded, commutative,
    * trivially mergeable (bin counts add), so the aggregation is one
    * map-side-combined shuffle of `(source, bin)` partials regardless of
    * corpus size; at 10^12 rows nothing but ≤ sources × nBins aggregate
    * rows ever moves. The quantile-q estimate is the upper edge of the
    * first bin whose cumulative count reaches `ceil(q·n)`, so the
    * a-priori error bound is one bin width (`err_bound` column). The
    * EXACT quantile (the same smallest-value-with-rank rule over raw
    * values — a per-source sort that exists only as the accuracy oracle)
    * rides the report as `exact_v`; `abs_err` measures the sketch and is
    * provably < width. All columns are integers or exact integer
    * arithmetic — bitwise across engines and partitionings.
    *
    * PRECONDITION (the err < width bound): the value domain must fit the
    * grid — `nBins · width > max(value)` — else values past the grid
    * clamp into the top bin, where the estimate can fall BELOW `exact_v`
    * by more than one width. The registered dials (256 × 32 vs the 8192
    * token cap) satisfy this with 8192 = nBins·width reaching the cap
    * exactly (worst-case err 1); a future dial change must re-check it
    * (r5 ADVICE note). */
  def quantileHistogram(seqs: DataFrame, nBins: Int, width: Int,
                        qPcts: Seq[Int]): DataFrame = {
    val qs = array(qPcts.map(lit): _*)
    // ONE corpus pass builds the per-source histograms AND the merged
    // `__all__` row together (GROUPING SETS — the [[hllReport]] union
    // idiom; bin counts add, so the union row is the same aggregation
    // one grouping coarser).
    def grouped(keyCol: String, keyed: DataFrame): DataFrame = keyed
      .groupingSets(
        Seq(Seq(col("source"), col(keyCol)), Seq(col(keyCol))),
        col("source"), col(keyCol))
      .agg(count(lit(1)).as("cnt"), grouping(col("source")).as("is_union"))
      .select(
        when(col("is_union") === 1, lit("__all__")).otherwise(col("source"))
          .as("source"),
        col(keyCol), col("cnt"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("bin"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
    val hist = grouped("bin", seqs
        .select(col("source"),
          expr(s"least(n_tok div $width, ${nBins - 1})").as("bin")))
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
    val est = hist
      .withColumn("q_pct", explode(qs))
      .filter(expr("cum >= (q_pct * n + 99) div 100"))
      .groupBy(col("source"), col("q_pct"), col("n"))
      .agg(min(expr(s"(bin + 1) * $width - 1")).as("est"))
    val wVCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("n_tok"))
    val wVAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
    val exact = grouped("n_tok", seqs.select(col("source"), col("n_tok")))
      .withColumn("cum", sum(col("cnt")).over(wVCum))
      .withColumn("n", sum(col("cnt")).over(wVAll))
      .withColumn("q_pct", explode(qs))
      .filter(expr("cum >= (q_pct * n + 99) div 100"))
      .groupBy(col("source"), col("q_pct"))
      .agg(min(expr("CAST(n_tok AS BIGINT)")).as("exact_v"))
    est.join(exact, Seq("source", "q_pct"))
      .select(col("source"), col("q_pct"), col("n"), col("est"),
        col("exact_v"),
        expr("abs(est - exact_v)").as("abs_err"),
        lit(width.toLong).as("err_bound"))
  }

  /** DuckDB mirror of [[quantileHistogram]]. */
  def duckQuantileHistSql(seqsSql: String, nBins: Int, width: Int,
                          qPcts: Seq[Int]): String =
    s"""WITH seqs AS MATERIALIZED ($seqsSql),
       |q AS (SELECT unnest([${qPcts.mkString(", ")}]) AS q_pct),
       |h AS (
       |  SELECT CASE WHEN GROUPING(source) = 1 THEN '__all__' ELSE source
       |         END AS source,
       |    bin, count(*) AS cnt
       |  FROM (SELECT source,
       |          least(CAST(n_tok AS BIGINT) // $width, ${nBins - 1}) AS bin
       |        FROM seqs)
       |  GROUP BY GROUPING SETS ((source, bin), (bin))),
       |c AS (
       |  SELECT source, bin,
       |    sum(cnt) OVER (PARTITION BY source ORDER BY bin) AS cum,
       |    sum(cnt) OVER (PARTITION BY source) AS n
       |  FROM h),
       |est AS (
       |  SELECT source, q_pct, n,
       |    CAST(min((bin + 1) * $width - 1) AS BIGINT) AS est
       |  FROM c CROSS JOIN q
       |  WHERE cum >= (q_pct * n + 99) // 100
       |  GROUP BY 1, 2, 3),
       |vc AS (
       |  SELECT source, n_tok,
       |    sum(cnt) OVER (PARTITION BY source ORDER BY n_tok) AS cum,
       |    sum(cnt) OVER (PARTITION BY source) AS n
       |  FROM (SELECT CASE WHEN GROUPING(source) = 1 THEN '__all__'
       |               ELSE source END AS source,
       |          n_tok, count(*) AS cnt
       |        FROM seqs
       |        GROUP BY GROUPING SETS ((source, n_tok), (n_tok)))),
       |ex AS (
       |  SELECT source, q_pct, CAST(min(n_tok) AS BIGINT) AS exact_v
       |  FROM vc CROSS JOIN q
       |  WHERE cum >= (q_pct * n + 99) // 100
       |  GROUP BY 1, 2)
       |SELECT e.source, e.q_pct, CAST(e.n AS BIGINT) AS n, e.est,
       |  x.exact_v, abs(e.est - x.exact_v) AS abs_err,
       |  CAST($width AS BIGINT) AS err_bound
       |FROM est e JOIN ex x USING (source, q_pct)""".stripMargin
}
