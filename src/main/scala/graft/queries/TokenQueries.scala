package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Framing, Windows}
import graft.features.{Pipeline, PointInTime}
import graft.functions.{Stats, rhythm}
import graft.operators.AsOfJoin
import graft.sources.Seqs

/** Oracle-checked queries over the token-sequence domain: the window /
  * sequential / as-of operator battery of SURVEY.md §2.3–2.5. */
object TokenQueries {

  private def seqs(s: SparkSession, dir: String): DataFrame =
    Seqs.fromDocuments(s, dir)

  private val duckSeqs = s"seqs AS (${Seqs.duckSql})"
  private val duckFrames = s"$duckSeqs,\n${Framing.duckFrameCtes()}"
  private val duckRFrames =
    s"$duckSeqs,\n${Framing.duckFrameCtes(Seqs.RFrameSize, Seqs.RHop, Seqs.SilenceThreshold, "r")}"

  /** Onset detection params (rhythm clock): trailing-median span, threshold
    * above baseline, refractory gap, session gap — analogs of
    * `OnsetDetector.cpp:278-290` / `RhythmTracker.cpp:26-40`. */
  val MedianSpan = rhythm.MedianSpan
  val OnsetThreshold = 150.0
  val RefractoryGap = 12
  val SessionGap = 32

  // ------------------------------------------------------------------

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // corpus vocabulary report: top-100 token values by frequency with
    // rank and cumulative coverage — the "what covers X% of the corpus"
    // query run before choosing a tokenizer/vocab cut. One exchange
    // (token-keyed count with map-side partials); the ranking window runs
    // over the VOCAB (<= 2^11 distinct values here, bounded by the token
    // alphabet at any corpus size), not the corpus
    "token_vocab" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = seqs(s, dir)
        .select(explode(col("tokens")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
      val ord = Window.orderBy(col("cnt").desc, col("token"))
      counts
        .withColumn("rank", row_number().over(ord))
        .withColumn("cum_frac",
          (sum(col("cnt")).over(ord.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)).cast("double") /
            sum(col("cnt")).over(Window.partitionBy())).cast("double"))
        .filter(col("rank") <= 100)
        .select(col("token"), col("cnt"), col("rank"), col("cum_frac"))
    }),

    // analyser finalize: silent lead/trail strip + zero-pad to frame
    // boundaries + the recorded analyzation offset (SampleAnalyser.cpp:
    // 679-718). All-integer -> the padded array verifies via md5 digest.
    "pad_frames" -> ((s, dir) =>
      seqs(s, dir)
        .withColumn("pf", expr(
          s"graft_pad_frames(tokens, ${Seqs.FrameSize}, ${Seqs.SilenceThreshold})"))
        .select(col("doc_id"),
          col("pf.offset").as("data_offset"),
          col("pf.lead").as("lead"),
          col("pf.trail").as("trail"),
          size(col("pf.tokens")).as("n_padded"),
          expr(s"CASE WHEN size(pf.tokens) >= ${Seqs.FrameSize} THEN " +
            s"CAST((size(pf.tokens) - ${Seqs.FrameSize}) div ${Seqs.Hop} AS INT) + 1 " +
            "ELSE 1 END").as("n_frames_padded"),
          expr("md5(array_join(transform(pf.tokens, x -> CAST(x AS STRING)), ','))")
            .as("padded_md5"))),

    // arbitrary-rate cubic resample (44.1k -> 16k analog over the rhythm
    // series) — rate conversion via the same Catmull-Rom kernel as the
    // fixed-length signature resample, out length derived per row
    "resample_rate" -> ((s, dir) =>
      Framing.withFrames(seqs(s, dir), Seqs.RFrameSize, Seqs.RHop)
        .withColumn("xs", expr("transform(frames, fr -> fr.rms)"))
        .withColumn("rs", expr(
          "graft_cubic_resample(xs, CAST(greatest(1, (size(xs) * 16000) div 44100) AS INT))"))
        .select(col("doc_id"), posexplode(col("rs")).as(Seq("rs_idx", "rs_val")))
        .withColumn("rs_val", expr("IF(rs_val = 0.0, 0.0, rs_val)"))),

    // systematic NaN/Inf guard battery (the reference guards every
    // descriptor append with `IsNaN ? 0 : x` — SampleAnalyser.cpp:1812-1917
    // CalcSpectral* appends): deterministic NaN/Inf injection, guarded
    // fold; counts + guarded sum are exact (ints + zeros)
    "nan_guards" -> ((s, dir) =>
      seqs(s, dir)
        .withColumn("ser", expr(
          """transform(tokens, t -> CASE
            | WHEN t <> 0 AND t % 7 = 0 THEN CAST('NaN' AS DOUBLE)
            | WHEN t <> 0 AND t % 11 = 0 THEN exp(CAST(1000.0 AS DOUBLE))
            | ELSE CAST(t AS DOUBLE) END)""".stripMargin))
        .select(col("doc_id"),
          expr("CAST(size(filter(ser, x -> isnan(x))) AS INT)").as("n_nan"),
          expr("CAST(size(filter(ser, x -> x = CAST('Infinity' AS DOUBLE))) AS INT)")
            .as("n_inf"),
          expr(
            """aggregate(ser, CAST(0.0 AS DOUBLE), (a, x) ->
              | a + CASE WHEN isnan(x) OR x = CAST('Infinity' AS DOUBLE)
              |            OR x = CAST('-Infinity' AS DOUBLE)
              |      THEN CAST(0.0 AS DOUBLE) ELSE x END)""".stripMargin)
            .as("guarded_sum"))),

    // rhythm-clock 13-stat block (second frame clock, SampleAnalyser.cpp:985-998)
    "rframe_stats" -> ((s, dir) => {
      val fr = Framing.withFrames(seqs(s, dir), Seqs.RFrameSize, Seqs.RHop)
        .withColumn("xs", expr("transform(frames, fr -> fr.rms)"))
        .withColumn("__st", expr("graft_stats_block(xs)"))
      Stats.StatNames.foldLeft(fr)((d, n) =>
        d.withColumn(s"rrms_$n",
          if (n == "gmean" || n == "flatness") round(col(s"__st.$n"), 6)
          else col(s"__st.$n")))
        .select(Seq(col("doc_id")) ++ Stats.StatNames.map(n => col(s"rrms_$n")): _*)
    }),

    // trailing rolling median (OnsetDetector.cpp:551-570)
    "rolling_median" -> ((s, dir) =>
      Framing.withFrames(seqs(s, dir))
        .withColumn("rms", expr("transform(frames, fr -> fr.rms)"))
        .withColumn("med", expr("graft_trailing_median(rms)"))
        .select(col("doc_id"),
          posexplode(arrays_zip(col("rms"), col("med"))).as(Seq("frame_id", "z")))
        .select(col("doc_id"), col("frame_id"), col("z.rms"), col("z.med"))),

    // forward-fill gated on audibility (SampleAnalyser.cpp:875-917)
    "forward_fill" -> ((s, dir) => {
      Framing.frameRows(seqs(s, dir))
        .withColumn("ffill_rms",
          Windows.forwardFill(col("rms"), col("is_audible"), "doc_id", "frame_id"))
        .select(col("doc_id"), col("frame_id"), col("is_audible"), col("ffill_rms"))
    }),

    // lag-1 with first-row-self semantics (flux contract, SampleAnalyser.cpp:936-940)
    "flux_lag" -> ((s, dir) => {
      Framing.frameRows(seqs(s, dir))
        .withColumn("prev_rms", Windows.lagSelf(col("rms"), "doc_id", "frame_id"))
        .withColumn("drms", col("rms") - col("prev_rms"))
        .select(col("doc_id"), col("frame_id"), col("rms"), col("prev_rms"), col("drms"))
    }),

    // envelope follower final/extrema (Envelopes.inl:14-18) — per-doc scan
    "envelope_doc" -> ((s, dir) => {
      Framing.withFrames(seqs(s, dir))
        .withColumn("xs", expr("transform(frames, fr -> fr.rms)"))
        .withColumn("env", expr(
          s"graft_envelope_scan(xs, CAST(${Pipeline.EnvCoef} AS DOUBLE))"))
        .select(col("doc_id"),
          expr("element_at(env, -1)").as("env_final"),
          array_max(col("env")).as("env_max"),
          array_min(col("env")).as("env_min"),
          size(col("env")).as("n_frames"))
    }),

    // 48-offset point-in-time sampling (SampleClassificationDescriptors.cpp:38-102).
    // Exploded to (doc_id, fv_idx, fv_val) scalar rows so the driver's
    // pandas hasher can verify every element bitwise (it can't hash array
    // cells); -0.0 canonicalized to 0.0 at the query boundary in BOTH
    // dialects (the engines agree on values but may disagree on zero sign).
    "fv_rms" -> ((s, dir) => {
      Framing.withFrames(seqs(s, dir))
        .withColumn("rms_series", expr("transform(frames, fr -> fr.rms)"))
        .select(col("doc_id"), PointInTime.sampleOffsets("rms_series").as("fv"))
        .select(col("doc_id"), posexplode(col("fv")).as(Seq("fv_idx", "fv_val")))
        .withColumn("fv_val", expr("IF(fv_val = 0.0, 0.0, fv_val)"))
    }),

    // general as-of join: probe grid ⋈ frame series (north-rule operator)
    "pit_asof" -> ((s, dir) => {
      val sq = seqs(s, dir)
      val probes = sq.select(col("doc_id"),
        explode(expr("array(0, 2, 4, 8, 16, 32)")).as("t"))
      val series = Framing.frameRows(sq)
        .select(col("doc_id"), col("frame_id"), col("rms"))
      AsOfJoin.asOf(probes, series, "doc_id", "t", "frame_id", Seq("rms"))
        .withColumnRenamed("rms", "rms_asof")
    }),

    // skew-safe as-of join on the COARSE key (source — a handful of hot
    // values each holding a large corpus fraction): the salted variant must
    // produce exactly what the unsalted one (and DuckDB ASOF) produces.
    // Probes are per-doc (t = n_tok - 7, so most probes fall strictly
    // between series points), series is the per-(source, n_tok) doc count.
    "asof_salted" -> ((s, dir) => {
      val sq = seqs(s, dir)
      val ser = sq.groupBy(col("source"), col("n_tok"))
        .agg(count(lit(1)).as("grp_docs"))
      val probes = sq.select(col("source"), col("doc_id"),
        (col("n_tok") - 7).as("t"))
      AsOfJoin.asOfSalted(probes, ser, "source", "t", "n_tok",
          Seq("grp_docs"), Map("grp_docs" -> lit(-1L)), salts = 8)
        .select(col("doc_id"), col("source"), col("t"), col("grp_docs"))
    }),

    // onset pipeline: trailing-median baseline → rising edge → refractory →
    // sessionization (OnsetDetector.cpp:551-587, RhythmTracker.cpp:99-134)
    "onsets" -> ((s, dir) =>
      RhythmQueries.rhythmSeries(s, dir)
        .withColumn("onset_frames", expr(
          s"""graft_rising_edges(
             |  zip_with(rser, graft_trailing_median(rser), (r, m) -> r - m),
             |  CAST($OnsetThreshold AS DOUBLE))""".stripMargin))
        .withColumn("n_raw", size(col("onset_frames")))
        .withColumn("kept", Windows.refractoryExpr("onset_frames", RefractoryGap))
        .withColumn("n_kept", size(col("kept")).cast("int"))
        .withColumn("first_onset",
          coalesce(expr("CAST(get(kept, 0) AS INT)"), lit(-1)))
        .withColumn("n_sessions", expr(
          s"""CAST(IF(size(kept) = 0, 0,
             | 1 + size(filter(
             |   zip_with(slice(kept, 2, size(kept) - 1),
             |            slice(kept, 1, size(kept) - 1),
             |            (a, b) -> a - b),
             |   d -> d > $SessionGap))) AS INT)""".stripMargin))
        .select(col("doc_id"), col("n_raw"), col("n_kept"),
          col("first_onset"), col("n_sessions"))),

    // JSON array encode/decode round-trip (SQLite JSON column analog,
    // SqliteSampleDescriptorPool.cpp:316-458 / 151-310)
    "json_roundtrip" -> ((s, dir) => {
      seqs(s, dir)
        .withColumn("tokens_json", to_json(col("tokens")))
        .withColumn("parsed", from_json(col("tokens_json"),
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.IntegerType)))
        .select(col("doc_id"),
          length(col("tokens_json")).as("json_len"),
          (col("parsed") === col("tokens")).as("roundtrip_ok"))
    }),

    // change-list / incremental-scan semantics (Crawler.cpp:934-998)
    "changelist" -> ((s, dir) => {
      val src = seqs(s, dir).select(col("doc_id"), col("n_tok"))
      val dnum = expr("CAST(substring(doc_id, 2) AS INT)")
      val dst = src.filter(dnum % 10 < 7)
        .withColumn("n_tok_stored",
          when(dnum % 10 === 3 || dnum % 10 === 4, col("n_tok") - 1)
            .otherwise(col("n_tok")))
        .select(col("doc_id"), col("n_tok_stored"))
        .unionByName(s.range(1).select(
          lit("d999999").as("doc_id"), lit(0).as("n_tok_stored")))
      val adds = src.join(dst, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit("add").as("action"))
      val updates = src.join(dst, Seq("doc_id"))
        .filter(col("n_tok") =!= col("n_tok_stored"))
        .select(col("doc_id"), lit("update").as("action"))
      val deletes = dst.join(src, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit("delete").as("action"))
      adds.unionByName(updates).unionByName(deletes)
    })
  )

  // ------------------------------------------------------------------

  private def duckStatsRounded(prelude: String, inner: String, p: String): String = {
    val block = Stats.duckBlock(inner, Seq("doc_id"), "xs", p, prelude)
    val outer = Seq("doc_id") ++ Stats.StatNames.map {
      case n @ ("gmean" | "flatness") => s"round(${p}_$n, 6) AS ${p}_$n"
      case n => s"${p}_$n"
    }
    s"SELECT ${outer.mkString(", ")} FROM ($block)"
  }

  def oracles: Map[String, String] = Map(

    "token_vocab" ->
      s"""WITH seqs AS (${Seqs.duckSql}),
         |t AS (SELECT unnest(tokens) AS token FROM seqs),
         |c AS (SELECT token, count(*) AS cnt FROM t GROUP BY token),
         |r AS (
         |  SELECT token, CAST(cnt AS BIGINT) AS cnt,
         |    CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INTEGER)
         |      AS rank,
         |    CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS DOUBLE) / CAST(sum(cnt) OVER () AS DOUBLE) AS cum_frac
         |  FROM c)
         |SELECT token, cnt, rank, cum_frac FROM r WHERE rank <= 100""".stripMargin,

    "pad_frames" -> {
      val F = Seqs.FrameSize
      val thr = Seqs.SilenceThreshold
      s"""WITH seqs AS (${Seqs.duckSql}),
         |b AS (
         |  SELECT doc_id, tokens, n_tok,
         |    coalesce(list_min(list_filter(range(CAST(n_tok AS BIGINT)),
         |      i -> abs(tokens[i + 1]) > $thr)), n_tok) AS lead0,
         |    list_max(list_filter(range(CAST(n_tok AS BIGINT)),
         |      i -> abs(tokens[i + 1]) > $thr)) AS last0
         |  FROM seqs),
         |c AS (
         |  SELECT doc_id, tokens, n_tok,
         |    CAST(lead0 AS INTEGER) AS lead,
         |    CAST(CASE WHEN last0 IS NULL THEN 0
         |              ELSE n_tok - 1 - last0 END AS INTEGER) AS trail
         |  FROM b),
         |d AS (
         |  SELECT *, n_tok - lead - trail AS audible FROM c),
         |e AS (
         |  SELECT *, CASE WHEN audible % $F < ${F / 2} THEN ${F / 2}
         |                 ELSE 0 END AS eoff
         |  FROM d),
         |f AS (
         |  SELECT *, CASE WHEN audible + eoff < $F
         |                 THEN $F - audible - eoff ELSE 0 END AS soff
         |  FROM e),
         |g AS (
         |  SELECT doc_id, lead, trail,
         |    CAST(-lead + soff AS INTEGER) AS data_offset,
         |    list_transform(range(CAST(soff AS BIGINT)), x -> CAST(0 AS BIGINT))
         |      || list_transform(tokens[lead + 1 : n_tok - trail],
         |           x -> CAST(x AS BIGINT))
         |      || list_transform(range(CAST(eoff AS BIGINT)), x -> CAST(0 AS BIGINT)) AS padded
         |  FROM f)
         |SELECT doc_id, data_offset, lead, trail,
         |  CAST(len(padded) AS INTEGER) AS n_padded,
         |  CAST(CASE WHEN len(padded) >= $F
         |            THEN (len(padded) - $F) // ${Seqs.Hop} + 1
         |            ELSE 1 END AS INTEGER) AS n_frames_padded,
         |  md5(array_to_string(padded, ',')) AS padded_md5
         |FROM g""".stripMargin
    },

    "resample_rate" -> {
      val resample = graft.functions.expressions.duckCubicResampleCtes(
        "rser", "greatest(1, (len(xs) * 16000) // 44100)", "rr")
      s"""WITH $duckRFrames,
         |rser AS (SELECT doc_id, list(rms ORDER BY frame_id) AS xs
         |         FROM rframes GROUP BY doc_id),
         |$resample
         |SELECT doc_id,
         |  CAST(gs - 1 AS INTEGER) AS rs_idx,
         |  CASE WHEN u = 0.0 THEN 0.0 ELSE u END AS rs_val
         |FROM (SELECT doc_id, unnest(sig) AS u,
         |             generate_subscripts(sig, 1) AS gs FROM rrsig)""".stripMargin
    },

    "nan_guards" ->
      s"""WITH $duckSeqs,
         |g AS (
         |  SELECT doc_id,
         |    list_transform(tokens, t -> CASE
         |      WHEN t <> 0 AND t % 7 = 0 THEN 'nan'::DOUBLE
         |      WHEN t <> 0 AND t % 11 = 0 THEN exp(CAST(1000.0 AS DOUBLE))
         |      ELSE CAST(t AS DOUBLE) END) AS ser
         |  FROM seqs)
         |SELECT doc_id,
         |  CAST(len(list_filter(ser, x -> isnan(x))) AS INTEGER) AS n_nan,
         |  CAST(len(list_filter(ser, x -> isinf(x) AND x > 0)) AS INTEGER) AS n_inf,
         |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(ser, x -> CASE WHEN isnan(x) OR isinf(x)
         |                                  THEN CAST(0.0 AS DOUBLE) ELSE x END)),
         |    (a, x) -> a + x) AS guarded_sum
         |FROM g""".stripMargin,

    "rframe_stats" -> duckStatsRounded(duckRFrames,
      "SELECT doc_id, list(rms ORDER BY frame_id) AS xs FROM rframes GROUP BY doc_id",
      "rrms"),

    "rolling_median" ->
      s"""WITH $duckFrames,
         |med AS (
         |  SELECT doc_id, frame_id, rms,
         |    list(rms) OVER (PARTITION BY doc_id ORDER BY frame_id
         |      ROWS BETWEEN ${MedianSpan - 1} PRECEDING AND CURRENT ROW) AS buf
         |  FROM frames)
         |SELECT doc_id, frame_id, rms,
         |  (list_sort(buf))[((len(buf) - 1) // 2) + 1] AS med
         |FROM med""".stripMargin,

    "forward_fill" ->
      s"""WITH $duckFrames
         |SELECT doc_id, frame_id, is_audible,
         |  last_value(CASE WHEN is_audible THEN rms END IGNORE NULLS)
         |    OVER (PARTITION BY doc_id ORDER BY frame_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_rms
         |FROM frames""".stripMargin,

    "flux_lag" ->
      s"""WITH $duckFrames
         |SELECT doc_id, frame_id, rms,
         |  coalesce(lag(rms) OVER (PARTITION BY doc_id ORDER BY frame_id), rms)
         |    AS prev_rms,
         |  rms - coalesce(lag(rms) OVER (PARTITION BY doc_id ORDER BY frame_id), rms)
         |    AS drms
         |FROM frames""".stripMargin,

    "envelope_doc" ->
      // fr AS MATERIALIZED: the recursive step re-inlines every CTE it
      // references per iteration — without the pin each of the ~100
      // recursion rounds re-derived the whole frames chain (7.8 s → 1.2 s
      // at the gate scale, bitwise-identical)
      s"""WITH RECURSIVE $duckFrames,
         |fr AS MATERIALIZED (SELECT doc_id, frame_id, rms FROM frames),
         |env AS (
         |  SELECT doc_id, frame_id, rms + ${Pipeline.EnvCoef} * (CAST(0.0 AS DOUBLE) - rms) AS e
         |  FROM fr WHERE frame_id = 0
         |  UNION ALL
         |  SELECT f.doc_id, f.frame_id, f.rms + ${Pipeline.EnvCoef} * (env.e - f.rms)
         |  FROM fr f JOIN env ON f.doc_id = env.doc_id
         |    AND f.frame_id = env.frame_id + 1)
         |SELECT doc_id,
         |  max(CASE WHEN frame_id = mx THEN e END) AS env_final,
         |  max(e) AS env_max,
         |  min(e) AS env_min,
         |  CAST(mx + 1 AS INTEGER) AS n_frames
         |FROM (SELECT *, max(frame_id) OVER (PARTITION BY doc_id) AS mx FROM env)
         |GROUP BY doc_id, mx""".stripMargin,

    "fv_rms" ->
      s"""WITH $duckFrames,
         |ser AS (SELECT doc_id, list(rms ORDER BY frame_id) AS xs
         |        FROM frames GROUP BY doc_id),
         |fv AS (SELECT doc_id, ${PointInTime.duckSampleOffsets("xs")} AS fv
         |       FROM ser)
         |SELECT doc_id,
         |  CAST(gs - 1 AS INTEGER) AS fv_idx,
         |  CASE WHEN u = 0.0 THEN 0.0 ELSE u END AS fv_val
         |FROM (SELECT doc_id, unnest(fv) AS u,
         |             generate_subscripts(fv, 1) AS gs FROM fv)""".stripMargin,

    "pit_asof" ->
      s"""WITH $duckFrames,
         |probes AS (SELECT doc_id, unnest([0, 2, 4, 8, 16, 32]) AS t FROM seqs)
         |SELECT p.doc_id, p.t, f.rms AS rms_asof
         |FROM probes p ASOF LEFT JOIN frames f
         |  ON p.doc_id = f.doc_id AND p.t >= f.frame_id""".stripMargin,

    "asof_salted" ->
      s"""WITH $duckSeqs,
         |ser AS (SELECT source, n_tok, CAST(count(*) AS BIGINT) AS grp_docs
         |        FROM seqs GROUP BY source, n_tok),
         |probes AS (SELECT source, doc_id, n_tok - 7 AS t FROM seqs)
         |SELECT p.doc_id, p.source, p.t,
         |  coalesce(s.grp_docs, CAST(-1 AS BIGINT)) AS grp_docs
         |FROM probes p ASOF LEFT JOIN ser s
         |  ON p.source = s.source AND p.t >= s.n_tok""".stripMargin,

    "onsets" ->
      s"""WITH RECURSIVE $duckRFrames,
         |odf AS MATERIALIZED (
         |  SELECT doc_id, frame_id, rms,
         |    (list_sort(list(rms) OVER (PARTITION BY doc_id ORDER BY frame_id
         |       ROWS BETWEEN ${MedianSpan - 1} PRECEDING AND CURRENT ROW)))[
         |      ((len(list(rms) OVER (PARTITION BY doc_id ORDER BY frame_id
         |       ROWS BETWEEN ${MedianSpan - 1} PRECEDING AND CURRENT ROW)) - 1) // 2) + 1]
         |      AS base
         |  FROM rframes),
         |post AS MATERIALIZED (
         |  SELECT doc_id, frame_id, rms - base AS post,
         |    lag(rms - base) OVER (PARTITION BY doc_id ORDER BY frame_id) AS prev_post
         |  FROM odf),
         |raw AS MATERIALIZED (
         |  SELECT doc_id, frame_id FROM post
         |  WHERE post > $OnsetThreshold
         |    AND (prev_post IS NULL OR prev_post <= $OnsetThreshold)),
         |kept AS (
         |  SELECT doc_id, min(frame_id) AS f FROM raw GROUP BY doc_id
         |  UNION ALL
         |  SELECT k.doc_id,
         |    (SELECT min(r.frame_id) FROM raw r
         |     WHERE r.doc_id = k.doc_id AND r.frame_id >= k.f + $RefractoryGap) AS f
         |  FROM kept k
         |  WHERE (SELECT min(r.frame_id) FROM raw r
         |         WHERE r.doc_id = k.doc_id AND r.frame_id >= k.f + $RefractoryGap)
         |        IS NOT NULL),
         |keptagg AS (
         |  SELECT doc_id,
         |    CAST(count(*) AS INTEGER) AS n_kept,
         |    CAST(min(f) AS INTEGER) AS first_onset,
         |    CAST(1 + sum(CASE WHEN gap > $SessionGap THEN 1 ELSE 0 END) AS INTEGER)
         |      AS n_sessions
         |  FROM (SELECT doc_id, f,
         |          coalesce(f - lag(f) OVER (PARTITION BY doc_id ORDER BY f), 0) AS gap
         |        FROM kept)
         |  GROUP BY doc_id),
         |rawagg AS (
         |  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_raw FROM raw GROUP BY doc_id)
         |SELECT s.doc_id,
         |  coalesce(rawagg.n_raw, 0) AS n_raw,
         |  coalesce(keptagg.n_kept, 0) AS n_kept,
         |  coalesce(keptagg.first_onset, -1) AS first_onset,
         |  coalesce(keptagg.n_sessions, 0) AS n_sessions
         |FROM seqs s
         |LEFT JOIN rawagg USING (doc_id)
         |LEFT JOIN keptagg USING (doc_id)""".stripMargin,

    "json_roundtrip" ->
      s"""WITH $duckSeqs
         |SELECT doc_id,
         |  CAST(length(to_json(tokens)) AS INTEGER) AS json_len,
         |  CAST(from_json(to_json(tokens), '["INTEGER"]') AS INTEGER[]) = tokens
         |    AS roundtrip_ok
         |FROM seqs""".stripMargin,

    "changelist" ->
      """WITH seqsrc AS (
        |  SELECT 'd' || lpad(CAST(doc_id AS VARCHAR), 6, '0') AS doc_id,
        |         CAST(least(n_chars * 16, 8192) AS INTEGER) AS n_tok,
        |         doc_id % 10 AS m
        |  FROM documents),
        |dst AS (
        |  SELECT doc_id,
        |         CASE WHEN m IN (3, 4) THEN n_tok - 1 ELSE n_tok END AS n_tok_stored
        |  FROM seqsrc WHERE m < 7
        |  UNION ALL SELECT 'd999999', 0)
        |SELECT s.doc_id, 'add' AS action
        |FROM seqsrc s WHERE s.doc_id NOT IN (SELECT doc_id FROM dst)
        |UNION ALL
        |SELECT s.doc_id, 'update' AS action
        |FROM seqsrc s JOIN dst USING (doc_id) WHERE s.n_tok <> dst.n_tok_stored
        |UNION ALL
        |SELECT d.doc_id, 'delete' AS action
        |FROM dst d WHERE d.doc_id NOT IN (SELECT doc_id FROM seqsrc)""".stripMargin
  )
}
