package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Framing
import graft.functions.rhythm
import graft.sources.Seqs

/** Oracle-checked queries for the rhythm/whitening battery
  * ([[graft.functions.rhythm]]): spectral whitening, Canny-sharpened onset
  * peak metrics, the bounded look-ahead confident-pitch fill, and the
  * tempo-summary heuristics. */
object RhythmQueries {

  private def seqs(s: SparkSession, dir: String): DataFrame =
    Seqs.fromDocuments(s, dir)

  private val F = Seqs.FrameSize
  private val H = Seqs.Hop
  private val RF = Seqs.RFrameSize
  private val RH = Seqs.RHop

  /** Onset-value scale: rhythm post-baseline values mapped to the ~[0,4]
    * range the reference thresholds (0.1, /4 clip) expect. */
  val OnsetScale = 650.0
  private val MedianSpan = rhythm.MedianSpan

  /** The rhythm-clock frame RMS series of the `tokens` column, framed in
    * the row. */
  private[graft] val RmsSeriesSql: String =
    s"transform(graft_frame_features(tokens, $RF, $RH, ${Seqs.SilenceThreshold}), fr -> fr.rms)"

  /** Onset values over the RMS-series column `rms`: the rise above its
    * trailing median ([[rhythm.trailingMedian]]), clipped at 0 and scaled by
    * [[OnsetScale]]. `rms` must name a column, not an expression. */
  private[graft] def onsetValuesSql(rms: String): String =
    s"zip_with($rms, graft_trailing_median($rms), " +
      s"(r, m) -> greatest(r - m, CAST(0.0 AS DOUBLE)) / $OnsetScale)"

  /** `(doc_id, n_tok, rser)`: each doc's rhythm-clock RMS series. Docs
    * without tokens have no frames, so they are left out — by a generator,
    * not a filter: a filter on `tokens` is pushed below the balance
    * exchange, where it would synthesize every doc's tokens a second time. */
  private[queries] def rhythmSeries(s: SparkSession, dir: String): DataFrame =
    seqs(s, dir).select(col("doc_id"), col("n_tok"),
      explode(expr(s"array_compact(array($RmsSeriesSql))")).as("rser"))

  /** Confident-pitch params: token analogs of `IsConfidentPitch`
    * (`SampleAnalyser.cpp:1236-1292`) — the frame "pitch" is its RMS, its
    * confidence is peak/2048. */
  val PitchConfidence = 0.6

  private val duckSeqs = s"seqs AS (${Seqs.duckSql})"
  private val duckBlocks =
    s"$duckSeqs,\n${Framing.duckFrameCtes(graft.functions.spectral.BlockSize,
      graft.functions.spectral.BlockSize, Seqs.SilenceThreshold, "b")}"
  private val duckRFrames =
    s"$duckSeqs,\n${Framing.duckFrameCtes(RF, RH, Seqs.SilenceThreshold, "r")}"
  private val duckFrames =
    s"$duckSeqs,\n${Framing.duckFrameCtes(F, H, Seqs.SilenceThreshold)}"

  private def fold(xs: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $xs), (a, x) -> a + x)"

  private def cz(e: String): String = s"CASE WHEN $e = 0.0 THEN 0.0 ELSE $e END"

  /** Per-(doc, frame) block spectrum (same shape as SpectralQueries). */
  private val duckSpectrum: String = {
    val hb = H / graft.functions.spectral.BlockSize
    val fb = F / graft.functions.spectral.BlockSize
    s"""sf AS (
       |  SELECT doc_id, n_tok,
       |    unnest(range(CASE WHEN n_tok >= $F THEN (n_tok - $F) // $H + 1
       |                      ELSE 1 END)) AS f
       |  FROM seqs),
       |mspec AS (
       |  SELECT s.doc_id, CAST(s.f AS INTEGER) AS f,
       |         list(b.rms ORDER BY b.frame_id) AS m
       |  FROM sf s JOIN bframes b ON b.doc_id = s.doc_id
       |    AND b.frame_id >= s.f * $hb AND b.frame_id < s.f * $hb + $fb
       |  GROUP BY s.doc_id, s.f)""".stripMargin
  }

  /** Rhythm-clock onset values + canny-sharpened series per doc. Yields
    * CTE `sharp(doc_id, n, ser, sharp, ispk)`. */
  private[queries] val duckSharp: String = {
    val cwLit = Duck.litArray(rhythm.CannyWeights)
    val L = rhythm.CannyLength
    val W = rhythm.PeakWindowLength
    s"""med AS (
       |  SELECT doc_id, frame_id, rms,
       |    (list_sort(list(rms) OVER w))[
       |      ((len(list(rms) OVER w) - 1) // 2) + 1] AS base
       |  FROM rframes
       |  WINDOW w AS (PARTITION BY doc_id ORDER BY frame_id
       |               ROWS BETWEEN ${MedianSpan - 1} PRECEDING AND CURRENT ROW)),
       |ov AS (
       |  SELECT doc_id, frame_id,
       |    greatest(rms - base, CAST(0.0 AS DOUBLE)) / $OnsetScale AS v
       |  FROM med),
       |ser0 AS (
       |  SELECT doc_id, list(v ORDER BY frame_id) AS ser,
       |         CAST(count(*) AS INTEGER) AS n
       |  FROM ov GROUP BY doc_id),
       |cw AS (SELECT CAST($cwLit AS DOUBLE[]) AS w),
       |conv AS (
       |  SELECT doc_id, n, ser,
       |    list_transform(range(CAST(n AS BIGINT)), i ->
       |      ${fold(s"list_transform(range(${2 * L}), k -> CASE WHEN i + k - $L >= 0 AND i + k - $L < n THEN ser[i + k - ${L - 1}] * w[k + 1] ELSE CAST(0.0 AS DOUBLE) END)")})
       |      AS c0
       |  FROM ser0, cw),
       |norm AS (
       |  SELECT doc_id, n, ser, c0, ${fold("c0")} / n AS mu FROM conv),
       |norm2 AS (
       |  SELECT *,
       |    CASE WHEN n >= 2
       |         THEN ${fold("list_transform(c0, x -> (x - mu) * (x - mu))")} / n
       |         ELSE CAST(0.0 AS DOUBLE) END AS var FROM norm),
       |sharp0 AS (
       |  SELECT doc_id, n, ser,
       |    CASE WHEN var > 0.0 THEN
       |      list_transform(c0, x ->
       |        greatest(CAST(0.0 AS DOUBLE), (x - mu) / sqrt(var)))
       |    ELSE c0 END AS sharp
       |  FROM norm2),
       |sharp AS (
       |  SELECT doc_id, n, ser, sharp,
       |    list_transform(range(CAST(n AS BIGINT)), i ->
       |      len(list_filter(range(greatest(i - $W, 0), least(i + ${W + 1}, n)),
       |        j -> sharp[j + 1] > sharp[i + 1])) = 0) AS ispk
       |  FROM sharp0)""".stripMargin
  }

  // ------------------------------------------------------------------


  /** Peak/valley-walk CTEs over `sharp` — yields `strength(doc_id,
    * strength, n_peaks, threshold, ...)` and `contrast(doc_id, ncp,
    * peakmean, valleymean, totalmean, ...)`. */
  private[queries] val duckRhythmMetricCtes: String = {
    val thr = rhythm.PeakThreshold
    val pct = rhythm.ContrastPercentile
    s"""pk AS (
       |  SELECT doc_id, n, sharp, ispk,
       |    list_filter(range(CAST(n AS BIGINT)),
       |      i -> sharp[i + 1] > CAST($thr AS DOUBLE) AND ispk[i + 1]) AS pks
       |  FROM sharp),
       |strength AS (
       |  SELECT doc_id, n, sharp, ispk,
       |    CAST(len(pks) AS INTEGER) AS n_peaks,
       |    CASE WHEN len(pks) = 0 THEN CAST(0.0 AS DOUBLE)
       |         ELSE least(CAST(1.0 AS DOUBLE), greatest(CAST(0.0 AS DOUBLE),
       |           ${fold("list_transform(pks, i -> sharp[i + 1])")}
       |             / len(pks) / 4.0)) END AS strength,
       |    (list_sort(sharp))[
       |      CAST(trunc(CAST($pct AS DOUBLE) * (n - 1)) AS INTEGER) + 1]
       |      AS threshold
       |  FROM pk),
       |walk AS (
       |  SELECT doc_id, n, sharp, ispk, threshold,
       |    -1 AS i, 0 AS vpos, threshold AS vval,
       |    CAST(0.0 AS DOUBLE) AS cpsum, CAST(0.0 AS DOUBLE) AS cvsum,
       |    0 AS ncp
       |  FROM strength
       |  UNION ALL
       |  SELECT doc_id, n, sharp, ispk, threshold,
       |    i + 1,
       |    CASE WHEN sharp[i + 2] < vval THEN i + 1 ELSE vpos END,
       |    CASE WHEN sharp[i + 2] >= threshold AND ispk[i + 2]
       |           THEN sharp[i + 2]
       |         WHEN sharp[i + 2] < vval THEN sharp[i + 2]
       |         ELSE vval END,
       |    CASE WHEN sharp[i + 2] >= threshold AND ispk[i + 2]
       |         THEN cpsum + sharp[i + 2] ELSE cpsum END,
       |    CASE WHEN sharp[i + 2] >= threshold AND ispk[i + 2]
       |         THEN cvsum + sharp[
       |           CASE WHEN sharp[i + 2] < vval THEN i + 2 ELSE vpos + 1 END]
       |         ELSE cvsum END,
       |    CASE WHEN sharp[i + 2] >= threshold AND ispk[i + 2]
       |         THEN ncp + 1 ELSE ncp END
       |  FROM walk WHERE i + 1 < n),
       |walked AS (
       |  SELECT doc_id, any_value(n) AS n, any_value(sharp) AS sharp,
       |    any_value(threshold) AS threshold,
       |    max(i) AS mi
       |  FROM walk GROUP BY doc_id),
       |final AS (
       |  SELECT w.doc_id, w.n, w.sharp, w.threshold,
       |    k.cpsum, k.cvsum, k.ncp
       |  FROM walked w JOIN walk k ON w.doc_id = k.doc_id AND k.i = w.mi),
       |contrast AS (
       |  SELECT doc_id, n, threshold, ncp,
       |    CASE WHEN ncp = 0 THEN CAST(0.0 AS DOUBLE) ELSE cpsum / ncp END
       |      AS peakmean,
       |    (CASE WHEN ncp = 0 THEN CAST(0.0 AS DOUBLE) ELSE cvsum / ncp END)
       |      + 0.0001 AS valleymean,
       |    ${fold("sharp")} / n AS totalmean
       |  FROM final)""".stripMargin
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // harmonic-spectrum family over the whitened spectrum
    // (SampleAnalyser.cpp:860-927, 1937-2003): F0 analog, inharmonicity,
    // tristimulus 1/2/3. Exact ops — bitwise, no rounding.
    "harmonics" -> ((s, dir) =>
      seqs(s, dir)
        // 1-in-10 doc subsample at the verification boundary only: the
        // DuckDB mirror (whiten recursion + run-based peak walk per frame)
        // costs ~33 s on the full gate corpus, and the budget is minutes
        .filter(expr("CAST(substring(doc_id, 2) AS INT) % 10 = 0"))
        .select(col("doc_id"),
          explode(expr(s"graft_harmonics(tokens, $F, $H)")).as("h"))
        .select(col("doc_id"), col("h.frame_id").as("frame_id"),
          col("h.f0_bin").as("f0_bin"), col("h.n_hpeaks").as("n_hpeaks"),
          expr("IF(h.inharmonicity = 0.0, 0.0, h.inharmonicity)").as("inharmonicity"),
          expr("IF(h.tri1 = 0.0, 0.0, h.tri1)").as("tri1"),
          expr("IF(h.tri2 = 0.0, 0.0, h.tri2)").as("tri2"),
          expr("IF(h.tri3 = 0.0, 0.0, h.tri3)").as("tri3"))),

    // spectral whitening: per-bin recursive peak decay (awhitening.c:43-51,
    // SampleAnalyser.cpp:806-858). Pure max/mul/div — bitwise, no rounding.
    "whiten" -> ((s, dir) =>
      seqs(s, dir)
        .select(col("doc_id"),
          explode(expr(s"graft_whiten(tokens, $F, $H)")).as("w"))
        .select(col("doc_id"), col("w.frame_id").as("frame_id"),
          col("w.bin").as("bin"), col("w.white").as("white"))),

    // canny-sharpened onset peak metrics (RhythmTracker.cpp:356-480, 623-659)
    "rhythm_metrics" -> ((s, dir) =>
      rhythmSeries(s, dir)
        .withColumn("m", expr(
          s"graft_rhythm_metrics(graft_canny(${onsetValuesSql("rser")}))"))
        .select(col("doc_id"),
          expr("IF(m.strength = 0.0, 0.0, m.strength)").as("strength"),
          col("m.n_peaks").as("n_peaks"),
          expr("IF(m.threshold = 0.0, 0.0, m.threshold)").as("threshold"),
          col("m.n_cpeaks").as("n_cpeaks"),
          expr("IF(round(m.contrast, 6) = 0.0, 0.0, round(m.contrast, 6))")
            .as("contrast"))),

    // confident-pitch fill with bounded look-ahead seed
    // (SampleAnalyser.cpp:1557-1596): the seed scan over the first
    // max(1, n/4) frames is the ONE deliberate forward-looking exception
    // (leakage property test pins it down); the fill itself is causal.
    "confident_pitch" -> ((s, dir) => {
      val fr = Framing.frameRows(seqs(s, dir))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_id"))
      val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      fr.withColumn("conf", expr("CAST(peak AS DOUBLE) / 2048.0"))
        .withColumn("confident",
          expr(s"is_audible AND CAST(peak AS DOUBLE) / 2048.0 > $PitchConfidence"))
        .withColumn("nf", count(lit(1)).over(wAll))
        .withColumn("seed", first(
          when(col("confident") &&
            col("frame_id") <= greatest(lit(1), expr("CAST(nf div 4 AS INT)")),
            col("rms")), ignoreNulls = true).over(wAll))
        .withColumn("lastc", last(
          when(col("confident"), col("rms")), ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("doc_id"), col("frame_id"), col("confident"),
          coalesce(col("lastc"), col("seed"), lit(0.0)).as("pitch_filled"))
    }),

    // pitch summary: lower-middle median of the confident-pitch list with
    // the base-note variance penalty (SampleAnalyser.cpp:1234-1330):
    // penalty = 1 - min(1, stddev(|base - p_i|)/6); confidence =
    // audible-pitch-confidence mean x penalty. Exact ops -> bitwise.
    "pitch_summary" -> ((s, dir) =>
      seqs(s, dir)
        .withColumn("frames", Framing.framesExpr(F, H, Seqs.SilenceThreshold))
        .withColumn("cp", expr(
          s"""transform(filter(frames, fr ->
             |  fr.is_audible AND CAST(fr.peak AS DOUBLE) / 2048.0 > $PitchConfidence),
             |  fr -> fr.rms)""".stripMargin))
        .withColumn("confmean", expr(
          """IF(size(filter(frames, fr -> fr.is_audible)) = 0, CAST(0.0 AS DOUBLE),
            |  aggregate(filter(frames, fr -> fr.is_audible), CAST(0.0 AS DOUBLE),
            |    (a, fr) -> a + least(CAST(fr.peak AS DOUBLE) / 2048.0, CAST(1.0 AS DOUBLE)))
            |  / size(filter(frames, fr -> fr.is_audible)))""".stripMargin))
        .withColumn("med", expr(
          "IF(size(cp) = 0, CAST(-1.0 AS DOUBLE), sort_array(cp)[CAST((size(cp) - 1) div 2 AS INT)])"))
        .withColumn("base_note", expr(
          "IF(med > 20.0 AND med < 512.0, med, CAST(-1.0 AS DOUBLE))"))
        .withColumn("stddev", expr(
          """IF(base_note <= 0.0 OR size(cp) = 0, CAST(0.0 AS DOUBLE), sqrt(
            |  aggregate(cp, CAST(0.0 AS DOUBLE), (a, p) ->
            |    a + (abs(base_note - p)
            |         - aggregate(cp, CAST(0.0 AS DOUBLE), (x, q) -> x + abs(base_note - q)) / size(cp))
            |      * (abs(base_note - p)
            |         - aggregate(cp, CAST(0.0 AS DOUBLE), (x, q) -> x + abs(base_note - q)) / size(cp)))
            |  / size(cp)))""".stripMargin))
        .withColumn("base_note_confidence", expr(
          """IF(base_note <= 0.0, CAST(0.0 AS DOUBLE),
            |   confmean * (1.0 - least(CAST(1.0 AS DOUBLE), stddev / 6.0)))""".stripMargin))
        .select(col("doc_id"), size(col("cp")).as("n_confident"),
          expr("IF(base_note = 0.0, 0.0, base_note)").as("base_note"),
          expr("IF(base_note_confidence = 0.0, 0.0, base_note_confidence)")
            .as("base_note_confidence"))),

    // reference-shape harmonicity over audible frames
    // (SampleAnalyser.cpp:1416-1444): 0.4 min(1, 1.5 acMean) +
    // 0.3 min(1, 2 pitchConfMean) + 0.3 flatnessMean, clamped, squared.
    // Doc subset keeps the autocorrelation oracle tractable.
    "hl_harmonicity" -> ((s, dir) =>
      seqs(s, dir)
        .filter(expr("CAST(substring(doc_id, 2) AS INT) % 20 = 0"))
        .withColumn("frames", Framing.framesExpr(F, H, Seqs.SilenceThreshold))
        .withColumn("fs", expr(s"graft_frame_spectral(tokens, $F, $H)"))
        .withColumn("ac", expr(s"graft_autocorr(tokens, $F, $H)"))
        .withColumn("aud", expr(
          "filter(sequence(0, size(frames) - 1), i -> element_at(frames, i + 1).is_audible)"))
        .withColumn("n_aud", size(col("aud")))
        .withColumn("acmean", expr(
          """IF(n_aud = 0, CAST(0.0 AS DOUBLE),
            |  aggregate(aud, CAST(0.0 AS DOUBLE),
            |    (a, i) -> a + element_at(ac, i + 1).autocorr) / n_aud)""".stripMargin))
        .withColumn("pcmean", expr(
          """IF(n_aud = 0, CAST(0.0 AS DOUBLE),
            |  aggregate(aud, CAST(0.0 AS DOUBLE), (a, i) ->
            |    a + least(CAST(element_at(frames, i + 1).peak AS DOUBLE) / 2048.0,
            |              CAST(1.0 AS DOUBLE))) / n_aud)""".stripMargin))
        .withColumn("flmean", expr(
          """IF(n_aud = 0, CAST(0.0 AS DOUBLE),
            |  aggregate(aud, CAST(0.0 AS DOUBLE),
            |    (a, i) -> a + element_at(fs, i + 1).sflatness) / n_aud)""".stripMargin))
        .withColumn("__h", expr(
          """greatest(CAST(0.0 AS DOUBLE), least(CAST(1.0 AS DOUBLE),
            |  least(CAST(1.0 AS DOUBLE), 1.5 * acmean) * 0.4
            |  + least(CAST(1.0 AS DOUBLE), 2.0 * pcmean) * 0.3
            |  + flmean * 0.3))""".stripMargin))
        .select(col("doc_id"), col("n_aud"),
          expr("IF(round(__h * __h, 6) = 0.0, 0.0, round(__h * __h, 6))")
            .as("harmonicity"))),

    // Loop-side heuristic override (ClassificationHeuristics.cpp:102-149):
    // skip when percussive onsets < 8 or flux mean > 0.9; LengthConfidence
    // = sqrt(clamp((effLen_sec - 1)/4, 0, 1)); RhythmConfidence =
    // min(1, 2*strength) when strength > 0.25; combined 0.3/0.7, > 0.7 =
    // Loop. One narrow per-row pipeline, zero shuffle (sqrt is IEEE-exact
    // so no rounding needed; strength/flux proven bitwise elsewhere).
    "hl_loop" -> ((s, dir) =>
      seqs(s, dir)
        .withColumn("rrms", expr(RmsSeriesSql))
        .withColumn("rv", expr(onsetValuesSql("rrms")))
        .withColumn("n_onsets", expr(
          "size(graft_rising_edges(rv, CAST(0.1 AS DOUBLE)))"))
        .withColumn("m", expr("graft_rhythm_metrics(graft_canny(rv))"))
        .withColumn("fs", expr(s"graft_frame_spectral(tokens, $F, $H)"))
        .withColumn("flux_mean", expr(
          "aggregate(fs, CAST(0.0 AS DOUBLE), (a, x) -> a + x.sflux) / size(fs)"))
        .withColumn("eff_len_sec", expr(
          "CAST(element_at(graft_effective_bounds(tokens, array(128)), 1).len AS DOUBLE) / 1024.0"))
        .withColumn("len_conf", expr(
          """sqrt(greatest(CAST(0.0 AS DOUBLE),
            |  least(CAST(4.0 AS DOUBLE), eff_len_sec - 1.0) / 4.0))""".stripMargin))
        .withColumn("rhythm_conf", expr(
          "IF(m.strength > 0.25, least(CAST(1.0 AS DOUBLE), m.strength * 2.0), CAST(0.0 AS DOUBLE))"))
        .withColumn("loop_confidence", expr(
          """IF(n_onsets < 8 OR flux_mean > 0.9, CAST(0.0 AS DOUBLE),
            |   len_conf * 0.3 + rhythm_conf * 0.7)""".stripMargin))
        .select(col("doc_id"), col("n_onsets"),
          expr("IF(eff_len_sec = 0.0, 0.0, eff_len_sec)").as("eff_len_sec"),
          expr("IF(m.strength = 0.0, 0.0, m.strength)").as("strength"),
          expr("IF(flux_mean = 0.0, 0.0, flux_mean)").as("flux_mean"),
          expr("IF(loop_confidence = 0.0, 0.0, loop_confidence)")
            .as("loop_confidence"),
          expr("loop_confidence > 0.7").as("is_loop"))),

    // tempo summary: range reject + octave fold into [80, 200) + 3-beat
    // duration gate (RhythmTracker.cpp:203-218, 256-281)
    "tempo_summary" -> ((s, dir) =>
      rhythmSeries(s, dir)
        .withColumn("v", expr(onsetValuesSql("rser")))
        .withColumn("n_onsets", expr(
          "size(graft_rising_edges(v, CAST(0.1 AS DOUBLE)))"))
        .withColumn("last_active", expr(
          s"""coalesce(array_max(filter(sequence(0, size(v) - 1),
             |  i -> element_at(v, i + 1) >= CAST(${rhythm.PeakThreshold} AS DOUBLE))), 0)""".stripMargin))
        // onsets per minute on the 1024-token/sec clock
        .withColumn("tempo_raw", expr(
          "CAST(n_onsets AS DOUBLE) * 61440.0 / n_tok"))
        .withColumn("t0", expr(
          "CASE WHEN tempo_raw < 20.0 OR tempo_raw > 300.0 THEN 0.0 ELSE tempo_raw END"))
        .withColumn("t1", expr("IF(t0 > 0.0 AND t0 < 80.0, t0 * 2.0, t0)"))
        .withColumn("t2", expr("IF(t1 > 0.0 AND t1 < 80.0, t1 * 2.0, t1)"))
        .withColumn("tempo", expr("IF(t2 >= 200.0, t2 / 2.0, t2)"))
        // "make pretty": quantize to nearest 0.5 BPM (SampleAnalyser.cpp:1348-1351)
        .withColumn("tempo_pretty", expr(
          "floor(tempo / CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE)) * CAST(0.5 AS DOUBLE)"))
        .withColumn("is_loop_candidate", expr(
          s"""tempo > 0.0 AND
             |CAST(last_active AS DOUBLE) * $RH >=
             |  (60.0 / tempo * 1024.0) * 3.0""".stripMargin))
        .select(col("doc_id"), col("tempo_raw"), col("tempo"),
          col("tempo_pretty"), col("is_loop_candidate")))
  )

  // ------------------------------------------------------------------

  def oracles: Map[String, String] = Map(

    "harmonics" -> {
      val (decay, floor) = (rhythm.WhitenDecay, rhythm.WhitenFloor)
      val pt = graft.functions.spectral.PeakThreshold
      val r = "CAST(j AS DOUBLE) / f0"
      val h = s"CAST(floor($r + 0.5) AS BIGINT)"
      s"""WITH RECURSIVE ${SpectralQueries.duckBlocksWhere(
            "CAST(substring(doc_id, 2) AS INTEGER) % 10 = 0")},
         |$duckSpectrum,
         |rec AS (
         |  SELECT doc_id, f, m,
         |    list_transform(m, x -> greatest(x, CAST($floor AS DOUBLE))) AS peaks
         |  FROM mspec WHERE f = 0
         |  UNION ALL
         |  SELECT s.doc_id, s.f, s.m,
         |    list_transform(range(CAST(len(s.m) AS BIGINT)), i ->
         |      greatest(s.m[i + 1],
         |        greatest(CAST($decay AS DOUBLE)
         |                   * coalesce(r.peaks[i + 1], CAST(0.0 AS DOUBLE)),
         |                 CAST($floor AS DOUBLE)))) AS peaks
         |  FROM mspec s JOIN rec r ON s.doc_id = r.doc_id AND s.f = r.f + 1),
         |wl AS (
         |  SELECT doc_id, f, len(m) AS L,
         |    list_transform(range(CAST(len(m) AS BIGINT)),
         |      i -> m[i + 1] / peaks[i + 1]) AS w
         |  FROM rec),
         |wp AS (SELECT *, list_max(w) * CAST($pt AS DOUBLE) AS thr FROM wl),
         |wbin AS (
         |  SELECT doc_id, f, L, thr, unnest(w) AS v,
         |         generate_subscripts(w, 1) - 1 AS bin
         |  FROM wp),
         |wruns AS (
         |  SELECT doc_id, f, L, thr, v,
         |         CAST(min(bin) AS BIGINT) AS s, CAST(max(bin) AS BIGINT) AS e
         |  FROM (SELECT *, bin - row_number()
         |          OVER (PARTITION BY doc_id, f, v ORDER BY bin) AS g
         |        FROM wbin)
         |  GROUP BY doc_id, f, L, thr, v, g),
         |wruns2 AS (
         |  SELECT *,
         |    lag(v)  OVER (PARTITION BY doc_id, f ORDER BY s) AS pv,
         |    lead(v) OVER (PARTITION BY doc_id, f ORDER BY s) AS nv
         |  FROM wruns),
         |allpks AS (
         |  SELECT doc_id, f, (s + e) // 2 AS pbin FROM wruns2
         |  WHERE s >= 1 AND e <= L - 3 AND pv < v AND nv < v AND v > thr
         |  UNION ALL
         |  SELECT doc_id, f, CAST(0 AS BIGINT) FROM wp
         |  WHERE L > 2 AND w[1] > w[2] AND w[1] > thr
         |  UNION ALL
         |  SELECT doc_id, f, CAST(L - 2 AS BIGINT) FROM wp
         |  WHERE L > 2 AND w[L - 2] < w[L - 1] AND w[L] < w[L - 1]
         |    AND w[L - 1] > thr
         |  UNION ALL
         |  SELECT doc_id, f, CAST(L - 1 AS BIGINT) FROM wp
         |  WHERE L > 2 AND w[L] > w[L - 1] AND w[L] > thr),
         |pks AS (
         |  SELECT wp.*, coalesce(pl.pk, CAST([] AS BIGINT[])) AS pk
         |  FROM wp LEFT JOIN
         |    (SELECT doc_id, f, list(pbin ORDER BY pbin) AS pk
         |     FROM allpks GROUP BY doc_id, f) pl USING (doc_id, f)),
         |h0 AS (SELECT *, list_filter(pk, j -> j >= 1)[1] AS f0 FROM pks
         |       WHERE len(list_filter(pk, j -> j >= 1)) > 0),
         |kept AS (
         |  SELECT *, list_filter(pk, j ->
         |    abs(floor(0.5 + $r) - ($r)) <= ${rhythm.HarmonicThreshold}) AS kp
         |  FROM h0),
         |sums AS (
         |  SELECT doc_id, f, f0, CAST(len(kp) AS INTEGER) AS nk,
         |    ${fold(s"list_transform(kp, j -> abs(j - $h * f0) * (w[j + 1] * w[j + 1]))")} AS num,
         |    ${fold("list_transform(kp, j -> w[j + 1] * w[j + 1])")} AS den2,
         |    ${fold("list_transform(kp, j -> w[j + 1])")} AS tden,
         |    ${fold(s"list_transform(kp, j -> CASE WHEN $h = 1 THEN w[j + 1] ELSE CAST(0.0 AS DOUBLE) END)")} AS p1,
         |    ${fold(s"list_transform(kp, j -> CASE WHEN $h IN (2, 3, 4) THEN w[j + 1] ELSE CAST(0.0 AS DOUBLE) END)")} AS ps,
         |    ${fold(s"list_transform(kp, j -> CASE WHEN $h >= 5 THEN w[j + 1] ELSE CAST(0.0 AS DOUBLE) END)")} AS t3
         |  FROM kept)
         |SELECT doc_id, f AS frame_id, CAST(f0 AS INTEGER) AS f0_bin, nk AS n_hpeaks,
         |  ${cz("CASE WHEN den2 = 0.0 THEN 0.0 ELSE (2.0 * num) / (CAST(f0 AS DOUBLE) * den2) END")} AS inharmonicity,
         |  ${cz("CASE WHEN tden = 0.0 OR p1 = 0.0 THEN 0.0 ELSE p1 / tden END")} AS tri1,
         |  ${cz("CASE WHEN tden = 0.0 OR ps = 0.0 THEN 0.0 ELSE ps / tden END")} AS tri2,
         |  ${cz("CASE WHEN tden = 0.0 OR t3 = 0.0 THEN 0.0 ELSE t3 / tden END")} AS tri3
         |FROM sums
         |UNION ALL
         |SELECT doc_id, f AS frame_id, 0, 0, 0.0, 0.0, 0.0, 0.0
         |FROM pks WHERE len(list_filter(pk, j -> j >= 1)) = 0""".stripMargin
    },

    "whiten" -> {
      val (decay, floor) = (rhythm.WhitenDecay, rhythm.WhitenFloor)
      // msp AS MATERIALIZED: pin the spectrum chain once — the recursive
      // step otherwise re-inlines it per iteration (6.6 s → 0.9 s at the
      // gate scale, bitwise-identical)
      s"""WITH RECURSIVE $duckBlocks,
         |$duckSpectrum,
         |msp AS MATERIALIZED (SELECT doc_id, f, m FROM mspec),
         |rec AS (
         |  SELECT doc_id, f, m,
         |    list_transform(m, x -> greatest(x, CAST($floor AS DOUBLE))) AS peaks
         |  FROM msp WHERE f = 0
         |  UNION ALL
         |  SELECT s.doc_id, s.f, s.m,
         |    list_transform(range(CAST(len(s.m) AS BIGINT)), i ->
         |      greatest(s.m[i + 1],
         |        greatest(CAST($decay AS DOUBLE)
         |                   * coalesce(r.peaks[i + 1], CAST(0.0 AS DOUBLE)),
         |                 CAST($floor AS DOUBLE)))) AS peaks
         |  FROM msp s JOIN rec r ON s.doc_id = r.doc_id AND s.f = r.f + 1)
         |SELECT doc_id, f AS frame_id,
         |  CAST(gs - 1 AS INTEGER) AS bin,
         |  u / p AS white
         |FROM (SELECT doc_id, f, unnest(m) AS u, unnest(peaks) AS p,
         |             generate_subscripts(m, 1) AS gs
         |      FROM rec)""".stripMargin
    },

    "rhythm_metrics" ->
      s"""WITH RECURSIVE $duckRFrames,
         |$duckSharp,
         |$duckRhythmMetricCtes
         |SELECT s.doc_id,
         |  ${cz("s.strength")} AS strength,
         |  s.n_peaks,
         |  ${cz("c.threshold")} AS threshold,
         |  c.ncp AS n_cpeaks,
         |  ${cz("round(CASE WHEN c.peakmean <> 0.0 THEN -1.0 * pow(c.peakmean / c.valleymean, 1.0 / ln(c.totalmean + 0.0001)) ELSE CAST(0.0 AS DOUBLE) END, 6)")}
         |    AS contrast
         |FROM strength s JOIN contrast c USING (doc_id)""".stripMargin,


    "confident_pitch" ->
      s"""WITH $duckFrames,
         |fx AS (
         |  SELECT doc_id, frame_id, rms,
         |    is_audible AND CAST(peak AS DOUBLE) / 2048.0 > $PitchConfidence
         |      AS confident,
         |    count(*) OVER (PARTITION BY doc_id) AS nf
         |  FROM frames)
         |SELECT doc_id, frame_id, confident,
         |  coalesce(
         |    last_value(CASE WHEN confident THEN rms END IGNORE NULLS)
         |      OVER (PARTITION BY doc_id ORDER BY frame_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |    first_value(CASE WHEN confident AND frame_id <=
         |                       greatest(1, CAST(nf // 4 AS INTEGER))
         |                     THEN rms END IGNORE NULLS)
         |      OVER (PARTITION BY doc_id ORDER BY frame_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
         |    CAST(0.0 AS DOUBLE)) AS pitch_filled
         |FROM fx""".stripMargin,

    "hl_loop" ->
      s"""WITH $duckSeqs,
         |${Framing.duckFrameCtes(graft.functions.spectral.BlockSize,
             graft.functions.spectral.BlockSize, Seqs.SilenceThreshold, "b")},
         |${Framing.duckFrameCtes(RF, RH, Seqs.SilenceThreshold, "r")},
         |$duckSpectrum,
         |mlag AS (
         |  SELECT *, lag(m) OVER (PARTITION BY doc_id ORDER BY f) AS lm
         |  FROM mspec),
         |flx0 AS (
         |  SELECT doc_id, f, m, len(m) AS L,
         |    list_transform(range(CAST(len(m) AS BIGINT)),
         |      i -> coalesce(lm[i + 1], CAST(0.0 AS DOUBLE))) AS ls
         |  FROM mlag),
         |flx1 AS (
         |  SELECT doc_id, f, L,
         |    ${fold("m")} AS s1,
         |    ${fold("list_transform(m, x -> x * x)")} AS sq,
         |    ${fold("ls")} AS t1,
         |    ${fold("list_transform(ls, x -> x * x)")} AS t2,
         |    ${fold("list_transform(m, (x, i) -> x * ls[i])")} AS s12
         |  FROM flx0),
         |flx2 AS (
         |  SELECT doc_id, f,
         |    CASE WHEN abs((sq - (s1/L) * (s1/L) * L)
         |              * (t2 - (t1/L) * (t1/L) * L)) > 1e-12
         |         THEN (s12 - (s1/L) * (t1/L) * L)
         |              / sqrt((sq - (s1/L) * (s1/L) * L)
         |                   * (t2 - (t1/L) * (t1/L) * L))
         |         ELSE CAST(0.0 AS DOUBLE) END AS sflux
         |  FROM flx1),
         |fluxm AS (
         |  SELECT doc_id,
         |    ${fold("list(sflux ORDER BY f)")} / count(*) AS flux_mean
         |  FROM flx2 GROUP BY doc_id),
         |$duckSharp,
         |pk AS (
         |  SELECT doc_id, n, sharp, ispk,
         |    list_filter(range(CAST(n AS BIGINT)),
         |      i -> sharp[i + 1] > CAST(${rhythm.PeakThreshold} AS DOUBLE)
         |           AND ispk[i + 1]) AS pks
         |  FROM sharp),
         |str AS (
         |  SELECT doc_id,
         |    CASE WHEN len(pks) = 0 THEN CAST(0.0 AS DOUBLE)
         |         ELSE least(CAST(1.0 AS DOUBLE), greatest(CAST(0.0 AS DOUBLE),
         |           ${fold("list_transform(pks, i -> sharp[i + 1])")}
         |             / len(pks) / 4.0)) END AS strength
         |  FROM pk),
         |ovl AS (
         |  SELECT doc_id, frame_id, v,
         |    lag(v) OVER (PARTITION BY doc_id ORDER BY frame_id) AS prev_v
         |  FROM ov),
         |ons AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN v > 0.1 AND (prev_v IS NULL OR prev_v <= 0.1)
         |                  THEN 1 ELSE 0 END) AS INTEGER) AS n_onsets
         |  FROM ovl GROUP BY doc_id),
         |eff AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN count(CASE WHEN abs(v) > 128 THEN 1 END) = 0 THEN 0
         |         ELSE max(CASE WHEN abs(v) > 128 THEN pos END)
         |            - min(CASE WHEN abs(v) > 128 THEN pos END) + 1
         |    END AS DOUBLE) / 1024.0 AS eff_len_sec
         |  FROM rtok GROUP BY doc_id),
         |comb AS (
         |  SELECT s.doc_id, o.n_onsets, e.eff_len_sec, st.strength,
         |    fm.flux_mean,
         |    sqrt(greatest(CAST(0.0 AS DOUBLE),
         |      least(CAST(4.0 AS DOUBLE), e.eff_len_sec - 1.0) / 4.0))
         |      AS len_conf,
         |    CASE WHEN st.strength > 0.25
         |         THEN least(CAST(1.0 AS DOUBLE), st.strength * 2.0)
         |         ELSE CAST(0.0 AS DOUBLE) END AS rhythm_conf
         |  FROM seqs s
         |  JOIN ons o USING (doc_id) JOIN eff e USING (doc_id)
         |  JOIN str st USING (doc_id) JOIN fluxm fm USING (doc_id)),
         |fin AS (
         |  SELECT doc_id, n_onsets, eff_len_sec, strength, flux_mean,
         |    CASE WHEN n_onsets < 8 OR flux_mean > 0.9 THEN CAST(0.0 AS DOUBLE)
         |         ELSE len_conf * 0.3 + rhythm_conf * 0.7 END
         |      AS loop_confidence
         |  FROM comb)
         |SELECT doc_id, n_onsets,
         |  ${cz("eff_len_sec")} AS eff_len_sec,
         |  ${cz("strength")} AS strength,
         |  ${cz("flux_mean")} AS flux_mean,
         |  ${cz("loop_confidence")} AS loop_confidence,
         |  loop_confidence > 0.7 AS is_loop
         |FROM fin""".stripMargin,

    "pitch_summary" ->
      s"""WITH $duckFrames,
         |cp AS (
         |  SELECT doc_id,
         |    list(rms ORDER BY frame_id)
         |      FILTER (WHERE is_audible
         |              AND CAST(peak AS DOUBLE) / 2048.0 > $PitchConfidence) AS cps,
         |    list(least(CAST(peak AS DOUBLE) / 2048.0, CAST(1.0 AS DOUBLE))
         |         ORDER BY frame_id)
         |      FILTER (WHERE is_audible) AS pcs
         |  FROM frames GROUP BY doc_id),
         |cp2 AS (
         |  SELECT doc_id,
         |    coalesce(cps, CAST([] AS DOUBLE[])) AS cps,
         |    coalesce(pcs, CAST([] AS DOUBLE[])) AS pcs
         |  FROM cp),
         |m1 AS (
         |  SELECT doc_id, cps, len(cps) AS n,
         |    CASE WHEN len(pcs) = 0 THEN CAST(0.0 AS DOUBLE)
         |         ELSE ${fold("pcs")} / len(pcs) END AS confmean,
         |    CASE WHEN len(cps) = 0 THEN CAST(-1.0 AS DOUBLE)
         |         ELSE (list_sort(cps))[((len(cps) - 1) // 2) + 1] END AS med
         |  FROM cp2),
         |m2 AS (
         |  SELECT *, CASE WHEN med > 20.0 AND med < 512.0 THEN med
         |                 ELSE CAST(-1.0 AS DOUBLE) END AS base_note
         |  FROM m1),
         |m3 AS (
         |  SELECT *,
         |    CASE WHEN base_note <= 0.0 OR n = 0 THEN CAST(0.0 AS DOUBLE)
         |         ELSE ${fold("list_transform(cps, p -> abs(base_note - p))")} / n
         |    END AS offm
         |  FROM m2),
         |m4 AS (
         |  SELECT *,
         |    CASE WHEN base_note <= 0.0 OR n = 0 THEN CAST(0.0 AS DOUBLE)
         |         ELSE sqrt(${fold("list_transform(cps, p -> (abs(base_note - p) - offm) * (abs(base_note - p) - offm))")} / n)
         |    END AS sd
         |  FROM m3)
         |SELECT doc_id, CAST(n AS INTEGER) AS n_confident,
         |  ${cz("base_note")} AS base_note,
         |  ${cz("CASE WHEN base_note <= 0.0 THEN CAST(0.0 AS DOUBLE) ELSE confmean * (1.0 - least(CAST(1.0 AS DOUBLE), sd / 6.0)) END")}
         |    AS base_note_confidence
         |FROM m4""".stripMargin,

    "hl_harmonicity" -> {
      val maxSeek = F / 2
      val (minP, seekW) = (graft.functions.spectral.AcMinPeriod,
        graft.functions.spectral.AcSeekWidth)
      s"""WITH $duckBlocks,
         |${Framing.duckFrameCtes(F, H, Seqs.SilenceThreshold)},
         |$duckSpectrum,
         |mlag AS (
         |  SELECT *, lag(m) OVER (PARTITION BY doc_id ORDER BY f) AS lm
         |  FROM mspec),
         |fls AS (
         |  SELECT doc_id, f, m, len(m) AS L,
         |    list_transform(range(CAST(len(m) AS BIGINT)),
         |      i -> coalesce(lm[i + 1], CAST(0.0 AS DOUBLE))) AS ls
         |  FROM mlag),
         |fsum AS (
         |  SELECT doc_id, f, L,
         |    ${fold("m")} AS s1,
         |    ${fold("list_transform(m, x -> ln(abs(x) + 1e-20))")} AS slog
         |  FROM fls),
         |frat AS (
         |  SELECT *, CASE WHEN s1 / L = 0.0 THEN CAST(0.0 AS DOUBLE)
         |                 ELSE exp(slog / L) / (s1 / L) END AS ratio
         |  FROM fsum),
         |fsc AS (
         |  SELECT doc_id, f,
         |    least(CASE WHEN ratio = 1.0 THEN CAST(0.0 AS DOUBLE)
         |               WHEN ratio > 1e-12
         |                 THEN ln(ratio) * (20.0 / ln(CAST(10.0 AS DOUBLE)))
         |               ELSE CAST(-200.0 AS DOUBLE) END / -60.0,
         |          CAST(1.0 AS DOUBLE)) AS sflat
         |  FROM frat),
         |asub AS (
         |  SELECT doc_id, n_tok,
         |    list_transform(tokens, t -> CAST(t AS BIGINT)) AS tk
         |  FROM seqs
         |  WHERE CAST(substring(doc_id, 2) AS INTEGER) % 20 = 0),
         |asf AS (
         |  SELECT doc_id, n_tok, tk,
         |    unnest(range(CASE WHEN n_tok >= $F THEN (n_tok - $F) // $H + 1
         |                      ELSE 1 END)) AS f
         |  FROM asub),
         |ast AS (
         |  SELECT doc_id, CAST(f AS INTEGER) AS f, tk,
         |    CAST(f * $H AS BIGINT) AS fs, n_tok - f * $H AS rem0
         |  FROM asf),
         |ast2 AS (
         |  SELECT *,
         |    list_filter(range(CAST(least(rem0, $maxSeek) - 1 AS BIGINT)),
         |      i -> tk[fs + i + 2] > tk[fs + i + 1])[1] AS i1
         |  FROM ast),
         |ast3 AS (
         |  SELECT doc_id, f, tk, fs,
         |    fs + coalesce(i1, 0) AS start,
         |    rem0 - coalesce(i1, 0) AS rem
         |  FROM ast2),
         |ast4 AS (SELECT *, least(rem, $minP) AS off FROM ast3),
         |ast5 AS (
         |  SELECT *,
         |    list_filter(range(CAST(least(rem - off, $maxSeek) - 1 AS BIGINT)),
         |      i -> tk[start + off + i + 2] > tk[start + off + i + 1])[1] AS i2
         |  FROM ast4),
         |ast6 AS (
         |  SELECT doc_id, f, tk, start, rem,
         |    CAST(off + coalesce(i2, 0) AS INTEGER) AS period
         |  FROM ast5),
         |ast7 AS (SELECT *, least(rem, $seekW) AS width FROM ast6),
         |ast8 AS (
         |  SELECT *,
         |    CASE WHEN rem = 0 OR period >= rem THEN CAST(0 AS BIGINT)
         |         ELSE list_reduce(list_prepend(CAST(0 AS BIGINT),
         |           list_transform(range(CAST(width AS BIGINT)),
         |             j -> tk[start + j + 1] * tk[start + j + 1])),
         |           (a, x) -> a + x) END AS r0
         |  FROM ast7),
         |aac AS (
         |  SELECT doc_id, f,
         |    CASE WHEN rem = 0 OR period >= rem THEN CAST(0.0 AS DOUBLE)
         |    ELSE list_max(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(range(CAST(period // 2 AS BIGINT),
         |                           CAST(width AS BIGINT)), lag ->
         |        CASE WHEN r0 <> 0
         |             THEN CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |               list_transform(range(CAST(width - lag AS BIGINT)),
         |                 j -> tk[start + j + 1] * tk[start + j + lag + 1])),
         |               (a, x) -> a + x) AS DOUBLE) / CAST(r0 AS DOUBLE)
         |             ELSE CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |               list_transform(range(CAST(width - lag AS BIGINT)),
         |                 j -> tk[start + j + 1] * tk[start + j + lag + 1])),
         |               (a, x) -> a + x) AS DOUBLE) END)))
         |    END AS autocorr
         |  FROM ast8),
         |joined AS (
         |  SELECT fr.doc_id, fr.frame_id, fr.is_audible,
         |    least(CAST(fr.peak AS DOUBLE) / 2048.0, CAST(1.0 AS DOUBLE)) AS pc,
         |    c.sflat, a.autocorr
         |  FROM frames fr
         |  JOIN fsc c ON c.doc_id = fr.doc_id AND c.f = fr.frame_id
         |  JOIN aac a ON a.doc_id = fr.doc_id AND a.f = fr.frame_id),
         |agg AS (
         |  SELECT doc_id,
         |    coalesce(list(autocorr ORDER BY frame_id) FILTER (WHERE is_audible),
         |             CAST([] AS DOUBLE[])) AS acs,
         |    coalesce(list(pc ORDER BY frame_id) FILTER (WHERE is_audible),
         |             CAST([] AS DOUBLE[])) AS pcs,
         |    coalesce(list(sflat ORDER BY frame_id) FILTER (WHERE is_audible),
         |             CAST([] AS DOUBLE[])) AS fls
         |  FROM joined GROUP BY doc_id),
         |means AS (
         |  SELECT doc_id, CAST(len(acs) AS INTEGER) AS n_aud,
         |    CASE WHEN len(acs) = 0 THEN CAST(0.0 AS DOUBLE)
         |         ELSE ${fold("acs")} / len(acs) END AS acmean,
         |    CASE WHEN len(pcs) = 0 THEN CAST(0.0 AS DOUBLE)
         |         ELSE ${fold("pcs")} / len(pcs) END AS pcmean,
         |    CASE WHEN len(fls) = 0 THEN CAST(0.0 AS DOUBLE)
         |         ELSE ${fold("fls")} / len(fls) END AS flmean
         |  FROM agg),
         |harm AS (
         |  SELECT doc_id, n_aud,
         |    greatest(CAST(0.0 AS DOUBLE), least(CAST(1.0 AS DOUBLE),
         |      least(CAST(1.0 AS DOUBLE), 1.5 * acmean) * 0.4
         |      + least(CAST(1.0 AS DOUBLE), 2.0 * pcmean) * 0.3
         |      + flmean * 0.3)) AS h
         |  FROM means)
         |SELECT doc_id, n_aud,
         |  ${cz("round(h * h, 6)")} AS harmonicity
         |FROM harm""".stripMargin
    },

    "tempo_summary" ->
      s"""WITH $duckRFrames,
         |med AS (
         |  SELECT doc_id, frame_id, n_tok, rms,
         |    (list_sort(list(rms) OVER w))[
         |      ((len(list(rms) OVER w) - 1) // 2) + 1] AS base
         |  FROM rframes
         |  WINDOW w AS (PARTITION BY doc_id ORDER BY frame_id
         |               ROWS BETWEEN ${MedianSpan - 1} PRECEDING AND CURRENT ROW)),
         |ov AS (
         |  SELECT doc_id, frame_id, n_tok,
         |    greatest(rms - base, CAST(0.0 AS DOUBLE)) / $OnsetScale AS v,
         |    lag(greatest(rms - base, CAST(0.0 AS DOUBLE)) / $OnsetScale)
         |      OVER (PARTITION BY doc_id ORDER BY frame_id) AS prev_v
         |  FROM med),
         |agg AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN v > 0.1 AND (prev_v IS NULL OR prev_v <= 0.1)
         |                  THEN 1 ELSE 0 END) AS INTEGER) AS n_onsets,
         |    coalesce(max(CASE WHEN v >= ${rhythm.PeakThreshold}
         |                      THEN frame_id END), 0) AS last_active,
         |    any_value(n_tok) AS n_tok
         |  FROM ov GROUP BY doc_id),
         |t AS (
         |  SELECT doc_id, last_active,
         |    CAST(n_onsets AS DOUBLE) * 61440.0 / n_tok AS tempo_raw
         |  FROM agg),
         |t0 AS (SELECT *, CASE WHEN tempo_raw < 20.0 OR tempo_raw > 300.0
         |                      THEN CAST(0.0 AS DOUBLE) ELSE tempo_raw END AS x0
         |       FROM t),
         |t1 AS (SELECT *, CASE WHEN x0 > 0.0 AND x0 < 80.0 THEN x0 * 2.0
         |                      ELSE x0 END AS x1 FROM t0),
         |t2 AS (SELECT *, CASE WHEN x1 > 0.0 AND x1 < 80.0 THEN x1 * 2.0
         |                      ELSE x1 END AS x2 FROM t1),
         |t3 AS (SELECT *, CASE WHEN x2 >= 200.0 THEN x2 / 2.0 ELSE x2 END
         |                   AS tempo FROM t2)
         |SELECT doc_id, tempo_raw, tempo,
         |  floor(tempo / CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE))
         |    * CAST(0.5 AS DOUBLE) AS tempo_pretty,
         |  tempo > 0.0 AND CAST(last_active AS DOUBLE) * $RH >=
         |    (60.0 / tempo * 1024.0) * 3.0 AS is_loop_candidate
         |FROM t3""".stripMargin
  )
}
