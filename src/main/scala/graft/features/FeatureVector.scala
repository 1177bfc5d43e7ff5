package graft.features

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Framing
import graft.functions.spectral
import graft.sources.Seqs

/** The full classification feature vector — the 48-offset × N-row layout of
  * `TSampleClassificationDescriptors`
  * (`Source/Crawler/FeatureExtraction/Source/SampleClassificationDescriptors.cpp:395-561`):
  *
  *   1. spectrum signature: per band × 48 point-in-time offsets, compressed
  *      `pow(v·1.25, 1/6)` (`:432-466`),
  *   2. six per-frame spectrum series × 48 offsets (`:471-490`),
  *   3. the 7-stat subset {min,max,mean,variance,flatness,dmean,dvariance}
  *      of each spectrum series (`:495-501`, subset `:106-144`),
  *   4. per-band 7-stat blocks for the five band descriptors (`:506-512`),
  *   5. per-coefficient 7-stat blocks of the cepstrum bands (`:515`),
  *   6. amplitude series + stats, silence-flag stats (`:520-528`),
  *   7. rhythm/onset scalars + effective length (`:530-543`),
  *   8. padding to a multiple of 48 with the spectral-RMS mean (`:546-556`).
  *
  * Width here is 1920 = 40 × 48 (vs the reference's 1584 = 33 × 48 — same
  * composition rule, different row count because the token analog has 14
  * bands everywhere the reference mixes 14/28 and fewer rhythm scalars;
  * round 3 added the four per-frame index-moment series).
  *
  * Every component is sampled point-in-time: offset `t` reads only frame
  * `t` (never a later frame) with the reference's silence-descriptor
  * fallback past the end of the series (`SampleClassificationDescriptors.cpp:73-102`).
  * Silence fallbacks are the kernels' closed-form values on an all-zero
  * frame: rms/flux/complexity/f0conf → 0, flatness → 1 (silence gate in
  * SFlatnessDb), contrast → −1 (pow(ε/ε, ·)).
  *
  * == Scale design ==
  * One narrow projection per doc — the spectral battery, stat blocks and
  * the assembly all evaluate inside the row over capped arrays; zero
  * shuffle, embarrassingly parallel at any corpus size.
  */
object FeatureVector {

  private val F = Seqs.FrameSize
  private val H = Seqs.Hop
  private val NB = spectral.NBands
  private val NM = spectral.NMfcc
  private val offs = PointInTime.TimeOffsets
  private val nOff = offs.length // 48

  /** 1/6 rendered once so both dialects parse the identical double. */
  val SixthLit: String = graft.queries.Duck.lit(1.0 / 6.0)

  /** The 7-stat FV subset, reference order
    * (`SampleClassificationDescriptors.cpp:115-125`). */
  val FvStats: Seq[String] =
    Seq("min", "max", "mean", "variance", "flatness", "dmean", "dvariance")

  /** Spectrum series: (name, spark accessor over `fs`/`frames`, silence
    * fallback). The four index-moment series (centroid/spread/skew/kurt
    * over each frame's bin spectrum, `SampleAnalyser.cpp:1822-1883`) are
    * exact +·/ folds — silence fallback 0 (all formulas gate on Σx = 0 /
    * |spread| ≤ ε). */
  val SeriesDefs: Seq[(String, String, Double)] = Seq(
    ("srms", "x.srms", 0.0),
    ("sflat", "x.sflatness", 1.0),
    ("sflux", "x.sflux", 0.0),
    ("scontrast", "x.contrast_avg", -1.0),
    ("scomplexity", "CAST(x.scomplexity AS DOUBLE)", 0.0),
    ("f0conf", "least(CAST(x.peak AS DOUBLE) / 2048.0, CAST(1.0 AS DOUBLE))", 0.0),
    ("scentroid", "x.scentroid", 0.0),
    ("sspread", "x.sspread", 0.0),
    ("sskewness", "x.sskewness", 0.0),
    ("skurtosis", "x.skurtosis", 0.0))

  /** Band descriptors entering the per-band stat blocks. */
  val BandDefs: Seq[String] = Seq("rms", "flatness", "flux", "complexity", "contrast")

  // layout offsets
  val SigBase = 0
  val SeriesBase: Int = SigBase + NB * nOff                   // 672
  val SpecStatsBase: Int = SeriesBase + SeriesDefs.length * nOff // 1152
  val BandStatsBase: Int = SpecStatsBase + SeriesDefs.length * 7 // 1222
  val MfccStatsBase: Int = BandStatsBase + BandDefs.length * NB * 7 // 1712
  val AmpSeriesBase: Int = MfccStatsBase + NM * 7             // 1810
  val AmpStatsBase: Int = AmpSeriesBase + nOff                // 1858
  val SilStatsBase: Int = AmpStatsBase + 7                    // 1865
  val ScalarsBase: Int = SilStatsBase + 7                     // 1872
  val UnpaddedWidth: Int = ScalarsBase + 4                    // 1876
  val Width: Int = ((UnpaddedWidth + nOff - 1) / nOff) * nOff // 1920
  val PadCount: Int = Width - UnpaddedWidth                   // 44

  private val offArr = s"array(${offs.mkString(", ")})"

  /** Stat extraction with the rounding policy: ONLY the flatness statistic
    * is libm-derived (gmean/mean); the other six are exact folds over
    * bit-identical inputs, and rounding them would CREATE cross-engine
    * mismatches (means of 1e-6-quantized inputs land on decimal ties where
    * Spark's BigDecimal HALF_UP and DuckDB's fp-scaled round disagree). */
  private def statArr(st: String): String =
    FvStats.map {
      case "flatness" => s"round($st.flatness, 6)"
      case s => s"$st.$s"
    }.mkString("array(", ", ", ")")

  /** seqs → (doc_id, fv array<double> of [[Width]]) through the fused
    * single-pass kernel ([[graft.functions.fvkernel.FvFullKernel]]). */
  def fvFull(seqs: DataFrame): DataFrame = {
    graft.functions.expressions.register(seqs.sparkSession)
    seqs.select(col("doc_id"), expr("graft_fv_full(tokens, n_tok)").as("fv"))
  }

  /** The composed (one-expression-per-component) assembly — ran the band
    * battery twice and ~1700 interpreted HOF expressions per row; the
    * reference the tests compare [[fvFull]] against. */
  def fvFullComposed(seqs: DataFrame): DataFrame = {
    graft.functions.expressions.register(seqs.sparkSession)
    var df = seqs
      .withColumn("bands", expr(s"graft_band_features(tokens, $F, $H)"))
      .withColumn("fs", expr(s"graft_frame_spectral(tokens, $F, $H)"))
      .withColumn("frames", Framing.framesExpr(F, H, Seqs.SilenceThreshold))
      .withColumn("nf", size(col("fs")))

    // --- 1. signature: band-major [band × offsets], compressed band mean
    // (pow-derived → rounded at source)
    val sigPieces = (0 until NB).map { b =>
      expr(
        s"""transform($offArr, t -> IF(t < nf,
           |  round(pow(get(bands, t * $NB + $b).mean / 2048.0 * 1.25, $SixthLit), 6),
           |  CAST(0.0 AS DOUBLE)))""".stripMargin)
    }

    // --- 2. spectrum series × 48 (fallback = silence value); the two
    // libm-derived series (flatness, contrast) rounded at source
    val seriesPieces = SeriesDefs.map { case (name, acc, fb) =>
      val src = if (acc.contains("peak")) "frames" else "fs"
      val accT0 = acc.replace("x.", s"get($src, t).")
      val accT = if (name == "sflat" || name == "scontrast")
        s"round($accT0, 6)" else accT0
      expr(
        s"""transform($offArr, t -> IF(t < nf, $accT,
           |  CAST($fb AS DOUBLE)))""".stripMargin)
    }

    // --- 3. spectrum series stat blocks.
    // exp/pow-derived features (flatness, contrast, mfcc) are quantized to
    // 1e-6 BEFORE entering stat blocks: the flatness statistic (gmean/mean)
    // is ill-conditioned when a series' mean is ~0, so raw cross-engine
    // libm ulps would explode past any boundary rounding. Quantized inputs
    // are bit-identical in both engines; sqrt/div-derived series stay raw
    // (already bitwise).
    def q6(e: String): String = s"round($e, 6)"
    val quantized = Set("sflat", "scontrast")
    SeriesDefs.foreach { case (name, acc, _) =>
      val src = if (acc.contains("peak")) "frames" else "fs"
      val a = if (quantized(name)) q6(acc) else acc
      df = df.withColumn(s"__st_$name",
        expr(s"graft_stats_block(transform($src, x -> $a))"))
    }
    val specStatPieces = SeriesDefs.map { case (name, _, _) =>
      expr(statArr(s"__st_$name")) }

    // --- 4. per-band stat blocks (descriptor-major, band-minor)
    for (d <- BandDefs; b <- 0 until NB) {
      val raw =
        if (d == "complexity") s"CAST(get(bands, f * $NB + $b).complexity AS DOUBLE)"
        else s"get(bands, f * $NB + $b).$d"
      val acc = if (d == "flatness" || d == "contrast") q6(raw) else raw
      df = df.withColumn(s"__bst_${d}_$b", expr(
        s"graft_stats_block(transform(sequence(0, nf - 1), f -> $acc))"))
    }
    val bandStatPieces =
      for (d <- BandDefs; b <- 0 until NB)
        yield expr(statArr(s"__bst_${d}_$b"))

    // --- 5. cepstrum-coefficient stat blocks
    for (k <- 0 until NM) {
      df = df.withColumn(s"__mst_$k", expr(
        s"graft_stats_block(transform(fs, x -> round(get(x.mfcc, $k), 6)))"))
    }
    val mfccStatPieces = (0 until NM).map(k => expr(statArr(s"__mst_$k")))

    // --- 6. amplitude series + stats, silence-flag stats
    val ampSeries = expr(
      s"""transform($offArr, t -> IF(t < nf, get(frames, t).rms,
         |  CAST(0.0 AS DOUBLE)))""".stripMargin)
    df = df
      .withColumn("__st_amp",
        expr("graft_stats_block(transform(frames, x -> x.rms))"))
      .withColumn("__st_sil", expr(
        "graft_stats_block(transform(frames, x -> IF(x.is_audible, CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE))))"))

    // --- 7. rhythm scalars + effective length (rhythm clock series in-row)
    df = df
      .withColumn("__rser", expr(
        s"transform(graft_frame_features(tokens, ${Seqs.RFrameSize}, ${Seqs.RHop}, ${Seqs.SilenceThreshold}), fr -> fr.rms)"))
      .withColumn("__ov", {
        val w = graft.queries.TokenQueries.MedianSpan - 1
        expr(
          s"""transform(sequence(0, size(__rser) - 1), i ->
             |  greatest(element_at(__rser, i + 1) -
             |    element_at(sort_array(slice(__rser, greatest(i - $w, 0) + 1,
             |        i - greatest(i - $w, 0) + 1)),
             |      CAST((i - greatest(i - $w, 0)) div 2 AS INT) + 1),
             |    CAST(0.0 AS DOUBLE)) / ${graft.queries.RhythmQueries.OnsetScale})""".stripMargin)
      })
      .withColumn("__rm", expr("graft_rhythm_metrics(graft_canny(__ov))"))
      .withColumn("__n_onsets", expr(
        """CAST(size(filter(sequence(0, size(__ov) - 1), i ->
          |  element_at(__ov, i + 1) > 0.1 AND
          |  (i = 0 OR element_at(__ov, i) <= 0.1))) AS DOUBLE)""".stripMargin))
      .withColumn("__tempo_raw", expr("__n_onsets * 61440.0 / n_tok"))
      .withColumn("__t0", expr(
        "CASE WHEN __tempo_raw < 20.0 OR __tempo_raw > 300.0 THEN CAST(0.0 AS DOUBLE) ELSE __tempo_raw END"))
      .withColumn("__t1", expr("IF(__t0 > 0.0 AND __t0 < 80.0, __t0 * 2.0, __t0)"))
      .withColumn("__t2", expr("IF(__t1 > 0.0 AND __t1 < 80.0, __t1 * 2.0, __t1)"))
      .withColumn("__tempo", expr("IF(__t2 >= 200.0, __t2 / 2.0, __t2)"))
      .withColumn("__bounds", expr(
        s"graft_effective_bounds(tokens, array(${Pipeline.EffectiveLengthThresholds.mkString(", ")}))"))
    val scalarsPiece = expr(
      """array(__rm.strength, round(__rm.contrast, 6), __tempo,
        |      CAST(__bounds[1].len AS DOUBLE))""".stripMargin)

    // --- 8. padding with the spectral-RMS mean
    val padPiece = expr(s"array_repeat(__st_srms.mean, $PadCount)")

    val fv: Column = concat(
      (sigPieces ++ seriesPieces ++ specStatPieces ++ bandStatPieces ++
        mfccStatPieces ++ Seq(ampSeries, expr(statArr("__st_amp")),
          expr(statArr("__st_sil")), scalarsPiece, padPiece)): _*)

    df.select(col("doc_id"), fv.as("fv"))
  }
}
