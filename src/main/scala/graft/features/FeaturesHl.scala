package graft.features

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.expressions
import graft.queries.RhythmQueries

/** High-level descriptor stage — the analog of
  * `AnalyzeHighLevelDescriptors` (`SampleAnalyser.cpp:1070-1711`): derived
  * characteristics, classification heuristics, category strengths and the
  * resampled signature, all computed FROM the low-level stage (a second
  * projection, never a re-scan of raw tokens — mirrors
  * `SampleDescriptors.cpp:206-237` being derived columns).
  *
  * Token-domain analogs of the audio formulas (documented deviations —
  * the *shapes* are the reference's, the constants are re-based to the
  * token amplitude scale):
  *  - brightness ~ `pow(0.7·norm(centroid) + 0.3·norm(max), 4)`
  *    (`SampleAnalyser.cpp:1354-1382`)
  *  - noisiness ~ `pow(0.2(1−min)+0.6(1−mean)+0.2(1−max), 2)` over
  *    flatness-normalized stats (`SampleAnalyser.cpp:1384-1413`)
  *  - one-shot heuristic: length confidence ⊕ envelope correlation against
  *    a `(1−t)^4` decay, weights 0.3/0.7, threshold 0.7
  *    (`ClassificationHeuristics.cpp:12-98`)
  *  - category strengths: `w_i / Σ{w_j ≥ minWeight}` + strongest-category
  *    pick (`ClassificationTools.cpp:7-128`)
  *  - 16-frame cubic-resampled signature (`SampleAnalyser.cpp:1490-1523`,
  *    64→16 frames at our series lengths).
  *
  * All of it is per-row projection over the low-level arrays — no shuffle.
  */
object FeaturesHl {

  /** Signature length (reference uses 64 for ~861-frame series; our series
    * cap is 8 spectral frames, so 16 keeps the same ~2× oversampling). */
  val SignatureFrames = 16

  /** −24 dB analog on the token scale for the heuristic envelope strip. */
  val HeuristicFloor = 128

  val CategoryNames = Seq("oneshot", "loop", "noise", "tonal")
  val MinCategoryWeight = 0.01
  val StrongCategoryWeight = 0.2

  /** Compute the high-level table from the low-level one (featuresLl
    * output). */
  def featuresHl(ll: DataFrame): DataFrame = {
    expressions.register(ll.sparkSession)
    val base = ll.select("doc_id", "source", "status", "n_tok", "n_frames",
      "tokens", "rms_series", "peak_series", "env_series", "audible_frames",
      "rms_min", "rms_max", "rms_mean", "rms_variance", "rms_flatness",
      "rms_centroid", "env_mean", "effective_len_32")

    val withSig = base
      .withColumn("signature",
        expr(s"graft_cubic_resample(rms_series, $SignatureFrames)"))

    // strip leading/trailing sub-floor frames from the peak envelope, then
    // correlate with the (1-t)^4 decay (ClassificationHeuristics.cpp:49-97)
    val withEnv = withSig
      .withColumn("__pb", expr(
        s"""aggregate(peak_series,
           |  named_struct('i', 0, 'first', -1, 'last', -1),
           |  (acc, x) -> named_struct(
           |    'i', acc.i + 1,
           |    'first', IF(x > $HeuristicFloor AND acc.first = -1, acc.i, acc.first),
           |    'last',  IF(x > $HeuristicFloor, acc.i, acc.last)))""".stripMargin))
      .withColumn("__env", expr(
        "IF(__pb.first = -1, CAST(array() AS ARRAY<DOUBLE>), " +
          "slice(peak_series, __pb.first + 1, __pb.last - __pb.first + 1))"))
      .withColumn("__fade", expr(
        """IF(size(__env) < 2, CAST(array() AS ARRAY<DOUBLE>),
          |  transform(
          |    transform(sequence(0, size(__env) - 1),
          |      i -> 1.0 - CAST(i AS DOUBLE) / (size(__env) - 1)),
          |    y -> (y * y) * (y * y)))""".stripMargin))
      .withColumn("env_correlation",
        expr("IF(size(__env) < 2, 0.0, graft_correlation(__fade, __env))"))
      .withColumn("env_confidence",
        expr("least(1.0, abs(env_correlation))"))
      // percussive onset count on the rhythm clock (RhythmTracker.cpp:99-134
      // rising edges over the trailing-median baseline) — feeds the
      // reference's "< 1 s AND <= 2 onsets" one-shot gate
      .withColumn("__rser", expr(RhythmQueries.RmsSeriesSql))
      .withColumn("__ov", expr(RhythmQueries.onsetValuesSql("__rser")))
      .withColumn("n_onsets", expr(
        "size(graft_rising_edges(__ov, CAST(0.1 AS DOUBLE)))"))
      // ClassificationHeuristics.cpp:12-98 structure: two early-return
      // tiers (< 0.5 s analog -> 0.85; < 1 s analog AND <= 2 percussive
      // onsets -> 0.75), else the cube-compressed continuous length
      // confidence blended 0.3/0.7 with the envelope correlation.
      // Token-scale analog: 1 s <-> 4096 tokens, 4 s cap <-> 16384.
      .withColumn("length_confidence", expr(
        """CASE WHEN n_tok < 2048 THEN 0.85
          |     WHEN n_tok < 4096 AND n_onsets <= 2 THEN 0.75
          |     ELSE sqrt(CAST(1.0 AS DOUBLE)
          |       - least(CAST(16384.0 AS DOUBLE),
          |           greatest(CAST(0.0 AS DOUBLE),
          |             CAST(n_tok AS DOUBLE) - 4096.0)) / 16384.0) END""".stripMargin))
      .withColumn("oneshot_confidence", expr(
        """CASE WHEN n_tok < 2048 OR (n_tok < 4096 AND n_onsets <= 2)
          |     THEN length_confidence
          |     ELSE length_confidence * 0.3 + env_confidence * 0.7 END""".stripMargin))
      .withColumn("is_oneshot", expr(
        """n_tok < 2048 OR (n_tok < 4096 AND n_onsets <= 2)
          |  OR oneshot_confidence > 0.7""".stripMargin))
      .drop("__pb", "__env", "__fade", "__rser", "__ov")

    // characteristics (token-scale normalizations; shapes per reference;
    // powers written as explicit products so both engines agree bitwise)
    val withChar = withEnv
      .withColumn("__br", expr(
        """0.7 * least(rms_centroid / n_frames, CAST(1.0 AS DOUBLE))
          | + 0.3 * least(rms_max / 2048.0, CAST(1.0 AS DOUBLE))""".stripMargin))
      .withColumn("brightness", expr("(__br * __br) * (__br * __br)"))
      .withColumn("__no", expr(
        """0.2 * (1.0 - least(rms_min / 2048.0, CAST(1.0 AS DOUBLE)))
          | + 0.6 * (1.0 - least(rms_mean / 2048.0, CAST(1.0 AS DOUBLE)))
          | + 0.2 * (1.0 - least(rms_max / 2048.0, CAST(1.0 AS DOUBLE)))""".stripMargin))
      .withColumn("noisiness", expr("__no * __no"))
      .withColumn("__ha", expr(
        """0.4 * least(1.0, 1.5 * rms_flatness)
          | + 0.3 * least(1.0, 2.0 * env_confidence)
          | + 0.3 * rms_flatness""".stripMargin))
      .withColumn("harmonicity", expr("__ha * __ha"))
      .drop("__br", "__no", "__ha")

    // category weights -> strengths (ClassificationTools semantics)
    val withCats = withChar
      .withColumn("__w", expr(
        """array(oneshot_confidence,
          |      least(1.0, CAST(audible_frames AS DOUBLE) / n_frames),
          |      noisiness,
          |      harmonicity)""".stripMargin))
      .withColumn("__wsum", expr(
        s"aggregate(filter(__w, x -> x >= $MinCategoryWeight), CAST(0.0 AS DOUBLE), (a, x) -> a + x)"))
      .withColumn("category_strengths", expr(
        s"transform(__w, x -> IF(__wsum = 0.0 OR x < $MinCategoryWeight, 0.0, x / __wsum))"))
      .withColumn("strong_categories", expr(
        s"""filter(
           |  transform(array(${CategoryNames.indices.mkString(", ")}),
           |    i -> IF(element_at(__w, i + 1) > $StrongCategoryWeight,
           |            element_at(array(${CategoryNames.map(n => s"'$n'").mkString(", ")}), i + 1),
           |            CAST(NULL AS STRING))),
           |  x -> x IS NOT NULL)""".stripMargin))
      .drop("__w", "__wsum")

    withCats.drop("tokens", "rms_series", "peak_series", "env_series")
  }
}
