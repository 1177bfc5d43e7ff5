package graft.features

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Framing
import graft.functions.Stats
import graft.sources.Seqs

/** The end-to-end per-entity feature pipeline — the Spark re-expression of
  * AFEC's `TSampleAnalyser::Extract` (`SampleAnalyser.cpp:345-416`):
  * one input entity (token sequence) → one wide feature row.
  *
  * == Plan shape / scale design ==
  * The whole low-level stage is a **single narrow projection** over the
  * source scan: framing, per-frame features, the envelope scan, the
  * 13-stat blocks and the 48-offset point-in-time vector all evaluate inside
  * the row via higher-order functions over bounded arrays (analysis cap =
  * `Seqs.MaxTokens`, the 20 s analog). No shuffle, no window exchange, no
  * join — at 10^12 sequences this stage is scan-bound and embarrassingly
  * parallel, and any `source`/doc-length skew is irrelevant because work per
  * row is capped. (AFEC reaches the same shape with its per-file thread pool,
  * `Crawler.cpp:680-748`; the single-writer SQLite mutex it needs,
  * `Crawler.cpp:685`, disappears in a distributed atomic sink.)
  *
  * Failure isolation (`SampleAnalyser.cpp:368-408`): contract-violating rows
  * (`n_tok != size(tokens)`) are never dropped — they surface with
  * `status = 'error: …'` and null features, exactly like AFEC's
  * `InsertFailedSample` rows (`SqliteSampleDescriptorPool.cpp:1655-1685`).
  */
object Pipeline {

  /** Envelope-follower coefficient — 8 ms time-constant analog
    * (`SampleAnalyser.cpp:69`, `Envelopes.inl:14-18`), re-expressed on the
    * frame clock. */
  val EnvCoef = 0.6

  /** Effective-length thresholds — the −48/−24/−12 dB analog gates on
    * |token| (`SampleAnalyser.cpp:1715-1756`). */
  val EffectiveLengthThresholds: Seq[Int] = Seq(32, 128, 512)

  /** Low-level feature table: one wide row per doc.
    * Columns: identity + status, frame series (arrays), 13-stat blocks for
    * the rms and envelope series, silence-trim / effective-length scalars,
    * and the 48-offset point-in-time `feature_vector`. The `tokens` column
    * is carried through untouched (bitwise token-array equality invariant —
    * BASELINE.json:input_hint). */
  def featuresLl(seqs: DataFrame): DataFrame = {
    graft.functions.expressions.register(seqs.sparkSession)
    // ONE fused kernel per row (framing + both series + envelope recursion
    // + both 13-stat blocks + multi-threshold bounds): the token array is
    // read once instead of once per consumer expression. The unfused chain
    // was memory-bandwidth-bound at 32 cores (the kernels' toIntArray
    // copies alone exceeded the VM's ~30 GB/s 32-thread copy ceiling;
    // 8→32-core efficiency ~0.5). The struct is materialized once and
    // field-extracted — Catalyst's CollapseProject keeps non-cheap
    // producers referenced >1× as separate projections, so the kernel
    // never re-inlines per field. Loops are byte-identical to the
    // standalone kernels; every oracle query stays bitwise-green.
    // Built in three projections (the kernel, its fields, the vector), not
    // one `withColumn` per column: each `withColumn` analyses the whole
    // plan again. `withColumns` keeps `withColumn`'s semantics (an input
    // column with an output's name is replaced in place).
    val thrArr = EffectiveLengthThresholds.mkString(", ")
    val fields = ListMap(
        "status" -> when(col("n_tok") === size(col("tokens")), lit("succeeded"))
          .otherwise(concat(lit("error: n_tok mismatch, expected "),
            col("n_tok"), lit(" got "), size(col("tokens")))),
        "n_frames" -> size(col("__ll.frames"))) ++
      Seq("rms_series", "peak_series", "env_series", "audible_flags")
        .map(c => c -> col(s"__ll.$c")) ++
      (for ((p, st) <- Seq("rms" -> "st_rms", "env" -> "st_env");
            n <- Stats.StatNames) yield s"${p}_$n" -> col(s"__ll.$st.$n")) ++
      EffectiveLengthThresholds.zipWithIndex.flatMap { case (thr, i) =>
        Seq("first" -> s"first_audible_$thr", "last" -> s"last_audible_$thr",
          "len" -> s"effective_len_$thr")
          .map { case (f, c) => c -> expr(s"__ll.bounds[$i].$f") }
      } + ("audible_frames" -> expr("size(filter(__ll.audible_flags, a -> a))"))
    seqs
      .withColumn("__ll", expr(
        s"""graft_features_ll(tokens, ${Seqs.FrameSize}, ${Seqs.Hop},
           |${Seqs.SilenceThreshold}, CAST($EnvCoef AS DOUBLE),
           |array($thrArr))""".stripMargin.replace("\n", " ")))
      .withColumns(fields)
      .withColumn("feature_vector", concat(
        PointInTime.sampleOffsets("rms_series"),
        PointInTime.sampleOffsets("env_series"),
        expr(PointInTime.VectorStats.map(s => s"rms_$s").mkString("array(", ", ", ")")),
        expr(PointInTime.VectorStats.map(s => s"env_$s").mkString("array(", ", ", ")")),
        expr("array(CAST(n_frames AS DOUBLE), CAST(audible_frames AS DOUBLE), " +
          "CAST(effective_len_32 AS DOUBLE))")))
      .drop("__ll")
  }

  /** The pre-fusion chain (one expression per kernel) — the reference the
    * tests compare [[featuresLl]] against; byte-identical outputs. */
  def featuresLlUnfused(seqs: DataFrame): DataFrame = {
    graft.functions.expressions.register(seqs.sparkSession)
    val framed = Framing.withFrames(seqs)
      .withColumn("status",
        when(col("n_tok") === size(col("tokens")), lit("succeeded"))
          .otherwise(concat(lit("error: n_tok mismatch, expected "),
            col("n_tok"), lit(" got "), size(col("tokens")))))
      .withColumn("n_frames", size(col("frames")))
      .withColumn("rms_series", expr("transform(frames, fr -> fr.rms)"))
      .withColumn("peak_series", expr("transform(frames, fr -> CAST(fr.peak AS DOUBLE))"))
      .withColumn("env_series",
        expr(s"graft_envelope_scan(rms_series, CAST($EnvCoef AS DOUBLE))"))
      .withColumn("audible_flags", expr("transform(frames, fr -> fr.is_audible)"))
    val withStats = Seq("rms" -> "rms_series", "env" -> "env_series")
      .foldLeft(framed) { case (df, (p, series)) =>
        val st = df.withColumn(s"__st_$p", expr(s"graft_stats_block($series)"))
        Stats.StatNames.foldLeft(st)((d, n) =>
          d.withColumn(s"${p}_$n", col(s"__st_$p.$n"))).drop(s"__st_$p")
      }
    val thrArr = EffectiveLengthThresholds.mkString(", ")
    val withLens = EffectiveLengthThresholds.zipWithIndex.foldLeft(
      withStats.withColumn("__bounds",
        expr(s"graft_effective_bounds(tokens, array($thrArr))"))) {
      case (df, (thr, i)) =>
        df.withColumn(s"first_audible_$thr", expr(s"__bounds[$i].first"))
          .withColumn(s"last_audible_$thr", expr(s"__bounds[$i].last"))
          .withColumn(s"effective_len_$thr", expr(s"__bounds[$i].len"))
    }.drop("__bounds")
    withLens
      .withColumn("audible_frames", expr(
        "size(filter(audible_flags, a -> a))"))
      .withColumn("feature_vector", concat(
        PointInTime.sampleOffsets("rms_series"),
        PointInTime.sampleOffsets("env_series"),
        expr(PointInTime.VectorStats.map(s => s"rms_$s").mkString("array(", ", ", ")")),
        expr(PointInTime.VectorStats.map(s => s"env_$s").mkString("array(", ", ", ")")),
        expr("array(CAST(n_frames AS DOUBLE), CAST(audible_frames AS DOUBLE), " +
          "CAST(effective_len_32 AS DOUBLE))")))
      .drop("frames")
  }

  /** Convenience: full pipeline from a testdata dir. */
  def featuresLlFromDir(spark: SparkSession, dir: String): DataFrame =
    featuresLl(Seqs.fromDocuments(spark, dir))
}
