package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.Seqs

/** Framing: token sequences → overlapping fixed-size frames with per-frame
  * energy features. Analog of AFEC's spectral frame loop
  * (`for (n = 0; n + 2048 - 1 < len; n += 1024)` —
  * `Source/Crawler/FeatureExtraction/Source/SampleAnalyser.cpp:814`) and the
  * rhythm clock (512/128 — `SampleAnalyser.cpp:985-998`). Short docs get one
  * short frame (the padding guarantee of `SampleAnalyser.cpp:679-718`).
  *
  * Frame contract: `nFrames = (n_tok - F) / H + 1` when `n_tok >= F`, else 1;
  * frame `f` covers positions `[f*H, min(f*H + F, n_tok))`.
  *
  * == Scale design ==
  * Framing is computed **inside the row** with `transform`/`aggregate`
  * higher-order functions over the bounded `tokens` array (bounded by the
  * analysis cap, `Seqs.MaxTokens` — the 20 s cap analog,
  * `SampleAnalyser.cpp:37`). There is *no* `posexplode` of raw tokens and
  * *no* shuffle: at 100 TB the whole per-entity framing + feature stage is a
  * narrow map pipelined with the scan. Compare the naive alternative —
  * exploding 10^12 sequences × 8k tokens and re-grouping by (doc, frame) —
  * which would shuffle the entire corpus twice. Frame sums are computed in
  * integer arithmetic (exact at any magnitude below 2^53), so results are
  * independent of partitioning and bitwise reproducible.
  */
object Framing {

  /** Per-frame feature expression. Emits column `frames:
    * array<struct<frame_id:int, n_samp:int, fsum:long, fsumsq:long,
    * peak:int, rms:double, is_audible:boolean>>`.
    *
    * `rms = sqrt(fsumsq / n_samp)` (frame RMS, `SampleAnalyser.cpp:1760-1783`),
    * `peak = max |token|`, `is_audible = peak > silenceThreshold`
    * (aubio −48 dB gate analog, `SampleAnalyser.cpp:864-868`).
    */
  def framesExpr(frameSize: Int, hop: Int, silenceThreshold: Int): Column =
    expr(s"graft_frame_features(tokens, $frameSize, $hop, $silenceThreshold)")

  /** seqs → seqs + `frames` column (spectral clock defaults). */
  def withFrames(seqs: DataFrame,
                 frameSize: Int = Seqs.FrameSize,
                 hop: Int = Seqs.Hop,
                 silenceThreshold: Int = Seqs.SilenceThreshold): DataFrame = {
    graft.functions.expressions.register(seqs.sparkSession)
    seqs.withColumn("frames", framesExpr(frameSize, hop, silenceThreshold))
  }

  /** Relational (exploded) view of the frame series:
    * `(doc_id, source, n_tok, frame_id, n_samp, fsum, fsumsq, rms, peak,
    * is_audible)`. The explode multiplies rows only by `n_tok/hop` (≤ 8 per
    * doc at the spectral clock) — cheap, and still shuffle-free. */
  def frameRows(seqs: DataFrame,
                frameSize: Int = Seqs.FrameSize,
                hop: Int = Seqs.Hop,
                silenceThreshold: Int = Seqs.SilenceThreshold): DataFrame =
    withFrames(seqs, frameSize, hop, silenceThreshold)
      .select(col("doc_id"), col("source"), col("n_tok"),
        explode(col("frames")).as("fr"))
      .select(col("doc_id"), col("source"), col("n_tok"), col("fr.*"))

  /** DuckDB mirror of [[frameRows]] over the `seqs` CTE (which must be in
    * scope): frame membership via the two hop-bucket candidates (F = 2H), int
    * sums exact in any order, so `rms` is bitwise identical to the Spark
    * fold. Yields CTEs `tok`, `nf`, `frames`. */
  def duckFrameCtes(frameSize: Int = Seqs.FrameSize,
                    hop: Int = Seqs.Hop,
                    silenceThreshold: Int = Seqs.SilenceThreshold,
                    p: String = ""): String = {
    require(frameSize % hop == 0, "duck mirror assumes F = k*H")
    val nCand = frameSize / hop
    val candVals = (0 until nCand).map(d => s"($d)").mkString(", ")
    val (tok, nf, cand, frames) = (s"${p}tok", s"${p}nf", s"${p}cand", s"${p}frames")
    s"""$tok AS (
       |  SELECT doc_id, source, n_tok,
       |         unnest(tokens) AS v,
       |         generate_subscripts(tokens, 1) - 1 AS pos
       |  FROM seqs),
       |$nf AS (
       |  SELECT doc_id,
       |         CASE WHEN n_tok >= $frameSize
       |              THEN ((n_tok - $frameSize) // $hop) + 1
       |              ELSE 1 END AS n_frames
       |  FROM seqs),
       |$cand AS (
       |  SELECT doc_id, source, n_tok, v, pos,
       |         (pos // $hop) - dd.d AS frame_id
       |  FROM $tok, (VALUES $candVals) AS dd(d)),
       |$frames AS (
       |  SELECT c.doc_id,
       |         any_value(c.source) AS source,
       |         any_value(c.n_tok) AS n_tok,
       |         CAST(c.frame_id AS INTEGER) AS frame_id,
       |         CAST(count(*) AS INTEGER) AS n_samp,
       |         CAST(sum(CAST(c.v AS BIGINT)) AS BIGINT) AS fsum,
       |         CAST(sum(CAST(c.v AS BIGINT) * c.v) AS BIGINT) AS fsumsq,
       |         CAST(max(abs(c.v)) AS INTEGER) AS peak,
       |         sqrt(CAST(sum(CAST(c.v AS BIGINT) * c.v) AS DOUBLE) / count(*)) AS rms,
       |         max(abs(c.v)) > $silenceThreshold AS is_audible
       |  FROM $cand c JOIN $nf USING (doc_id)
       |  WHERE c.frame_id >= 0 AND c.frame_id < n_frames
       |    AND c.pos < c.frame_id * $hop + $frameSize
       |  GROUP BY c.doc_id, c.frame_id)""".stripMargin
  }
}
