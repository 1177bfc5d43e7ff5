package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Partitioning.readTable

import graft.ops.{Sampling, Sketches, TextAnalysis}
import graft.sources.Seqs

/** Mergeable-sketch queries: count-min frequency sketch, KMV distinct
  * sketch, Bloom-filter join pruning, skip-gram pair generation. */
object SketchQueries {

  // count-min: 4 rows × 256 cells over a ≤ 4096-gram vocab — collisions
  // guaranteed (≈ 12 grams/cell), so the overestimate column is a real
  // error measurement, not all-zeros
  val CmsDepth = 4
  val CmsWidth = 256

  // KMV: k = 64 minimum 60-bit hashes (native bounded graft_kmin agg)
  val KmvK = 64

  // HLL: 2^8 = 256 registers — ~6.5% standard error, enough to land well
  // inside the linear-counting regime boundary on both sides at sf0.01
  val HllP = 8

  // Bloom: 1024 bits × 3 hashes over the 'zh' member set (~15% of docs)
  // — fill ratio ≈ 0.2, fp rate ≈ 0.8% ⇒ a few expected false positives
  val BloomBits = 1024
  val BloomHashes = 3
  val BloomLang = "zh"

  // skip-gram: distances 1..3, global top 100 pairs
  val SkipWindow = 3
  val SkipTopK = 100

  // weighted sample: 100 docs, selection probability proportional to n_tok
  val WsK = 100

  // vocabulary growth: 5 evenly-spaced doc-id checkpoints
  val VocabCkpts = 5

  // histogram quantile sketch: 256 x 32-token bins cover the full
  // [0, Seqs.MaxTokens] domain; p50/p90/p99 with err_bound = 32 tokens
  val QhBins = 256
  val QhWidth = 32
  val QhPcts = Seq(50, 90, 99)

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // count-min sketch error report (gram, c_exact, c_est, overest)
    "sketch_cms" -> ((s, dir) =>
      Sketches.countMinReport(Seqs.fromDocuments(s, dir),
        CmsDepth, CmsWidth)),

    // mergeable histogram quantile sketch (p50/p90/p99 of n_tok per
    // source + merged row) with the exact-quantile accuracy oracle and
    // the a-priori one-bin-width error bound
    "sketch_quantile" -> ((s, dir) =>
      Sketches.quantileHistogram(Seqs.fromDocuments(s, dir),
        QhBins, QhWidth, QhPcts)),

    // KMV distinct-count sketch per source + merged global row —
    // production sketch-only path: fused token-array aggregate (integer
    // mixer + in-heap dedup k-min; no explode, no distinct, no
    // per-occurrence hashing)
    "sketch_kmv" -> ((s, dir) =>
      Sketches.kmvTokens(Seqs.fromDocuments(s, dir), KmvK)),

    // KMV error-REPORT form (sketch + exact distinct side by side). The
    // exact side costs a corpus-wide distinct shuffle by definition, so it
    // lives here as the accuracy oracle at gate scale and stays out of the
    // bench battery.
    "sketch_kmv_exact" -> ((s, dir) =>
      Sketches.kmvReport(Seqs.fromDocuments(s, dir), KmvK)),

    // HLL register sketch per source + element-wise-max-merged union row —
    // production sketch-only path: fused token-array register aggregate
    // (integer mixer, no explode, no distinct, no exact side)
    "sketch_hll" -> ((s, dir) =>
      Sketches.hllSketch(Seqs.fromDocuments(s, dir), HllP)),

    // HLL error-REPORT form (registers + exact distinct side by side) —
    // the accuracy oracle at gate scale, kept out of the bench battery
    "sketch_hll_exact" -> ((s, dir) =>
      Sketches.hllReport(Seqs.fromDocuments(s, dir), HllP)),

    // Bloom-filter semi-join pruning report (single row)
    "bloom_prune" -> ((s, dir) =>
      Sketches.bloomPruneReport(
        readTable(s, dir, "documents"),
        col("doc_id"), col("lang") === BloomLang,
        BloomBits, BloomHashes)),

    // global top-k skip-gram context pairs, window 3
    "skipgram_top" -> ((s, dir) =>
      Sketches.skipgramTop(Seqs.fromDocuments(s, dir),
        SkipWindow, SkipTopK)),

    // deterministic weighted sample (selection probability ~ n_tok)
    "weighted_sample" -> ((s, dir) =>
      Sampling.weightedSample(Seqs.fromDocuments(s, dir), WsK)),

    // Heaps'-law vocabulary growth at doc-id checkpoints
    "vocab_growth" -> ((s, dir) =>
      TextAnalysis.vocabGrowth(Seqs.fromDocuments(s, dir), VocabCkpts)),

    // Chao1 richness + Good-Turing unseen mass per source + __all__ —
    // the "how much vocabulary has the crawl NOT seen" asymptote next to
    // vocab_growth's empirical curve
    "vocab_richness" -> ((s, dir) =>
      TextAnalysis.vocabRichness(Seqs.fromDocuments(s, dir)))
  )

  def oracles: Map[String, String] = Map(
    "sketch_cms" ->
      Sketches.duckCountMinSql(Seqs.duckSql, CmsDepth, CmsWidth),

    "sketch_quantile" ->
      Sketches.duckQuantileHistSql(Seqs.duckSql, QhBins, QhWidth, QhPcts),

    "sketch_kmv" ->
      Sketches.duckKmvTokensSql(Seqs.duckSql, KmvK),

    "sketch_kmv_exact" ->
      Sketches.duckKmvSql(Seqs.duckSql, KmvK),

    "sketch_hll" ->
      Sketches.duckHllSketchSql(Seqs.duckSql, HllP),

    "sketch_hll_exact" ->
      Sketches.duckHllSql(Seqs.duckSql, HllP),

    "bloom_prune" ->
      Sketches.duckBloomSql(
        s"""SELECT CAST(doc_id AS VARCHAR) AS k, lang = '$BloomLang' AS is_member
           |FROM documents""".stripMargin,
        BloomBits, BloomHashes),

    "skipgram_top" ->
      Sketches.duckSkipgramSql(Seqs.duckSql, SkipWindow, SkipTopK),

    "weighted_sample" ->
      Sampling.duckWeightedSampleSql(s"seqs AS (${Seqs.duckSql})", WsK),

    "vocab_growth" ->
      TextAnalysis.duckVocabGrowthSql(s"seqs AS (${Seqs.duckSql})", VocabCkpts),

    "vocab_richness" ->
      TextAnalysis.duckVocabRichnessSql(s"seqs AS (${Seqs.duckSql})")
  )
}
