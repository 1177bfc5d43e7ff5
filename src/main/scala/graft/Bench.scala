package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Partitioning.readTable

/** Benchmark main. Prints ONE JSON line:
  * `{"metric":"…","value":<total sec>,"unit":"sec","queries":{name:sec,…},
  *   "sf":…, "fv_rows":N, "fv_rows_per_sec":R, "cpus":C}`.
  *
  * Every query is forced through the `noop` writer so the full plan
  * materializes (a bare `count()` would let Catalyst prune the feature
  * columns and benchmark a scan). The headline metric is feature-vector
  * rows/sec (entity × 48 point-in-time offsets — BASELINE.json), measured
  * on the full low-level pipeline. Scaling evidence across two parallelism
  * levels comes from running this main at two SPARK_GRAFT_CPUS values
  * (scripts/bench_scaling.sh → BENCH.md).
  */
object Bench {

  /** Representative subset (one per operator family) — bounded so the
    * per-round bench stays minutes, not hours. */
  val BenchQueries: Seq[String] = Seq(
    "features_ll",        // headline: full per-doc feature pipeline
    "fv_full",            // full 1920-dim classification feature vector
    "band_features",      // per-frame sub-band battery
    "frame_rms",          // framing kernel
    "doc_stats_rms",      // stats kernel
    "pit_asof",           // as-of join
    "onsets",             // window battery (median/edge/refractory/session)
    "events_sessionize",  // event-time sessionization
    "events_asof",        // event-time as-of
    "dedup_minhash",      // minhash signatures
    "dedup_lsh_pairs",    // LSH bucket join
    "embed_topk",         // similarity search
    "dedup_embed",        // banded sign-LSH near-dup (round-3 scale fix)
    "gbdt_score_large",   // node-table ensemble walk (500-tree path)
    "events_label_join",  // forward as-of (label attribution)
    "events_trailing_multi", // 3-horizon trailing features, one window pass
    "decontaminate",      // broadcast eval-gram contamination check
    "quality_linear",     // hashed linear scorer (broadcast weights)
    "redact_pii",         // regex count-and-mask text scan
    "span_dedup",         // exact substring-span dedup (window hashing)
    "nb_classify",        // counting-trained NB classifier (train + apply)
    "seq_split",          // training-window materialization (packing family)
    "skipgram_top",       // native skip-gram codes + global top-k
    "sketch_kmv",         // KMV distinct sketch (bucketed two-stage merge)
    "sketch_hll",         // HLL registers + max-merge union row
    "source_overlap",     // gram-keyed cross-source self-join + Jaccard
    "source_drift",       // per-source JSD off the vocab-bounded grid
    "embed_quant",        // int8 SQ8 quantization (narrow projection)
    "dedup_incremental",  // batch-vs-frozen-index screen (broadcast probe)
    "centroid_drift",     // per-label centroid grid (one quantized pass)
    "kn_bigram_nll",      // Kneser-Ney LM scoring (window count families)
    "unigram_diversity",  // per-doc entropy/KL (one explode + windows)
    "semdedup",           // k-means cells + in-cell pruning (checkpointed rank)
    "dup_pagerank",       // 5 quantized PR rounds over the near-dup graph
    "events_trailing_stats", // 5-stat trailing block, one window pass
    "dedup_editdist",     // banded/full DP verify over LSH candidates
    "bm25_top",           // broadcast inverted-index retrieval
    "pca_top",            // one-pass sufficient stats + integer iteration
    "q3_join",            // relational join/agg
    "hard_negatives_lsh", // full-corpus batch-hard mining (banded sign-LSH)
    "coreset_cells",      // per-cell greedy coreset (round-4 scale fix)
    "pq_codes",           // PQ encode (train + broadcast-codebook pass)
    "ivfpq_recall",       // two-level compressed ANN (cells + ADC)
    "sketch_quantile",    // mergeable histogram quantile sketch
    "unigram_train")      // unigram-LM tokenizer round (Viterbi + census)
  // gbdt_train/gbdt_bagged are multi-job TRAINING loops, not queries —
  // their cost is reported in BENCH.md prose (13.2 s cold at sf0.1 incl.
  // session setup for the 4-round fit over 5 000 docs × 8 k tokens),
  // keeping the battery a query-latency metric.

  def allQueries: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries +
      ("features_ll" -> ((s: SparkSession, dir: String) =>
        graft.features.Pipeline.featuresLlFromDir(s, dir)))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val qs = allQueries
    // Cumulative stolen-CPU ticks (field 8 of /proc/stat "cpu" line): the
    // sandbox VM has multi-second near-total steal bursts, so every rep
    // records its steal share — a contaminated rep is visible instead of
    // silently poisoning the min (round-1's committed bench recorded 70 s
    // for a 1.5 s query this way).
    def stealTicks(): Long =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        try src.getLines().next().trim.split("\\s+").drop(1)
          .lift(7).map(_.toLong).getOrElse(0L)
        finally src.close()
      } catch { case _: Throwable => 0L }
    val hz = 100.0 // USER_HZ
    def stealPct(dTicks: Long, sec: Double): Double =
      if (sec <= 0) 0.0
      else 100.0 * (dTicks / hz) / (sec * Runtime.getRuntime.availableProcessors)
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      try {
        qs(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage.take(200)}")
          -1.0
      }
    }
    // steady state: one warm-up run (JIT/codegen/page cache), then time
    // repeats until >= 5 s cumulative (max 5), report the average
    def runOne(name: String): Double = {
      val w = once(name)
      if (w < 0) return -1.0
      var cum = 0.0
      var k = 0
      val reps = scala.collection.mutable.ArrayBuffer[Double]()
      while (k < 5 && (k == 0 || cum < 5.0)) {
        val t = once(name)
        if (t < 0) return -1.0
        reps += t
        cum += t; k += 1
      }
      System.err.println(f"[bench] $name warm=$w%.2f reps=${
        reps.map(t => f"$t%.2f").mkString(",")}")
      // min of repeats: the noise-robust statistic on a shared VM (load
      // spikes only ever ADD time; the min approaches true cost)
      reps.min
    }

    // SPARK_GRAFT_BENCH_ONLY_SCALED=1 skips the query battery (scaling
    // evidence iterations need only the headline pipeline)
    val onlyScaled = sys.env.get("SPARK_GRAFT_BENCH_ONLY_SCALED").contains("1")
    val results =
      if (onlyScaled) Seq.empty else BenchQueries.map(n => n -> runOne(n))

    // headline fv throughput on a corpus large enough that per-core compute
    // dominates job-setup overhead (replicated docs, distinct content).
    // Scaling evidence needs the 32-core run >= ~30 s: at ~90k docs/s that
    // is ~2.5M docs = scale 500 on sf0.1 (round-1's scale 20 ran ~1 s and
    // measured nothing but setup cost).
    val scale = sys.env.getOrElse("SPARK_GRAFT_BENCH_SCALE", "20").toInt
    val scaledLl = (s: SparkSession, d: String) =>
      graft.features.Pipeline.featuresLl(
        graft.sources.Seqs.scaledFromDocuments(s, d, scale))
    val qsAll = qs + ("features_ll_scaled" -> scaledLl)
    def timeScaled(): (Double, Double) = {
      val s0 = stealTicks()
      val t0 = System.nanoTime()
      qsAll("features_ll_scaled")(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      val sec = (System.nanoTime() - t0) / 1e9
      (sec, stealPct(stealTicks() - s0, sec))
    }
    // hoist the doc count BEFORE the timed reps (it reads the source
    // parquet; doing it between timings perturbed the environment)
    val nDocs = readTable(spark, sfDir, "documents").count() * scale
    timeScaled() // warm
    val nReps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val llReps = Seq.fill(nReps)(timeScaled())
    llReps.foreach { case (t, sp) =>
      System.err.println(f"[bench] scaled rep: $t%.2f s (steal $sp%.1f%%)") }
    val (llSec, llSteal) = llReps.minBy(_._1)
    val fvRows = nDocs * graft.features.PointInTime.TimeOffsets.length
    val fvRate = if (llSec > 0) fvRows / llSec else -1.0
    System.err.println(f"[bench] features_ll_scaled(x$scale) = $llSec%.2f s")
    // the full 1920-dim classification vector on the same scaled corpus
    // (the heavyweight honest workload; reported alongside the headline)
    def timeFvFull(): Double = {
      val t0 = System.nanoTime()
      graft.features.FeatureVector.fvFull(
          graft.sources.Seqs.scaledFromDocuments(spark, sfDir, scale))
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    // scaling-evidence iterations (ONLY_SCALED) time just the headline.
    // min-of-3: this VM's scheduler storms (loadavg 20+ while locally idle,
    // not visible in /proc/stat steal) can stretch one ~4 s rep to minutes;
    // with the fused kernel a rep is cheap enough to afford the extra cover
    val fvFullSec =
      if (onlyScaled) -1.0
      else { timeFvFull(); Seq(timeFvFull(), timeFvFull(), timeFvFull()).min }
    val fvFullRate = if (fvFullSec > 0) fvRows / fvFullSec else -1.0
    System.err.println(f"[bench] fv_full_scaled(x$scale) = $fvFullSec%.2f s")
    val total = results.map(_._2).filter(_ > 0).sum
    val qJson = results.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val llRepsJson = llReps
      .map { case (t, sp) => f"[$t%.3f,$sp%.2f]" }.mkString("[", ",", "]")
    println(
      s"""{"metric":"feature-vector rows/sec (entity x 48 offsets); per-query wall sec","value":$total,"unit":"sec","queries":$qJson,"sf":"$sfDir","n_docs":$nDocs,"fv_rows":$fvRows,"fv_rows_per_sec":$fvRate,"ll_steal_pct":$llSteal,"ll_reps":$llRepsJson,"fv_full_sec":$fvFullSec,"fv_full_rows_per_sec":$fvFullRate,"cpus":$cpus}""")
    spark.stop()
  }
}
