package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression,
  ImplicitCastInputTypes, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

/** Rhythm-side kernels: spectral whitening, the onset baseline, Canny onset
  * sharpening, and the peak-picking rhythm metrics.
  *
  *  - Whitening: per-bin recursive peak-decay normalization — the aubio
  *    `aubio_spectral_whitening_do` recursion
  *    (`3rdParty/Aubio/Dist/src/spectral/awhitening.c:43-51`), applied by
  *    the analyser per hop (`SampleAnalyser.cpp:806-858`). This is the
  *    vector-of-arrays recursive scan (state = one double per bin).
  *  - Onset baseline: the trailing lower median and the rising-edge test
  *    (`OnsetDetector.cpp:551-587`) — one implementation each, read by the
  *    fused feature-vector kernel and every onset/rhythm query.
  *  - Canny window: `i/σ² · exp(−i²/2σ²)` convolution + z-score floor
  *    (`CannyWindow.cpp:10-80`) — sharpens the onset detection series
  *    before peak picking. Summary-path only: MUST NOT feed the
  *    point-in-time path (it reads future frames — the leakage test
  *    asserts this).
  *  - Rhythm metrics: ±24-frame argmax peak picking, strength =
  *    clip(mean(peaks)/4), and the percentile-threshold + valley-walk
  *    contrast (`RhythmTracker.cpp:623-659, 356-480`).
  *
  * Determinism: whitening is max/mul/div only — bitwise across engines with
  * no rounding. Canny/contrast involve exp/pow — rounded to 1e-6 at the
  * query boundary; their *fold orders* are ascending and mirrored in the
  * DuckDB oracles (Canny weights are rendered as shared literals).
  */
object rhythm {

  /** Whitening decay per hop — `relax_time` analog
    * (`awhitening.c:82-87`; `MSpectralWhiteningDecay = 22`,
    * `SampleAnalyser.cpp:44`). 15/16 is exactly representable, so the
    * recursion multiplications are bitwise reproducible. */
  val WhitenDecay = 0.9375

  /** `aubio_spectral_whitening_default_floor` (`awhitening.c:29`). */
  val WhitenFloor = 1e-4

  /** Trailing-median span in frames, current frame included
    * (`OnsetDetector.cpp:551-570`). */
  val MedianSpan = 5

  /** Canny window params (`RhythmTracker.cpp:35-36`). */
  val CannyLength = 12
  val CannyShape = 16.0

  /** Peak-picking params (`RhythmTracker.cpp:39-40`). */
  val PeakWindowLength = 24
  val PeakThreshold = 0.1

  /** Contrast percentile (`RhythmTracker.cpp:404`). */
  val ContrastPercentile = 0.85

  /** Canny convolution weights for shift ∈ [−L, L−1] (the reference's
    * apply loop excludes +L — `CannyWindow.cpp:38-46`). */
  lazy val CannyWeights: Array[Double] = {
    val s2 = CannyShape * CannyShape
    Array.tabulate(2 * CannyLength) { k =>
      val i = k - CannyLength
      i.toDouble / s2 * math.exp(-1.0 * (i.toLong * i) / (2.0 * s2))
    }
  }

  // ------------------------------------------------------------------

  val WhitenStructType: StructType = StructType(Seq(
    StructField("frame_id", IntegerType, nullable = false),
    StructField("bin", IntegerType, nullable = false),
    StructField("white", DoubleType, nullable = false)))

  /** graft_whiten(tokens, frameSize, hop) →
    * ARRAY<STRUCT<frame_id, bin, white>> — whitened block spectrum per
    * frame: `peak = max(mag, max(decay·peak, floor)); white = mag / peak`,
    * peak state zero-initialized per bin (`awhitening.c:43-51`). */
  case class Whiten(tokens: Expression, frameSizeE: Expression,
      hopE: Expression) extends Expression with CodegenFallback {
    private val frameSize = expressions.litIntPub(frameSizeE)
    private val hop = expressions.litIntPub(hopE)
    override def children: Seq[Expression] = Seq(tokens, frameSizeE, hopE)
    override def dataType: DataType = ArrayType(WhitenStructType, containsNull = false)
    override def nullable: Boolean = tokens.nullable
    override def eval(input: InternalRow): Any = {
      val tAny = tokens.eval(input)
      if (tAny == null) return null
      val arr = tAny.asInstanceOf[ArrayData].toIntArray()
      val ws = whitenedFrames(arr, frameSize, hop)
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      var f = 0
      while (f < ws.length) {
        var i = 0
        while (i < ws(f).length) {
          out += new GenericInternalRow(Array[Any](f, i, ws(f)(i)))
          i += 1
        }
        f += 1
      }
      new GenericArrayData(out.toArray)
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(tokens = c(0), frameSizeE = c(1), hopE = c(2))
  }

  /** Shared whitening core: per-frame whitened block spectra (recursive
    * per-bin peak state, zero-initialized). */
  private def whitenedFrames(arr: Array[Int], frameSize: Int,
                             hop: Int): Array[Array[Double]] = {
    val blocks = spectral.blockRms(arr, spectral.BlockSize)
    val hb = hop / spectral.BlockSize
    val fb = frameSize / spectral.BlockSize
    val nf = if (arr.length >= frameSize) (arr.length - frameSize) / hop + 1 else 1
    val peaks = new Array[Double](fb) // per-bin recursive state, init 0
    val out = new Array[Array[Double]](nf)
    var f = 0
    while (f < nf) {
      val s0 = f * hb
      val len = math.min(s0 + fb, blocks.length) - s0
      val w = new Array[Double](len)
      var i = 0
      while (i < len) {
        val mag = blocks(s0 + i)
        val tmp = math.max(WhitenDecay * peaks(i), WhitenFloor)
        peaks(i) = math.max(mag, tmp)
        w(i) = mag / peaks(i)
        i += 1
      }
      out(f) = w
      f += 1
    }
    out
  }

  // ------------------------------------------------------------------

  /** `MHarmonicThreshold` (`SampleAnalyser.cpp:49`) — note 0.5 keeps every
    * peak (|round(r)−r| ≤ 0.5 always), faithfully mirroring the reference
    * default. Peak threshold reuses the 0.25·max band convention. */
  val HarmonicThreshold = 0.5

  /** Plateau-aware peak walk (`Statistics.cpp:140-232`, the
    * `SCreatePeakSpectrum` peak finder, `SampleAnalyser.cpp:95-124`):
    * descend on `>=`, climb on `<`, traverse equal-value plateaus as ONE
    * peak at the middle bin, with the reference's three boundary quirks
    * (first element, the strict check at N−2, last element). Returns peak
    * bins ascending. Declaratively (mirrored by the DuckDB oracle): a
    * maximal equal-run [s..e] with value v is a peak at `(s+e)/2` iff
    * `s ≥ 1`, `e ≤ N−3`, both neighbors strictly below v, and `v > thr`;
    * plus `0` iff `a(0) > a(1)`, `N−2` iff strictly above BOTH neighbors,
    * `N−1` iff `a(N−1) > a(N−2)` (each gated on `> thr`). The walk and the
    * run-rule are equivalent (PropertySpec cross-checks them on random
    * plateau-heavy arrays). */
  private[graft] def peakWalk(a: Array[Double],
                              thr: Double): scala.collection.mutable.ArrayBuffer[Int] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    val n = a.length
    if (n <= 2) return out
    var i = 0
    if (a(0) > a(1) && a(0) > thr) out += 0
    var done = false
    while (!done) {
      while (i + 1 < n - 1 && a(i) >= a(i + 1)) i += 1
      while (i + 1 < n - 1 && a(i) < a(i + 1)) i += 1
      var j = i
      while (j + 1 < n - 1 && a(j) == a(j + 1)) j += 1
      if (j + 1 < n - 1 && a(j + 1) < a(j) && a(j) > thr)
        out += (if (j != i) (i + j) / 2 else j)
      i = j
      if (i + 1 >= n - 1) {
        if (i == n - 2 && a(i - 1) < a(i) && a(i + 1) < a(i) && a(i) > thr)
          out += i
        done = true
      }
    }
    if (a(n - 1) > a(n - 2) && a(n - 1) > thr) out += n - 1
    out
  }

  val HarmonicsStructType: StructType = StructType(Seq(
    StructField("frame_id", IntegerType, nullable = false),
    StructField("f0_bin", IntegerType, nullable = false),
    StructField("n_hpeaks", IntegerType, nullable = false),
    StructField("inharmonicity", DoubleType, nullable = false),
    StructField("tri1", DoubleType, nullable = false),
    StructField("tri2", DoubleType, nullable = false),
    StructField("tri3", DoubleType, nullable = false)))

  /** graft_harmonics(tokens, frameSize, hop) →
    * ARRAY<STRUCT<frame_id, f0_bin, n_hpeaks, inharmonicity, tri1..3>>
    *
    * Per frame over the whitened spectrum (`SampleAnalyser.cpp:860-927,
    * 1937-2003`): peak spectrum = strict local maxima above 0.25·max
    * (peak-picking analog of `xtract_peak_spectrum`, bin index stands in
    * for the interpolated frequency); F0 analog = lowest peak bin;
    * harmonic filter per `xtract_harmonic_spectrum` (`vector.c:545-579`);
    * inharmonicity per `scalar.c:638-661`; tristimulus 1/2/3 per
    * `scalar.c:302-410`. All folds ascending (deviation: the xtract loops
    * run descending — ulp-level, and here the kernel defines the
    * semantics); every op is exact (no libm) so results are bitwise
    * cross-engine with no rounding. */
  case class Harmonics(tokens: Expression, frameSizeE: Expression,
      hopE: Expression) extends Expression with CodegenFallback {
    private val frameSize = expressions.litIntPub(frameSizeE)
    private val hop = expressions.litIntPub(hopE)
    override def children: Seq[Expression] = Seq(tokens, frameSizeE, hopE)
    override def dataType: DataType =
      ArrayType(HarmonicsStructType, containsNull = false)
    override def nullable: Boolean = tokens.nullable
    override def eval(input: InternalRow): Any = {
      val tAny = tokens.eval(input)
      if (tAny == null) return null
      val arr = tAny.asInstanceOf[ArrayData].toIntArray()
      val ws = whitenedFrames(arr, frameSize, hop)
      val out = new Array[Any](ws.length)
      var f = 0
      while (f < ws.length) {
        val w = ws(f)
        val len = w.length
        var wmax = 0.0
        var i = 0
        while (i < len) { if (w(i) > wmax) wmax = w(i); i += 1 }
        val thr = wmax * spectral.PeakThreshold
        // plateau-aware peak walk (Statistics.cpp:140-232)
        val pk = peakWalk(w, thr)
        // F0 analog = lowest NONZERO peak bin (a DC-bin peak cannot anchor
        // the harmonic ratio j/f0; it still enters the peak mass below)
        val f0Opt = pk.find(_ >= 1)
        if (f0Opt.isEmpty) {
          out(f) = new GenericInternalRow(Array[Any](f, 0, 0, 0.0, 0.0, 0.0, 0.0))
        } else {
          val f0 = f0Opt.get
          // harmonic filter (threshold 0.5 keeps all — reference default)
          val kept = pk.filter { j =>
            val ratio = j.toDouble / f0
            math.abs(math.floor(0.5 + ratio) - ratio) <= HarmonicThreshold
          }
          var num = 0.0; var den2 = 0.0; var tden = 0.0
          var p1 = 0.0; var ps = 0.0; var t3 = 0.0
          kept.foreach { j =>
            val a = w(j)
            val h = math.floor(j.toDouble / f0 + 0.5).toInt
            num += math.abs(j - h * f0).toDouble * (a * a)
            den2 += a * a
            tden += a
            if (h == 1) p1 += a
            if (h == 2 || h == 3 || h == 4) ps += a
            if (h >= 5) t3 += a
          }
          val inharm =
            if (den2 == 0.0) 0.0 else (2.0 * num) / (f0.toDouble * den2)
          def tri(p: Double): Double =
            if (tden == 0.0 || p == 0.0) 0.0 else p / tden
          out(f) = new GenericInternalRow(Array[Any](
            f, f0, kept.length, inharm, tri(p1), tri(ps), tri(t3)))
        }
        f += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(tokens = c(0), frameSizeE = c(1), hopE = c(2))
  }

  // ------------------------------------------------------------------

  /** Trailing lower median (`OnsetDetector.cpp:551-570`): `out(i)` is element
    * `(len - 1) / 2` of the sorted window `xs[max(0, i - MedianSpan + 1) .. i]`.
    * `Arrays.sort` orders NaN above every number, as Spark's `array_sort`
    * and DuckDB's `list_sort` do. */
  private[graft] def trailingMedian(xs: Array[Double]): Array[Double] = {
    val n = xs.length
    val out = new Array[Double](n)
    val win = new Array[Double](MedianSpan)
    var i = 0
    while (i < n) {
      val g = math.max(i - (MedianSpan - 1), 0)
      val len = i - g + 1
      System.arraycopy(xs, g, win, 0, len)
      java.util.Arrays.sort(win, 0, len)
      out(i) = win((len - 1) / 2)
      i += 1
    }
    out
  }

  /** Rising edges (`OnsetDetector.cpp:573-587`): the ascending indices `i`
    * with `xs(i) > thr` and `i == 0 || xs(i - 1) <= thr`, compared as Spark
    * SQL compares doubles (NaN above every number). */
  private[graft] def risingEdges(xs: Array[Double], thr: Double): Array[Int] = {
    def above(x: Double): Boolean =
      x > thr || (java.lang.Double.isNaN(x) && !java.lang.Double.isNaN(thr))
    val out = new Array[Int](xs.length)
    var n = 0
    var i = 0
    while (i < xs.length) {
      if (above(xs(i)) && (i == 0 || !above(xs(i - 1)))) { out(n) = i; n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(out, n)
  }

  /** graft_trailing_median(xs ARRAY<DOUBLE>) → ARRAY<DOUBLE> — see
    * [[trailingMedian]]. */
  case class TrailingMedian(xs: Expression)
      extends Expression with ImplicitCastInputTypes with CodegenFallback {
    override def children: Seq[Expression] = Seq(xs)
    override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullable: Boolean = xs.nullable
    override def eval(input: InternalRow): Any = {
      val aAny = xs.eval(input)
      if (aAny == null) return null
      UnsafeArrayData.fromPrimitiveArray(
        trailingMedian(aAny.asInstanceOf[ArrayData].toDoubleArray()))
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(xs = c(0))
  }

  /** graft_rising_edges(xs ARRAY<DOUBLE>, thr DOUBLE) → ARRAY<INT> of the
    * indices [[risingEdges]] finds. */
  case class RisingEdges(xs: Expression, thr: Expression)
      extends Expression with ImplicitCastInputTypes with CodegenFallback {
    override def children: Seq[Expression] = Seq(xs, thr)
    override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType), DoubleType)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = xs.nullable || thr.nullable
    override def eval(input: InternalRow): Any = {
      val aAny = xs.eval(input); val tAny = thr.eval(input)
      if (aAny == null || tAny == null) return null
      UnsafeArrayData.fromPrimitiveArray(risingEdges(
        aAny.asInstanceOf[ArrayData].toDoubleArray(), tAny.asInstanceOf[Double]))
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(xs = c(0), thr = c(1))
  }

  // ------------------------------------------------------------------

  /** graft_canny(xs ARRAY<DOUBLE>) → ARRAY<DOUBLE> — Canny convolution +
    * z-score with a 0 floor (`CannyWindow.cpp:27-71`). */
  case class Canny(xs: Expression) extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(xs)
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullable: Boolean = xs.nullable
    override def eval(input: InternalRow): Any = {
      val aAny = xs.eval(input)
      if (aAny == null) return null
      val a = aAny.asInstanceOf[ArrayData].toDoubleArray()
      UnsafeArrayData.fromPrimitiveArray(cannyCore(a))
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(xs = c(0))
  }

  /** Shared Canny core (also used by the fused feature-vector kernel —
    * loop byte-identical to the original [[Canny]] body). */
  private[functions] def cannyCore(a: Array[Double]): Array[Double] = {
    val n = a.length
    if (n == 0) return Array.emptyDoubleArray
    val tmp = new Array[Double](n)
    var i = 0
    while (i < n) {
      var sum = 0.0
      var shift = -CannyLength
      while (shift < CannyLength) {
        val j = i + shift
        if (j >= 0 && j < n) sum += a(j) * CannyWeights(shift + CannyLength)
        shift += 1
      }
      tmp(i) = sum
      i += 1
    }
    // normalize: z-score clamped at 0 (population variance, 0 for n < 2)
    var s = 0.0
    i = 0
    while (i < n) { s += tmp(i); i += 1 }
    val mean = s / n
    var v = 0.0
    if (n >= 2) {
      i = 0
      while (i < n) { val d = tmp(i) - mean; v += d * d; i += 1 }
      v /= n
    }
    if (v > 0.0) {
      val sd = math.sqrt(v)
      i = 0
      while (i < n) { tmp(i) = math.max(0.0, (tmp(i) - mean) / sd); i += 1 }
    }
    tmp
  }

  // ------------------------------------------------------------------

  val RhythmMetricsStructType: StructType = StructType(Seq(
    StructField("strength", DoubleType, nullable = false),
    StructField("n_peaks", IntegerType, nullable = false),
    StructField("threshold", DoubleType, nullable = false),
    StructField("n_cpeaks", IntegerType, nullable = false),
    StructField("contrast", DoubleType, nullable = false)))

  /** graft_rhythm_metrics(xs ARRAY<DOUBLE>) → STRUCT<strength, n_peaks,
    * threshold, n_cpeaks, contrast> over the (sharpened) onset series:
    *
    *  - strength (`RhythmTracker.cpp:357-387, 624-659`): peaks = values
    *    > 0.1 that are ±24-window maxima (strictly-greater neighbor
    *    disqualifies); strength = clip(mean(peaks)/4, 0, 1).
    *  - contrast (`RhythmTracker.cpp:391-480`): threshold = sorted[⌊0.85·
    *    (n−1)⌋]; sequential valley walk; contrast =
    *    −pow(peakMean/valleyMean, 1/ln(totalMean+1e-4)). */
  case class RhythmMetrics(xs: Expression)
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(xs)
    override def dataType: DataType = RhythmMetricsStructType
    override def nullable: Boolean = xs.nullable
    override def eval(input: InternalRow): Any = {
      val aAny = xs.eval(input)
      if (aAny == null) return null
      val a = aAny.asInstanceOf[ArrayData].toDoubleArray()
      val m = metricsCore(a)
      new GenericInternalRow(Array[Any](
        m.strength, m.nPeaks, m.threshold, m.nCPeaks, m.contrast))
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(xs = c(0))
  }

  private[functions] final case class Metrics(strength: Double, nPeaks: Int,
      threshold: Double, nCPeaks: Int, contrast: Double)

  private def isPeak(a: Array[Double], i: Int): Boolean = {
    var j = -PeakWindowLength
    while (j <= PeakWindowLength) {
      val k = i + j
      if (k >= 0 && k < a.length && a(k) > a(i)) return false
      j += 1
    }
    true
  }

  /** Shared rhythm-metrics core (also used by the fused feature-vector
    * kernel — loops byte-identical to the original [[RhythmMetrics]] body). */
  private[functions] def metricsCore(a: Array[Double]): Metrics = {
    val n = a.length
    if (n == 0) return Metrics(0.0, 0, 0.0, 0, 0.0)
    // strength: fixed-threshold peaks
    var psum = 0.0
    var np = 0
    var i = 0
    while (i < n) {
      if (a(i) > PeakThreshold && isPeak(a, i)) { psum += a(i); np += 1 }
      i += 1
    }
    val strength =
      if (np == 0) 0.0
      else math.min(1.0, math.max(0.0, psum / np / 4.0))
    // contrast: percentile threshold + valley walk
    val sorted = a.clone()
    java.util.Arrays.sort(sorted)
    val threshold = sorted((ContrastPercentile * (n - 1)).toInt)
    var vpos = 0
    var vval = threshold
    var cpsum = 0.0
    var cvsum = 0.0
    var ncp = 0
    i = 0
    while (i < n) {
      if (a(i) < vval) { vpos = i; vval = a(i) }
      if (a(i) >= threshold && isPeak(a, i)) {
        cpsum += a(i); cvsum += a(vpos); ncp += 1
        vval = a(i)
      }
      i += 1
    }
    var tsum = 0.0
    i = 0
    while (i < n) { tsum += a(i); i += 1 }
    val totalMean = tsum / n
    val peakMean = if (ncp == 0) 0.0 else cpsum / ncp
    val valleyMean = (if (ncp == 0) 0.0 else cvsum / ncp) + 0.0001
    val contrast =
      if (peakMean != 0.0)
        -1.0 * math.pow(peakMean / valleyMean,
          1.0 / math.log(totalMean + 0.0001))
      else 0.0
    Metrics(strength, np, threshold, ncp, contrast)
  }

  /** Register (idempotent; called from [[expressions.register]]). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_whiten",
      es => Whiten(es(0), es(1), es(2)), "built-in")
    reg.createOrReplaceTempFunction("graft_trailing_median",
      es => TrailingMedian(es(0)), "built-in")
    reg.createOrReplaceTempFunction("graft_rising_edges",
      es => RisingEdges(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_canny",
      es => Canny(es(0)), "built-in")
    reg.createOrReplaceTempFunction("graft_rhythm_metrics",
      es => RhythmMetrics(es(0)), "built-in")
    reg.createOrReplaceTempFunction("graft_harmonics",
      es => Harmonics(es(0), es(1), es(2)), "built-in")
  }
}
