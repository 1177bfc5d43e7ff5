package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.features.{FeatureVector => FV, Pipeline, PointInTime}
import graft.queries.RhythmQueries
import graft.sources.Seqs

/** The fused full-classification-feature-vector kernel: the whole 1920-dim
  * assembly of [[graft.features.FeatureVector.fvFull]]
  * (`SampleClassificationDescriptors.cpp:395-561`) in ONE per-row pass.
  *
  * Why: the composed path evaluates ~1700 interpreted HOF expressions per
  * row (every `transform`/`get` re-dispatches a lambda per element) and —
  * worse — ran the 14-band battery twice per row (`graft_band_features`
  * AND `graft_frame_spectral`, which recomputed `bandRows` internally for
  * its contrast/complexity sums). Here the token array is read once, the
  * block grid and band rows are computed once, and every downstream series,
  * stat block and scalar is a tight primitive loop.
  *
  * Bitwise contract: each step re-uses (or replicates byte-for-byte) the
  * exact helper the composed path used — [[spectral.blockRms]] /
  * [[spectral.bandRows]] / [[spectral.flatnessDb]] / [[spectral.fluxCorr]]
  * for the battery, [[Stats.oracle]] for the 13-stat blocks,
  * [[rhythm.cannyCore]] / [[rhythm.metricsCore]] for the rhythm scalars,
  * and [[round6]] mirrors Spark's `round(x, 6)` (BigDecimal of the shortest
  * decimal repr, HALF_UP) so quantized values match the composed path and
  * the DuckDB oracle bit-for-bit. `FvKernelSpec` asserts fused ==
  * composed bitwise on the sf0.001 corpus; the `fv_full` oracle query runs
  * against this kernel.
  *
  * == Scale design ==
  * One narrow projection per doc, zero shuffle; work per row bounded by the
  * analysis cap. Unlike the composed path the expression tree is a single
  * node, so Catalyst never re-inlines producers and the row stays in one
  * cache-resident pass.
  */
object fvkernel {

  private val F = Seqs.FrameSize
  private val H = Seqs.Hop
  private val RF = Seqs.RFrameSize
  private val RH = Seqs.RHop
  private val NB = spectral.NBands
  private val NM = spectral.NMfcc
  private val offs: Array[Int] = PointInTime.TimeOffsets.toArray
  private val nOff = offs.length
  private val Sixth = 1.0 / 6.0
  private val Thresholds: Array[Int] = Pipeline.EffectiveLengthThresholds.toArray

  /** Spark's `round(x, 6)` for doubles: BigDecimal over the canonical
    * (shortest) decimal string, HALF_UP — see Catalyst `RoundBase`. */
  private[graft] def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else new java.math.BigDecimal(java.lang.Double.toString(x))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** 7-stat FV subset in reference order, flatness quantized
    * (mirror of FeatureVector.statArr). */
  private def statSubset(out: Array[Double], pos: Int, b: Stats.Block): Unit = {
    out(pos) = b.min
    out(pos + 1) = b.max
    out(pos + 2) = b.mean
    out(pos + 3) = b.variance
    out(pos + 4) = round6(b.flatness)
    out(pos + 5) = b.dmean
    out(pos + 6) = b.dvariance
  }

  private def block(xs: Array[Double]): Stats.Block =
    Stats.oracle(xs.toIndexedSeq) // identical to the StatsBlock expression

  /** graft_fv_full(tokens ARRAY<INT>, n_tok INT) → ARRAY<DOUBLE>[FV.Width = 1920]. */
  case class FvFullKernel(tokens: Expression, nTokE: Expression)
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(tokens, nTokE)
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullable: Boolean = tokens.nullable || nTokE.nullable
    override def eval(input: InternalRow): Any = {
      val tAny = tokens.eval(input); val nAny = nTokE.eval(input)
      if (tAny == null || nAny == null) return null
      val arr = tAny.asInstanceOf[ArrayData].toIntArray()
      val nTok = nAny.asInstanceOf[Int]
      UnsafeArrayData.fromPrimitiveArray(compute(arr, nTok))
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(tokens = c(0), nTokE = c(1))
  }

  /** The whole assembly (see [[graft.features.FeatureVector]] for layout). */
  private[graft] def compute(arr: Array[Int], nTok: Int): Array[Double] = {
    val n = arr.length
    val blocks = spectral.blockRms(arr, spectral.BlockSize)
    val fb = F / spectral.BlockSize
    val hb = H / spectral.BlockSize
    val nf = spectral.nFrames(n, F, H)
    // the band battery — ONCE (the composed path ran it twice)
    val bands = spectral.bandRows(blocks, nf, fb, hb)
    def bandD(f: Int, b: Int, fieldIdx: Int): Double =
      bands(f * NB + b).asInstanceOf[
        org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
        .getDouble(fieldIdx)
    def bandI(f: Int, b: Int, fieldIdx: Int): Int =
      bands(f * NB + b).asInstanceOf[
        org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
        .getInt(fieldIdx)
    // BandStructType field order: frame_id(0) band(1) n_bins(2) mean(3)
    // rms(4) flatness(5) flux(6) complexity(7) contrast(8)

    // --- amplitude frames (FrameFeatures loop at F/H)
    val frmRms = new Array[Double](nf)
    val frmPeak = new Array[Int](nf)
    val frmAud = new Array[Boolean](nf)
    var f = 0
    while (f < nf) {
      val start = f * H
      val len = math.min(F, n - start)
      var q = 0L; var p = 0
      var i = start
      val end = start + len
      while (i < end) {
        val x = arr(i)
        q += x.toLong * x
        val ax = math.abs(x)
        if (ax > p) p = ax
        i += 1
      }
      frmRms(f) = math.sqrt(q.toDouble / len)
      frmPeak(f) = p
      frmAud(f) = p > Seqs.SilenceThreshold
      f += 1
    }

    // --- per-frame spectrum scalars (FrameSpectral loops, minus rolloff)
    val srms = new Array[Double](nf)
    val sflat = new Array[Double](nf)
    val sflux = new Array[Double](nf)
    val scontrast = new Array[Double](nf)
    val scomplexity = new Array[Double](nf)
    val f0conf = new Array[Double](nf)
    val scen = new Array[Double](nf)
    val sspr = new Array[Double](nf)
    val sskw = new Array[Double](nf)
    val skur = new Array[Double](nf)
    val mfcc = new Array[Array[Double]](nf)
    f = 0
    while (f < nf) {
      val s0 = f * hb
      val e0 = math.min(s0 + fb, blocks.length)
      val len = e0 - s0
      var csum = 0.0
      var cplxSum = 0
      var b = 0
      while (b < NB) {
        csum += bandD(f, b, 8)
        cplxSum += bandI(f, b, 7)
        b += 1
      }
      var sq = 0.0
      var i = 0
      while (i < len) { val x = blocks(s0 + i); sq += x * x; i += 1 }
      srms(f) = math.sqrt(sq / len)
      sflat(f) = spectral.flatnessDb(blocks, s0, len)
      val lm: Array[Double] =
        if (f == 0) null
        else java.util.Arrays.copyOfRange(blocks,
          (f - 1) * hb, math.min((f - 1) * hb + fb, blocks.length))
      val m = java.util.Arrays.copyOfRange(blocks, s0, e0)
      sflux(f) = spectral.fluxCorr(m, lm, 0, len)
      scontrast(f) = csum / NB
      scomplexity(f) = cplxSum.toDouble
      f0conf(f) = math.min(frmPeak(f).toDouble / 2048.0, 1.0)
      val (c0, s0m, k3, k4) = spectral.indexMoments(blocks, s0, len)
      scen(f) = c0; sspr(f) = s0m; sskw(f) = k3; skur(f) = k4
      // MFCC (FrameSpectral loop)
      val loge = new Array[Double](NM)
      var k = 0
      while (k < NM) {
        val w = spectral.MelWeights(k)
        var e = 0.0
        i = 0
        while (i < len && i < w.length) { e += blocks(s0 + i) * w(i); i += 1 }
        loge(k) = math.log(if (e < spectral.LogLimit) spectral.LogLimit else e)
        k += 1
      }
      val mf = new Array[Double](NM)
      var nn = 0
      while (nn < NM) {
        val basis = spectral.DctBasis(nn)
        var acc = 0.0
        var mm = 0
        while (mm < NM) { acc += loge(mm) * basis(mm); mm += 1 }
        mf(nn) = acc
        nn += 1
      }
      mfcc(f) = mf
      f += 1
    }

    val out = new Array[Double](FV.Width)

    // --- 1. signature: band-major [band × offsets], compressed band mean
    var b = 0
    while (b < NB) {
      var ti = 0
      while (ti < nOff) {
        val t = offs(ti)
        out(FV.SigBase + b * nOff + ti) =
          if (t < nf)
            round6(math.pow(bandD(t, b, 3) / 2048.0 * 1.25, Sixth))
          else 0.0
        ti += 1
      }
      b += 1
    }

    // --- 2. spectrum series × 48 (order + fallbacks = FeatureVector.SeriesDefs)
    val seriesVals: Array[Array[Double]] =
      Array(srms, sflat, sflux, scontrast, scomplexity, f0conf,
        scen, sspr, sskw, skur)
    val seriesFb: Array[Double] =
      Array(0.0, 1.0, 0.0, -1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    val seriesQuant: Array[Boolean] =
      Array(false, true, false, true, false, false,
        false, false, false, false)
    val nSeries = seriesVals.length
    var k = 0
    while (k < nSeries) {
      var ti = 0
      while (ti < nOff) {
        val t = offs(ti)
        out(FV.SeriesBase + k * nOff + ti) =
          if (t < nf) {
            val v = seriesVals(k)(t)
            if (seriesQuant(k)) round6(v) else v
          } else seriesFb(k)
        ti += 1
      }
      k += 1
    }

    // --- 3. spectrum-series stat blocks (quantized inputs where the
    // composed path quantized: sflat, scontrast)
    var stSrmsMean = 0.0
    k = 0
    while (k < nSeries) {
      val src = seriesVals(k)
      val xs =
        if (seriesQuant(k)) {
          val q = new Array[Double](nf)
          var i = 0
          while (i < nf) { q(i) = round6(src(i)); i += 1 }
          q
        } else src
      val blk = block(xs)
      if (k == 0) stSrmsMean = blk.mean
      statSubset(out, FV.SpecStatsBase + k * 7, blk)
      k += 1
    }

    // --- 4. per-band stat blocks (descriptor-major, band-minor)
    // BandDefs order: rms(4), flatness(5,q), flux(6), complexity(7,int), contrast(8,q)
    val bandFields = Array(4, 5, 6, 7, 8)
    val bandQuant = Array(false, true, false, false, true)
    var d = 0
    while (d < 5) {
      b = 0
      while (b < NB) {
        val xs = new Array[Double](nf)
        var fi = 0
        while (fi < nf) {
          val raw =
            if (bandFields(d) == 7) bandI(fi, b, 7).toDouble
            else bandD(fi, b, bandFields(d))
          xs(fi) = if (bandQuant(d)) round6(raw) else raw
          fi += 1
        }
        statSubset(out, FV.BandStatsBase + (d * NB + b) * 7, block(xs))
        b += 1
      }
      d += 1
    }

    // --- 5. cepstrum-coefficient stat blocks (quantized)
    k = 0
    while (k < NM) {
      val xs = new Array[Double](nf)
      var fi = 0
      while (fi < nf) { xs(fi) = round6(mfcc(fi)(k)); fi += 1 }
      statSubset(out, FV.MfccStatsBase + k * 7, block(xs))
      k += 1
    }

    // --- 6. amplitude series + stats, silence-flag stats
    var ti = 0
    while (ti < nOff) {
      val t = offs(ti)
      out(FV.AmpSeriesBase + ti) = if (t < nf) frmRms(t) else 0.0
      ti += 1
    }
    statSubset(out, FV.AmpStatsBase, block(frmRms))
    val silXs = new Array[Double](nf)
    f = 0
    while (f < nf) { silXs(f) = if (frmAud(f)) 1.0 else 0.0; f += 1 }
    statSubset(out, FV.SilStatsBase, block(silXs))

    // --- 7. rhythm scalars + effective length
    // rhythm-clock rms series (FrameFeatures loop at RF/RH)
    val nfr = spectral.nFrames(n, RF, RH)
    val rser = new Array[Double](nfr)
    f = 0
    while (f < nfr) {
      val start = f * RH
      val len = math.min(RF, n - start)
      var q = 0L
      var i = start
      val end = start + len
      while (i < end) { val x = arr(i); q += x.toLong * x; i += 1 }
      rser(f) = math.sqrt(q.toDouble / len)
      f += 1
    }
    // onset series: rise above the trailing lower median, clipped and scaled
    val med = rhythm.trailingMedian(rser)
    val ov = new Array[Double](nfr)
    var i = 0
    while (i < nfr) {
      ov(i) = math.max(rser(i) - med(i), 0.0) / RhythmQueries.OnsetScale
      i += 1
    }
    val rm = rhythm.metricsCore(rhythm.cannyCore(ov))
    val nOnsets = rhythm.risingEdges(ov, 0.1).length
    val tempoRaw = nOnsets.toDouble * 61440.0 / nTok
    val t0 = if (tempoRaw < 20.0 || tempoRaw > 300.0) 0.0 else tempoRaw
    val t1 = if (t0 > 0.0 && t0 < 80.0) t0 * 2.0 else t0
    val t2 = if (t1 > 0.0 && t1 < 80.0) t1 * 2.0 else t1
    val tempo = if (t2 >= 200.0) t2 / 2.0 else t2
    // effective bounds at threshold index 1 (EffectiveBounds loop)
    val thr1 = Thresholds(1)
    var first = -1; var last = -1
    i = 0
    while (i < n) {
      if (math.abs(arr(i)) > thr1) { if (first == -1) first = i; last = i }
      i += 1
    }
    val effLen = if (first == -1) 0 else last - first + 1
    out(FV.ScalarsBase) = rm.strength
    out(FV.ScalarsBase + 1) = round6(rm.contrast)
    out(FV.ScalarsBase + 2) = tempo
    out(FV.ScalarsBase + 3) = effLen.toDouble

    // --- 8. padding with the spectral-RMS mean
    i = 0
    while (i < FV.PadCount) {
      out(FV.UnpaddedWidth + i) = stSrmsMean
      i += 1
    }
    out
  }

  /** Register (idempotent; called from [[expressions.register]]). */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_fv_full", es => FvFullKernel(es(0), es(1)), "built-in")
  }
}
