package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

import graft.functions.Stats

/** Randomized property tests (FIXTURES.md §3.4): temporal-leakage and
  * stats-kernel invariants over generated inputs (seeded — deterministic).
  * Pure-Scala oracle level; Spark-side bitwise agreement with the oracle is
  * covered by StatsSpec/PipelineSpec. */
class PropertySpec extends AnyFunSuite {

  private val Trials = 200

  private def tokenSeq(rnd: Random): List[Int] =
    List.fill(rnd.nextInt(400))(rnd.nextInt(4097) - 2048)

  private def frameRms(xs: Seq[Int], f: Int = 64, h: Int = 32): Seq[Double] = {
    val n = xs.length
    val nf = if (n >= f) (n - f) / h + 1 else 1
    (0 until nf).map { i =>
      val sl = xs.slice(i * h, math.min(i * h + f, n))
      if (sl.isEmpty) 0.0
      else math.sqrt(sl.map(x => x.toLong * x).sum.toDouble / sl.length)
    }
  }

  private def close(x: Double, y: Double) =
    (x.isNaN && y.isNaN) ||
      math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))

  test("kmin buffer: random inserts + merges == sorted.take(k)") {
    val rnd = new Random(99)
    for (_ <- 1 to Trials) {
      val k = 1 + rnd.nextInt(40)
      val parts = List.fill(1 + rnd.nextInt(5))(
        List.fill(rnd.nextInt(200))(rnd.nextLong()))
      val merged = parts.map { p =>
        val b = new graft.functions.expressions.KMinBuffer(k)
        p.foreach(b.insert); b
      }.reduce { (a, b) =>
        var i = 0
        while (i < b.size) { a.insert(b.heap(i)); i += 1 }
        a
      }
      assert(merged.sortedAsc.toList == parts.flatten.sorted.take(k),
        s"k=$k sizes=${parts.map(_.length)}")
    }
  }

  test("leakage: appending tokens never changes completed frames") {
    val rnd = new Random(4242)
    for (_ <- 1 to Trials) {
      val base = tokenSeq(rnd)
      val suffix = tokenSeq(rnd)
      if (base.length >= 64) {
        val before = frameRms(base)
        val after = frameRms(base ++ suffix)
        val stable = before.indices.filter(i => i * 32 + 64 <= base.length)
        assert(stable.forall(i => before(i) == after(i)),
          s"leak at n=${base.length}")
      }
    }
  }

  test("stats: permutation invariance of order-free stats (random data)") {
    val rnd = new Random(77)
    for (_ <- 1 to Trials) {
      val xs = List.fill(1 + rnd.nextInt(60))(rnd.nextDouble() * 2e6 - 1e6)
      val shuffled = rnd.shuffle(xs)
      val a = Stats.oracle(xs)
      val b = Stats.oracle(shuffled)
      assert(close(a.min, b.min) && close(a.max, b.max))
      assert(close(a.mean, b.mean) && close(a.variance, b.variance))
      assert(close(a.median, b.median))
      assert(close(a.gmean, b.gmean) && close(a.flatness, b.flatness))
    }
  }

  test("stats: variance non-negative; min <= median/mean <= max for n >= 2") {
    val rnd = new Random(99)
    for (_ <- 1 to Trials) {
      val xs = List.fill(rnd.nextInt(40))(rnd.nextDouble() * 2e6 - 1e6)
      val b = Stats.oracle(xs)
      assert(b.variance >= 0.0)
      if (xs.length >= 2) {
        assert(b.min <= b.median && b.median <= b.max)
        assert(b.min <= b.mean && b.mean <= b.max)
      }
    }
  }

  test("refractory invariant: kept events are >= gap apart and greedy-first") {
    val gap = 7
    val rnd = new Random(123)
    for (_ <- 1 to Trials) {
      val sorted = List.fill(rnd.nextInt(80))(rnd.nextInt(500)).distinct.sorted
      // scalar reimplementation of Windows.refractoryExpr semantics
      val kept = sorted.foldLeft(List.empty[Int]) { (acc, x) =>
        if (acc.isEmpty || x - acc.head >= gap) x :: acc else acc
      }.reverse
      kept.sliding(2).foreach {
        case List(a, b) => assert(b - a >= gap)
        case _ =>
      }
      if (sorted.nonEmpty) assert(kept.head == sorted.head)
    }
  }

  test("onset kernels == scalar brute force (trailing median, rising edges)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.functions.rhythm
    val span = rhythm.MedianSpan
    // Spark SQL orders doubles totally: NaN above every number
    val ord = Ordering.Double.TotalOrdering
    def lit(xs: Array[Double]) = Literal.create(xs.toSeq, ArrayType(DoubleType))
    def bits(xs: Seq[Double]) = xs.map(java.lang.Double.doubleToLongBits)
    def median(xs: Array[Double]): Array[Double] =
      rhythm.TrailingMedian(lit(xs)).eval(null).asInstanceOf[ArrayData].toDoubleArray()
    def edges(xs: Array[Double], thr: Double): Seq[Int] =
      rhythm.RisingEdges(lit(xs), Literal(thr)).eval(null)
        .asInstanceOf[ArrayData].toIntArray().toSeq
    val rnd = new Random(551)
    def series(n: Int): Array[Double] = {
      // a few shared levels give runs of ties; the rest spread over 0..400
      val levels = Array.fill(1 + rnd.nextInt(4))(rnd.nextDouble() * 400.0)
      Array.fill(n)(
        if (rnd.nextInt(3) == 0) levels(rnd.nextInt(levels.length))
        else rnd.nextDouble() * 400.0)
    }
    // the one NaN-rms frame of an empty token array; every length below
    // the span; then random lengths 0..70
    val cases = Seq(Array(Double.NaN)) ++ (0 until span).map(series) ++
      Seq.fill(Trials)(series(rnd.nextInt(71)))
    for (xs <- cases) {
      val ref = xs.indices.map { i =>
        val w = xs.slice(math.max(0, i - span + 1), i + 1).sorted(ord)
        w((w.length - 1) / 2)
      }
      val med = median(xs)
      assert(bits(med.toSeq) == bits(ref), s"median of ${xs.toSeq}")
      // raw residual at 150.0, clipped and scaled series at 0.1
      val residual = xs.indices.map(i => xs(i) - med(i)).toArray
      val scaled = residual.map(r => math.max(r, 0.0) / 650.0)
      for ((ys, thr) <- Seq(residual -> 150.0, scaled -> 0.1, xs -> 200.0)) {
        val ref = ys.indices.filter(i => ord.gt(ys(i), thr) &&
          (i == 0 || ord.lteq(ys(i - 1), thr)))
        assert(edges(ys, thr) == ref, s"edges of ${ys.toSeq} at $thr")
      }
    }
  }

  test("counted-gram kernel == Scala census, every shape") {
    import org.apache.spark.sql.functions.col
    import graft.functions.expressions.{GramShape, countedGrams, gramCounts}
    val spark = SparkTestSession.spark
    import spark.implicits._
    val rnd = new Random(4099)
    // every length 0..3 over a 3-token alphabet, then random arrays drawn
    // from a few tokens (repeats) that include both ends of the domain
    val short = (0 to 3).flatMap(n => Seq.fill(4)(Seq.fill(n)(rnd.nextInt(3) - 1)))
    val random = Seq.fill(Trials) {
      val alpha = Seq(-2048, 2047) ++ Seq.fill(1 + rnd.nextInt(5))(rnd.nextInt(4096) - 2048)
      Seq.fill(rnd.nextInt(60))(alpha(rnd.nextInt(alpha.length)))
    }
    val cases = (short ++ random).map(Option(_)) :+ None // a null array
    val df = cases.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "tokens")
    def codes(ts: Seq[Int], shape: GramShape): Seq[Long] = {
      val g = ts.map(_ + 2048L)
      if (shape.width == 1) g
      else if (shape.window == 0) g.indices.drop(1).map(i => g(i - 1) * 4096 + g(i))
      else for (d <- 1 to shape.window; i <- 0 until g.length - d)
        yield (g(i) * 4096 + g(i + d)) * 4 + d
    }
    val shapes = Seq(GramShape.Unigram, GramShape.Bigram) ++ (1 to 3).map(GramShape.skip)
    for (shape <- shapes) {
      val got = countedGrams(df, shape, col("id")).as[(Int, Long, Long)].collect()
        .groupBy(_._1).map { case (i, rs) => i -> rs.map(r => r._2 -> r._3).toMap }
      val census = cases.zipWithIndex.collect { case (Some(ts), i) if ts.length >= shape.width =>
        i -> codes(ts, shape).groupBy(identity).map { case (c, xs) => c -> xs.length.toLong }
      }.toMap
      assert(got == census, shape)
      // packed in ascending code order; a null array stays null
      val packed = df.select(gramCounts(col("tokens"), shape)).as[Option[Seq[Long]]]
        .collect()
      assert(packed.last.isEmpty, shape)
      packed.flatten.foreach(p => assert(p == p.distinct.sorted, shape))
      for (bad <- Seq(Seq(0, 2048), Seq(-2049, 5))) {
        val e = intercept[Exception](Seq(bad).toDF("tokens")
          .select(gramCounts(col("tokens"), shape)).collect())
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(_.getMessage.contains("token out of 12-bit domain")), s"$shape $bad")
      }
    }
  }

  test("viterbi segmentation kernel == scalar DP reference (random models)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, IntegerType}
    val rnd = new Random(1234)
    for (trial <- 1 to 60) {
      val alpha = 2 + rnd.nextInt(5) // small alphabet forces bigram reuse
      val ts = Array.fill(rnd.nextInt(60))(rnd.nextInt(alpha))
      val uni = (0 until alpha)
        .map(t => t -> (-(1L + rnd.nextInt(3000000)))).toMap
      val biPairs = (for (a <- 0 until alpha; b <- 0 until alpha
                          if rnd.nextBoolean()) yield (a, b)).toSeq
      val bi = biPairs.map(p => p -> (-(1L + rnd.nextInt(3000000)))).toMap
      // scalar reference (bigram wins ties, forward and backward)
      val n = ts.length
      val dp = new Array[Long](n + 1)
      for (i <- 1 to n) {
        val u = dp(i - 1) + uni(ts(i - 1))
        val b = if (i >= 2) bi.get((ts(i - 2), ts(i - 1))).map(dp(i - 2) + _)
                else None
        dp(i) = b match { case Some(bv) if bv >= u => bv; case _ => u }
      }
      var i = n
      val pieces = scala.collection.mutable.ListBuffer[(Int, Long)]()
      while (i > 0) {
        val b = if (i >= 2) bi.get((ts(i - 2), ts(i - 1))) else None
        b match {
          case Some(sv) if dp(i) == dp(i - 2) + sv =>
            pieces.prepend((i - 2,
              (ts(i - 2) + 2048L) * 4096L + (ts(i - 1) + 2048L)))
            i -= 2
          case _ =>
            pieces.prepend((i - 1, ts(i - 1) + 2048L)); i -= 1
        }
      }
      val refCodes = pieces.map(_._2).toList
      val refChecksum = pieces.map { case (st, c) => (st + 1L) * c }.sum
      val refNBi = pieces.count(_._2 >= 4096).toLong
      // kernel
      val ut = uni.keys.toArray.sorted
      val bp = bi.keys.toArray.map { case (a, b) =>
        (a + 2048L) * 4096L + (b + 2048L) }.sorted
      val biByCode = bi.map { case ((a, b), v) =>
        ((a + 2048L) * 4096L + (b + 2048L)) -> v }
      val model = SparkTestSession.spark.sparkContext.broadcast(
        graft.functions.expressions.SegModel(ut.map(_ + 2048L),
          ut.map(t => uni(t)), bp, bp.map(biByCode)))
      val out = graft.functions.expressions.ViterbiSeg(
        Literal.create(ts.toSeq, ArrayType(IntegerType)), model)
        .eval(null).asInstanceOf[ArrayData].toLongArray()
      assert(out(0) == pieces.length.toLong, s"trial $trial n_pieces")
      assert(out(1) == refNBi, s"trial $trial n_bi")
      assert(out(2) == dp(n), s"trial $trial ll")
      assert(out(3) == refChecksum, s"trial $trial checksum")
      assert(out.drop(4).toList == refCodes, s"trial $trial codes")
    }
  }

  test("dot / l2 kernels == scalar folds (random arrays)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val rnd = new Random(777)
    for (_ <- 1 to 100) {
      val n = 1 + rnd.nextInt(80)
      val a = Array.fill(n)(rnd.nextDouble() * 4 - 2)
      val b = Array.fill(n)(rnd.nextDouble() * 4 - 2)
      def lit(x: Array[Double]) =
        Literal.create(x.toSeq, ArrayType(DoubleType))
      val dot = graft.functions.expressions.DotProd(lit(a), lit(b))
        .eval(null).asInstanceOf[Double]
      val l2 = graft.functions.expressions.L2Sq(lit(a), lit(b))
        .eval(null).asInstanceOf[Double]
      var sd = 0.0; var sl = 0.0; var i = 0
      while (i < n) {
        sd += a(i) * b(i); val d = a(i) - b(i); sl += d * d; i += 1
      }
      assert(dot == sd) // identical fold order -> bitwise
      assert(l2 == sl)
    }
  }

  test("micro-nat quantizer == BigDecimal HALF_UP, bitwise") {
    import graft.functions.models.microNat
    def ref(x: Double): Long = java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    val rnd = new Random(5150)
    val signed = (x: Double) => if (rnd.nextBoolean()) -x else x
    // every magnitude: uniform mantissas scaled through 10^-9 .. 10^19,
    // raw bit patterns and log-ratio micro-nats like the model tables'
    val scaled = Seq.fill(100000)(
      signed(rnd.nextDouble() * math.pow(10, rnd.nextInt(29) - 9)))
    val bits = Seq.fill(20000)(java.lang.Double.longBitsToDouble(rnd.nextLong()))
      .filterNot(x => x.isNaN || x.isInfinity)
    val nats = Seq.fill(20000)(
      math.log((1 + rnd.nextInt(1 << 20)).toDouble / (1 + rnd.nextInt(1 << 20))) * 1000000)
    // exact .5 ties at every scale below 2^52, and their neighbours
    val ties = Seq.fill(20000)(
      signed((rnd.nextLong() >>> (12 + rnd.nextInt(52))).toDouble + 0.5))
    val near = ties.flatMap(t => Seq(Math.nextUp(t), Math.nextDown(t),
      Math.nextUp(Math.nextUp(t)), Math.nextDown(Math.nextDown(t))))
    val edges = Seq(0.0, -0.0, 0.5, -0.5, 1.5, -1.5, 2.5, -2.5,
      0.49999999999999994, -0.49999999999999994, Double.MinPositiveValue,
      4503599627370495.5, -4503599627370495.5, 4503599627370496.0,
      9007199254740993.0, Long.MaxValue.toDouble / 2)
    for (x <- scaled ++ bits ++ nats ++ ties ++ near ++ edges)
      assert(microNat(x) == ref(x), s"x = $x (${java.lang.Double.doubleToRawLongBits(x)})")
  }

  test("packed n-grams reject tokens outside the 12-bit domain") {
    import org.apache.spark.sql.functions.expr
    val spark = SparkTestSession.spark
    import spark.implicits._
    val rnd = new Random(2047)
    val arrays = Seq.fill(Trials)(
      Seq.fill(rnd.nextInt(12))(rnd.nextInt(4096) - 2048)) :+ Seq(-2048, 2047, 0)
    val df = arrays.toDF("tokens")
    for (k <- 1 to 3) {
      // in-domain codes: base-4096 digits of the shifted tokens
      val got = df.select(expr(s"graft_pack_ngrams(tokens, $k)")).as[Seq[Long]].collect()
      val want = arrays.map(_.map(_ + 2048L).sliding(k).filter(_.length == k)
        .map(_.foldLeft(0L)((v, g) => v * 4096 + g)).toSeq)
      assert(got.toSeq == want, s"k = $k")
      // (t1, 2048) would pack to the code of (t1 + 1, -2048)
      for (bad <- Seq(Seq(5, 2048), Seq(-2049, 5), Seq(1, 2, 1 << 20))) {
        val e = intercept[Exception](Seq(bad).toDF("tokens")
          .select(expr(s"graft_pack_ngrams(tokens, $k)")).collect())
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(_.getMessage.contains("token out of 12-bit domain")), s"k = $k $bad")
      }
    }
  }
}
