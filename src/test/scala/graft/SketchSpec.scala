package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Sketches

/** Mergeable-sketch operator semantics: count-min never underestimates,
  * KMV's merged sketch equals the direct global sketch, Bloom pruning has
  * zero false negatives, skip-gram counts match a brute-force census. */
class SketchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def toySeqs(rows: (String, Seq[Int])*) =
    rows.map { case (d, t) => (d, t, t.length, "s") }
      .toDF("doc_id", "tokens", "n_tok", "source")

  test("count-min: estimates never below exact; tiny width forces overestimates") {
    val seqs = toySeqs(
      "a" -> Seq.tabulate(400)(i => (i * 7) % 50 - 25),
      "b" -> Seq.tabulate(300)(i => (i * 11) % 40 - 20))
    val rep = Sketches.countMinReport(seqs, depth = 3, width = 8).collect()
    assert(rep.nonEmpty)
    assert(rep.forall(_.getAs[Long]("overest") >= 0L),
      "count-min must never underestimate")
    // 50 distinct grams into 8 cells: some collision mass is certain
    assert(rep.exists(_.getAs[Long]("overest") > 0L),
      "width 8 over ~50 grams must collide")
    // exact side is a real census
    val exact = rep.map(r =>
      r.getAs[Int]("gram") -> r.getAs[Long]("c_exact")).toMap
    val census = (Seq.tabulate(400)(i => (i * 7) % 50 - 25) ++
      Seq.tabulate(300)(i => (i * 11) % 40 - 20))
      .groupBy(identity).map { case (g, xs) => g -> xs.length.toLong }
    assert(exact == census)
  }

  test("KMV: multi-source merge produces a global estimate within 3 sigma") {
    // 8 docs across 4 sources — the '__all__' row merges 4 per-source
    // partial sketches
    val seqs = (0 until 8).map { d =>
      (s"d$d",
        Seq.tabulate(600)(i => (d * 601 + i * i * 17 + i) % 1499 - 700),
        600, s"src${d % 4}")
    }.toDF("doc_id", "tokens", "n_tok", "source")
    val rep = Sketches.kmvReport(seqs, k = 32).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_exact"), r.getAs[Double]("est_distinct"))).toMap
    assert(rep.size == 5, "4 per-source rows + the merged '__all__' row")
    val (nAll, estAll) = rep("__all__")
    assert(nAll > 32, "global distinct must exceed k for a real estimate")
    // KMV rel stddev ~ 1/sqrt(k-2) ~ 0.18 at k=32; allow 3 sigma
    assert(math.abs(estAll - nAll) < 3 * 0.19 * nAll,
      s"global estimate $estAll too far from exact $nAll")
  }

  test("HLL: union row is the register max-merge; estimate within sketch error") {
    // two sources share half their grams: the union row must count the
    // true distinct union (< sum of per-source counts), built purely by
    // max-merging the per-source register tables
    val seqs = (0 until 6).map { d =>
      val off = (d % 2) * 500 // sources overlap on a 500-gram band
      (s"d$d",
        Seq.tabulate(800)(i => (off + (d / 2) * 67 + i * 13) % 1000 - 500),
        800, s"src${d % 2}")
    }.toDF("doc_id", "tokens", "n_tok", "source")
    val rep = Sketches.hllReport(seqs, p = 8).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(rep.size == 3, "2 per-source rows + the merged '__all__' row")
    val all = rep("__all__")
    val nAll = all.getAs[Long]("n_exact")
    val sumSrc = Seq("src0", "src1").map(rep(_).getAs[Long]("n_exact")).sum
    assert(nAll < sumSrc, "overlapping grams: union < sum of per-source")
    // m = 256 registers: rel stddev ~ 1.04/sqrt(256) ~ 6.5%; allow 3 sigma
    val est = all.getAs[Long]("est_micro").toDouble / 1e6
    assert(math.abs(est - nAll) < 3 * 0.065 * nAll,
      s"union estimate $est too far from exact $nAll")
    for (s <- Seq("src0", "src1")) {
      val r = rep(s)
      val e = r.getAs[Long]("est_micro").toDouble / 1e6
      val n = r.getAs[Long]("n_exact")
      assert(math.abs(e - n) < 3 * 0.065 * n, s"$s estimate $e vs exact $n")
      // the union's harmonic denominator can never exceed a source's
      // (registers only grow under max-merge)
      assert(all.getAs[Long]("sum_scaled") <= r.getAs[Long]("sum_scaled"))
    }
  }

  test("HLL: identical sources leave the merged registers unchanged") {
    val toks = Seq.tabulate(300)(i => (i * 7) % 211 - 100)
    val seqs = Seq(("a", toks, 300, "sA"), ("b", toks, 300, "sB"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    val rep = Sketches.hllReport(seqs, p = 8).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val ss = Seq("sA", "sB", "__all__").map(rep(_).getAs[Long]("sum_scaled"))
    assert(ss.distinct.size == 1,
      "identical gram sets -> identical registers -> identical merge")
    assert(Seq("sA", "sB", "__all__")
      .map(rep(_).getAs[Long]("est_micro")).distinct.size == 1)
  }

  test("KMV: source with fewer than k distinct falls back to exact") {
    val seqs = toySeqs("a" -> Seq.tabulate(40)(i => i % 5))
    val rep = Sketches.kmvReport(seqs, k = 64).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_exact"), r.getAs[Double]("est_distinct"))).toMap
    val (n, est) = rep("s")
    assert(n == 5, "40 tokens cycling 5 values -> 5 distinct bigram pairs")
    assert(est == n.toDouble, "below-k sketch must report the exact count")
  }

  test("kmin aggregate: k smallest ascending across many partitions") {
    graft.functions.expressions.register(spark)
    val vals = (0 until 5000).map(i => ((i * 2654435761L) % 1000003L, i % 7))
      .toDF("v", "g")
      .repartition(16)
    val got = vals.groupBy().agg(expr("graft_kmin(v, 25)").as("hs"))
      .collect()(0).getSeq[Long](0)
    val exact = (0 until 5000).map(i => (i * 2654435761L) % 1000003L)
      .sorted.take(25)
    assert(got.toSeq == exact)
    // fewer inputs than k: all values, still ascending
    val small = (0 until 10).map(i => (9L - i, 0)).toDF("v", "g")
    val gotSmall = small.groupBy().agg(expr("graft_kmin(v, 64)").as("hs"))
      .collect()(0).getSeq[Long](0)
    assert(gotSmall.toSeq == (0L until 10L).toSeq)
  }

  test("kmin_d aggregate: duplicate-laden stream yields k smallest DISTINCT") {
    graft.functions.expressions.register(spark)
    // every value appears 1 + (v % 5) times, shuffled across 16 partitions:
    // the plain kmin would return duplicates; kmin_d must dedup in-heap
    val base = (0 until 800).map(i => (i * 2654435761L) % 99991L)
    val dup = base.flatMap(v => Seq.fill(1 + (v % 5).toInt)(v))
    val vals = new scala.util.Random(7).shuffle(dup).zipWithIndex
      .toDF("v", "i").repartition(16)
    val got = vals.groupBy().agg(expr("graft_kmin_d(v, 40)").as("hs"))
      .collect()(0).getSeq[Long](0)
    val exact = base.distinct.sorted.take(40)
    assert(got.toSeq == exact,
      "in-heap dedup must equal k-min over the distinct set")
    assert(got.distinct.size == got.size, "no duplicate survives the heap")
    // duplicates-only small input: fewer distincts than k
    val small = Seq.fill(30)(7L).zipWithIndex.toDF("v", "i")
    val gotSmall = small.groupBy().agg(expr("graft_kmin_d(v, 8)").as("hs"))
      .collect()(0).getSeq[Long](0)
    assert(gotSmall.toSeq == Seq(7L))
  }

  test("KMV sketch-only path: equals the report's sketch columns, no distinct") {
    // same corpus as the merge test: kmvSketch (raw duplicated stream +
    // in-heap dedup) must reproduce kmvReport's kth_min/est bitwise
    val seqs = (0 until 8).map { d =>
      (s"d$d",
        Seq.tabulate(600)(i => (d * 601 + i * i * 17 + i) % 1499 - 700),
        600, s"src${d % 4}")
    }.toDF("doc_id", "tokens", "n_tok", "source")
    val rep = Sketches.kmvReport(seqs, k = 32).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("kth_min"), r.getAs[Double]("est_distinct"))).toMap
    val sk = Sketches.kmvSketch(seqs, k = 32).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("kth_min"), r.getAs[Double]("est_distinct"))).toMap
    assert(sk.keySet == rep.keySet)
    for ((s, (kth, est)) <- rep) assert(sk(s) == ((kth, est)),
      s"sketch-only path diverged from report sketch at $s")
    // and the plan has no Distinct/expand over the gram stream
    val plan = Sketches.kmvSketch(seqs, k = 32)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Deduplicate"),
      "sketch-only path must not plan a corpus-wide distinct")
  }

  test("KMV fused token aggregate: equals brute-force distinct mixer k-min") {
    import graft.functions.expressions.KmvMix
    val docs = (0 until 12).map { d =>
      (s"d$d",
        Seq.tabulate(500)(i => (d * 313 + i * i * 29 + 3 * i) % 1800 - 900),
        500, s"src${d % 3}")
    }
    val seqs = docs.toDF("doc_id", "tokens", "n_tok", "source")
      .repartition(16)
    val k = 24
    val got = Sketches.kmvTokens(seqs, k).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("kth_min")).toMap
    // brute force: per source, distinct mixed bigram hashes, k-th smallest
    def saltOf(src: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"kmv:$src".getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.take(8).map("%02x".format(_)).mkString.take(15), 16)
    }
    val expect = docs.groupBy(_._4).map { case (src, ds) =>
      val salt = saltOf(src)
      val hs = ds.flatMap { case (_, toks, _, _) =>
        toks.sliding(2).map { p =>
          KmvMix.hash(salt, (p(0) + 2048L) * 4096L + (p(1) + 2048L))
        }
      }.distinct.sorted
      src -> hs(k - 1)
    }
    for ((src, kth) <- expect)
      assert(got(src) == kth, s"fused kmv diverged at $src")
    // merged row: k-th smallest over the union of per-source distinct sets
    val allHs = docs.groupBy(_._4).toSeq.flatMap { case (src, ds) =>
      val salt = saltOf(src)
      ds.flatMap { case (_, toks, _, _) =>
        toks.sliding(2).map { p =>
          KmvMix.hash(salt, (p(0) + 2048L) * 4096L + (p(1) + 2048L))
        }
      }.distinct
    }.sorted
    assert(got("__all__") == allHs(k - 1))
  }

  test("HLL fused token aggregate: registers equal brute force; union = max-merge") {
    import graft.functions.expressions.{KmvMix, HllTokensAgg}
    val p = 6; val m = 1 << p
    val docs = (0 until 10).map { d =>
      (s"d$d",
        Seq.tabulate(400)(i => (d * 211 + i * i * 37 + 5 * i) % 1700 - 850),
        400, s"src${d % 2}")
    }
    val seqs = docs.toDF("doc_id", "tokens", "n_tok", "source")
      .repartition(8)
    graft.functions.expressions.register(spark)
    val got = seqs.groupBy(col("source"))
      .agg(expr(s"graft_hll_tokens(tokens, $p)").as("regs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    def brute(src: String): Array[Int] = {
      val regs = new Array[Int](m)
      for ((_, toks, _, s0) <- docs if s0 == src;
           pr <- toks.sliding(2)) {
        val h = KmvMix.hash(HllTokensAgg.HllSalt,
          (pr(0) + 2048L) * 4096L + (pr(1) + 2048L))
        val b = (h % m).toInt; val w = h / m
        val rho = if (w == 0) 61 - p
          else java.lang.Long.numberOfTrailingZeros(w) + 1
        if (rho > regs(b)) regs(b) = rho
      }
      regs
    }
    for (src <- Seq("src0", "src1"))
      assert(got(src).toSeq == brute(src).toSeq, s"registers diverge at $src")
    // union row in hllSketch = element-wise max of the per-source tables
    val sk = graft.ops.Sketches.hllSketch(seqs, p).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("sum_scaled")).toMap
    val union = brute("src0").zip(brute("src1")).map { case (a, b) => math.max(a, b) }
    val expScaled = union.map(r => if (r <= 54) 1L << (54 - r) else 0L).sum
    assert(sk("__all__") == expScaled)
    // estimate sanity at this scale: within 3 sigma of the true distinct
    val exact = docs.flatMap { case (_, t, _, _) => t.sliding(2).map(x => (x(0), x(1))) }
      .distinct.size
    val est = graft.ops.Sketches.hllSketch(seqs, p).collect()
      .find(_.getString(0) == "__all__").get.getAs[Long]("est_micro") / 1e6
    assert(math.abs(est - exact) < 3 * 1.04 / math.sqrt(m) * exact,
      s"union estimate $est vs exact $exact")
  }

  test("vocab richness: hand-computed Chao1 + Good-Turing on a tiny corpus") {
    val seqs = Seq(
      ("a", Seq(1, 1, 2, 3), 4, "sA"),   // sA: c = {1:2, 2:1, 3:1}
      ("b", Seq(3, 4), 2, "sB"))         // sB: c = {3:1, 4:1}
      .toDF("doc_id", "tokens", "n_tok", "source")
    val out = graft.ops.TextAnalysis.vocabRichness(seqs).collect()
      .map(r => r.getString(0) -> r).toMap
    val a = out("sA")
    assert(a.getAs[Long]("n_tokens") == 4 && a.getAs[Long]("vocab") == 3)
    assert(a.getAs[Long]("f1") == 2 && a.getAs[Long]("f2") == 1)
    // chao1 = 3 + 2*1/(2*(1+1)) = 3.5; p0 = 2/4
    assert(a.getAs[Long]("chao1_micro") == 3500000L)
    assert(a.getAs[Long]("gt_p0_micro") == 500000L)
    val g = out("__all__")                // global: {1:2, 2:1, 3:2, 4:1}
    assert(g.getAs[Long]("n_tokens") == 6 && g.getAs[Long]("vocab") == 4)
    assert(g.getAs[Long]("f1") == 2 && g.getAs[Long]("f2") == 2)
    // chao1 = 4 + 2*1/(2*3) = 4.333...; p0 = 2/6
    assert(g.getAs[Long]("chao1_micro") == 4333333L)
    assert(g.getAs[Long]("gt_p0_micro") == 333333L)
  }

  test("bloom pruning: zero false negatives, nontrivial pruning, fp accounting") {
    val universe = (0L until 400L).map(i => (i, i % 11 == 0))
      .toDF("id", "member")
    val rep = Sketches.bloomPruneReport(universe, col("id"), col("member"),
      m = 512, j = 3).collect()(0)
    val (nU, nM, nPass, nFp) = (rep.getAs[Long]("n_universe"),
      rep.getAs[Long]("n_member"), rep.getAs[Long]("n_pass"),
      rep.getAs[Long]("n_false_pos"))
    assert(nU == 400 && nM == 37)
    assert(nPass >= nM, "every member must pass (no false negatives)")
    assert(nPass == nM + nFp, "pass set = members + false positives exactly")
    assert(nPass < nU, "filter must actually prune something")
    assert(rep.getAs[Double]("fp_rate") == nFp.toDouble / (nU - nM))
  }

  test("skip-gram: window-2 counts match a brute-force census with tie-stable top-k") {
    val toks = Seq(1, 2, 3, 1, 2, 3, 1, 2)
    val seqs = toySeqs("a" -> toks)
    val got = Sketches.skipgramTop(seqs, window = 2, topK = 100).collect()
      .map(r => ((r.getAs[Int]("t1"), r.getAs[Int]("t2"),
        r.getAs[Int]("dist")), r.getAs[Long]("c"))).toMap
    val census = (for {
      d <- 1 to 2
      i <- 0 until toks.length - d
    } yield (toks(i), toks(i + d), d))
      .groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    assert(got == census)
  }

  test("skip-gram kernel: native codes == interpreted HOF codes, sorted") {
    graft.functions.expressions.register(spark)
    val toks = Seq.tabulate(700)(i => (i * i * 31 + i * 7) % 4093 - 2046)
    val df = toySeqs("a" -> toks)
    // the counted kernel's codes, each expanded n times: the instance codes
    val native = graft.functions.expressions.countedGrams(df,
        graft.functions.expressions.GramShape.skip(3))
      .as[(Long, Long)].collect()
      .flatMap { case (code, n) => Seq.fill(n.toInt)(code) }.toSeq.sorted
    val hof = df.select(expr(
      """flatten(transform(sequence(1, 3), d ->
        |  transform(sequence(1, size(tokens) - d), i ->
        |    ((CAST(tokens[i - 1] AS BIGINT) + 2048) * 4096
        |      + (CAST(tokens[i - 1 + d] AS BIGINT) + 2048)) * 4 + d)))"""
        .stripMargin).as("c"))
      .collect()(0).getSeq[Long](0).sorted
    assert(native == hof)
    assert(native.length == 3 * 700 - (1 + 2 + 3))
  }

  test("vocab growth: hand-computed checkpoints on a 4-doc corpus") {
    import graft.ops.TextAnalysis
    val seqs = Seq(
      ("d000000", Seq(1, 1, 2), 3, "s"),
      ("d000001", Seq(2, 3), 2, "s"),
      ("d000002", Seq(3, 4), 2, "s"),
      ("d000003", Seq(1), 1, "s"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    val got = TextAnalysis.vocabGrowth(seqs, nCkpts = 4).collect()
      .map(r => r.getAs[Int]("ckpt") ->
        (r.getAs[String]("thr"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("n_tokens"), r.getAs[Long]("vocab"))).toMap
    assert(got(1) == (("d000000", 1L, 3L, 2L)))
    assert(got(2) == (("d000001", 2L, 5L, 3L)))
    assert(got(3) == (("d000002", 3L, 7L, 4L)))
    assert(got(4) == (("d000003", 4L, 8L, 4L)))
  }

  test("weighted sample: length bias, determinism, exact-k without replacement") {
    import graft.ops.Sampling
    val docs = (0 until 400).map { i =>
      (f"d$i%06d", Seq(1, 2, 3), 10 + (i % 40) * 25, "s")
    }.toDF("doc_id", "tokens", "n_tok", "source")
    val a = Sampling.weightedSample(docs, k = 60).collect()
    assert(a.length == 60)
    assert(a.map(_.getAs[String]("doc_id")).distinct.length == 60,
      "without replacement: no doc twice")
    // selection probability ~ n_tok: the sample must skew long
    val sampleMean = a.map(_.getAs[Int]("n_tok").toDouble).sum / 60
    val corpusMean = (0 until 400).map(i => 10 + (i % 40) * 25).sum / 400.0
    assert(sampleMean > corpusMean * 1.15,
      s"weighted sample mean $sampleMean must exceed corpus mean $corpusMean")
    // deterministic: re-run is bitwise identical
    val b = Sampling.weightedSample(docs.repartition(13), k = 60).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq,
      "repartitioning must not change the sample")
  }

  test("skip-gram: top-k order is count desc then (t1, t2, dist) asc") {
    val seqs = toySeqs("a" -> Seq(5, 5, 5, 5, 9, 9, 9, 9))
    val rows = Sketches.skipgramTop(seqs, window = 2, topK = 3).collect()
    val keys = rows.map(r => (r.getAs[Long]("c"), r.getAs[Int]("t1"),
      r.getAs[Int]("t2"), r.getAs[Int]("dist")))
    val resorted = keys.sortBy { case (c, t1, t2, d) => (-c, t1, t2, d) }
    assert(keys.toSeq == resorted.toSeq)
    assert(rows.length == 3)
  }

  test("quantile histogram: exact rule on a hand-computed set; error < bin width; partition-invariant") {
    // n_tok values 10,20,...,100 in one source: p50 target = ceil(0.5*10)=5
    // -> exact_v = 50; p90 -> rank 9 -> 90; p99 -> rank 10 -> 100
    val rows = (1 to 10).map(i => (s"d$i", Seq.fill(i * 10)(1), i * 10, "s"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    val rep = Sketches.quantileHistogram(rows, nBins = 16, width = 8,
      qPcts = Seq(50, 90, 99))
    val bySrc = rep.collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getAs[Long]("est"), r.getAs[Long]("exact_v"),
          r.getAs[Long]("abs_err"))).toMap
    assert(bySrc.size == 6) // source s + __all__, 3 quantiles each
    assert(bySrc(("s", 50))._2 == 50L)
    assert(bySrc(("s", 90))._2 == 90L)
    assert(bySrc(("s", 99))._2 == 100L)
    // sketch estimate = upper edge of the hit bin; within one bin width
    for (((_, _), (est, exact, err)) <- bySrc) {
      assert(est >= exact)
      assert(err < 8L, s"err $err >= width")
      assert(err == est - exact)
    }
    // 100 caps into the last bin (nBins*width = 128 > domain): est exact
    assert(bySrc(("s", 50))._1 == 55L) // bin 6 ([48,56)) upper edge
    // merged row == single-source row here (one real source)
    assert(bySrc(("s", 50)) == bySrc(("__all__", 50)))
    // partition invariance of the full report
    val re = Sketches.quantileHistogram(rows.repartition(7), 16, 8,
      Seq(50, 90, 99)).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getAs[Long]("est"), r.getAs[Long]("exact_v"),
          r.getAs[Long]("abs_err"))).toMap
    assert(re == bySrc)
  }
}
