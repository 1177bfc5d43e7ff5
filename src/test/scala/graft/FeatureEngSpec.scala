package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{AsOfJoin, TargetEncode}
import graft.ops.{Dedup, LanguageModel, Sampling}

/** Round-4 feature-engineering additions: nearest-direction as-of join,
  * leakage-free expanding target encoding, purged time split, packed
  * n-grams, bigram-LM scoring, DSIR importance weights, duplicated-n-gram
  * stats. Reference semantics are pinned by in-memory brute force. */
class FeatureEngSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def microNat(x: Double): Long =
    // mirror Spark's round(double, 0): shortest-decimal BigDecimal HALF_UP
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue

  // ------------------------------------------------------------ as-of nearest

  test("asOfNearest: direction pick, backward tie, tolerance, defaults") {
    val series = Seq(("a", 10L, 1.0), ("a", 20L, 2.0), ("a", 30L, 3.0))
      .toDF("k", "ts", "v")
    val probes = Seq(("a", 9L), ("a", 14L), ("a", 15L), ("a", 16L),
      ("a", 30L), ("a", 99L), ("b", 5L)).toDF("k", "t")
    val out = AsOfJoin.asOfNearest(probes, series, "k", "t", "ts", Seq("v"),
        tolerance = 40L, defaults = Map("v" -> lit(-1.0)))
      .orderBy("k", "t").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq(
      ("a", 9L, 1.0),   // forward 10 (dist 1) beats nothing-backward
      ("a", 14L, 1.0),  // backward 10 (4) beats forward 20 (6)
      ("a", 15L, 1.0),  // exact tie 5/5 -> backward (pandas semantics)
      ("a", 16L, 2.0),  // forward 20 (4) beats backward 10 (6)
      ("a", 30L, 3.0),  // at-match: distance 0 backward
      ("a", 99L, -1.0), // nearest is 30 at dist 69 > tolerance -> default
      ("b", 5L, -1.0))) // no series at all -> default
  }

  test("asOfNearest randomized brute-force parity") {
    val rnd = new scala.util.Random(20260818L)
    val Tol = 29L
    val series = for {
      t <- 0 until 50
      ts <- rnd.shuffle((0L until 300L).toList).take(rnd.nextInt(20))
    } yield (s"k$t", ts, ts * 1000 + 7)
    val probes = (for {
      t <- 0 until 50
      _ <- 0 until (rnd.nextInt(8) + 1)
    } yield (s"k$t", rnd.nextInt(320).toLong)).distinct
    val serByK = series.groupBy(_._1)
    val got = AsOfJoin.asOfNearest(probes.toDF("k", "t"),
        series.toDF("k", "ts", "v"), "k", "t", "ts", Seq("v"), Tol)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    for ((k, t) <- probes) {
      val cand = serByK.getOrElse(k, Seq.empty)
        .filter(s => math.abs(s._2 - t) <= Tol)
      // nearest by |distance|, backward (smaller ts) wins exact ties
      val exp = if (cand.isEmpty) None
        else Some(cand.minBy(s => (math.abs(s._2 - t), s._2 > t))._3)
      assert(got((k, t)) == exp, s"k=$k t=$t")
    }
  }

  // ------------------------------------------------------- target encoding

  test("expanding target encode: prior fallback, strict past, tie exclusion") {
    val m = 4
    val rows = Seq( // (event, key, ts, cents) with a simultaneous pair at 30
      (1L, "u1", 10L, 100L), (2L, "u1", 20L, 200L),
      (3L, "u1", 30L, 300L), (4L, "u1", 30L, 700L),
      (5L, "u1", 40L, 400L), (6L, "u2", 15L, 900L))
    val gSum = rows.map(_._4).sum; val gCnt = rows.size.toLong
    val out = TargetEncode.expandingMean(
        rows.toDF("id", "k", "ts", "cents"), "k", "ts", "cents", m)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_past"), r.getAs[Double]("enc")))).toMap
    def enc(past: Seq[Long]): Double =
      (m * gSum + past.sum * gCnt).toDouble / (gCnt * (m + past.size)).toDouble
    assert(out(1L) == ((0L, enc(Seq.empty))))        // first row = pure prior
    assert(out(2L) == ((1L, enc(Seq(100L)))))
    assert(out(3L) == ((2L, enc(Seq(100L, 200L)))))  // 700 at same ts EXCLUDED
    assert(out(4L) == ((2L, enc(Seq(100L, 200L)))))  // 300 at same ts EXCLUDED
    assert(out(5L) == ((4L, enc(Seq(100L, 200L, 300L, 700L)))))
    assert(out(6L) == ((0L, enc(Seq.empty))))        // other key: own history
  }

  // ------------------------------------------------------------ purged split

  test("purged time split boundaries") {
    val b = 1000L; val purge = 100L; val embargo = 10L
    val rows = Seq(0L, 899L, 900L, 999L, 1000L, 1009L, 1010L, 5000L)
    val out = Sampling.purgedTimeSplit(rows.toDF("ts"), col("ts"), lit(b),
        purge, embargo)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) == "train" && out(899L) == "train")
    assert(out(900L) == "purged" && out(999L) == "purged")
    assert(out(1000L) == "embargo" && out(1009L) == "embargo")
    assert(out(1010L) == "test" && out(5000L) == "test")
  }

  // ----------------------------------------------------------- packed grams

  test("packed n-grams: exact values, injectivity, short arrays") {
    graft.functions.expressions.register(spark)
    val df = Seq((1L, Seq(-2048, 0, 5, 2047))).toDF("doc_id", "tokens")
    def packed(k: Int): Seq[Long] =
      df.select(expr(s"graft_pack_ngrams(tokens, $k)")).collect()(0)
        .getSeq[Long](0)
    assert(packed(1) == Seq(0L, 2048L, 2053L, 4095L))
    assert(packed(2) == Seq(2048L, 2048L * 4096 + 2053, 2053L * 4096 + 4095))
    assert(packed(4) == Seq(((0L * 4096 + 2048) * 4096 + 2053) * 4096 + 4095))
    // k > array length -> empty, not error
    val short = Seq((1L, Seq(7))).toDF("doc_id", "tokens")
      .select(expr("graft_pack_ngrams(tokens, 4)")).collect()(0).getSeq[Long](0)
    assert(short.isEmpty)
    // injectivity over a brute slice of the domain
    val all = for (a <- -4 to 4; b <- -4 to 4) yield (a + 2048L) * 4096 + (b + 2048)
    assert(all.distinct.size == all.size)
  }

  // ------------------------------------------------------------- LM scoring

  private lazy val toyCorpus = Seq(
    ("d1", Seq(1, 2, 1, 2, 3), "src0"),
    ("d2", Seq(1, 2, 3, 3, 3), "src1"),
    ("d3", Seq(2, 1, 2, 1, 2), "src1")
  ).toDF("doc_id", "tokens", "source")

  test("bigram NLL matches in-memory brute force") {
    graft.functions.expressions.register(spark)
    val docs = Map(
      "d1" -> Seq(1, 2, 1, 2, 3), "d2" -> Seq(1, 2, 3, 3, 3),
      "d3" -> Seq(2, 1, 2, 1, 2))
    val bigrams = docs.values.flatMap(t => t.zip(t.tail)).toSeq
    val c12 = bigrams.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = bigrams.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val v = docs.values.flatten.toSet.size.toLong
    val exp = docs.map { case (d, toks) =>
      val gs = toks.zip(toks.tail)
      val sum = gs.map(g =>
        microNat(math.log((c1(g._1) + v).toDouble / (c12(g) + 1).toDouble)
          * 1000000)).sum
      d -> ((gs.size.toLong, sum.toDouble / (gs.size * 1000000L).toDouble))
    }
    val got = LanguageModel.scoreBigramNll(toyCorpus).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == exp)
  }

  test("a KN scoring plan analyses and runs again after 9 more scorings") {
    // the model reaches the kernel by reference, so a new analysis of the
    // first plan (view re-resolution, a retry) finds it however many
    // scorings ran since
    val first = LanguageModel.scoreBigramKn(toyCorpus)
    val want = first.collect().toSet
    for (_ <- 1 to 9) LanguageModel.scoreBigramKn(toyCorpus).collect()
    val again = spark.sessionState.executePlan(first.queryExecution.logical)
    again.assertAnalyzed()
    assert(again.executedPlan.executeCollectPublic().toSet == want)
    assert(want.size == 3)
  }

  test("DSIR importance weights match in-memory brute force") {
    graft.functions.expressions.register(spark)
    val docs = Map(
      "d1" -> Seq(1, 2, 1, 2, 3), "d2" -> Seq(1, 2, 3, 3, 3),
      "d3" -> Seq(2, 1, 2, 1, 2))
    val tgt = docs("d1") // source == src0
    val all = docs.values.flatten.toSeq
    val cr = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ct = tgt.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nr = all.size.toLong; val nt = tgt.size.toLong
    val v = cr.size.toLong
    val exp = docs.map { case (d, toks) =>
      val sum = toks.map { t =>
        val num = (ct.getOrElse(t, 0L) + 1) * (nr + v)
        val den = (nt + v) * (cr(t) + 1)
        microNat(math.log(num.toDouble / den.toDouble) * 1000000)
      }.sum
      d -> ((toks.size.toLong, sum.toDouble / (toks.size * 1000000L).toDouble))
    }
    val got = LanguageModel.importanceWeights(toyCorpus, col("source") === "src0")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == exp)
    // target-like doc scores highest
    assert(got("d1")._2 > got("d2")._2)
  }

  test("tf-idf top-k matches in-memory brute force incl. tiebreak") {
    graft.functions.expressions.register(spark)
    val docs = Map(
      "d1" -> Seq(1, 2, 1, 2, 3), "d2" -> Seq(1, 2, 3, 3, 3),
      "d3" -> Seq(2, 1, 2, 1, 2))
    val dff = docs.values.flatMap(_.distinct).toSeq
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val d = docs.size.toLong
    val exp = docs.flatMap { case (doc, toks) =>
      val tf = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
      tf.toSeq.map { case (t, f) =>
        val idf = microNat(math.log(d.toDouble / dff(t).toDouble) * 1000000)
        (t + 2048L, f, f * idf)
      }.sortBy { case (g, _, s) => (-s, g) }
        .take(2).zipWithIndex
        .map { case ((g, f, s), i) => (doc, i + 1, g, f, s) }
    }.toSet
    val got = LanguageModel.tfidfTop(toyCorpus, 2).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == exp)
  }

  test("DSIR resampling: accept rule matches the weights, high-weight kept") {
    graft.functions.expressions.register(spark)
    val w = LanguageModel.importanceWeights(toyCorpus, col("source") === "src0")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val kept = LanguageModel.dsirSample(toyCorpus, col("source") === "src0")
      .collect().map(_.getString(0)).toSet
    // replicate the deterministic Bernoulli decision doc by doc
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def slot(id: String): Long = {
      val hex = md5.digest(s"$id:dsir".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % LanguageModel.DsirSlotMod
    }
    val expKept = w.keySet.filter { id =>
      math.log((slot(id) + 0.5) / LanguageModel.DsirSlotMod.toDouble) < w(id)
    }
    assert(kept == expKept)
    // the target-slice doc has avg_llr > 0 => unconditionally kept
    assert(w("d1") > 0 && kept.contains("d1"))
  }

  test("Naive Bayes train+classify matches in-memory brute force") {
    graft.functions.expressions.register(spark)
    val docs = Seq(
      ("d1", Seq(1, 2, 1, 2, 3), "src0"), ("d2", Seq(1, 2, 3, 3, 3), "src1"),
      ("d3", Seq(2, 1, 2, 1, 2), "src1"))
    val bySrc = docs.groupBy(_._3)
    val vocab = docs.flatMap(_._2).distinct.sorted
    val v = vocab.size.toLong
    val dTot = docs.size.toLong
    def llk(s: String): Map[Int, Long] = {
      val toks = bySrc(s).flatMap(_._2)
      val n = toks.size.toLong
      val c = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
      vocab.map(t => t -> microNat(
        math.log((c.getOrElse(t, 0L) + 1).toDouble / (n + v).toDouble)
          * 1000000)).toMap
    }
    val models = bySrc.keySet.map(s => s -> llk(s)).toMap
    val priors = bySrc.map { case (s, ds) =>
      s -> microNat(math.log(ds.size.toDouble / dTot.toDouble) * 1000000) }
    val exp = docs.map { case (id, toks, label) =>
      val scores = bySrc.keySet.toSeq.map { s =>
        s -> (priors(s) + toks.map(models(s)).sum)
      }.sortBy { case (s, sc) => (-sc, s) }
      val (pred, top) = scores.head
      val margin = top - scores(1)._2
      (id, label, pred, top, margin, label == pred)
    }.toSet
    val df = docs.toDF("doc_id", "tokens", "source")
    def rows(out: org.apache.spark.sql.DataFrame) = out.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5))).toSet
    val got = rows(graft.ops.NaiveBayes.trainAndClassify(df))
    assert(got == exp)
    // the fused kernel and the relational derivation must agree bitwise
    assert(rows(graft.ops.NaiveBayes.trainAndClassifyRelational(df)) == got)
  }

  test("DSIR degenerate: empty target slice -> NULL weights, empty resample") {
    graft.functions.expressions.register(spark)
    val w = LanguageModel.importanceWeights(toyCorpus,
      col("source") === "no_such_source").collect()
    assert(w.nonEmpty && w.forall(_.isNullAt(2)),
      "empty target must NULL-propagate, not score against a zero distribution")
    assert(LanguageModel.dsirSample(toyCorpus,
      col("source") === "no_such_source").isEmpty)
  }

  test("NB degenerate: a zero-token-only source stays a prediction candidate") {
    graft.functions.expressions.register(spark)
    val docs = Seq(("d1", Seq(1, 2), "sA"), ("d2", Seq.empty[Int], "sB"))
      .toDF("doc_id", "tokens", "source")
    val out = graft.ops.NaiveBayes.trainAndClassify(docs).collect()
    // d2 itself is excluded (no evidence), but sB competes for d1:
    // llk under both sources is ln(1/(N_s+V)) with equal values here and
    // equal priors -> tie -> name order picks sA with margin 0
    assert(out.map(_.getString(0)).toSeq == Seq("d1"))
    assert(out.head.getString(2) == "sA" && out.head.getLong(4) == 0L)
  }

  test("NB degenerate: a null-token doc counts in its source's prior, is not classified") {
    graft.functions.expressions.register(spark)
    val docs = Seq(("d1", Some(Seq(1, 2)), "sA"), ("d2", Some(Seq(3)), "sA"),
      ("d3", Some(Seq(1)), "sB"), ("d4", None, "sB"))
      .toDF("doc_id", "tokens", "source")
    // two docs per source -> equal priors ln(1/2); dropping d4 would give
    // sA ln(2/3) and sB ln(1/3)
    val half = java.math.BigDecimal.valueOf(math.log(0.5) * 1000000)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    val priors = graft.ops.NaiveBayes.fitModel(docs)._2.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(priors == Map("sA" -> half, "sB" -> half))
    val ids = graft.ops.NaiveBayes.trainAndClassify(docs).collect()
      .map(_.getString(0)).toSet
    assert(ids == Set("d1", "d2", "d3"))
  }

  test("perplexity buckets: exact thirds per source, NLL-rank order") {
    graft.functions.expressions.register(spark)
    // 6 docs in one source -> 2 head, 2 middle, 2 tail by avg_nll rank;
    // repeated-structure docs (low NLL under the corpus model) land in head
    val corpus = (1 to 6).map { i =>
      val toks = if (i <= 2) Seq.fill(20)(Seq(1, 2)).flatten
        else Seq.tabulate(40)(j => (i * 7 + j * j * 13) % 500)
      (s"d$i", toks, "s0")
    }.toDF("doc_id", "tokens", "source")
    val got = LanguageModel.perplexityBuckets(corpus).collect()
      .map(r => r.getString(0) -> r.getString(3)).toMap
    val nll = LanguageModel.scoreBigramNll(corpus).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    val ranked = nll.toSeq.sortBy { case (d, x) => (x, d) }.map(_._1)
    val exp = ranked.zipWithIndex.map { case (d, i) =>
      d -> (if ((i + 1) * 3 <= 6) "head"
            else if ((i + 1) * 3 <= 12) "middle" else "tail")
    }.toMap
    assert(got == exp)
    assert(got.values.groupBy(identity).view.mapValues(_.size).toMap ==
      Map("head" -> 2, "middle" -> 2, "tail" -> 2))
    assert(got("d1") == "head" && got("d2") == "head")
  }

  test("PMI top-k matches in-memory brute force incl. two-term rounding") {
    graft.functions.expressions.register(spark)
    val docs = Map(
      "d1" -> Seq(1, 2, 1, 2, 3), "d2" -> Seq(1, 2, 3, 3, 3),
      "d3" -> Seq(2, 1, 2, 1, 2))
    val bigrams = docs.values.flatMap(t => t.zip(t.tail)).toSeq
    val cab = bigrams.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val uni = docs.values.flatten.toSeq
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n1 = uni.values.sum; val n2 = bigrams.size.toLong
    val exp = cab.toSeq.filter(_._2 >= 2).map { case ((a, b), c) =>
      val pmi = microNat(math.log(c * n1.toDouble / (uni(a) * uni(b))) * 1e6) +
        microNat(math.log(n1.toDouble / n2) * 1e6)
      (a, b, c, uni(a), uni(b), pmi)
    }.sortBy { case (a, b, _, _, _, p) => (-p, a, b) }.take(3)
    val got = LanguageModel.pmiTop(toyCorpus, 3, 2L).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == exp)
  }

  test("duplicated n-gram stats: shared 4-gram counted, unique not") {
    graft.functions.expressions.register(spark)
    // d1/d2 share the 4-gram (9,8,7,6); d1 contains it twice (both count as
    // dup OCCURRENCES, one distinct dup gram); d3 shares nothing
    val corpus = Seq(
      ("d1", Seq(9, 8, 7, 6, 9, 8, 7, 6)), // grams: 5, dup occurrences: 9876 x2 + 8769? no: exact list below
      ("d2", Seq(0, 9, 8, 7, 6)),
      ("d3", Seq(5, 5, 5, 5, 5))
    ).toDF("doc_id", "tokens")
    val got = Dedup.duplicatedNgramStats(corpus, 4).collect()
      .map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // d1 grams: (9876),(8769),(7698),(6987),(9876) -> only 9876 shared w/ d2
    assert(got("d1") == ((5L, 2L, 1L, 0.4)))
    // d2 grams: (0987),(9876) -> 9876 dup
    assert(got("d2") == ((2L, 1L, 1L, 0.5)))
    // d3 grams: (5555) x2 -> within-doc repetition only, NOT corpus-dup
    assert(got("d3") == ((2L, 0L, 0L, 0.0)))
  }
}
