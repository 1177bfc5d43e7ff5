package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.Tokenizer

/** BPE tokenizer training: the greedy merge kernel vs a scalar reference
  * implementation (overlap semantics), and the two training entry points
  * (composed zero-collect plan vs driver loop) vs a brute-force trainer. */
class TokenizerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Scalar reference of one greedy-left merge pass. */
  private def mergeRef(xs: List[Int], a: Int, b: Int, m: Int): List[Int] =
    xs match {
      case x :: y :: rest if x == a && y == b => m :: mergeRef(rest, a, b, m)
      case x :: rest => x :: mergeRef(rest, a, b, m)
      case Nil => Nil
    }

  /** Scalar reference BPE trainer (count pairs, argmax with (cnt desc,
    * a, b) tiebreak, rewrite, repeat). */
  private def trainRef(docs: Seq[List[Int]], k: Int): Seq[(Int, Int, Int, Long)] = {
    var cur = docs
    (0 until k).map { r =>
      val counts = cur.flatMap(d => d.zip(d.drop(1)))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val ((a, b), cnt) = counts.minBy { case ((a, b), c) => (-c, a, b) }
      val m = Tokenizer.NewIdBase + r
      cur = cur.map(d => mergeRef(d, a, b, m))
      (a, b, m, cnt)
    }
  }

  private def applyKernel(docs: Seq[Seq[Int]], a: Int, b: Int, m: Int): Seq[Seq[Int]] =
    docs.zipWithIndex.map { case (d, i) => (i.toString, d) }
      .toDF("doc_id", "tokens")
      .withColumn("out", expr(s"graft_bpe_apply(tokens, array($a), array($b), array($m))"))
      .orderBy("doc_id").collect()
      .map(_.getSeq[Int](2).toSeq).toSeq

  test("merge kernel matches the scalar reference, including self-overlap") {
    graft.functions.expressions.register(spark)
    val cases = Seq(
      Seq(1, 2, 1, 2),          // disjoint repeats -> [m, m]
      Seq(7, 7, 7),             // self-overlap -> [m, 7]
      Seq(7, 7, 7, 7),          // -> [m, m]
      Seq(1, 1, 2, 2),          // only the middle pair for (1,2)
      Seq(2, 1),                // reversed, no match
      Seq(1),                   // too short
      Seq.empty[Int]
    )
    for ((a, b) <- Seq((1, 2), (7, 7))) {
      val got = applyKernel(cases, a, b, 99)
      val want = cases.map(c => mergeRef(c.toList, a, b, 99))
      assert(got.map(_.toList) == want, s"pair ($a,$b)")
    }
    // merges apply IN ORDER: second rule sees the first rule's output
    val chained = applyKernel(Seq(Seq(1, 2, 3)), 1, 2, 99)
    assert(chained.head == Seq(99, 3))
    val both = Seq(Seq(1, 2, 3)).zipWithIndex
      .map { case (d, i) => (i.toString, d) }.toDF("doc_id", "tokens")
      .withColumn("out", expr(
        "graft_bpe_apply(tokens, array(1, 99), array(2, 3), array(99, 100))"))
      .head().getSeq[Int](2)
    assert(both == Seq(100), "rule 2 consumes rule 1's merged token")
  }

  private val corpus: Seq[List[Int]] = Seq(
    List(5, 6, 5, 6, 5, 6, 2),
    List(5, 6, 2, 5, 6, 2),
    List(9, 9, 9, 9, 9),
    List(2, 5, 6),
    List(1),
    List(5, 6, 5, 6)
  )

  private def corpusDf = corpus.zipWithIndex
    .map { case (d, i) => (f"t$i%03d", d, d.length) }
    .toDF("doc_id", "tokens", "n_tok")

  test("composed mergeTable == driver-loop bpeTrain == scalar trainer") {
    graft.functions.expressions.register(spark)
    val k = 3
    val want = trainRef(corpus, k)
    val loop = Tokenizer.bpeTrain(corpusDf, k)
      .map(r => (r.a, r.b, r.newId, r.cnt))
    assert(loop == want, "driver loop vs scalar")
    val composed = Tokenizer.mergeTable(corpusDf, k)
      .orderBy("rank").collect()
      .map(r => (r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4))).toSeq
    assert(composed == want, "composed plan vs scalar")
  }

  test("encodeTable == scalar train+encode == bpeTrain+applyMergesExpr") {
    graft.functions.expressions.register(spark)
    val k = 3
    // scalar: train then re-apply every rule in rank order
    var cur = corpus
    for (((a, b, m, _), _) <- trainRef(corpus, k).zipWithIndex)
      cur = cur.map(d => mergeRef(d, a, b, m))
    val want = corpus.indices.map(i => f"t$i%03d").zip(cur).toMap
    val composed = Tokenizer.encodeTable(corpusDf, k).collect()
      .map(r => r.getString(0) -> r.getSeq[Int](1).toList).toMap
    assert(composed == want, "composed encode vs scalar")
    // n_enc matches the array it rides with
    Tokenizer.encodeTable(corpusDf, k).collect().foreach(r =>
      assert(r.getInt(2) == r.getSeq[Int](1).length))
    // production path: driver-trained rules + one narrow projection
    val rules = Tokenizer.bpeTrain(corpusDf, k)
    val prod = corpusDf
      .select(col("doc_id"),
        Tokenizer.applyMergesExpr("tokens", rules).as("tokens_enc"))
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1).toList).toMap
    assert(prod == want, "bpeTrain + applyMergesExpr vs scalar")
  }

  test("exhausted corpus: empty merge rounds are no-ops, not annihilation") {
    graft.functions.expressions.register(spark)
    // every doc below 2 tokens -> zero adjacent pairs anywhere
    val tiny = Seq("a" -> Seq(5), "b" -> Seq(7), "c" -> Seq.empty[Int])
      .toDF("doc_id", "tokens")
    // composed encode: streams pass through unchanged (incl. the empty doc)
    val enc = Tokenizer.encodeTable(tiny, 2).orderBy("doc_id").collect()
    assert(enc.map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    assert(enc.map(_.getSeq[Int](1).toList).toSeq ==
      Seq(List(5), List(7), Nil))
    assert(enc.map(_.getInt(2)).toSeq == Seq(1, 1, 0))
    // merge table: no learnable rule -> zero rows, no error
    assert(Tokenizer.mergeTable(tiny, 2).count() == 0)
    // driver loop: early stop with the rules learned so far (none)
    assert(Tokenizer.bpeTrain(tiny, 2).isEmpty)
    // partial exhaustion: one learnable merge, then rounds 2..k no-op
    val one = Seq("d" -> Seq(1, 2)).toDF("doc_id", "tokens")
    val rules = Tokenizer.bpeTrain(one, 3)
    assert(rules.map(r => (r.a, r.b)) == Seq((1, 2)))
    val enc2 = Tokenizer.encodeTable(one, 3).collect()
    assert(enc2.head.getSeq[Int](1).toList == List(Tokenizer.NewIdBase))
  }

  test("pairReport ranks with the full deterministic tiebreak") {
    val rep = Tokenizer.pairReport(corpusDf, 100).orderBy("rank").collect()
    val counts = corpus.flatMap(d => d.zip(d.drop(1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case ((a, b), c) => (-c, a, b) }
    assert(rep.map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toSeq == counts)
    assert(rep.map(_.getInt(3)).toSeq == (1 to counts.length))
  }

  // ---- unigram-LM trainer ----

  test("unigram: Viterbi segmentation matches the hand-computed DP") {
    // corpus: [5,6,5,6,5,6] and [7,7,7]
    // unigram counts 5:3 6:3 7:3 (mass 9); bigrams (5,6):3 (6,5):2
    // (7,7):2 (mass 7) -> total0 = 16
    // s_u = round(ln(3/16)*1e6) = -1673976 for every unigram
    // s_b(5,6) = -1673976, s_b(6,5) = round(ln(2/16)*1e6) = -2079442,
    // s_b(7,7) = -2079442
    val seqs = Seq(
      ("a", Seq(5, 6, 5, 6, 5, 6), 6, "s"),
      ("b", Seq(7, 7, 7), 3, "s"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    val rows = Tokenizer.unigramSegment(seqs, w = 64, b = 50).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_pieces"), r.getAs[Long]("n_bi"),
          r.getAs[Long]("ll_micro"), r.getAs[Long]("checksum"))).toMap
    // doc a: one bigram piece (5,6) beats two unigrams
    // (-1673976 > 2 * -1673976) -> 3 bigram pieces
    val cAB = (5L + 2048L) * 4096L + (6L + 2048L)
    assert(rows("a") == ((3L, 3L, 3L * -1673976L,
      (1L + 3L + 5L) * cAB)))
    // doc b: dp tie at i=3 between u+b and b+u resolves to the bigram
    // ending the sequence -> pieces: unigram 7 at 0, (7,7) at 1
    val c77 = (7L + 2048L) * 4096L + (7L + 2048L)
    assert(rows("b") == ((2L, 1L, -1673976L + -2079442L,
      1L * (7L + 2048L) + 2L * c77)))
  }

  test("unigram model: one counting exchange, no window; top-b bigrams == Scala ranking") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    val rnd = new scala.util.Random(17)
    val docs = (0 until 30).map(i =>
      (s"d$i", Seq.fill(5 + rnd.nextInt(40))(rnd.nextInt(9) - 4)))
    val seqs = docs.map { case (d, t) => (d, t, t.length, "s") }
      .toDF("doc_id", "tokens", "n_tok", "source")
    val (w, b) = (32, 7)
    var model: org.apache.spark.sql.Row = null
    val plans = SparkTestSession.executionsDuring {
      model = Tokenizer.unigramModel(seqs, w, b).collect()(0)
    }
    val h = new AdaptiveSparkPlanHelper {}
    val counting = plans.filter(p => h.collect(p) { case e: ShuffleExchangeExec => e }.nonEmpty)
    assert(counting.size == 1, plans.mkString("\n"))
    assert(h.collect(counting.head) { case e: ShuffleExchangeExec => e }.size == 1)
    assert(plans.forall(p => h.collect(p) { case x: WindowExec => x }.isEmpty),
      plans.mkString("\n"))
    val win = docs.map(_._2.take(w).map(_ + 2048L))
    val uni = win.flatten.distinct.sorted
    val bi = win.flatMap(g => g.indices.drop(1).map(i => g(i - 1) * 4096 + g(i)))
      .groupBy(identity).map { case (c, xs) => (c, xs.length) }.toSeq
      .sortBy { case (c, n) => (-n, c) }.take(b).map(_._1).sorted
    assert(model.getSeq[Long](0) == uni)
    assert(model.getSeq[Long](2) == bi)
  }

  test("unigram: M-step census re-estimates from segmentation usage; partition-invariant") {
    val seqs = Seq(
      ("a", Seq(5, 6, 5, 6, 5, 6), 6, "s"),
      ("b", Seq(7, 7, 7), 3, "s"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    val rep = Tokenizer.unigramTrain(seqs, w = 64, b = 50, topK = 50)
      .collect()
      .map(r => (r.getAs[Long]("code"),
        (r.getString(1), r.getInt(2), r.getInt(3), r.getAs[Long]("used"),
          r.getAs[Long]("score_micro"))))
    // total1 = 5 pieces: (5,6) used 3, unigram 7 used 1, (7,7) used 1
    val cAB = (5L + 2048L) * 4096L + (6L + 2048L)
    val c77 = (7L + 2048L) * 4096L + (7L + 2048L)
    assert(rep.length == 3)
    assert(rep(0) == ((cAB, ("b", 5, 6, 3L, -510826L)))) // ln(3/5)
    assert(rep(1) == ((7L + 2048L, ("u", 7, 0, 1L, -1609438L)))) // ln(1/5)
    assert(rep(2) == ((c77, ("b", 7, 7, 1L, -1609438L))))
    val re = Tokenizer.unigramTrain(seqs.repartition(5), 64, 50, 50)
      .collect().map(r => (r.getAs[Long]("code"), r.getAs[Long]("used")))
    assert(re.toSeq == rep.map(t => (t._1, t._2._4)).toSeq)
  }

  test("unigram: M-step re-estimation maximizes segmentation likelihood (Gibbs)") {
    // fixture with real structure: repeated pairs + singleton noise
    val rnd = new scala.util.Random(42)
    val seqs = (0 until 10).map { d =>
      val toks = Seq.fill(40)(rnd.nextInt(6)).flatMap(t =>
        if (t < 3) Seq(t, t + 10) else Seq(t)) // planted (t, t+10) pairs
      (s"d$d", toks, toks.length, "s")
    }.toDF("doc_id", "tokens", "n_tok", "source")
    val w = 64; val b = 50
    val census = Tokenizer.unigramTrain(seqs, w, b, topK = 10000).collect()
      .map(r => (r.getAs[Long]("code"),
        (r.getAs[Long]("used"), r.getAs[Long]("score_micro"))))
    // model0 scores recomputed scalar-side (same counting rules:
    // window-w unigrams + top-b bigrams by (cnt desc, code asc), scores
    // = round(ln(cnt/total0) * 1e6))
    val wins = seqs.collect().map(_.getSeq[Int](1).take(w))
    val u0 = wins.flatten.groupBy(t => t + 2048L).view.mapValues(_.size.toLong).toMap
    val b0all = wins.flatMap(ts => ts.zip(ts.drop(1)))
      .groupBy { case (a, bb) => (a + 2048L) * 4096L + (bb + 2048L) }
      .view.mapValues(_.size.toLong).toMap
    val b0 = b0all.toSeq.sortBy { case (c, n) => (-n, c) }.take(b).toMap
    val total0 = u0.values.sum + b0.values.sum
    def score0(code: Long): Long = {
      val c = if (code < 4096) u0(code) else b0(code)
      math.round(math.log(c.toDouble / total0) * 1e6)
    }
    // Gibbs: sum(used * score1) >= sum(used * score0) over the
    // segmentation census (score1 is the exact MLE of that multinomial;
    // slack covers the per-term micro-nat rounding)
    val lhs = census.map { case (_, (used, s1)) => used * s1 }.sum
    val rhs = census.map { case (code, (used, _)) => used * score0(code) }.sum
    val slack = census.map(_._2._1).sum // one micro-nat per piece instance
    assert(lhs >= rhs - slack,
      s"M-step must not lower segmentation likelihood: $lhs vs $rhs")
    // and strictly improves here (model0 wastes mass on unused candidates)
    assert(lhs > rhs, s"expected strict improvement: $lhs vs $rhs")
  }
}
