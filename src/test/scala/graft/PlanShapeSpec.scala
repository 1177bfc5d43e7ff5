package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.{GenerateExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec,
  ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{Exchange,
  REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Per-query plan shape, checked on the executed (adaptive) plan. The
  * onset/rhythm queries compute the trailing median and the rising edges
  * inside the row ([[graft.functions.rhythm]]), so their plans hold no
  * window, sort or aggregate. The only exchange allowed is the source's own
  * balance repartition (`Seqs.fromDocuments`). Their row set stays the one
  * the exploded frame rows gave: a doc without tokens is absent, a doc with
  * an empty token array (one NaN-rms frame) is present. */
class PlanShapeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** A one-file `documents` table of (doc_id, n_chars, source) rows — the
    * input `Seqs.fromDocuments` synthesizes token arrays from. */
  private def documents(rows: Seq[(Option[Long], Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-docs").toString
    rows.toDF("doc_id", "n_chars", "source").coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  private lazy val corpus =
    documents((1L to 60L).map(i => (Some(i), 1 + i * 37 % 600, s"s${i % 3}")))

  private def executed(q: String): SparkPlan = {
    val df = SparkEntry.queries(q)(spark, corpus)
    df.collect() // the adaptive plan is final only after execution
    df.queryExecution.executedPlan
  }

  for (q <- Seq("rolling_median", "onsets", "rhythm_metrics", "tempo_summary"))
    test(s"$q: one in-row pass — no window, sort, aggregate or key shuffle") {
      val plan = executed(q)
      val barriers = collect(plan) {
        case p: WindowExec => p
        case p: SortExec => p
        case p: HashAggregateExec => p
        case p: ObjectHashAggregateExec => p
        case p: SortAggregateExec => p
      }
      assert(barriers.isEmpty, s"\n$plan")
      val exchanges = collect(plan) { case e: ShuffleExchangeExec => e }
      assert(exchanges.size <= 1 &&
        exchanges.forall(_.shuffleOrigin == REPARTITION_BY_NUM), s"\n$plan")
      assert(tokenGens(plan) == 1, s"\n$plan")
    }

  /** Token-synthesis calls in a plan: 1 when no predicate re-evaluates the
    * token kernel below the balance exchange. */
  private def tokenGens(plan: SparkPlan): Int =
    collect(plan) { case p => p }.flatMap(_.expressions).map(_.toString)
      .map("tokengen\\(".r.findAllIn(_).size).sum

  // the scoring passes drop token-less docs through a generator, not a
  // filter that Catalyst would push below the exchange
  for (q <- Seq("kn_bigram_nll", "lm_bigram_nll", "nb_classify"))
    test(s"$q: the scoring pass synthesizes tokens once") {
      val plan = executed(q)
      assert(tokenGens(plan) == 1, s"\n$plan")
    }

  // large enough that the bm25 query slice (one doc in 50 of the dedup
  // subsample) is not empty
  private lazy val wideCorpus =
    documents((1L to 600L).map(i => (Some(i), 1 + i * 37 % 100, s"s${i % 3}")))

  // Exchange (shuffle + broadcast) and Generate nodes summed over every
  // execution a query runs, model collects included; the counting kernels
  // must not add a shuffle or an explode
  for ((q, exchanges, generates) <- Seq(("kn_bigram_nll", 3, 2),
      ("nb_classify", 3, 2), ("skipgram_top", 2, 1), ("bm25_top", 12, 3)))
    test(s"$q: pinned exchange and generate counts") {
      val plans = SparkTestSession.executionsDuring(
        SparkEntry.queries(q)(spark, wideCorpus).collect())
      val ex = plans.map(p => collect(p) { case e: Exchange => e }.size)
      val gen = plans.map(p => collect(p) { case g: GenerateExec => g }.size)
      assert((ex.sum, gen.sum) == (exchanges, generates),
        s"\n${plans.mkString("\n")}")
    }

  // the trained models reach their kernels by reference, so no plan of
  // these queries, model-building executions included, prints a model:
  // no plan line holds a literal array (a model is thousands of numbers on
  // one line), and the plan texts stay small. The ivfpq_recall bound is
  // its plan's structure, ~250 lines over two query trees.
  for ((q, maxChars) <- Seq(("nb_classify", 8 << 10), ("ivfpq_recall", 64 << 10)))
    test(s"$q: no executed plan prints a model") {
      val plans = SparkTestSession.executionsDuring(
        SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").collect())
        .map(_.toString)
      assert(plans.nonEmpty)
      for (p <- plans) {
        assert(p.length < maxChars, s"${p.length} chars")
        assert(p.linesIterator.map(_.length).max < 1024, p.take(4096))
      }
    }

  test("in-row onset queries keep the frame-row row set") {
    // d000001: a normal doc; null doc_id: null tokens; d000003: no tokens
    val dir = documents(Seq((Some(1L), 100L, "a"), (None, 100L, "b"),
      (Some(3L), 0L, "c")))
    for (q <- Seq("rolling_median", "onsets", "rhythm_metrics")) {
      val ids = SparkEntry.queries(q)(spark, dir)
        .select("doc_id").as[Option[String]].collect().toSet
      assert(ids == Set(Some("d000001"), Some("d000003")), q)
    }
  }
}
