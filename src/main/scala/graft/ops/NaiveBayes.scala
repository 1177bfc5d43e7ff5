package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.models
import graft.functions.expressions.{GramShape, NbModel, NbScoreKernel,
  countedGrams, explodeGramCounts, gramCounts, pack}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Multinomial Naive Bayes source classifier, trained IN the engine by
  * pure counting — the distributed-training counterpart of the engine's
  * inference surfaces ([[TreeEnsemble]] walks pre-trained trees,
  * [[LinearModel]] scores fixed weights; here the MODEL ITSELF is fit from
  * one counting pass over the corpus). Reference analog: the
  * classification model stage of the crawler
  * (`Source/Crawler/Classification/Source/Models/GBDT.cpp:50-117`,
  * `Bagging.h:191-217`) — the reference trains offline and ships a blob;
  * a Spark-first engine can train the counting family (NB) as a
  * first-class operator, no blob, no iterative solver.
  *
  * Model (add-one smoothing, all counts exact int64):
  *   - `llk(t,s)  = ln((c_ts + 1) / (N_s + V))` — token t's log-likelihood
  *     under source s; `c_ts` = occurrences of t in s, `N_s` = total
  *     tokens in s, `V` = corpus unigram vocabulary size.
  *   - `prior(s)  = ln(D_s / D)` — document-frequency prior.
  *   - `score(d,s) = prior(s) + Σ_t c_dt · llk(t,s)`; predict the argmax,
  *     ties broken by source name (deterministic).
  *
  * == Determinism (bitwise across engines and partitionings) ==
  * The [[LanguageModel]] micro-nat discipline: each ln is ONE double
  * division of exact int64s, rounded to int64 MICRO-NATS before any
  * aggregation — sums, argmax and margins are then pure int64 (order-free,
  * no float accumulation anywhere). The driver-side rounding mirrors
  * Spark's `round(x)` exactly ([[graft.functions.models.microNat]] — the
  * same result DuckDB's `round` produces on these magnitudes). Unlike the
  * avg-boundary ops, the OUTPUT here is int64 too, so the whole query is
  * bitwise, not just corpus-verified.
  *
  * == Plan shape / scale ==
  * Training is ONE distributed counting job: explode to unigrams, agg to
  * `(source, gram)` sufficient statistics with map-side partials — the
  * result is V × S rows (V ≪ corpus vocabulary, S a handful of sources),
  * which is MODEL-sized, not corpus-sized, so the closed-form smoothing /
  * ln step runs on the driver (the same "tiny planning metadata" role as
  * [[Packing]]'s range boundaries or [[TreeEnsemble]]'s node table;
  * deriving those statistics relationally instead would re-expand the
  * corpus explode once per statistic — Catalyst reuses identical
  * exchanges but has no cross-subtree CSE). Scoring is a second
  * single-pass plan: per-(doc, gram) pre-aggregation (bounds the
  * broadcast-model join fan-out by distinct grams per doc × S, pipelined
  * inside codegen, no shuffle), then ONE doc_id-keyed exchange for the
  * argmax window. Self-scoring form: the vocabulary is the training
  * corpus's, so every scored gram hits the model (to score a held-out
  * table, fit on the reference corpus and left-join with the unseen-token
  * floor `ln(1 / (N_s + V))`).
  */
object NaiveBayes {

  /** A fit: the kernel's [[NbModel]] (dense llk over the 4096-slot gram
    * domain, the smoothing floor on grams outside the vocabulary), the
    * per-source floors `ln(1/(N_s+V))` and the ascending vocabulary. */
  private final case class Fit(model: NbModel, floors: Array[Long],
                               vocab: Array[Int])

  /** One counting pass, folded into per-source primitive count arrays →
    * the driver-side closed form. */
  private def fit(seqs: DataFrame): Fit = {
    graft.functions.expressions.register(seqs.sparkSession)
    // ONE counting job for BOTH model tables (r6): each doc appends a
    // marker entry at gram 4096 (just above the 12-bit token domain, so
    // it can never collide with a real gram) with count 1 — the marker's
    // per-source sum IS the doc count the priors need, and the former
    // second counting job disappears
    val DocMarker = 4096
    val counted = concat(
      coalesce(gramCounts(col("tokens"), GramShape.Unigram),
        array().cast("array<bigint>")),
      array(lit(pack(DocMarker, 1L))))
    // per source: c_ts over the gram domain, then the doc count
    val bySource = mutable.HashMap.empty[String, Array[Long]]
    models.foldRows(explodeGramCounts(seqs, counted, col("source"))
        .groupBy(col("source"), col("gram")).agg(sum(col("n")).as("c_ts"))) { r =>
      bySource.getOrElseUpdate(r.getUTF8String(0).toString,
        new Array[Long](DocMarker + 1))(r.getLong(1).toInt) = r.getLong(2)
    }
    val sources = bySource.keys.toArray.sorted
    val cts = sources.map(bySource)
    val nS = sources.length
    val vocab = (0 until DocMarker).filter(g => cts.exists(_(g) > 0)).toArray
    val v = vocab.length.toLong
    val ns = cts.map(c => c.iterator.take(DocMarker).sum)
    val llk = new Array[Long](DocMarker * nS)
    for (g <- 0 until DocMarker; s <- 0 until nS)
      llk(g * nS + s) = models.microNat(math.log(
        (cts(s)(g) + 1).toDouble / (ns(s) + v).toDouble) * 1000000)
    val dTot = cts.map(_(DocMarker)).sum
    val priors = cts.map(c =>
      models.microNat(math.log(c(DocMarker).toDouble / dTot.toDouble) * 1000000))
    val floors = ns.map(n =>
      models.microNat(math.log(1.0 / (n + v).toDouble) * 1000000))
    Fit(NbModel(sources, llk, priors), floors, vocab)
  }

  private val ModelSchema = StructType(Seq(
    StructField("gram", LongType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("llk_micro", LongType, nullable = false)))
  private val PriorSchema = StructType(Seq(
    StructField("source", StringType, nullable = false),
    StructField("prior_micro", LongType, nullable = false),
    // the unseen-token smoothing floor ln(1/(N_s+V)) — applied by
    // classifyWith to grams absent from the model, so scoring a LATER
    // corpus version against a persisted model follows the documented
    // held-out recipe instead of silently treating OOV grams as ln(1)=0
    StructField("floor_micro", LongType, nullable = false)))

  /** One training pass → BOTH model tables `(model, priors)` — the
    * model-export entry point. [[model]] / [[priors]] are conveniences
    * that each run their own counting job; callers wanting both must use
    * this to train once. */
  def fitModel(seqs: DataFrame): (DataFrame, DataFrame) =
    tables(seqs.sparkSession, fit(seqs))

  /** A fit as its two tables: `(gram, source, llk_micro)` over the
    * vocabulary × sources and `(source, prior_micro, floor_micro)`. */
  private def tables(spark: SparkSession, f: Fit): (DataFrame, DataFrame) = {
    val m = f.model
    val nS = m.sources.length
    val modelRows = for (g <- f.vocab.toSeq; s <- 0 until nS)
      yield Row(g.toLong, m.sources(s), m.llk(g * nS + s))
    val priorRows = (0 until nS).map(s =>
      Row(m.sources(s), m.priors(s), f.floors(s)))
    (spark.createDataFrame(modelRows.asJava, ModelSchema),
      spark.createDataFrame(priorRows.asJava, PriorSchema))
  }

  /** Dense per-(gram, source) log-likelihood table in micro-nats:
    * `(gram, source, llk_micro)`, every vocabulary gram × every source.
    * Runs a full counting job — use [[fitModel]] when priors are also
    * needed. */
  def model(seqs: DataFrame): DataFrame = fitModel(seqs)._1

  /** `(source, prior_micro)` — document-frequency priors in micro-nats.
    * Runs a full counting job — use [[fitModel]] when the model is also
    * needed. */
  def priors(seqs: DataFrame): DataFrame = fitModel(seqs)._2

  /** Train on `seqs` and classify every document of it: `(doc_id, label,
    * pred, score_micro, margin_micro, correct)` — `label` the true source,
    * `pred` the argmax source, `score_micro` its total int64 score,
    * `margin_micro` the gap to the runner-up (0 with a single source).
    *
    * Scoring is the fused [[graft.functions.expressions.NbScoreKernel]]:
    * the dense model (4096·S + S int64s — model-sized) is a broadcast
    * field of the kernel, never a plan literal, and each document scores
    * in ONE in-row multiply-add sweep
    * over its [[graft.functions.expressions.GramCounts]] histogram —
    * zero explode, zero join, zero exchange after the scan. Measured vs
    * the relational form ([[trainAndClassifyRelational]], kept as the
    * pinned-equal A/B): sf0.1 local[32] train+score 4.3–6.0 s relational
    * → 1.5 s fused; the relational path pushed ~200 M exploded
    * (doc, gram) × source rows through a broadcast join + aggregate that
    * the kernel replaces with 100 k kernel calls. Zero-token documents
    * are excluded (they carry no evidence; mirrors the oracle's inner
    * join on the gram stream). */
  def trainAndClassify(seqs: DataFrame): DataFrame =
    classify(seqs, fit(seqs).model)

  /** Classify `seqs` with an EXTERNAL trained model — the artifact
    * lifecycle entry point: persist [[fitModel]]'s two tables (e.g.
    * through [[graft.sink.KeyedSink]] snapshots), read them back at any
    * later run/version, and score without retraining (the
    * `Crawler.cpp:934-998` re-run analog at model level). The tables are
    * model-sized, so the collect here is planning metadata, not data
    * movement; scoring is the same fused zero-shuffle kernel as
    * [[trainAndClassify]] — KeyedSinkSpec pins the
    * train → persist → load → classify round trip bitwise-equal to the
    * direct path. */
  def classifyWith(seqs: DataFrame, model: DataFrame,
                   priors: DataFrame): DataFrame = {
    val sources = mutable.ArrayBuffer.empty[String]
    val priorArr = Array.newBuilder[Long]
    val floors = Array.newBuilder[Long]
    models.foldRows(priors.select(col("source"), col("prior_micro"),
        col("floor_micro")).orderBy(col("source"))) { r =>
      sources += r.getUTF8String(0).toString
      priorArr += r.getLong(1); floors += r.getLong(2)
    }
    require(sources == sources.sorted,
      "priors must be ordered by source name (the kernel tiebreak order)")
    val nS = sources.length
    // grams outside the trained vocabulary score the per-source smoothing
    // floor ln(1/(N_s+V)) — load-bearing when a later corpus version is
    // scored against a persisted model
    val fl = floors.result()
    val llk = Array.tabulate(4096 * nS)(i => fl(i % nS))
    val sIdx = sources.zipWithIndex.toMap
    models.foldRows(model.select(col("gram"), col("source"),
        col("llk_micro"))) { r =>
      llk(r.getLong(0).toInt * nS + sIdx(r.getUTF8String(1).toString)) =
        r.getLong(2)
    }
    classify(seqs, NbModel(sources.toArray, llk, priorArr.result()))
  }

  /** Score every document of `seqs` with `model` in the fused kernel. */
  private def classify(seqs: DataFrame, model: NbModel): DataFrame = {
    graft.functions.expressions.register(seqs.sparkSession)
    val bc = seqs.sparkSession.sparkContext.broadcast(model)
    // docs without tokens drop out through the generator, not a filter: a
    // filter would be pushed below the source's balance exchange and
    // synthesize every doc's tokens twice
    seqs.select(col("doc_id"), col("source").as("label"),
        explode(array_compact(array(when(size(col("tokens")) > 0,
          models.kernel(gramCounts(col("tokens"), GramShape.Unigram))(
            NbScoreKernel(_, bc)))))).as("__r"))
      .select(col("doc_id"), col("label"), col("__r.pred").as("pred"),
        col("__r.score_micro").as("score_micro"),
        col("__r.margin_micro").as("margin_micro"))
      .withColumn("correct", col("label") === col("pred"))
  }

  /** The relational scoring form — explode the per-doc histogram, join the
    * broadcast model table, aggregate per (doc, source), window-argmax.
    * Strictly slower than [[trainAndClassify]] (see its Scaladoc A/B
    * numbers) but kept as the independent derivation the spec pins the
    * kernel against bitwise. */
  def trainAndClassifyRelational(seqs: DataFrame): DataFrame = {
    val (m0, p0) = fitModel(seqs)
    val m = m0.withColumnRenamed("source", "pred")
    val p = p0.withColumnRenamed("source", "pred")
    // per-doc distinct grams, counted in the row; `source` rides along
    // (functionally dependent on `doc_id`), so the label needs no join
    val scores = countedGrams(seqs, GramShape.Unigram,
        col("doc_id"), col("source"))
      .join(broadcast(m), Seq("gram"))
      .groupBy(col("doc_id"), col("source"), col("pred"))
      .agg(sum(col("n") * col("llk_micro")).as("__ll"))
      .join(broadcast(p), Seq("pred"))
      .select(col("doc_id"), col("source").as("label"), col("pred"),
        (col("__ll") + col("prior_micro")).as("score_micro"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_micro").desc, col("pred"))
    scores
      .withColumn("__rn", row_number().over(w))
      .withColumn("__next", lead(col("score_micro"), 1).over(w))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("label"), col("pred"), col("score_micro"),
        coalesce(col("score_micro") - col("__next"), lit(0L))
          .as("margin_micro"),
        (col("label") === col("pred")).as("correct"))
  }

  /** DuckDB mirror of [[trainAndClassify]] (`seqsSql` = a CTE body
    * yielding (doc_id, tokens, source)). */
  def duckSql(seqsSql: String): String =
    s"""WITH seqs AS ($seqsSql),
       |dg AS MATERIALIZED (
       |  SELECT doc_id, source, gram, count(*) AS n_occ
       |  FROM (SELECT doc_id, source, (t + 2048)::BIGINT AS gram
       |        FROM (SELECT doc_id, source, unnest(tokens) AS t FROM seqs))
       |  GROUP BY 1, 2, 3),
       |cts AS (SELECT source, gram, sum(n_occ) AS c_ts FROM dg GROUP BY 1, 2),
       |ds AS (SELECT source, count(*) AS d_s FROM seqs GROUP BY 1),
       |ns AS (
       |  -- per-source token totals over ALL sources (ds), not just the
       |  -- ones with >= 1 token (cts): a source of only zero-token docs
       |  -- must still be a prediction candidate, like the engine's fit
       |  SELECT ds.source, coalesce(n0.n_s, 0) AS n_s
       |  FROM ds LEFT JOIN (
       |    SELECT source, sum(c_ts) AS n_s FROM cts GROUP BY 1) n0
       |  USING (source)),
       |vocab AS (SELECT DISTINCT gram FROM cts),
       |v AS (SELECT count(*) AS v FROM vocab),
       |model AS (
       |  SELECT vocab.gram, ns.source,
       |    CAST(round(ln(CAST(coalesce(cts.c_ts, 0) + 1 AS DOUBLE)
       |         / CAST(ns.n_s + v.v AS DOUBLE)) * 1000000) AS BIGINT)
       |      AS llk_micro
       |  FROM vocab CROSS JOIN ns CROSS JOIN v
       |  LEFT JOIN cts ON cts.source = ns.source AND cts.gram = vocab.gram),
       |pri AS (
       |  SELECT source,
       |    CAST(round(ln(CAST(d_s AS DOUBLE)
       |         / CAST((SELECT sum(d_s) FROM ds) AS DOUBLE)) * 1000000)
       |      AS BIGINT) AS prior_micro
       |  FROM ds),
       |sc AS (
       |  SELECT dg.doc_id, any_value(dg.source) AS label,
       |    model.source AS pred,
       |    sum(dg.n_occ * model.llk_micro)
       |      + any_value(pri.prior_micro) AS score_micro
       |  FROM dg JOIN model USING (gram) JOIN pri ON pri.source = model.source
       |  GROUP BY dg.doc_id, model.source),
       |top AS (
       |  SELECT doc_id, label, pred, score_micro,
       |    coalesce(score_micro - lead(score_micro, 1) OVER (
       |      PARTITION BY doc_id ORDER BY score_micro DESC, pred), 0)
       |      AS margin_micro,
       |    row_number() OVER (
       |      PARTITION BY doc_id ORDER BY score_micro DESC, pred) AS rn
       |  FROM sc)
       |SELECT doc_id, label, pred,
       |  CAST(score_micro AS BIGINT) AS score_micro,
       |  CAST(margin_micro AS BIGINT) AS margin_micro,
       |  (label = pred) AS correct
       |FROM top
       |WHERE rn = 1""".stripMargin
}
