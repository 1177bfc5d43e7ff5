package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Partitioning.readTable

import graft.operators.AsOfJoin

/** Oracle-checked queries over the `events` stream table (event-time
  * operators on a genuine timestamp column: as-of join, gap sessionization,
  * lag/lead/rank, running aggregates). Time arithmetic is done on exact
  * microsecond longs (`unix_micros` / `epoch_us`) so Spark and DuckDB agree
  * bitwise; money-like running sums use exact integer cents. */
object EventQueries {

  /** Session gap: 30 minutes, in microseconds. */
  val SessionGapUs: Long = 30L * 60 * 1000000

  /** As-of freshness budget: 1 hour, in microseconds. */
  val AsOfTolUs: Long = 60L * 60 * 1000000

  /** Label-attribution horizon: 1 day, in microseconds. */
  val LabelHorizonUs: Long = 24L * 60 * 60 * 1000000

  /** Multi-horizon trailing feature widths: 1 h, 1 d, 7 d (microseconds). */
  val TrailingWindowsUs: Seq[Long] =
    Seq(AsOfTolUs, LabelHorizonUs, 7L * LabelHorizonUs)

  /** Target-encoding smoothing pseudo-count (prior weight). */
  val TargetEncodePrior = 20

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // gap-based sessionization per user (session_window batch analog)
    "events_sessionize" -> ((s, dir) => {
      val ev = readTable(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      ev.withColumn("gap", col("ts_us") - lag(col("ts_us"), 1).over(w))
        .withColumn("is_new",
          when(col("gap").isNull || col("gap") > SessionGapUs, 1).otherwise(0))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("is_new")).as("n_sessions"),
          min(col("ts_us")).as("first_us"),
          max(col("ts_us")).as("last_us"))
    }),

    // as-of join: each click gets the latest view's value at-or-before it
    "events_asof" -> ((s, dir) => {
      val ev = readTable(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      val probes = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts_us"))
      val series = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_us").as("v_us"), col("value"))
      AsOfJoin.asOf(probes, series, "user_id", "ts_us", "v_us", Seq("value"))
        .withColumnRenamed("value", "last_view_value")
    }),

    // staleness-bounded as-of: a view older than 1 h is no feature at all
    "events_asof_tol" -> ((s, dir) => {
      val ev = readTable(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      val probes = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts_us"))
      val series = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_us").as("v_us"), col("value"))
      AsOfJoin.asOfTolerance(probes, series, "user_id", "ts_us", "v_us",
          Seq("value"), tolerance = AsOfTolUs)
        .withColumnRenamed("value", "fresh_view_value")
    }),

    // nearest-direction as-of (merge_asof direction='nearest'): clock
    // alignment / gap repair for non-label covariates — reads the future
    // by design, so it is NOT a training-feature path (see asOfNearest doc)
    "events_asof_nearest" -> ((s, dir) => {
      val ev = readTable(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      val probes = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts_us"))
      val series = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_us").as("v_us"), col("value"))
      AsOfJoin.asOfNearest(probes, series, "user_id", "ts_us", "v_us",
          Seq("value"), tolerance = AsOfTolUs)
        .withColumnRenamed("value", "nearest_view_value")
    }),

    // label attribution: first purchase strictly after each click, within
    // 1 day — the outcome-join that turns events into training labels
    "events_label_join" -> ((s, dir) => {
      val ev = readTable(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      val probes = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts_us"))
      val outcomes = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us").as("o_us"), col("value"))
      AsOfJoin.leadJoin(probes, outcomes, "user_id", "ts_us", "o_us",
          Seq("value"), horizon = LabelHorizonUs,
          defaults = Map("value" -> lit(0.0)))
        .withColumnRenamed("value", "label_purchase_value")
    }),

    // trailing point-in-time window feature: purchases in the 24 h before
    // each click (count + exact-cents sum; empty history = 0, not null)
    "events_trailing" -> ((s, dir) => {
      val ev = readTable(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("cents", round(col("value") * 100).cast("long"))
      val probes = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts_us"))
      val series = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us").as("p_us"), col("cents"))
      graft.operators.WindowFeatures.trailingAgg(probes, series,
        "user_id", "ts_us", "p_us", "cents", window = LabelHorizonUs)
    }),

    // multi-horizon trailing features (1 h / 1 d / 7 d) in ONE window pass
    "events_trailing_multi" -> ((s, dir) => {
      val ev = readTable(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("cents", round(col("value") * 100).cast("long"))
      val probes = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts_us"))
      val series = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us").as("p_us"), col("cents"))
      graft.operators.WindowFeatures.trailingAggMulti(probes, series,
        "user_id", "ts_us", "p_us", "cents", TrailingWindowsUs)
    }),

    // full trailing stat block (count/sum/min/max/population variance)
    // over the 24 h history — one union + one Window pass
    "events_trailing_stats" -> ((s, dir) => {
      val ev = readTable(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("cents", round(col("value") * 100).cast("long"))
      val probes = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts_us"))
      val series = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us").as("p_us"), col("cents"))
      graft.operators.WindowFeatures.trailingStats(probes, series,
        "user_id", "ts_us", "p_us", "cents", window = LabelHorizonUs)
    }),

    // half-life decayed purchase counter at click time (1-day half-life,
    // 16 buckets): exact power-of-two weights, one window pass — the
    // feature-store "decayed counts" with no floating exp(-lambda dt)
    "events_decay" -> ((s, dir) => {
      val ev = readTable(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("cents", round(col("value") * 100).cast("long"))
      val probes = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts_us"))
      val series = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us").as("p_us"), col("cents"))
      graft.operators.WindowFeatures.decayedCounter(probes, series,
        "user_id", "ts_us", "p_us", "cents", halfLife = LabelHorizonUs)
    }),

    // FLAGSHIP composition: leakage-free training-set assembly — as-of
    // state feature (1 h freshness) + 3-horizon trailing history + 1-day
    // forward label, all from one declarative plan
    "training_set" -> ((s, dir) => {
      val ev = readTable(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("cents", round(col("value") * 100).cast("long"))
      graft.features.TrainingSet.assemble(
        probes = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id"), col("ts_us")),
        state = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts_us").as("v_us"), col("value")),
        stateTs = "v_us", stateVal = "value",
        outcomes = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_us").as("o_us"), col("cents")),
        outcomeTs = "o_us", outcomeVal = "cents",
        key = "user_id", probeTs = "ts_us",
        freshness = AsOfTolUs, horizons = TrailingWindowsUs,
        labelH = LabelHorizonUs)
    }),

    // leakage-free expanding target encoding: each purchase gets the
    // smoothed mean of the SAME user's strictly-earlier purchases
    // (empirical-Bayes prior weight 20) — the "entity's historical average
    // outcome" feature, computed without reading the present or future
    "target_encode" -> ((s, dir) => {
      val ev = readTable(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("cents", round(col("value") * 100).cast("long"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"), col("cents"))
      graft.operators.TargetEncode.expandingMean(
          purchases, "user_id", "ts_us", "cents", m = TargetEncodePrior)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("n_past"), col("enc"))
    }),

    // purged + embargoed time split: boundary at 70% of the observed time
    // span, purge = the 1-day label horizon (train rows whose labels cross
    // the cut are dropped), embargo = 1 h of post-boundary test rows
    "purged_split" -> ((s, dir) => {
      val ev = readTable(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
        .select(col("event_id"), col("ts_us"))
      val bounds = ev.agg(min(col("ts_us")).as("__lo"), max(col("ts_us")).as("__hi"))
      val b = ev.crossJoin(broadcast(bounds))
        .withColumn("__b", expr("__lo + ((__hi - __lo) * 7) div 10"))
      graft.ops.Sampling.purgedTimeSplit(b, col("ts_us"), col("__b"),
          purge = LabelHorizonUs, embargo = AsOfTolUs)
        .select(col("event_id"), col("ts_us"), col("split"))
    }),

    // lag / lead / rank / running exact-integer sum per user
    "events_window" -> ((s, dir) => {
      val ev = readTable(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("cents", round(col("value") * 100).cast("long"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      ev.select(col("event_id"), col("user_id"),
        row_number().over(w).as("rn"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"),
        sum(col("cents")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("cum_cents"))
    }),

    // key-skew diagnostics: hottest join/group keys + skew factor — the
    // report read before choosing salt buckets (see Partitioning.saltKey)
    "skew_report" -> ((s, dir) =>
      graft.core.Partitioning.skewReport(
        readTable(s, dir, "events"), "user_id", SkewTopK)),

    // co-activity graph (shared time buckets, occupancy-capped) +
    // exact triangle counts / clustering per user — degree-ordered
    // orientation bounds wedge fanout by O(sqrt(m)) at any scale
    "triangle_stats" -> ((s, dir) =>
      graft.ops.Graph.coActivityTriangles(
        readTable(s, dir, "events"), TriBucketUs, TriMaxOcc)),

    // two-sided CUSUM drift alarm on per-type daily mean value: the
    // sequential complement of the snapshot drift screens
    "value_cusum" -> ((s, dir) =>
      graft.ops.Cusum.dailyValueCusum(
        readTable(s, dir, "events"), CusumKMicro, CusumHMicro)),

    // ordered funnel conversion (signup -> view -> click -> purchase by
    // first-touch times): per-step reach + conversion fractions
    "event_funnel" -> ((s, dir) =>
      graft.ops.Markov.funnel(
        readTable(s, dir, "events"), FunnelSteps)),

    // weekly cohort retention table: users grouped by first-activity
    // week, per-offset active counts + retention fraction
    "retention_cohorts" -> ((s, dir) =>
      graft.ops.Markov.retentionCohorts(
        readTable(s, dir, "events"))),

    // empirical entropy rate of the transition chain: one-number
    // behavioral-predictability score (low = scripted/bot-like)
    "event_entropy_rate" -> ((s, dir) =>
      graft.ops.Markov.entropyRate(
        readTable(s, dir, "events"), SessionGapUs)),

    // session-scoped event-type transition matrix (first-order Markov):
    // exact counts, one divide per cell — funnel/bot-pattern screen
    "event_transitions" -> ((s, dir) =>
      graft.ops.Markov.transitions(
        readTable(s, dir, "events"), SessionGapUs)),

    // degree assortativity of the co-activity graph: exact integer
    // Pearson moments + one shared double tree (NULL on regular graphs)
    "graph_assortativity" -> ((s, dir) =>
      graft.ops.Graph.assortativity(graft.ops.Graph.coActivityEdges(
        readTable(s, dir, "events"), TriBucketUs, TriMaxOcc))),

    // 12-core membership after exactly KCoreRounds peeling rounds, with an
    // in-band convergence flag (bounded-rounds discipline)
    "graph_kcore" -> ((s, dir) =>
      graft.ops.Graph.kCore(graft.ops.Graph.coActivityEdges(
        readTable(s, dir, "events"), TriBucketUs, TriMaxOcc),
        KCoreK, KCoreRounds)),

    // rendezvous (HRW) sharding: per-shard mass at n and n+1 shards +
    // the measured moved-key fraction (expected ~1/(n+1)) — the
    // re-layout cost read before growing a bucketed table
    "rendezvous_shards" -> ((s, dir) =>
      graft.core.Partitioning.rendezvousReport(
        readTable(s, dir, "events"), "user_id", RendezvousN)),

    // point-in-interval (range) join: each click × every campaign interval
    // of its user that was ACTIVE at click time. Campaigns are synthesized
    // deterministically from signup events — duration (1 + id % 5) × 12 h —
    // so one user's intervals OVERLAP: a probe matches several at once, the
    // one-to-many range form that as-of (single latest state) cannot express
    "events_interval_join" -> ((s, dir) => {
      val ev = readTable(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      val probes = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts_us"))
      val iv = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id").as("iv_id"),
          col("ts_us").as("from_us"),
          expr(s"ts_us + (1L + event_id % 5L) * ${CampaignSlotUs}L")
            .as("to_us"))
      graft.operators.IntervalJoin.pointInInterval(
          probes, iv, "user_id", "ts_us", "from_us", "to_us",
          IntervalBucketUs)
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("iv_id"), col("from_us"), col("to_us"))
    }),

    // per-group lower-median imputation: values on a deterministic
    // missingness mask (event_id % 13 = 0) are filled with their
    // event_type's median — an order statistic (an exact copy of an
    // existing double), never an average, so the fill is bitwise
    "impute_median" -> ((s, dir) =>
      graft.ops.Impute.groupMedianFill(
        readTable(s, dir, "events"),
        group = "event_type", id = "event_id", value = "value",
        missing = expr(s"event_id % $ImputeMissMod = 0"))),

    // Z-order vs natural layout: chunk min/max envelopes on
    // (user_id, event day) + prunability of a 2-d query box — the
    // OPTIMIZE ZORDER case, measured
    "zorder_layout" -> ((s, dir) =>
      graft.ops.Layout.zorderReport(
        readTable(s, dir, "events")
          .withColumn("day",
            expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000")),
        id = "event_id", x = "user_id", y = "day",
        bits = ZBits, chunkRows = ZChunkRows,
        qx0 = ZQx0, qx1 = ZQx1, qy0 = ZQy0, qy1 = ZQy1))
  )

  /** Synthetic campaign-duration slot (12 h, microseconds): interval k
    * lasts `(1 + k % 5)` slots, 12 h – 60 h — guaranteed same-user overlap
    * at the events table's signup cadence. */
  val CampaignSlotUs: Long = 12L * 60 * 60 * 1000000

  /** Interval-join coarse bucket width (24 h): near the typical campaign
    * span, so the explode fan-out is ≤ `60 h / 24 h + 1` = 3.5 rows per
    * interval (see [[graft.operators.IntervalJoin]]). */
  val IntervalBucketUs: Long = 24L * 60 * 60 * 1000000

  /** Skew-report depth. */
  val SkewTopK = 20
  val RendezvousN = 8
  // co-activity triangles: bucket width (1 h) + occupancy cap
  val TriBucketUs: Long = 3600L * 1000000
  val TriMaxOcc = 8
  // funnel step order (first-touch attribution)
  val FunnelSteps = Seq("signup", "view", "click", "purchase")
  // CUSUM allowance + threshold (micro-dollars)
  val CusumKMicro = 1000000L
  val CusumHMicro = 5000000L
  // k-core: k and the fixed peeling-round count (converged flag in-band).
  // k=12 exercises real cascading peeling on the gate graph
  // (144 -> 105 -> 96 -> 94 -> 92 nodes, converged at round 5)
  val KCoreK = 12
  val KCoreRounds = 5

  /** Deterministic missingness mask for the imputation query. */
  val ImputeMissMod = 13

  /** Z-order layout report: 16 Morton bits/dim, 500-row chunks (20 chunks
    * per layout at the sf0.01 row count), query box = users [40, 48] ×
    * days [19730, 19744] (the events table spans users 0–149 over ~30
    * days). The box filters BOTH dimensions, which is exactly where the
    * interleave pays: measured 6/20 z-order chunks overlap vs 11/20 in
    * the natural (time) order — and a user-only box reads 6 vs 20,
    * because natural chunks each span every user. */
  val ZBits = 16
  val ZChunkRows = 500
  val ZQx0 = 40L; val ZQx1 = 48L
  val ZQy0 = 19730L; val ZQy1 = 19744L

  def oracles: Map[String, String] = Map(

    "zorder_layout" -> graft.ops.Layout.duckZorderSql(
      """SELECT event_id AS k, user_id AS x,
        |  epoch_us(ts) // 86400000000 AS y FROM events""".stripMargin,
      ZBits, ZChunkRows, ZQx0, ZQx1, ZQy0, ZQy1),

    "impute_median" -> graft.ops.Impute.duckGroupMedianFillSql(
      s"""SELECT event_type AS g, event_id AS k, value AS v,
         |  event_id % $ImputeMissMod = 0 AS is_missing FROM events"""
        .stripMargin,
      group = "event_type", id = "event_id"),

    "events_interval_join" ->
      s"""WITH ev AS (SELECT *, epoch_us(ts) AS ts_us FROM events),
         |probes AS (SELECT user_id, event_id, ts_us FROM ev
         |           WHERE event_type = 'click'),
         |iv AS (SELECT user_id, event_id AS iv_id, ts_us AS from_us,
         |         ts_us + (1 + event_id % 5) * $CampaignSlotUs AS to_us
         |       FROM ev WHERE event_type = 'signup')
         |SELECT p.user_id, p.event_id, p.ts_us, i.iv_id, i.from_us, i.to_us
         |FROM probes p JOIN iv i
         |  ON p.user_id = i.user_id
         | AND p.ts_us >= i.from_us AND p.ts_us < i.to_us""".stripMargin,

    "events_sessionize" ->
      s"""WITH ev AS (SELECT *, epoch_us(ts) AS ts_us FROM events),
         |g AS (
         |  SELECT user_id, ts_us,
         |    ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS gap
         |  FROM ev)
         |SELECT user_id,
         |  count(*) AS n_events,
         |  CAST(sum(CASE WHEN gap IS NULL OR gap > $SessionGapUs THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_sessions,
         |  min(ts_us) AS first_us,
         |  max(ts_us) AS last_us
         |FROM g GROUP BY user_id""".stripMargin,

    "events_asof" ->
      """WITH ev AS (SELECT *, epoch_us(ts) AS ts_us FROM events),
        |probes AS (SELECT user_id, event_id, ts_us FROM ev WHERE event_type = 'click'),
        |ser AS (SELECT user_id, ts_us AS v_us, value FROM ev WHERE event_type = 'view')
        |SELECT p.user_id, p.event_id, p.ts_us, s.value AS last_view_value
        |FROM probes p ASOF LEFT JOIN ser s
        |  ON p.user_id = s.user_id AND p.ts_us >= s.v_us""".stripMargin,

    "events_asof_tol" ->
      s"""WITH ev AS (SELECT *, epoch_us(ts) AS ts_us FROM events),
        |probes AS (SELECT user_id, event_id, ts_us FROM ev WHERE event_type = 'click'),
        |ser AS (SELECT user_id, ts_us AS v_us, value FROM ev WHERE event_type = 'view')
        |SELECT p.user_id, p.event_id, p.ts_us,
        |  CASE WHEN p.ts_us - s.v_us <= ${AsOfTolUs}
        |       THEN s.value END AS fresh_view_value
        |FROM probes p ASOF LEFT JOIN ser s
        |  ON p.user_id = s.user_id AND p.ts_us >= s.v_us""".stripMargin,

    "events_asof_nearest" ->
      s"""WITH ev AS (SELECT *, epoch_us(ts) AS ts_us FROM events),
        |probes AS (SELECT user_id, event_id, ts_us FROM ev WHERE event_type = 'click'),
        |ser AS (SELECT user_id, ts_us AS v_us, value FROM ev WHERE event_type = 'view'),
        |bwd AS (
        |  SELECT p.user_id, p.event_id, p.ts_us, s.v_us AS b_us, s.value AS b_val
        |  FROM probes p ASOF LEFT JOIN ser s
        |    ON p.user_id = s.user_id AND p.ts_us >= s.v_us),
        |fwd AS (
        |  SELECT p.event_id, s.v_us AS f_us, s.value AS f_val
        |  FROM probes p ASOF LEFT JOIN ser s
        |    ON p.user_id = s.user_id AND p.ts_us < s.v_us)
        |SELECT b.user_id, b.event_id, b.ts_us,
        |  CASE
        |    WHEN b.b_us IS NOT NULL AND b.ts_us - b.b_us <= $AsOfTolUs
        |         AND (f.f_us IS NULL OR f.f_us - b.ts_us > $AsOfTolUs
        |              OR b.ts_us - b.b_us <= f.f_us - b.ts_us)
        |    THEN b.b_val
        |    WHEN f.f_us IS NOT NULL AND f.f_us - b.ts_us <= $AsOfTolUs
        |    THEN f.f_val
        |  END AS nearest_view_value
        |FROM bwd b JOIN fwd f ON f.event_id = b.event_id""".stripMargin,

    "events_label_join" ->
      s"""WITH ev AS (SELECT *, epoch_us(ts) AS ts_us FROM events),
        |probes AS (SELECT user_id, event_id, ts_us FROM ev WHERE event_type = 'click'),
        |outc AS (SELECT user_id, ts_us AS o_us, value FROM ev WHERE event_type = 'purchase')
        |SELECT p.user_id, p.event_id, p.ts_us,
        |  CASE WHEN o.o_us IS NOT NULL AND o.o_us - p.ts_us <= ${LabelHorizonUs}
        |       THEN o.value ELSE 0.0e0 END AS label_purchase_value
        |FROM probes p ASOF LEFT JOIN outc o
        |  ON p.user_id = o.user_id AND p.ts_us < o.o_us""".stripMargin,

    "events_trailing" -> graft.operators.WindowFeatures.duckTrailingSql(
      "click", "purchase", LabelHorizonUs),

    "events_trailing_multi" ->
      graft.operators.WindowFeatures.duckTrailingMultiSql(
        "click", "purchase", TrailingWindowsUs),

    "events_decay" ->
      graft.operators.WindowFeatures.duckDecayedCounterSql(
        "click", "purchase", LabelHorizonUs),

    "events_trailing_stats" ->
      graft.operators.WindowFeatures.duckTrailingStatsSql(
        "click", "purchase", LabelHorizonUs),

    "training_set" -> {
      val histCols = TrailingWindowsUs.indices
        .flatMap(i => Seq(s"w_n_$i", s"w_sum_$i")).mkString(", ")
      s"""WITH st AS (
         |  WITH ev AS (SELECT *, epoch_us(ts) AS ts_us FROM events),
         |  probes AS (SELECT user_id, event_id, ts_us FROM ev WHERE event_type = 'click'),
         |  ser AS (SELECT user_id, ts_us AS v_us, value FROM ev WHERE event_type = 'view')
         |  SELECT p.user_id, p.event_id, p.ts_us,
         |    CASE WHEN p.ts_us - s.v_us <= $AsOfTolUs THEN s.value END AS f_state
         |  FROM probes p ASOF LEFT JOIN ser s
         |    ON p.user_id = s.user_id AND p.ts_us >= s.v_us),
         |hist AS (
         |  ${graft.operators.WindowFeatures
                .duckTrailingMultiSql("click", "purchase", TrailingWindowsUs)
                .replace("\n", "\n  ")}),
         |lab AS (
         |  WITH ev AS (SELECT *, epoch_us(ts) AS ts_us,
         |                     CAST(round(value * 100) AS BIGINT) AS cents
         |             FROM events),
         |  probes AS (SELECT user_id, event_id, ts_us FROM ev WHERE event_type = 'click'),
         |  outc AS (SELECT user_id, ts_us AS o_us, cents FROM ev WHERE event_type = 'purchase')
         |  SELECT p.event_id,
         |    CASE WHEN o.o_us IS NOT NULL AND o.o_us - p.ts_us <= $LabelHorizonUs
         |         THEN o.cents ELSE CAST(0 AS BIGINT) END AS label
         |  FROM probes p ASOF LEFT JOIN outc o
         |    ON p.user_id = o.user_id AND p.ts_us < o.o_us)
         |SELECT st.user_id, st.event_id, st.ts_us, st.f_state,
         |  $histCols, lab.label
         |FROM st
         |JOIN hist ON hist.event_id = st.event_id
         |JOIN lab ON lab.event_id = st.event_id""".stripMargin
    },

    "target_encode" ->
      s"""WITH p AS (
         |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         |         CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase'),
         |g AS (SELECT CAST(sum(cents) AS BIGINT) AS g_sum,
         |             CAST(count(cents) AS BIGINT) AS g_cnt FROM p),
         |w AS (
         |  SELECT event_id, user_id, ts_us,
         |    CAST(count(cents) OVER win AS BIGINT) AS n_past,
         |    CAST(coalesce(sum(cents) OVER win, 0) AS BIGINT) AS cum
         |  FROM p
         |  WINDOW win AS (PARTITION BY user_id ORDER BY ts_us
         |    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         |SELECT w.event_id, w.user_id, w.ts_us, w.n_past,
         |  CAST($TargetEncodePrior * g.g_sum + w.cum * g.g_cnt AS DOUBLE)
         |    / CAST(g.g_cnt * ($TargetEncodePrior + w.n_past) AS DOUBLE) AS enc
         |FROM w CROSS JOIN g""".stripMargin,

    "purged_split" ->
      s"""WITH ev AS (SELECT event_id, epoch_us(ts) AS ts_us FROM events),
         |g AS (SELECT min(ts_us) AS lo, max(ts_us) AS hi FROM ev),
         |b AS (SELECT ev.*, g.lo + ((g.hi - g.lo) * 7) // 10 AS bnd
         |      FROM ev CROSS JOIN g)
         |SELECT event_id, ts_us,
         |  CASE WHEN ts_us < bnd - $LabelHorizonUs THEN 'train'
         |       WHEN ts_us < bnd THEN 'purged'
         |       WHEN ts_us < bnd + $AsOfTolUs THEN 'embargo'
         |       ELSE 'test' END AS split
         |FROM b""".stripMargin,

    "events_window" ->
      """WITH ev AS (SELECT *, epoch_us(ts) AS ts_us,
        |                    CAST(round(value * 100) AS BIGINT) AS cents
        |            FROM events)
        |SELECT event_id, user_id,
        |  CAST(row_number() OVER w AS INTEGER) AS rn,
        |  lag(value) OVER w AS prev_value,
        |  lead(value) OVER w AS next_value,
        |  CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ts_us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
        |FROM ev
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)""".stripMargin,

    "skew_report" ->
      graft.core.Partitioning.duckSkewSql("events", "user_id", SkewTopK),

    "rendezvous_shards" ->
      graft.core.Partitioning.duckRendezvousSql("events", "user_id",
        RendezvousN),

    "triangle_stats" -> graft.ops.Graph.duckSql(TriBucketUs, TriMaxOcc),

    "graph_assortativity" ->
      graft.ops.Graph.duckAssortativitySql(TriBucketUs, TriMaxOcc),

    "event_transitions" -> graft.ops.Markov.duckSql(SessionGapUs),

    "event_entropy_rate" ->
      graft.ops.Markov.duckEntropyRateSql(SessionGapUs),

    "retention_cohorts" -> graft.ops.Markov.duckRetentionSql(),

    "event_funnel" -> graft.ops.Markov.duckFunnelSql(FunnelSteps),

    "value_cusum" -> graft.ops.Cusum.duckSql(CusumKMicro, CusumHMicro),

    "graph_kcore" ->
      graft.ops.Graph.duckKCoreSql(TriBucketUs, TriMaxOcc, KCoreK,
        KCoreRounds)
  )
}
