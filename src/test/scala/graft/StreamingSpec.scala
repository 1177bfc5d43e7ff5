package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.StreamOps

/** Structured-Streaming parity: the streaming sessionizer must produce the
  * same sessions as the batch gaps-and-islands logic on identical input. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("session_window streaming agg matches batch sessionization") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Long)]
    val minute = 60L * 1000
    def ts(m: Long) = new Timestamp(1700000000000L + m * minute)
    // user 1: events at 0,10,20 (one session), 120,125 (second session)
    // user 2: events at 0, 200 (two sessions)
    mem.addData(
      (ts(0), 1L, 100L), (ts(10), 1L, 200L), (ts(20), 1L, 300L),
      (ts(120), 1L, 400L), (ts(125), 1L, 500L),
      (ts(0), 2L, 700L), (ts(200), 2L, 800L))
    val df = mem.toDF().toDF("ts", "user_id", "cents")
    val q = StreamOps.sessionize(df, "30 minutes", "0 seconds")
      .writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val out = spark.table("sess")
        .select("user_id", "n_events", "sum_cents")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(t => (t._1, t._3))
      assert(out.toSeq == Seq(
        (1L, 3L, 600L),   // session 1 of user 1
        (1L, 2L, 900L),   // session 2 of user 1
        (2L, 1L, 700L), (2L, 1L, 800L)))
    } finally q.stop()
  }

  test("streaming exact dedup + split: first wins across batches, split == batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)
    val df = mem.toDF().toDF("ts", "doc_id", "payload")
    val q = StreamOps.splitStream(
        StreamOps.dedupExactStream(df, "doc_id", "1 hour"), "doc_id")
      .writeStream.format("memory").queryName("dedup_split")
      .outputMode(OutputMode.Append()).start()
    try {
      // duplicates within AND across micro-batches: first arrival wins
      mem.addData((ts(0), 10L, "first"), (ts(1), 10L, "dup-same-batch"),
        (ts(2), 20L, "first"))
      q.processAllAvailable()
      mem.addData((ts(3), 10L, "dup-next-batch"), (ts(4), 30L, "first"))
      q.processAllAvailable()
      val out = spark.table("dedup_split")
        .select("doc_id", "payload", "split").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
      assert(out.map(t => (t._1, t._2)).toSeq ==
        Seq((10L, "first"), (20L, "first"), (30L, "first")))
      // split assignment identical to the batch splitter for the same keys
      val batch = graft.ops.Sampling.assignSplit(
          Seq(10L, 20L, 30L).toDF("doc_id"), col("doc_id"))
        .select("doc_id", "split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(out.forall(t => batch(t._1) == t._3))
    } finally q.stop()
  }

  test("flatMapGroupsWithState envelope == batch kernel across micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    val coef = 0.6
    val rms = Seq(10.0, 4.0, 7.0, 1.0, 9.0, 2.0, 8.0)
    // batch reference: the EnvelopeScan kernel
    val expected = {
      var st = 0.0
      rms.map { x => st = x + coef * (st - x); st }
    }
    val mem = MemoryStream[StreamOps.FrameIn]
    def f(i: Int) = StreamOps.FrameIn("d1", i, rms(i),
      new Timestamp(1700000000000L + i * 1000L))
    // three uneven micro-batches — state must carry the recursion across
    mem.addData(f(0), f(1))
    val q = StreamOps.envelopeStream(mem.toDS(), coef, "10 seconds")
      .writeStream.format("memory").queryName("env")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      mem.addData(f(2), f(3), f(4))
      q.processAllAvailable()
      mem.addData(f(5), f(6))
      q.processAllAvailable()
      val out = spark.table("env").orderBy("frame_id")
        .collect().map(r => r.getAs[Double]("env")).toSeq
      assert(out.length == rms.length)
      out.zip(expected).foreach { case (a, b) =>
        assert(java.lang.Double.doubleToLongBits(a) ==
               java.lang.Double.doubleToLongBits(b))
      }
    } finally q.stop()
  }

  test("flatMapGroupsWithState forward-fill == batch kernel across micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    // gates: leading ungated rows (null fill), gated runs, trailing holes
    val rows = Seq(
      (0, 5.0, false), (1, 7.0, true), (2, 1.0, false), (3, 2.0, true),
      (4, 9.0, false), (5, 3.0, false), (6, 4.0, true), (7, 8.0, false))
    val batch = rows.map { case (i, v, g) => ("d1", i, v, g) }
      .toDF("doc_id", "frame_id", "value", "gate")
      .withColumn("filled",
        graft.core.Windows.forwardFill(col("value"), col("gate"),
          "doc_id", "frame_id"))
      .orderBy("frame_id")
      .collect().map(r =>
        if (r.isNullAt(4)) None else Some(r.getAs[Double]("filled"))).toSeq
    val mem = MemoryStream[StreamOps.FfIn]
    def f(t: (Int, Double, Boolean)) = StreamOps.FfIn("d1", t._1, t._2, t._3,
      new Timestamp(1700000000000L + t._1 * 1000L))
    mem.addData(rows.slice(0, 2).map(f): _*)
    val q = StreamOps.forwardFillStream(mem.toDS(), "10 seconds")
      .writeStream.format("memory").queryName("ff")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      mem.addData(rows.slice(2, 5).map(f): _*)
      q.processAllAvailable()
      mem.addData(rows.slice(5, 8).map(f): _*)
      q.processAllAvailable()
      val out = spark.table("ff").orderBy("frame_id")
        .collect().map(r =>
          if (r.isNullAt(2)) None else Some(r.getAs[Double]("filled"))).toSeq
      assert(out == batch)
    } finally q.stop()
  }

  test("flatMapGroupsWithState rolling median == batch kernel across micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    val span = graft.functions.rhythm.MedianSpan
    val rms = Seq(10.0, 4.0, 7.0, 1.0, 9.0, 2.0, 8.0, 4.0, 4.0, 6.5)
    // batch reference: the graft_trailing_median kernel over the whole series
    graft.functions.expressions.register(spark)
    val batch = Seq(rms).toDF("rms")
      .select(expr("graft_trailing_median(rms)")).head().getSeq[Double](0)
    val mem = MemoryStream[StreamOps.FrameIn]
    def f(i: Int) = StreamOps.FrameIn("d1", i, rms(i),
      new Timestamp(1700000000000L + i * 1000L))
    mem.addData(f(0), f(1), f(2))
    val q = StreamOps.rollingMedianStream(mem.toDS(), span, "10 seconds")
      .writeStream.format("memory").queryName("med")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      mem.addData(f(3))
      q.processAllAvailable()
      mem.addData(f(4), f(5), f(6), f(7))
      q.processAllAvailable()
      mem.addData(f(8), f(9))
      q.processAllAvailable()
      val out = spark.table("med").orderBy("frame_id")
        .collect().map(_.getAs[Double]("med")).toSeq
      assert(out.length == rms.length)
      out.zip(batch).foreach { case (a, b) =>
        assert(java.lang.Double.doubleToLongBits(a) ==
               java.lang.Double.doubleToLongBits(b))
      }
    } finally q.stop()
  }

  test("flatMapGroupsWithState refractory gap == batch kernel across micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    val gap = 10L
    // d1: dense cluster then sparse; d2: first event always kept
    val pos = Map(
      "d1" -> Seq(0L, 3L, 9L, 10L, 15L, 21L, 40L, 45L, 52L),
      "d2" -> Seq(7L, 8L, 17L))
    // batch reference: the actual refractoryExpr array fold
    val batch = pos.toSeq.map { case (k, ps) => (k, ps) }
      .toDF("doc_id", "arr")
      .select(col("doc_id"),
        graft.core.Windows.refractoryExpr("arr", gap.toInt).as("kept"))
      .collect()
      .map(r => r.getAs[String]("doc_id") ->
        r.getAs[scala.collection.Seq[Long]]("kept").toSeq)
      .toMap
    val mem = MemoryStream[StreamOps.EvIn]
    def e(k: String, p: Long) = StreamOps.EvIn(k, p,
      new Timestamp(1700000000000L + p * 1000L))
    mem.addData(e("d1", 0), e("d1", 3), e("d2", 7))
    val q = StreamOps.refractoryStream(mem.toDS(), gap, "10 minutes")
      .writeStream.format("memory").queryName("refr")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      // micro-batch 2 splits d1's cluster across the kept/suppressed edge
      mem.addData(e("d1", 9), e("d1", 10), e("d2", 8))
      q.processAllAvailable()
      mem.addData(e("d1", 15), e("d1", 21), e("d1", 40), e("d2", 17))
      q.processAllAvailable()
      mem.addData(e("d1", 45), e("d1", 52))
      q.processAllAvailable()
      val out = spark.table("refr").orderBy("doc_id", "pos")
        .collect().map(r => r.getAs[String]("doc_id") -> r.getAs[Long]("pos"))
      val expected = batch.toSeq.sortBy(_._1)
        .flatMap { case (k, ps) => ps.map(k -> _) }
      assert(out.toSeq == expected)
    } finally q.stop()
  }

  test("streaming as-of join == batch AsOfJoin across micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)
    // series/probe rows as (doc_id, tsv, value) / (doc_id, tsv)
    val seriesRows = Seq(("A", 10L, 1.0), ("A", 20L, 2.0), ("A", 30L, 3.0),
      ("B", 15L, 9.0))
    val probeRows = Seq(("A", 5L), ("A", 10L), ("A", 25L), ("A", 30L),
      ("A", 40L), ("B", 10L), ("B", 15L))

    // batch reference: the union-window sort-merge as-of
    val batchOut = graft.operators.AsOfJoin.asOf(
        probeRows.toDF("doc_id", "tsv"),
        seriesRows.toDF("doc_id", "tsv", "value"),
        "doc_id", "tsv", "tsv", Seq("value"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .sortBy(t => (t._1, t._2)).toSeq

    // asOfUnion's tagging projection, checked on static frames (the
    // streaming run below drives ONE MemoryStream of pre-unioned rows so
    // the micro-batch boundaries are exactly controlled — two independent
    // MemoryStreams can be pulled in separate batches, which would break
    // the per-key cross-batch ordering contract the operator documents)
    val unioned = StreamOps.asOfUnion(
        probeRows.map { case (d, t) => (d, t, ts(t)) }
          .toDF("doc_id", "tsv", "ts"),
        seriesRows.map { case (d, t, v) => (d, t, v, ts(t)) }
          .toDF("doc_id", "tsv", "value", "ts"))
      .collect()
    assert(unioned.count(_.side == 0) == seriesRows.length)
    assert(unioned.count(_.side == 1) == probeRows.length)
    assert(unioned.filter(_.side == 0).map(r => (r.doc_id, r.tsv, r.value))
      .sortBy(t => (t._1, t._2)).toSeq == seriesRows.sortBy(t => (t._1, t._2)))

    val mem = MemoryStream[(String, Int, Long, Double, Timestamp)]
    val in = mem.toDF().toDF("doc_id", "side", "tsv", "value", "ts")
      .as[StreamOps.AsOfIn]
    val q = StreamOps.asOfStream(in, "1 hour")
      .writeStream.format("memory").queryName("asof")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: per-key prefixes in (tsv, side) order
      mem.addData(("A", 0, 10L, 1.0, ts(10)), ("A", 0, 20L, 2.0, ts(20)),
        ("A", 1, 5L, 0.0, ts(5)), ("A", 1, 10L, 0.0, ts(10)),
        ("B", 1, 10L, 0.0, ts(10)))
      q.processAllAvailable()
      // batch 2: the rest (still non-decreasing per key)
      mem.addData(("A", 0, 30L, 3.0, ts(30)), ("B", 0, 15L, 9.0, ts(15)),
        ("A", 1, 25L, 0.0, ts(25)), ("A", 1, 30L, 0.0, ts(30)),
        ("A", 1, 40L, 0.0, ts(40)), ("B", 1, 15L, 0.0, ts(15)))
      q.processAllAvailable()
      val out = spark.table("asof")
        .collect().map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(out == batchOut)
      // tie semantics: the series row AT the probe ts is visible
      assert(out.contains(("A", 10L, Some(1.0))))
      assert(out.contains(("B", 15L, Some(9.0))))
      // probes before any series row carry None (caller applies defaults)
      assert(out.contains(("A", 5L, None)))
      assert(out.contains(("B", 10L, None)))
    } finally q.stop()
  }

  test("streaming as-of: duplicate same-ts probes in one batch all emit") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)
    val mem = MemoryStream[(String, Int, Long, Double, Timestamp)]
    val in = mem.toDF().toDF("doc_id", "side", "tsv", "value", "ts")
      .as[StreamOps.AsOfIn]
    val q = StreamOps.asOfStream(in, "1 hour")
      .writeStream.format("memory").queryName("asof_dup")
      .outputMode(OutputMode.Append()).start()
    try {
      // two clicks in the same microsecond: the batch operator enriches
      // both — the stream must too (in-batch duplicates are legal input)
      mem.addData(("A", 0, 10L, 1.0, ts(10)),
        ("A", 1, 20L, 0.0, ts(20)), ("A", 1, 20L, 0.0, ts(20)))
      q.processAllAvailable()
      val out = spark.table("asof_dup").collect()
        .map(r => (r.getLong(1), r.getDouble(3)))
      assert(out.length == 2 && out.forall(_ == ((20L, 1.0))))
    } finally q.stop()
  }

  test("foreachBatch exactly-once upsert: replayed batch ids are skipped") {
    implicit val sqlCtx = spark.sqlContext
    val path = Files.createTempDirectory("graft-stream-sink").toString
    val mem = MemoryStream[(String, Int, Double)]
    val q = mem.toDF().toDF("doc_id", "v", "x")
      .writeStream
      .foreachBatch(graft.sink.KeyedSink.foreachBatchUpsert(path, "doc_id"))
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(("a", 1, 10.0), ("b", 1, 20.0))
      q.processAllAvailable()
      mem.addData(("b", 2, 99.0), ("c", 1, 30.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = graft.sink.KeyedSink.read(spark, path).get.orderBy("doc_id")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
    assert(rows.toSeq == Seq(("a", 1, 10.0), ("b", 2, 99.0), ("c", 1, 30.0)))
    val lastBatch = graft.sink.KeyedSink.lastStreamBatch(path)
    assert(lastBatch.contains(1L))
    val snapBefore = graft.sink.KeyedSink.latestSnapshot(path).get
    // simulate the restart replay: Spark re-runs the last batch id
    val replayed = graft.sink.KeyedSink.upsertStreamBatch(spark, path, 1L,
      Seq(("b", 3, 777.0)).toDF("doc_id", "v", "x"), "doc_id")
    assert(replayed.isEmpty) // skipped — no new snapshot, no data change
    assert(graft.sink.KeyedSink.latestSnapshot(path).get == snapBefore)
    // a genuinely new batch commits and advances the recorded id
    val st = graft.sink.KeyedSink.upsertStreamBatch(spark, path, 2L,
      Seq(("d", 1, 40.0)).toDF("doc_id", "v", "x"), "doc_id")
    assert(st.nonEmpty)
    assert(graft.sink.KeyedSink.lastStreamBatch(path).contains(2L))
    assert(graft.sink.KeyedSink.read(spark, path).get.count() == 4)
  }

  test("dedupIngest: continuous ingestion screens vs corpus AND same batch") {
    implicit val sqlCtx = spark.sqlContext
    val cp = Files.createTempDirectory("graft-ingest-corpus").toString
    val vp = Files.createTempDirectory("graft-ingest-verdict").toString
    val base = Seq.tabulate(2000)(i => (i * 37) % 911 - 400)
    val other = Seq.tabulate(2000)(i => (i * 53) % 701 - 300)
    val fresh2 = Seq.tabulate(2000)(i => (i * 71) % 997 - 500)
    val mem = MemoryStream[(String, Seq[Int], Int, String)]
    val q = mem.toDF().toDF("doc_id", "tokens", "n_tok", "source")
      .writeStream
      .foreachBatch(StreamOps.dedupIngest(cp, vp, 0.5))
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 0 into an EMPTY corpus: unrelated docs, both admitted
      mem.addData(("c1", base, 2000, "s"), ("c2", other, 2000, "s"))
      q.processAllAvailable()
      // batch 1: b1 near-dups corpus doc c1; x2 is fresh; x3 near-dups
      // its OWN batch-mate x2 (arrives later by id order)
      mem.addData(
        ("b1", base.updated(1000, 999), 2000, "s"),
        ("x2", fresh2, 2000, "s"),
        ("x3", fresh2.updated(5, -123), 2000, "s"))
      q.processAllAvailable()
    } finally q.stop()
    val corpus = graft.sink.KeyedSink.read(spark, cp).get
    assert(corpus.select("doc_id").as[String].collect().toSet ==
      Set("c1", "c2", "x2"), "only fresh docs are admitted")
    val v = graft.sink.KeyedSink.read(spark, vp, "batch_doc").get.collect()
      .map(r => r.getString(0) -> r).toMap
    assert(v.keySet == Set("c1", "c2", "b1", "x2", "x3"))
    assert(!v("c1").getAs[Boolean]("is_dup"))
    assert(!v("c2").getAs[Boolean]("is_dup"))
    assert(!v("x2").getAs[Boolean]("is_dup"))
    assert(v("b1").getAs[Boolean]("is_dup") &&
      v("b1").getAs[String]("best_match") == "c1")
    assert(v("x3").getAs[Boolean]("is_dup") &&
      v("x3").getAs[String]("best_match") == "x2",
      "in-batch twin must be caught against its own batch-mate")
    // restart replay: re-running a committed batch id is a no-op
    val snapC = graft.sink.KeyedSink.latestSnapshot(cp).get
    val snapV = graft.sink.KeyedSink.latestSnapshot(vp).get
    StreamOps.dedupIngest(cp, vp, 0.5)(
      Seq(("zz", base, 2000, "s")).toDF("doc_id", "tokens", "n_tok", "source"),
      1L)
    assert(graft.sink.KeyedSink.latestSnapshot(cp).get == snapC)
    assert(graft.sink.KeyedSink.latestSnapshot(vp).get == snapV)
    // a NEW batch id screens against the grown corpus: base's twin is
    // now a dup of c1 even though c1 arrived two batches ago
    StreamOps.dedupIngest(cp, vp, 0.5)(
      Seq(("z9", base.updated(7, 0), 2000, "s"))
        .toDF("doc_id", "tokens", "n_tok", "source"),
      2L)
    val v2 = graft.sink.KeyedSink.read(spark, vp, "batch_doc").get
      .filter(col("batch_doc") === "z9").collect()(0)
    assert(v2.getAs[Boolean]("is_dup") &&
      v2.getAs[String]("best_match") == "c1")
    assert(graft.sink.KeyedSink.read(spark, cp).get.count() == 3)
  }

  test("spacesaving heavy hitters: guarantees hold, splits are bitwise") {
    implicit val sqlCtx = spark.sqlContext
    // skewed stream: a x12, b x6, then 8 distinct singletons; N=26, m=4
    val items = Seq.fill(12)("a") ++ Seq.fill(6)("b") ++
      (1 to 8).map(i => f"s$i%02d")
    def in(i: Int) = StreamOps.HhIn("k1", items(i),
      new Timestamp(1700000000000L + i * 1000L))
    def run(splits: Seq[Seq[Int]], name: String) = {
      val mem = MemoryStream[StreamOps.HhIn]
      val q = StreamOps.heavyHittersStream(mem.toDS(), 4, "10 minutes")
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        for (s <- splits) { mem.addData(s.map(in): _*); q.processAllAvailable() }
        val all = spark.table(name).collect()
        val asOf = all.map(_.getAs[Long]("as_of")).max
        all.filter(_.getAs[Long]("as_of") == asOf)
          .map(r => (r.getAs[String]("item"), r.getAs[Long]("count_est"),
            r.getAs[Long]("err"))).sortBy(_._1).toSeq
      } finally q.stop()
    }
    val one = run(Seq(items.indices.toSeq), "hh1")
    val split = run(Seq(0 until 7, 7 until 8, 8 until 20, 20 until 26)
      .map(_.toSeq), "hh2")
    assert(one == split, "micro-batch split must not change the table")
    assert(one.map(_._2).sum == 26L, "SpaceSaving counts sum to N")
    assert(one.size == 4)
    val m = one.map(t => t._1 -> t).toMap
    val truth = Map("a" -> 12L, "b" -> 6L)
    // heavy-hitter guarantee: true count > N/m = 6.5 -> tracked; and per
    // tracked item count-err <= true <= count
    assert(m.contains("a"))
    for ((i, c, e) <- one if truth.contains(i)) {
      assert(c - e <= truth(i) && truth(i) <= c, s"bounds for $i")
    }
  }

  test("streaming trailing window == batch trailingAgg across micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    // two users; same-ts pair at 5000 must exclude each other; eviction at
    // the window edge (window = 3000us, event at 1000 out of range at 4001)
    val evs = Seq(
      (1L, 1000L, 10L), (1L, 2000L, 20L), (1L, 4000L, 5L),
      (1L, 5000L, 7L), (1L, 5000L, 9L), (1L, 9000L, 1L),
      (2L, 1500L, 100L), (2L, 1500L, 50L), (2L, 2000L, 3L))
    val W = 3000L
    // batch reference: probes = series = the events
    val probes = evs.zipWithIndex
      .map { case ((u, t, _), i) => (u, i.toLong, t) }
      .toDF("user_id", "event_id", "ts_us")
    val series = evs.map { case (u, t, c) => (u, t, c) }
      .toDF("user_id", "p_us", "cents")
    val batch = graft.operators.WindowFeatures
      .trailingAgg(probes, series, "user_id", "ts_us", "p_us", "cents", W)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("ts_us"),
        r.getAs[Long]("w_n"), r.getAs[Long]("w_sum")))
      .sorted.toSeq
    def run(batches: Seq[Seq[Int]], name: String) = {
      val mem = MemoryStream[StreamOps.TrailIn]
      val q = StreamOps.trailingStream(mem.toDS(), W, "10 seconds")
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        for (b <- batches) {
          mem.addData(b.map { i =>
            val (u, t, c) = evs(i)
            StreamOps.TrailIn(u, t, c, new Timestamp(1700000000000L + t))
          }: _*)
          q.processAllAvailable()
        }
        spark.table(name).collect()
          .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("ts_us"),
            r.getAs[Long]("w_count"), r.getAs[Long]("w_cents")))
          .sorted.toSeq
      } finally q.stop()
    }
    // per-key in-order delivery in both splits (indices are time-ordered
    // within each user)
    val one = run(Seq(evs.indices.toSeq), "tr1")
    // same-ts events must share a batch (equal ts arriving in a LATER
    // batch reads as out-of-order under the in-order contract)
    val split = run(Seq(Seq(0, 1, 6, 7), Seq(2, 3, 4), Seq(5, 8)), "tr2")
    assert(one == batch, "stream == batch trailing features")
    assert(split == batch, "micro-batch split must not change features")
  }

  test("streaming tumbling frame agg produces exact integer energies") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Int)]
    // doc d1: positions 0..2047 value 3, positions 1024.. in window 2
    mem.addData((0 until 2048).map(i => ("d1", i.toLong, 3)): _*)
    val df = mem.toDF().toDF("doc_id", "pos", "token")
    val q = StreamOps.frameAgg(df, 1024L, "0 seconds")
      .writeStream.format("memory").queryName("fr")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val out = spark.table("fr").orderBy("frame_start_s")
        .collect().map(r => (r.getAs[Long]("n_samp"), r.getAs[Long]("fsumsq"),
          r.getAs[Int]("peak")))
      assert(out.length == 2)
      assert(out.forall(_ == (1024L, 1024L * 9, 3)))
    } finally q.stop()
  }

  test("streaming HLL == batch fused registers across micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    val docs = (0 until 9).map { d =>
      (s"s${d % 2}", d,
        Seq.tabulate(120)(i => (d * 131 + i * i * 17 + 3 * i) % 1500 - 750))
    }
    // batch reference: the fused register aggregate per source
    val batch = graft.ops.Sketches.hllSketch(
        docs.map { case (src, d, t) => (s"d$d", t, t.length, src) }
          .toDF("doc_id", "tokens", "n_tok", "source"), p = 6)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("sum_scaled"), r.getAs[Long]("est_micro"))).toMap
    def run(splits: Seq[Seq[Int]], name: String): Map[String, (Long, Long)] = {
      val mem = MemoryStream[StreamOps.HllIn]
      def f(d: Int) = StreamOps.HllIn(docs(d)._1,
        new Timestamp(1700000000000L + d * 1000L), docs(d)._3)
      val q = StreamOps.hllStream(mem.toDS(), p = 6, "10 seconds")
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        for (b <- splits) { mem.addData(b.map(f): _*); q.processAllAvailable() }
        // latest as_of snapshot per stream
        spark.table(name).collect()
          .groupBy(_.getAs[String]("stream_id"))
          .map { case (k, rs) =>
            val last = rs.maxBy(_.getAs[Long]("as_of"))
            k -> (last.getAs[Long]("sum_scaled"),
              last.getAs[Long]("est_micro"))
          }.toMap
      } finally q.stop()
    }
    val a = run(Seq(0 until 9), "hll_one")
    val b = run(Seq(Seq(0, 1), Seq(2, 3, 4, 5), Seq(6), Seq(7, 8)), "hll_four")
    assert(a == b, "micro-batch split must not change the registers")
    for (src <- Seq("s0", "s1"))
      assert(a(src) == batch(src),
        s"stream snapshot must equal the batch fused sketch at $src")
  }

  test("streaming quantile histogram == batch sketch across micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    val docs = (0 until 12).map(d => (s"s${d % 2}", d, 10 + d * 37 % 120))
    // batch reference: est columns of the mergeable histogram sketch
    val batch = graft.ops.Sketches.quantileHistogram(
        docs.map { case (src, d, n) => (s"d$d", Seq.fill(3)(1), n, src) }
          .toDF("doc_id", "tokens", "n_tok", "source"),
        nBins = 16, width = 8, qPcts = Seq(50, 90, 99))
      .collect().groupBy(_.getString(0))
      .map { case (k, rs) =>
        k -> rs.map(r => r.getInt(1) -> r.getAs[Long]("est")).toMap }
    def run(splits: Seq[Seq[Int]], name: String): Map[String, (Long, Long, Long, Long)] = {
      val mem = MemoryStream[StreamOps.QhIn]
      def f(d: Int) = StreamOps.QhIn(docs(d)._1,
        new Timestamp(1700000000000L + d * 1000L), docs(d)._3)
      val q = StreamOps.quantileHistStream(mem.toDS(), nBins = 16, width = 8,
          "10 seconds")
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        for (b <- splits) { mem.addData(b.map(f): _*); q.processAllAvailable() }
        spark.table(name).collect()
          .groupBy(_.getAs[String]("source"))
          .map { case (k, rs) =>
            val last = rs.maxBy(_.getAs[Long]("as_of"))
            k -> (last.getAs[Long]("n"), last.getAs[Long]("est50"),
              last.getAs[Long]("est90"), last.getAs[Long]("est99"))
          }.toMap
      } finally q.stop()
    }
    val a = run(Seq(0 until 12), "qh_one")
    val b = run(Seq(Seq(0, 1, 2), Seq(3), 4 until 9, 9 until 12), "qh_four")
    assert(a == b, "micro-batch split must not change the bins")
    for (src <- Seq("s0", "s1")) {
      val (n, e50, e90, e99) = a(src)
      assert(n == 6L)
      assert(e50 == batch(src)(50))
      assert(e90 == batch(src)(90))
      assert(e99 == batch(src)(99))
    }
  }
}
