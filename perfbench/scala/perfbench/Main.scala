package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.features.{FeatureVector, Pipeline}
import graft.sink.KeyedSink
import graft.sources.Seqs

/** Counts attempted and failed operations, and the metrics of one run. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()

  /** Run one operation; an exception counts as a failed op. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        failures += s"$what: $e"
        None
    }
  }

  /** Record one output check; a rejected output counts as a failed op. */
  def check(what: String)(body: => Option[String]): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val r = try body catch { case NonFatal(e) => Some(e.toString) }
    System.err.println(f"[perfbench] check '$what' ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r.foreach { m => failed += 1; failures += s"$what: $m" }
  }

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
}

/** One benchmark workload: set-up, one closed-loop iteration, final checks
  * and the metrics derived from the recorded spans. */
trait Workload {
  def setup(spark: SparkSession, dir: String): Unit
  /** One iteration. `layered` adds the per-layer passes of the traced run. */
  def iterate(spark: SparkSession, tr: Trace, res: Result, layered: Boolean): Unit
  /** Checks (and calls) that run once, after the loop. */
  def finalChecks(spark: SparkSession, tr: Trace, res: Result): Unit = ()
  /** Untimed warm-up after the set-ups (JIT and code generation);
    * `traced` when the per-layer passes will run too. */
  def warmup(spark: SparkSession, traced: Boolean): Unit = ()
  /** Fewest iterations of a loop, so that every metric has several samples. */
  def minIterations: Int
  /** End-to-end `job_s` and `aux_s` from the spans that started at or
    * after `from`, each with its sample count. */
  def job(tr: Trace, from: Long): (Double, Int)
  def aux(tr: Trace, from: Long): (Double, Int)
  /** Per-layer metrics of this workload (traced run, spans after `from`). */
  def layers(tr: Trace, from: Long): Map[String, Double]
}

object Main {

  val SetupReps = 3
  /** Fewest iterations of a run, whatever `--seconds` is. */
  val MinAppIterations = 3
  val MinCurationPasses = 1
  /** Docs of the app workload's source and stored token table. */
  val AppDocs = 4000
  /** Backfill docs checked against the unfused reference kernels. */
  val SampleDocs = 2
  /** Share of the source changed per incremental round, and docs added. */
  val ChangeShare = 0.02
  val NewDocsPerRound = 5

  val Queries: Seq[String] = Seq("kn_bigram_nll", "skipgram_top",
    "nb_classify", "ivfpq_recall", "bm25_top", "dup_pagerank", "onsets",
    "source_overlap", "pit_asof", "events_trailing_stats")

  /** Spans whose engine counters are reported per layer. */
  val CounterSpans: Seq[String] =
    Queries.map(q => s"queries.$q") ++
      Seq("sink.upsert", "sink.upsert_delta", "sink.read", "sink.compact")

  val PerLayer: Seq[String] =
    Seq("sources.scan_s", "sources.scan_mb", "sources.synth_s",
      "features.ll_s", "features.ll_self_s", "features.fv_full_s",
      "features.fv_full_self_s", "features.cpu_s", "features.gc_s",
      "sink.upsert_s", "sink.upsert_write_s", "sink.self_s", "sink.files",
      "sink.snapshot_mb",
      "sink.pending_s", "sink.upsert_delta_s", "sink.delta_write_s",
      "sink.delta_recount_s", "sink.pending_precision", "sink.read_s",
      "sink.chain_len", "sink.compact_s", "sink.compact_shuffle_mb",
      "sink.compact_spill_mb") ++
      Queries.map(q => s"queries.${q}_s") ++
      CounterSpans.flatMap(s => Seq("shuffle_write_mb", "exchanges",
        "driver_result_mb", "broadcast_mb", "task_skew").map(m => s"$s.$m")) ++
      Seq("spark.task_failures", "spark.steal_pct", "trace.overhead_s",
        "trace.layer_share")

  def unitOf(m: String): String =
    if (m.endsWith("_s")) "s"
    else if (m.endsWith("_mb")) "MB"
    else if (m.endsWith("_pct")) "%"
    else if (m.endsWith("_share") || m.endsWith("_precision") ||
      m.endsWith("task_skew")) "ratio"
    else "count"

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) 0.0
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Run `tasks` on `threads` callers; results in task order. */
  def parallel[T](threads: Int)(tasks: Seq[() => T]): Seq[scala.util.Try[T]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(() => t()))
      .map(f => scala.util.Try(f.get()).recover {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      })
    finally pool.shutdown()
  }

  def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def deleteTree(p: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete()
    }
    rm(new File(p))
  }

  def dirBytes(p: String): Long = {
    val f = new File(p)
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
      .map(x => dirBytes(x.getPath)).sum
    else f.length()
  }

  /** Write-job wall time the sink records in a snapshot's metadata. */
  def commitWallS(sink: String, snap: Int): Double = {
    val meta = Files.readString(Paths.get(sink, s"snap-$snap.json"))
    "\"wall_ms\": (\\d+)".r.findFirstMatchIn(meta)
      .map(_.group(1).toDouble / 1000.0).getOrElse(0.0)
  }

  /** Cumulative stolen CPU ticks, read as `graft.Bench` reads them. */
  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+").drop(1)
        .lift(7).map(_.toLong).getOrElse(0L)
      finally src.close()
    } catch { case NonFatal(_) => 0L }

  def session(root: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // scan splits scaled down with the corpora, so every core runs
      // several scan tasks, as on a full-size table
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.local.dir", s"$root/tmp")
      .config("spark.sql.warehouse.dir", s"$root/tmp/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  final case class Opts(workload: String = "", seed: Long = 1L,
                        seconds: Int = 10, trace: Boolean = false,
                        root: String = ".bench_build", data: String = "",
                        record: String = "", expected: String = "",
                        selftest: Boolean = false)

  def parse(args: Array[String]): Opts = {
    var o = Opts()
    val it = args.iterator
    while (it.hasNext) it.next() match {
      case "--workload" => o = o.copy(workload = it.next())
      case "--seed" => o = o.copy(seed = it.next().toLong)
      case "--seconds" => o = o.copy(seconds = it.next().toInt)
      case "--trace" => o = o.copy(trace = it.next() == "1")
      case "--root" => o = o.copy(root = it.next())
      case "--data" => o = o.copy(data = it.next())
      case "--expected" => o = o.copy(expected = it.next())
      case "--record" => o = o.copy(record = it.next())
      case "--selftest" => o = o.copy(selftest = true)
      case other => throw new IllegalArgumentException(s"unknown argument $other")
    }
    o
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val code =
      try if (o.selftest) SelfTest.run(o) else run(o)
      catch {
        case NonFatal(e) =>
          e.printStackTrace()
          3
      }
    System.out.flush()
    sys.exit(code)
  }

  def workload(o: Opts): Workload = o.workload match {
    case "app" => new AppPath(o.seed, o.data)
    case "curation" => new Curation(o.seed, o.data, o.expected, o.record)
    case w => throw new IllegalArgumentException(s"unknown workload '$w'")
  }

  def run(o: Opts): Int = {
    val w = workload(o)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val root = new File(o.root).getAbsolutePath
    val work = s"$root/work-${o.workload}-${ProcessHandle.current.pid}"
    val res = new Result
    val steal0 = stealTicks()
    val wall0 = System.nanoTime()

    // set-up, several times from scratch; the last one stays for the run
    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { k =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(root, cores)
      w.setup(spark, s"$work/setup-$k")
      val t = (System.nanoTime() - t0) / 1e9
      if (k > 1) deleteTree(s"$work/setup-${k - 1}")
      t
    }

    // an untimed warm-up in the session the loop runs in: a session started
    // after the warm-up would run its first iteration several times slower
    val tw = System.nanoTime()
    w.warmup(spark, o.trace)
    val warmS = (System.nanoTime() - tw) / 1e9

    val tr = new Trace(spark, o.trace)
    /** Iterate for `seconds`, and at least `min` times; returns the start
      * time. */
    def loop(seconds: Double, layered: Boolean, min: Int = w.minIterations): Long = {
      val t0 = System.nanoTime()
      var n = 0
      while (n < min || System.nanoTime() - t0 < seconds * 1e9) {
        // a full collection between iterations, so no sample pays for the
        // garbage of an earlier one (ParallelGC's full collections of a 3 GB
        // heap take seconds); it also lets Spark's ContextCleaner drop
        // the broadcasts of finished joins
        tr.span("bench.gc")(System.gc())
        w.iterate(spark, tr, res, layered)
        n += 1
      }
      t0
    }

    // a traced run spends the same --seconds: the first half untraced, the
    // second half with the listener attached and the per-layer passes added;
    // the difference of the two halves' job_s is the tracing overhead
    var overheadS = 0.0
    val from =
      if (!o.trace) loop(o.seconds, layered = false)
      else {
        tr.detach()
        val a0 = loop(o.seconds / 2.0, layered = false, min = 1)
        val untraced = w.job(tr, a0)
        tr.attach()
        val b0 = loop(o.seconds / 2.0, layered = true)
        tr.drain()
        val traced = w.job(tr, b0)
        overheadS = traced._1 - untraced._1
        System.err.println(f"[perfbench] job_s untraced ${untraced._1}%.4f s " +
          f"(n=${untraced._2}), traced ${traced._1}%.4f s (n=${traced._2})")
        b0
      }
    val (jobS, jobN) = w.job(tr, from)
    val (auxS, auxN) = w.aux(tr, from)

    val tc = System.nanoTime()
    w.finalChecks(spark, tr, res)
    val checkS = (System.nanoTime() - tc) / 1e9
    tr.detach()
    val wallS = (System.nanoTime() - wall0) / 1e9
    val stealPct = 100.0 * ((stealTicks() - steal0) / 100.0) /
      (wallS * Runtime.getRuntime.availableProcessors)
    if (o.trace) {
      val perSpan = CounterSpans.flatMap { s =>
        val n = math.max(1, tr.spansOf(s, from).size)
        val c = tr.counter(s)
        Seq(s"$s.shuffle_write_mb" -> c.shuffleWriteBytes / 1e6 / n,
          s"$s.exchanges" -> c.exchanges.toDouble / n,
          s"$s.driver_result_mb" -> c.resultBytes / 1e6 / n,
          s"$s.broadcast_mb" -> c.broadcastBytes / 1e6 / n,
          s"$s.task_skew" -> c.taskSkew)
      }.toMap
      val all = w.layers(tr, from) ++ perSpan ++ Map(
        "spark.task_failures" ->
          tr.counterNames.map(tr.counter).map(_.taskFailures).sum.toDouble,
        "spark.steal_pct" -> stealPct,
        "trace.overhead_s" -> overheadS)
      PerLayer.foreach(m => res.metric(m, all.getOrElse(m, 0.0), unitOf(m)))
    } else {
      res.metric("setup_s", median(setups), "s")
      res.metric("job_s", jobS, "s")
      res.metric("aux_s", auxS, "s")
    }
    spark.stop()

    Files.createDirectories(Paths.get(root, "traces"))
    Files.writeString(Paths.get(root, "traces",
      s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}.json"),
      tr.toJson)
    deleteTree(work)

    System.err.println(f"[perfbench] ${o.workload} seed=${o.seed} " +
      f"setup=${setups.map(t => f"$t%.3f").mkString(",")} " +
      f"job_s=$jobS%.4f (n=$jobN) aux_s=$auxS%.4f (n=$auxN) " +
      f"steal=$stealPct%.2f%% warmup=$warmS%.1f s final=$checkS%.1f s wall=$wallS%.1f s " +
      f"failed_op_share=${res.failed.toDouble / math.max(1L, res.attempted)}%.4f")
    res.failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))

    val ok = res.failed == 0 && jobN > 0 && auxN > 0
    val ms = res.metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) "0" else v.toString}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": $ok, "attempted": ${math.max(1L, res.attempted)}, "failed": ${res.failed}, "metrics": $ms}""")
    if (ok) 0 else 1
  }
}

/** graft.App's two paths on one seeded corpus. Each iteration runs the
  * non-incremental path (scan of the stored token table → featuresLl →
  * upsert into an empty sink), then one incremental round on the table it
  * just committed: a seeded change batch on the source (~2% of docs get a
  * new length, so a new version `n_tok`, plus a few new docs), pending →
  * featuresLl → upsertDelta (and, traced, a full merge-on-read). Every batch
  * is drawn against the stored corpus, so every round diffs, recomputes and
  * reads alike. After a traced run's loop the last table is compacted. */
final class AppPath(seed: Long, data: String) extends Workload {
  private var dir = ""
  private var corpus = ""
  private var base = IndexedSeq.empty[Inputs.Doc]
  private var iter = 0
  private var sink = ""
  private var src = ""
  private var backfill: Option[graft.sink.CommitStats] = None
  private var traced = false
  private var docs = 0L
  private var changed = Seq.empty[(String, Int)]
  // (span start, value) samples of numbers the sink reports per commit
  private val upsertWrite = mutable.ArrayBuffer[(Long, Double)]()
  private val deltaWrite = mutable.ArrayBuffer[(Long, Double)]()
  private val precision = mutable.ArrayBuffer[(Long, Double)]()

  private def nTok(nChars: Long) = math.min(nChars * 16, Seqs.MaxTokens.toLong).toInt
  private def scan(spark: SparkSession) = spark.read.parquet(corpus)

  def setup(spark: SparkSession, d: String): Unit = {
    dir = d
    corpus = s"$d/corpus"
    iter = 0
    base = Inputs.tokenDocs(seed, Main.AppDocs, Inputs.lengths(spark, data))
    Inputs.writeTokenDocs(spark, s"$d/src-0", base)
    // the stored token table App's non-incremental path scans
    Seqs.fromDocuments(spark, s"$d/src-0").repartition(16)
      .write.mode("overwrite").parquet(corpus)
  }

  /** One iteration (and, for a traced run, a compaction and `fvFull`), so
    * no measured call is the first of its kind. */
  override def warmup(spark: SparkSession, traced: Boolean): Unit = {
    this.traced = traced
    iterate(spark, new Trace(spark, false), new Result, layered = false)
    if (traced) {
      KeyedSink.compact(spark, sink, "doc_id")
      Main.noop(FeatureVector.fvFull(scan(spark)))
    }
  }

  def minIterations: Int = Main.MinAppIterations

  def job(tr: Trace, from: Long): (Double, Int) =
    (tr.medianS("sink.upsert", from), tr.spansOf("sink.upsert", from).size)

  def aux(tr: Trace, from: Long): (Double, Int) =
    (tr.medianS("refresh.round", from), tr.spansOf("refresh.round", from).size)

  def iterate(spark: SparkSession, tr: Trace, res: Result, layered: Boolean): Unit =
    tr.span("app.iter") {
      iter += 1
      tr.span("bench.cleanup") {
        if (sink.nonEmpty) Main.deleteTree(sink)
        if (src.nonEmpty) Main.deleteTree(src)
      }
      sink = s"$dir/sink-$iter"
      val t0 = System.nanoTime()
      backfill = res.op("backfill upsert")(tr.span("sink.upsert") {
        KeyedSink.upsert(spark, sink, Pipeline.featuresLl(scan(spark)), "doc_id")
      })
      backfill.foreach { st =>
        upsertWrite += t0 -> Main.commitWallS(sink, st.snapshot)
        res.check(s"backfill $iter committed rows")(
          if (st.totalRows == base.size && st.upsertedRows == base.size) None
          else Some(s"committed ${st.totalRows} rows (${st.upsertedRows} " +
            s"upserted), expected ${base.size}"))
      }
      if (layered) {
        res.op("scan")(tr.span("sources.scan")(Main.noop(scan(spark))))
        res.op("ll")(tr.span("features.ll") {
          Main.noop(Pipeline.featuresLl(scan(spark)))
        })
        res.op("fv_full")(tr.span("features.fv_full") {
          Main.noop(FeatureVector.fvFull(scan(spark)))
        })
      }
      if (backfill.isDefined) {
        tr.span("bench.change")(changeBatch(spark))
        round(spark, tr, res, layered)
        tr.span("bench.check")(checkRound(spark, res))
      }
    }

  /** Write the source as the stored corpus plus this iteration's seeded
    * change batch. */
  private def changeBatch(spark: SparkSession): Unit = {
    val rnd = new java.util.Random(Inputs.mix(seed) ^ iter)
    val k = math.round(base.size * Main.ChangeShare).toInt
    val idx = mutable.LinkedHashSet[Int]()
    while (idx.size < k) idx += rnd.nextInt(base.size)
    val docsNow = base.toArray
    val upd = idx.toSeq.map { i =>
      val d = base(i)
      // 44..499 chars: n_tok below the cap, never the old value
      val nc = (math.min(d.nChars, 500L) - 44 + 1 + rnd.nextInt(200)) % 456 + 44
      docsNow(i) = d.copy(nChars = nc)
      docsNow(i)
    }
    // new docs take ids just past the corpus, which tokenDocs keeps free
    val added = (0 until Main.NewDocsPerRound).map(j =>
      Inputs.Doc(base.last.docId + 1 + j, 44 + rnd.nextInt(534), s"src${j % 20}"))
    changed = (upd ++ added).map(d => (f"d${d.docId}%06d", nTok(d.nChars)))
    docs = base.size.toLong + added.size
    src = s"$dir/src-$iter"
    Inputs.writeTokenDocs(spark, src, docsNow.toSeq ++ added)
  }

  /** One incremental round on the table the backfill committed, and, in a
    * traced iteration, a reader's full read of the result. */
  private def round(spark: SparkSession, tr: Trace, res: Result,
                    layered: Boolean): Unit = {
    res.op("refresh round")(tr.span("refresh.round") {
      val todo = tr.span("sink.pending") {
        val t = KeyedSink.pending(spark, sink, Seqs.fromDocuments(spark, src),
          "doc_id", "n_tok")
        val n = t.count() // App counts the change list before it runs
        precision += System.nanoTime() -> changed.size.toDouble / math.max(1L, n)
        t
      }
      val t0 = System.nanoTime()
      val st = tr.span("sink.upsert_delta") {
        KeyedSink.upsertDelta(spark, sink, Pipeline.featuresLl(todo), "doc_id")
      }
      deltaWrite += t0 -> Main.commitWallS(sink, st.snapshot)
    })
    if (layered) res.op("read")(tr.span("sink.read") {
      Main.noop(KeyedSink.read(spark, sink).get)
    })
  }

  private def checkRound(spark: SparkSession, res: Result): Unit = {
    val ids = changed.map(_._1)
    res.check(s"refresh $iter")(Checks.refreshed(
      KeyedSink.read(spark, sink).get, docs, changed.toMap,
      Pipeline.featuresLl(Seqs.fromDocuments(spark, src)
        .filter(col("doc_id").isin(ids: _*)))))
  }

  /** The backfill checks on the last backfill's snapshot, side by side
    * (they are independent and untimed). A traced run then compacts the
    * last table, timed alone and checked against the checksum of the read
    * before it; the compaction and `fvFull` are per-layer metrics only, so
    * an untraced run neither runs nor checks them. */
  override def finalChecks(spark: SparkSession, tr: Trace, res: Result): Unit = {
    val table = backfill.flatMap(st => KeyedSink.readAt(spark, sink, st.snapshot))
      .getOrElse(throw new IllegalStateException("backfill left no committed table"))
    val corpusDf = scan(spark)
    // a seeded sample through the unfused reference paths
    val rnd = new java.util.Random(seed)
    val ids = Seq.fill(Main.SampleDocs)(base(rnd.nextInt(base.size)))
      .map(d => f"d${d.docId}%06d").distinct
    val sample = corpusDf.filter(col("doc_id").isin(ids: _*))
    val checks = Seq[(String, () => Option[String])](
      "backfill row count" -> (() =>
        Checks.keysUnique(table, "doc_id", base.size)),
      "backfill tokens" -> (() => Checks.tokensEqual(table, corpusDf)),
      "backfill sample vs featuresLlUnfused" -> (() => Checks.sameRows("ll",
        table.filter(col("doc_id").isin(ids: _*)),
        Pipeline.featuresLlUnfused(sample)))) ++
      (if (!traced) Nil else Seq("fvFull sample vs fvFullComposed" -> (() =>
        Checks.sameRows("fv", FeatureVector.fvFull(sample),
          FeatureVector.fvFullComposed(sample)))))
    checks.map(_._1).zip(Main.parallel(spark.sparkContext.defaultParallelism)(
      checks.map(_._2))).foreach { case (what, r) => res.check(what)(r.get) }
    if (traced) {
      val before = res.op("checksum")(Checks.checksum(KeyedSink.read(spark, sink).get))
      res.op("compact")(tr.span("sink.compact") {
        KeyedSink.compact(spark, sink, "doc_id")
      })
      res.check("compact preserves the read checksum") {
        val after = Checks.checksum(KeyedSink.read(spark, sink).get)
        if (before.contains(after)) None
        else Some(s"read before compact $before, after $after")
      }
    }
  }

  def layers(tr: Trace, from: Long): Map[String, Double] = {
    def after(xs: Seq[(Long, Double)]) = Main.median(xs.filter(_._1 >= from).map(_._2))
    val n = math.max(1, tr.spansOf("sources.scan", from).size)
    val scanS = tr.medianS("sources.scan", from)
    val ll = tr.medianS("features.ll", from)
    val fv = tr.medianS("features.fv_full", from)
    val upsert = tr.medianS("sink.upsert", from)
    val feat = Seq("features.ll", "features.fv_full").map(tr.counter)
    val c = tr.counter("sink.compact")
    val delta = tr.medianS("sink.upsert_delta", from)
    val write = after(deltaWrite.toSeq)
    Map(
      "sources.scan_s" -> scanS,
      "sources.scan_mb" -> Main.dirBytes(corpus) / 1e6,
      "features.ll_s" -> ll,
      "features.ll_self_s" -> (ll - scanS),
      "features.fv_full_s" -> fv,
      "features.fv_full_self_s" -> (fv - scanS),
      "features.cpu_s" -> feat.map(_.cpuNs).sum / 1e9 / n,
      "features.gc_s" -> feat.map(_.gcMs).sum / 1e3 / n,
      "sink.upsert_s" -> upsert,
      "sink.upsert_write_s" -> after(upsertWrite.toSeq),
      "sink.self_s" -> (upsert - ll),
      "sink.files" -> backfill.map(_.partitions.toDouble).getOrElse(0.0),
      "sink.snapshot_mb" -> backfill.map(st =>
        Main.dirBytes(s"$sink/snap-${st.snapshot}") / 1e6).getOrElse(0.0),
      "sink.pending_s" -> tr.medianS("sink.pending", from),
      "sink.upsert_delta_s" -> delta,
      "sink.delta_write_s" -> write,
      "sink.delta_recount_s" -> (delta - write),
      "sink.pending_precision" -> after(precision.toSeq),
      "sink.read_s" -> tr.medianS("sink.read", from),
      // deltas on top of the full snapshot at every measured read
      "sink.chain_len" -> 1.0,
      "sink.compact_s" -> tr.medianS("sink.compact", from),
      "sink.compact_shuffle_mb" -> c.shuffleWriteBytes / 1e6,
      "sink.compact_spill_mb" -> c.spillBytes / 1e6,
      "trace.layer_share" -> tr.layerShare("app.iter", from))
  }
}

/** Ten curation queries through `noop`, in a seed-permuted order, over
  * tables cut from the sf0.1 testdata (`perfbench/data`, see its
  * `MANIFEST.json`); every query's order-independent checksum is compared
  * with the recorded one. */
final class Curation(seed: Long, data: String, expectedFile: String,
                     recordFile: String) extends Workload {
  private val order = new scala.util.Random(seed).shuffle(Main.Queries)
  private val expected: Map[String, String] =
    if (expectedFile.isEmpty || !new File(expectedFile).exists) Map.empty
    else "\"([a-z0-9_]+)\": \"([0-9:-]+)\"".r
      .findAllMatchIn(Files.readString(Paths.get(expectedFile)))
      .map(m => m.group(1) -> m.group(2)).toMap
  private val seen = mutable.LinkedHashMap[String, String]()

  /** The tables are read in place; set-up checks them against the
    * manifest's SHA-256 sums, so a changed input cannot pass for the
    * recorded one. */
  def setup(spark: SparkSession, d: String): Unit = {
    val manifest = Files.readString(Paths.get(data, "MANIFEST.json"))
    Seq("documents", "embeddings", "events").foreach { t =>
      val f = s"$t.parquet"
      val want = s""""$f": "([0-9a-f]{64})"""".r.findFirstMatchIn(manifest)
        .map(_.group(1))
      val got = java.security.MessageDigest.getInstance("SHA-256")
        .digest(Files.readAllBytes(Paths.get(data, f)))
        .map(b => f"$b%02x").mkString
      if (!want.contains(got))
        throw new IllegalStateException(s"$data/$f does not match its manifest")
    }
    graft.functions.expressions.register(spark)
  }

  /** One pass with one caller per core, so the measured passes run on
    * compiled code. */
  override def warmup(spark: SparkSession, traced: Boolean): Unit =
    Main.parallel(spark.sparkContext.defaultParallelism)(
      Main.Queries.map(q => () => runQuery(spark, q))).foreach(_.get)

  private def queryMedians(tr: Trace, from: Long): Seq[Double] =
    Main.Queries.map(q => tr.medianS(s"queries.$q", from)).filter(_ > 0)

  def minIterations: Int = Main.MinCurationPasses

  /** A pass: the sum of each query's median time. */
  def job(tr: Trace, from: Long): (Double, Int) =
    (queryMedians(tr, from).sum, tr.spansOf("curation.pass", from).size)

  /** Typical query latency: the geometric mean of the query medians, so
    * each query weighs the same whatever its length. */
  def aux(tr: Trace, from: Long): (Double, Int) = {
    val ms = queryMedians(tr, from)
    (if (ms.isEmpty) 0.0 else math.exp(ms.map(math.log).sum / ms.size),
      tr.spansOf("curation.pass", from).size)
  }

  /** Run one query through `noop`; returns its checksum. */
  def runQuery(spark: SparkSession, q: String): String =
    Checks.noopChecksum(graft.SparkEntry.queries(q)(spark, data))

  def iterate(spark: SparkSession, tr: Trace, res: Result, layered: Boolean): Unit = {
    tr.span("curation.pass") {
      order.foreach { q =>
        res.op(s"query $q")(tr.span(s"queries.$q")(runQuery(spark, q)))
          .foreach { sum =>
            seen(q) = sum
            if (recordFile.isEmpty) tr.span("bench.check") {
              res.check(s"query $q checksum")(
                Checks.checksumMatches(q, sum, expected.get(q)))
            }
          }
      }
    }
    if (layered) res.op("synth")(tr.span("sources.synth") {
      Main.noop(Seqs.fromDocuments(spark, data))
    })
  }

  override def finalChecks(spark: SparkSession, tr: Trace, res: Result): Unit =
    if (recordFile.nonEmpty) Files.writeString(Paths.get(recordFile),
      Main.Queries.map(q => s"""  "$q": "${seen.getOrElse(q, "")}"""")
        .mkString("{\n", ",\n", "\n}\n"))

  def layers(tr: Trace, from: Long): Map[String, Double] =
    Main.Queries.map(q => s"queries.${q}_s" -> tr.medianS(s"queries.$q", from)).toMap ++
      Map("sources.synth_s" -> tr.medianS("sources.synth", from),
        "trace.layer_share" -> tr.layerShare("curation.pass", from))
}
