package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.features.{FeaturesHl, Pipeline}
import graft.sink.{CommitStats, KeyedSink}
import graft.sources.Seqs

/** Production driver CLI — the spark-submit entry mirroring AFEC's Crawler
  * (`Crawler.cpp:136-498`): scan source → incremental change-list →
  * per-entity feature pipeline → idempotent keyed sink with snapshot
  * metrics.
  *
  * Usage:
  *   graft.App --input <testdataDir> --out <sinkDir>
  *             [--level low|high] [--incremental] [--cpus N]
  *
  * On a cluster the same flow is `spark-submit --class graft.App` with the
  * Iceberg catalog configured; `local[N]` here is the sandbox stand-in.
  * The incremental mode is the Crawler's modtime-diff optimizer
  * (`Crawler.cpp:934-998`): only new/changed entities are recomputed, and
  * the run is resumable — a killed job re-runs with the same command and
  * converges (idempotent MERGE per KeyedSink).
  */
object App {

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap ++ args.filter(_ == "--incremental").map(_ => "incremental" -> "true").toMap

    val input = opts.getOrElse("input", "/root/testdata/sf0.001")
    val out = opts.getOrElse("out", "target/graft_sink")
    val level = opts.getOrElse("level", "low")
    val cpus = opts.getOrElse("cpus", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val incremental = opts.contains("incremental")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    run(spark, Seqs.fromDocuments(spark, input), out, level, incremental) match {
      case None => println(s"""{"event":"up-to-date","sink":"$out"}""")
      case Some(stats) =>
        println(s"""{"event":"committed","snapshot":${stats.snapshot},""" +
          s""""rows":${stats.totalRows},"upserted":${stats.upsertedRows},""" +
          s""""level":"$level","incremental":$incremental}""")
    }
    spark.stop()
  }

  /** One run over `seqs` into the sink at `out`; None when an incremental
    * run finds nothing to do. A full run rewrites the table (copy-on-write
    * [[KeyedSink.upsert]]); an incremental run recomputes only the pending
    * docs and commits them as a delta snapshot ([[KeyedSink.upsertDelta]]),
    * writing only their rows. */
  def run(spark: SparkSession, seqs: DataFrame, out: String, level: String,
          incremental: Boolean): Option[CommitStats] = {
    // change-list: skip up-to-date entities (version = n_tok here; a real
    // deployment uses the source's modtime/snapshot-id column)
    val todo =
      if (incremental) KeyedSink.pending(spark, out, seqs, "doc_id", "n_tok")
      else seqs
    if (todo.isEmpty) None
    else {
      val ll = Pipeline.featuresLl(todo)
      // HL derives from LL (second projection, SampleDescriptors.cpp:206-237)
      val features = if (level == "high") FeaturesHl.featuresHl(ll) else ll
      Some(
        if (incremental) KeyedSink.upsertDelta(spark, out, features, "doc_id")
        else KeyedSink.upsert(spark, out, features, "doc_id"))
    }
  }
}
