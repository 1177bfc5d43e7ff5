package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.features.{FeaturesHl, Pipeline}
import graft.sink.KeyedSink
import graft.sources.Seqs

/** End-to-end driver flow: full run → incremental no-op → convergence
  * (Crawler.cpp lifecycle analog), plus HL stage schema sanity. */
class AppSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("full run then incremental run is a no-op (change-list semantics)") {
    val out = Files.createTempDirectory("graft-app").toString
    val seqs = Seqs.fromDocuments(spark, "/root/testdata/sf0.001")
    val ll = Pipeline.featuresLl(seqs)
    KeyedSink.upsert(spark, out, ll, "doc_id")
    val pending = KeyedSink.pending(spark, out, seqs, "doc_id", "n_tok")
    assert(pending.count() == 0, "committed sink must show zero pending docs")
    assert(KeyedSink.read(spark, out).get.count() == seqs.count())
  }

  test("incremental re-run after corpus change: only changed docs recompute, result equals from-scratch") {
    // the Crawler.cpp:934-998 modtime-diff re-run, end to end: v2 changes
    // 1-in-10 docs; the incremental pass must (a) select exactly those,
    // (b) after upserting just their recomputed features, leave the sink
    // bitwise-equal to a from-scratch v2 run; App's incremental run
    // commits those rows as a delta snapshot
    import org.apache.spark.sql.functions._
    val out = Files.createTempDirectory("graft-app-incr").toString
    val v1 = Seqs.fromDocuments(spark, "/root/testdata/sf0.001")
    App.run(spark, v1, out, "low", incremental = false)
    val changed = expr("CAST(substring(doc_id, 2) AS INT) % 10 = 0")
    val v2 = v1
      .withColumn("tokens",
        when(changed, expr("slice(tokens, 1, GREATEST(n_tok DIV 2, 1))"))
          .otherwise(col("tokens")))
      .withColumn("n_tok",
        when(changed, expr("GREATEST(n_tok DIV 2, 1)")).otherwise(col("n_tok")))
    val nChanged = v2.filter(changed).count()
    val pending = KeyedSink.pending(spark, out, v2, "doc_id", "n_tok")
    assert(pending.count() == nChanged,
      "version diff must select exactly the changed docs")
    val stats = App.run(spark, v2, out, "low", incremental = true).get
    assert(stats.upsertedRows == nChanged)
    assert(Files.readString(Paths.get(out, s"snap-${stats.snapshot}.json"))
      .contains("\"kind\": \"delta\""), "the incremental commit must be a delta")
    val incremental = KeyedSink.read(spark, out).get
      .collect().map(_.toSeq).toSet
    val scratch = Pipeline.featuresLl(v2).collect().map(_.toSeq).toSet
    assert(incremental == scratch,
      "incremental sink state must equal the from-scratch v2 run")
    assert(stats.totalRows == scratch.size)
    assert(App.run(spark, v2, out, "low", incremental = true).isEmpty,
      "a re-run after the delta finds nothing pending")
  }

  test("csv export/import round-trip (ModelTester CSV export analog)") {
    import org.apache.spark.sql.functions._
    val out = Files.createTempDirectory("graft-csv").toString + "/csv"
    val hl = Pipeline.featuresLl(
        Seqs.fromDocuments(spark, "/root/testdata/sf0.001").limit(20))
      .select("doc_id", "n_tok", "n_frames", "rms_mean", "rms_variance")
    hl.write.option("header", "true").csv(out)
    val back = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(out)
    assert(back.count() == 20)
    val a = hl.orderBy("doc_id").collect().map(_.getDouble(3))
    val b = back.orderBy("doc_id").collect().map(_.getDouble(3))
    a.zip(b).foreach { case (x, y) =>
      assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x)))
    }
  }

  test("high-level stage: one row per doc, signature width, strengths sum to 1") {
    val seqs = Seqs.fromDocuments(spark, "/root/testdata/sf0.001").limit(50)
    val hl = FeaturesHl.featuresHl(Pipeline.featuresLl(seqs)).cache()
    assert(hl.count() == 50)
    val r = hl.collect()(0)
    assert(r.getAs[scala.collection.Seq[Double]]("signature").length ==
      FeaturesHl.SignatureFrames)
    val strengths = hl.collect()
      .map(_.getAs[scala.collection.Seq[Double]]("category_strengths"))
    for (st <- strengths) {
      val s = st.sum
      assert(math.abs(s - 1.0) < 1e-9 || s == 0.0,
        s"strengths must normalize to 1 (or all-zero), got $s")
    }
    hl.unpersist()
  }
}
