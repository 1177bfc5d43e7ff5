package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.features.{Pipeline, PointInTime}
import graft.functions.Stats

/** End-to-end pipeline contract: failure isolation, token passthrough,
  * schema/type walk, point-in-time vector correctness and the
  * zero-temporal-leakage property (FIXTURES.md §3). */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def mkSeqs(rows: Seq[(String, Seq[Int], Int, String)]) =
    rows.toDF("doc_id", "tokens", "n_tok", "source")

  private val noise = Seq.tabulate(5000)(i => ((i * 1103515245 + 12345) % 2048 - 1024))

  test("corrupt row surfaces as status=error, never dropped (UnitTests.cpp:343-350)") {
    val seqs = mkSeqs(Seq(
      ("good", noise, noise.length, "s"),
      ("bad", noise, noise.length + 7, "s"),   // n_tok contract violation
      ("日本語-KK-0063", noise.take(100), 100, "s"))) // unicode key parity
    val out = Pipeline.featuresLl(seqs).cache()
    assert(out.count() == 3)
    val bad = out.filter(col("status").startsWith("error:")).collect()
    assert(bad.length == 1 && bad(0).getAs[String]("doc_id") == "bad")
    assert(out.filter(col("doc_id") === "日本語-KK-0063")
      .select("status").as[String].head() == "succeeded")
    out.unpersist()
  }

  test("fused and unfused featuresLl agree on schema AND values bitwise") {
    val seqs = mkSeqs(Seq(
      ("d1", noise, noise.length, "s"),
      ("d2", noise.take(100), 100, "s")))
    val fused = Pipeline.featuresLl(seqs)
    val unfused = Pipeline.featuresLlUnfused(seqs)
    assert(fused.schema == unfused.schema,
      s"schema drift: fused=${fused.schema.treeString} unfused=${unfused.schema.treeString}")
    val f = fused.orderBy("doc_id").collect().map(_.toString)
    val u = unfused.orderBy("doc_id").collect().map(_.toString)
    assert(f.sameElements(u))
  }

  test("an input column with an output's name is replaced in place, as withColumn does") {
    val seqs = mkSeqs(Seq(("d1", noise.take(3000), 3000, "s")))
      .withColumn("status", lit("stale")).withColumn("n_frames", lit(-1L))
    val fused = Pipeline.featuresLl(seqs)
    val unfused = Pipeline.featuresLlUnfused(seqs)
    assert(fused.schema == unfused.schema)
    assert(fused.columns.take(6).toSeq ==
      Seq("doc_id", "tokens", "n_tok", "source", "status", "n_frames"))
    assert(fused.collect().map(_.toString).sameElements(
      unfused.collect().map(_.toString)))
    assert(fused.select("status").as[String].head() == "succeeded")
  }

  test("bitwise token-array passthrough on every materialized row") {
    val seqs = mkSeqs(Seq(("d1", noise, noise.length, "s")))
    val out = Pipeline.featuresLl(seqs).select("tokens").as[Seq[Int]].head()
    assert(out == noise)
  }

  test("schema/type contract walk (VerifyColumnContent analog)") {
    val seqs = mkSeqs(Seq(("d1", noise, noise.length, "s")))
    val row = Pipeline.featuresLl(seqs).collect()(0)
    val schema = Pipeline.featuresLl(seqs).schema
    // every rms_/env_ stat column is a non-null finite double
    for (p <- Seq("rms", "env"); n <- Stats.StatNames) {
      val v = row.getAs[Double](s"${p}_$n")
      assert(!v.isNaN && !v.isInfinite, s"${p}_$n = $v")
    }
    // vector width: 48 + 48 + 7 + 7 + 3
    val fv = row.getAs[scala.collection.Seq[Double]]("feature_vector")
    assert(fv.length == 2 * PointInTime.TimeOffsets.length +
      2 * PointInTime.VectorStats.length + 3)
    assert(fv.forall(v => !v.isNaN && !v.isInfinite))
    // series arrays non-empty and rectangular with n_frames
    val nf = row.getAs[Int]("n_frames")
    assert(row.getAs[scala.collection.Seq[Double]]("rms_series").length == nf && nf > 0)
    assert(row.getAs[scala.collection.Seq[Double]]("env_series").length == nf)
  }

  test("zero temporal leakage: appending tokens never changes earlier point-in-time features") {
    val n0 = 4096 // 3 full frames
    val base = noise.take(n0)
    val extended = base ++ noise // appended future
    val seqs = mkSeqs(Seq(
      ("short", base, base.length, "s"),
      ("long", extended, extended.length, "s")))
    val out = Pipeline.featuresLl(seqs)
      .select("doc_id", "rms_series", "env_series", "feature_vector")
      .collect().map(r => r.getString(0) -> r).toMap
    val sh = out("short"); val lo = out("long")
    val nOld = sh.getAs[scala.collection.Seq[Double]]("rms_series").length
    // every frame that existed before the append is bitwise identical
    assert(sh.getAs[scala.collection.Seq[Double]]("rms_series") ==
      lo.getAs[scala.collection.Seq[Double]]("rms_series").take(nOld))
    assert(sh.getAs[scala.collection.Seq[Double]]("env_series") ==
      lo.getAs[scala.collection.Seq[Double]]("env_series").take(nOld))
    // point-in-time vector entries at offsets < nOld are identical
    val fvS = sh.getAs[scala.collection.Seq[Double]]("feature_vector")
    val fvL = lo.getAs[scala.collection.Seq[Double]]("feature_vector")
    for ((t, i) <- PointInTime.TimeOffsets.zipWithIndex if t < nOld) {
      assert(fvS(i) == fvL(i), s"rms sample at offset $t leaked")
      val j = PointInTime.TimeOffsets.length + i
      assert(fvS(j) == fvL(j), s"env sample at offset $t leaked")
    }
  }

  test("flagship entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).limit(5).count() > 0)
  }
}
