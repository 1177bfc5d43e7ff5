package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.features.FeatureVector
import graft.sources.Seqs

/** The fused feature-vector kernel must be bitwise-identical to the composed
  * expression assembly it replaced (same helpers, same fold orders, same
  * round-to-1e-6 quantization points). */
class FvKernelSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fvMap(df: org.apache.spark.sql.DataFrame): Map[String, Seq[Double]] =
    df.collect().map(r => r.getAs[String]("doc_id") ->
      r.getAs[scala.collection.Seq[Double]]("fv").toSeq).toMap

  private def assertIdentical(seqs: org.apache.spark.sql.DataFrame): Unit = {
    val fused = fvMap(FeatureVector.fvFull(seqs))
    val composed = fvMap(FeatureVector.fvFullComposed(seqs))
    assert(fused.keySet == composed.keySet)
    for (k <- fused.keySet) {
      val (a, b) = (fused(k), composed(k))
      assert(a.length == b.length, s"$k width")
      var i = 0
      while (i < a.length) {
        // bitwise: doubleToRawLongBits equality (NaN-safe, -0.0-strict)
        assert(java.lang.Double.doubleToLongBits(a(i)) ==
               java.lang.Double.doubleToLongBits(b(i)),
          s"doc $k pos $i: fused=${a(i)} composed=${b(i)}")
        i += 1
      }
    }
  }

  test("fused == composed bitwise on a corpus slice") {
    val seqs = Seqs.fromDocuments(spark, "/root/testdata/sf0.001")
      .filter("CAST(substring(doc_id, 2) AS INT) % 11 = 0")
    assertIdentical(seqs)
  }

  test("fused == composed bitwise on edge-shaped docs") {
    // shorter than a block / than a frame / exactly one frame / silence-only
    val docs = Seq(
      ("e1", Seq.tabulate(20)(i => i * 31 - 300)),
      ("e2", Seq.tabulate(100)(i => (i * 97) % 512 - 256)),
      ("e3", Seq.tabulate(2048)(i => (i * 7) % 1024 - 512)),
      ("e4", Seq.fill(3000)(0)),
      ("e5", Seq.tabulate(5000)(i => if (i % 600 < 30) 900 else 3)))
    val df = docs.map { case (id, t) => (id, t, t.length, "s") }
      .toDF("doc_id", "tokens", "n_tok", "source")
    assertIdentical(df)
  }
}
