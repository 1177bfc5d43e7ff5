package perfbench

import java.io.File

import org.apache.spark.sql.functions._

import graft.features.Pipeline
import graft.sink.KeyedSink
import graft.sources.Seqs

/** The benchmark's own test: every output check accepts a right output and
  * rejects a deliberately wrong one (a flipped token, a dropped sink row, a
  * changed feature row, a wrong query checksum). */
object SelfTest {

  def run(o: Main.Opts): Int = {
    val root = new File(o.root).getAbsolutePath
    val work = s"$root/selftest-${ProcessHandle.current.pid}"
    val spark = Main.session(root, math.min(4, Runtime.getRuntime.availableProcessors))
    var bad = 0
    def expect(what: String, wantReject: Boolean)(r: => Option[String]): Unit = {
      val got = r
      val ok = got.isDefined == wantReject
      if (!ok) bad += 1
      System.err.println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what: " +
        got.getOrElse("accepted"))
    }
    try {
      val docs = Inputs.tokenDocs(o.seed, 60, Inputs.lengths(spark, o.data))
      Inputs.writeTokenDocs(spark, work, docs)
      Seqs.scaledFromDocuments(spark, work, 1).write.parquet(s"$work/corpus")
      val corpus = spark.read.parquet(s"$work/corpus")
      KeyedSink.upsert(spark, s"$work/sink", Pipeline.featuresLl(corpus), "doc_id")
      val table = KeyedSink.read(spark, s"$work/sink").get.cache()
      val first = table.select(min(col("doc_id"))).head().getString(0)

      expect("tokens, right output", wantReject = false)(
        Checks.tokensEqual(table, corpus))
      val flipped = table.withColumn("tokens",
        when(col("doc_id") === first,
          transform(col("tokens"), (x, i) => when(i === 200, x + 1).otherwise(x)))
          .otherwise(col("tokens")))
      expect("tokens, one flipped token", wantReject = true)(
        Checks.tokensEqual(flipped, corpus))

      val dropped = table.filter(col("doc_id") =!= first)
      expect("row count, right output", wantReject = false)(
        Checks.keysUnique(table, "doc_id", docs.size))
      expect("row count, one dropped sink row", wantReject = true)(
        Checks.keysUnique(dropped, "doc_id", docs.size))
      expect("tokens, one dropped sink row", wantReject = true)(
        Checks.tokensEqual(dropped, corpus))

      val want = Map(first -> table.filter(col("doc_id") === first)
        .select("n_tok").head().getInt(0))
      val direct = Pipeline.featuresLl(corpus.filter(col("doc_id") === first))
      expect("refreshed table, right output", wantReject = false)(
        Checks.refreshed(table, docs.size, want, direct))
      expect("refreshed table, one dropped sink row", wantReject = true)(
        Checks.refreshed(dropped, docs.size, want, direct))
      expect("refreshed table, one flipped token", wantReject = true)(
        Checks.refreshed(flipped, docs.size, want, direct))

      val unfused = Pipeline.featuresLlUnfused(corpus)
      expect("feature rows, right output", wantReject = false)(
        Checks.sameRows("ll", table, unfused))
      expect("feature rows, one changed value", wantReject = true)(
        Checks.sameRows("ll", table.withColumn("rms_mean",
          when(col("doc_id") === first, col("rms_mean") + 1e-9)
            .otherwise(col("rms_mean"))), unfused))

      val cur = new Curation(o.seed, o.data, "", "")
      cur.setup(spark, s"$work/cur")
      val q = "pit_asof"
      val got = cur.runQuery(spark, q)
      val out = graft.SparkEntry.queries(q)(spark, o.data)
      expect("query checksum, right output", wantReject = false)(
        Checks.checksumMatches(q, got, Some(Checks.checksum(out))))
      expect("query checksum, one dropped result row", wantReject = true)(
        Checks.checksumMatches(q, Checks.checksum(out.exceptAll(out.limit(1))),
          Some(got)))
      expect("query checksum, wrong expected value", wantReject = true)(
        Checks.checksumMatches(q, got, Some(got + "1")))
    } finally {
      spark.stop()
      Main.deleteTree(work)
    }
    System.err.println(s"[selftest] ${if (bad == 0) "PASS" else s"$bad FAILED"}")
    if (bad == 0) 0 else 1
  }
}
