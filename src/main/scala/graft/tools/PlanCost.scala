package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev tool: split Catalyst planning cost from execution cost for the
  * headline pipeline (the round-2 bench saw per-query `features_ll` rise
  * 0.68 → 2.33 s on the small unscaled corpus while the ×20 scaled run got
  * 17× faster — hypothesis: fixed per-invocation planning cost of the
  * wider fused plan, amortized at scale but dominant at 5 k docs).
  * `sbt "runMain graft.tools.PlanCost <sfDir>"` */
object PlanCost {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (fused <- Seq(true, false); i <- 1 to 3) {
      val t0 = System.nanoTime()
      val seqs = graft.sources.Seqs.fromDocuments(spark, sfDir)
      val df = if (fused) graft.features.Pipeline.featuresLl(seqs)
               else graft.features.Pipeline.featuresLlUnfused(seqs)
      df.queryExecution.executedPlan // force analysis + optimization + planning
      val t1 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      val t2 = System.nanoTime()
      println(f"fused=$fused rep$i plan=${(t1 - t0) / 1e9}%.2fs exec=${(t2 - t1) / 1e9}%.2fs")
    }
    spark.stop()
  }
}
