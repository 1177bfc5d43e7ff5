package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.core.Partitioning.readTable

/** Dev probe: head-to-head timing of the two hashed-linear-scorer forms
  * (relational explode+broadcast-join+agg vs the shuffle-free native
  * kernel) in one JVM — battery entries are too noisy for a ~1 s query.
  * Run: java ... graft.tools.LinearProbe [sfDir] [reps]
  */
object LinearProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 5
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.ops.LinearModel
    val docs = readTable(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val w = LinearModel.synthWeights(spark, 4096)
    def time(name: String, f: () => Unit): Unit = {
      f() // warm
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
      }
      println(f"$name min=${ts.min}%.2f reps=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    time("relational", () => LinearModel.score(docs, w, 4096, 64L)
      .write.mode("overwrite").format("noop").save())
    time("kernel    ", () => LinearModel.scoreKernel(docs, w, 4096, 64L)
      .write.mode("overwrite").format("noop").save())
    spark.stop()
  }
}
