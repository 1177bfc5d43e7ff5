package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** One SparkSession for the whole forked test JVM. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // catalog tables (bucketed-join tests) land in a temp dir, not ./spark-warehouse
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.expressions.register(s)
    s
  }

  /** The executed plan of every query execution `body` runs, in order:
    * driver-side model collects made while a query is built count too. A
    * fence query after `body` drains the listener's asynchronous queue. */
  def executionsDuring(body: => Unit): Seq[SparkPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(qe)
    }
    val fence = spark.range(1).toDF()
    spark.listenerManager.register(listener)
    try {
      body
      fence.collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.asScala.exists(_ eq fence.queryExecution) &&
          System.nanoTime() < deadline) Thread.sleep(5)
    } finally spark.listenerManager.unregister(listener)
    val qes = seen.asScala.toSeq
    val fenceAt = qes.indexWhere(_ eq fence.queryExecution)
    assert(fenceAt >= 0, "the listener never saw the fence query")
    qes.take(fenceAt).map(_.executedPlan)
  }
}
