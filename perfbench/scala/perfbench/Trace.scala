package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed interval around a call into a layer. `parent` is the id of the
  * enclosing span (0 = none). */
final case class Span(id: Int, name: String, parent: Int, startNs: Long,
                      endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Engine counters attributed to one span name. */
final class Counters {
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  var broadcastBytes = 0L
  var exchanges = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var taskFailures = 0L
  val taskMs = mutable.ArrayBuffer[Long]()

  /** Longest task over the median task (0 when a span ran no task). */
  def taskSkew: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val s = taskMs.sorted
      val med = math.max(1L, s(s.length / 2))
      s.last.toDouble / med
    }
}

/** In-memory span and counter recorder. Spans are written out only when the
  * run ends ([[Trace.toJson]]).
  *
  * When `enabled`, a `SparkListener` is registered. Every Spark job
  * inherits the local property [[Trace.SpanProp]] set by [[span]], so the
  * task, shuffle, spill, GC and result-size counters, and the exchanges and
  * broadcast sizes of each SQL execution's final plan, land on the span
  * that launched the job. With tracing off [[span]] still times the call
  * (the end-to-end metrics come from those times) but no listener runs. */
final class Trace(spark: SparkSession, enabled: Boolean) {
  import Trace.SpanProp

  private val sc: SparkContext = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private val counters = mutable.HashMap[String, Counters]()
  private var nextId = 1
  private var stack: List[Int] = Nil

  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val execSpan = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val plans = new java.util.concurrent.ConcurrentHashMap[Long, SparkPlanInfo]()
  private val driverAccums = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  def counter(name: String): Counters = counters.synchronized {
    counters.getOrElseUpdate(name, new Counters)
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(SpanProp))).foreach { s =>
        e.stageIds.foreach(id => stageSpan.put(id, s))
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(x => execSpan.putIfAbsent(x.toLong, s))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => plans.put(x.executionId, x.sparkPlanInfo)
      case x: SparkListenerSQLAdaptiveExecutionUpdate =>
        plans.put(x.executionId, x.sparkPlanInfo)
      case x: SparkListenerDriverAccumUpdates =>
        x.accumUpdates.foreach { case (id, v) => driverAccums.put(id, v) }
      case x: SparkListenerSQLExecutionEnd =>
        val s = execSpan.get(x.executionId)
        val plan = plans.remove(x.executionId)
        if (s != null && plan != null) {
          var ex = 0L
          var bc = 0L
          Trace.planNodes(plan).foreach { n =>
            if (n.nodeName == "Exchange") ex += 1
            else if (n.nodeName == "BroadcastExchange") {
              ex += 1
              bc += n.metrics.filter(_.name == "data size")
                .map(m => driverAccums.getOrDefault(m.accumulatorId, 0L)).sum
            }
          }
          val c = counter(s)
          c.synchronized { c.exchanges += ex; c.broadcastBytes += bc }
        }
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      if (s != null) {
        val c = counter(s)
        c.synchronized {
          if (e.reason != org.apache.spark.Success) c.taskFailures += 1
          val m = e.taskMetrics
          if (m != null) {
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.diskBytesSpilled
            c.resultBytes += m.resultSize
            c.cpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
          }
          c.taskMs += e.taskInfo.duration
        }
      }
    }
  }

  private var attached = false

  /** Register the listeners (no-op when tracing is off or already on). */
  def attach(): Unit =
    if (enabled && !attached) {
      sc.addSparkListener(jobListener)
      attached = true
    }

  /** Drain the bus and unregister the listeners. */
  def detach(): Unit =
    if (attached) {
      drain()
      sc.removeSparkListener(jobListener)
      attached = false
    }

  attach()

  /** Time `body` as span `name`, nested under the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    val prevProp = sc.getLocalProperty(SpanProp)
    stack = id :: stack
    if (enabled) sc.setLocalProperty(SpanProp, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      if (enabled) sc.setLocalProperty(SpanProp, prevProp)
      spans += Span(id, name, parent, t0, t1)
    }
  }

  /** Finished spans called `name` that started at or after `from`. */
  def spansOf(name: String, from: Long): Seq[Span] =
    spans.filter(s => s.name == name && s.startNs >= from).sortBy(_.startNs).toSeq

  /** Median wall seconds of [[spansOf]] (0 when there is none). */
  def medianS(name: String, from: Long): Double =
    Main.median(spansOf(name, from).map(_.seconds))

  /** Median share of a `name` span's time that its layer child spans
    * cover; the benchmark's own children (`bench.*`: input changes, output
    * checks, clean-up) are left out on both sides. */
  def layerShare(name: String, from: Long): Double =
    Main.median(spansOf(name, from).map { s =>
      val (bench, layer) = spans.filter(_.parent == s.id).partition(_.name.startsWith("bench."))
      coveredS(layer) / math.max(1e-9, s.seconds - coveredS(bench))
    })

  /** Self time of a span: its duration minus the part its children cover. */
  def selfSeconds(sp: Span): Double =
    sp.seconds - coveredS(spans.filter(_.parent == sp.id))

  /** Seconds covered by the union of `xs`. */
  private def coveredS(xs: Iterable[Span]): Double = {
    var covered = 0L
    var end = Long.MinValue
    xs.toSeq.sortBy(_.startNs).foreach { k =>
      val s = math.max(k.startNs, end)
      if (k.endNs > s) { covered += k.endNs - s; end = k.endNs }
    }
    covered / 1e9
  }

  /** Wait for the listener bus so every counter of finished jobs is in. */
  def drain(): Unit =
    if (attached) org.apache.spark.perfbenchbus.Bus.drain(sc)

  def counterNames: Seq[String] = counters.synchronized(counters.keys.toSeq.sorted)

  def toJson: String = {
    val sp = spans.sortBy(_.startNs).map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)}%.6f}"""
    }.mkString("[", ",\n", "]")
    val cs = counterNames.map { n =>
      val c = counter(n)
      s""""$n":{"shuffle_write_bytes":${c.shuffleWriteBytes},"spill_bytes":${c.spillBytes},"result_bytes":${c.resultBytes},"broadcast_bytes":${c.broadcastBytes},"exchanges":${c.exchanges},"cpu_ns":${c.cpuNs},"gc_ms":${c.gcMs},"task_failures":${c.taskFailures},"tasks":${c.taskMs.size},"task_skew":${c.taskSkew}}"""
    }.mkString("{", ",\n", "}")
    s"""{"spans":$sp,\n"counters":$cs}"""
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  /** Every node of a plan as the SQL listener events describe it (AQE's
    * final plan when the query was re-planned). */
  def planNodes(p: SparkPlanInfo): Seq[SparkPlanInfo] =
    p +: p.children.flatMap(planNodes)
}
