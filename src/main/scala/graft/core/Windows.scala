package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The sequential / stateful operator library over per-entity ordered series
  * — every AFEC operator whose semantics are "look only backward in event
  * time" (SURVEY.md §2.5). All window specs partition by the entity key and
  * order by the derived event time, with frames that never extend past the
  * current row — **zero temporal leakage** by construction.
  *
  * == Scale design ==
  * Every helper here shuffles at most once, on the entity key (Spark's
  * `Window.partitionBy` requires co-located, sorted partitions — one exchange
  * + sort that AQE can also reuse across multiple window functions with the
  * same spec; we deliberately keep ONE canonical spec `(key, ts)` so Catalyst
  * collapses all of them into a single Window operator). Per-entity state is
  * bounded by the analysis cap, so no partition-size blowup. For skewed
  * sources, upstream `repartitionByRange` on (key) with AQE skew handling
  * applies (see Pipeline).
  */
object Windows {

  /** Canonical per-entity event-time window. */
  def byKey(key: String, ts: String) =
    Window.partitionBy(col(key)).orderBy(col(ts))

  /** Backward-unbounded frame (running scans). */
  def running(key: String, ts: String) =
    byKey(key, ts).rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** Forward-fill: carry the last non-null (optionally gated) value forward.
    * Analog of the failsafe-F0 fill (`SampleAnalyser.cpp:875-917`): values
    * where `gate` is false are treated as missing. */
  def forwardFill(value: Column, gate: Column, key: String, ts: String): Column =
    last(when(gate, value), ignoreNulls = true).over(running(key, ts))

  /** Lag-1 with self-join-first-row semantics: the first row sees itself
    * (spectral-flux contract, `SampleAnalyser.cpp:936-940`). */
  def lagSelf(value: Column, key: String, ts: String): Column =
    coalesce(lag(value, 1).over(byKey(key, ts)), value)

  /** Gap-based sessionization (gaps-and-islands): new session when the gap
    * from the previous event exceeds `gap`. Works on any numeric/timestamp
    * ts (caller passes `ts` already cast to a subtractable type). Returns the
    * 0-based session index per key. Analog of the min-gap / session grouping
    * (`OnsetDetector.cpp:288-290`; `session_window` is the streaming analog).
    */
  def sessionId(tsNum: Column, gap: Column, key: String, ts: String): Column = {
    val prev = lag(tsNum, 1).over(byKey(key, ts))
    val isNew = when(prev.isNull || tsNum - prev > gap, 1).otherwise(0)
    sum(isNew).over(running(key, ts)) - 1
  }

  /** Refractory-gap suppression over an ordered array of event positions:
    * keep an event iff it is ≥ `gap` after the last KEPT event (iterative —
    * not expressible with lag alone; `OnsetDetector.cpp:574-586`). Pure
    * array fold, per-row, no shuffle. `arr` : array<int/long> ascending. */
  def refractoryExpr(arr: String, gap: Int): Column = expr(
    s"""aggregate($arr,
       |  named_struct('last', CAST(-$gap - 1 AS BIGINT),
       |               'kept', CAST(array() AS ARRAY<BIGINT>)),
       |  (acc, x) -> IF(CAST(x AS BIGINT) - acc.last >= $gap,
       |    named_struct('last', CAST(x AS BIGINT),
       |                 'kept', concat(acc.kept, array(CAST(x AS BIGINT)))),
       |    acc),
       |  acc -> acc.kept)""".stripMargin)
}
