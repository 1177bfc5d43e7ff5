package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming forms of the engine's event-time operators. AFEC is
  * batch-only, but its stateful pieces (frame windows, gap sessionization,
  * forward-looking-free scans — SURVEY.md §2.5) map directly onto streaming
  * primitives; these transforms work unchanged on `readStream` inputs.
  *
  * Scale notes: both are single-shuffle stateful aggregations keyed by the
  * entity; watermarks bound state so a 100 TB/day stream holds only the
  * open-window state per key. Late data beyond the watermark is dropped
  * deterministically.
  */
object StreamOps {

  /** Gap-based sessionization with `session_window` — the streaming
    * equivalent of the batch gaps-and-islands sessionizer
    * ([[graft.core.Windows.sessionId]]); same gap semantics. */
  def sessionize(events: DataFrame, gap: String, watermark: String): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("cents")).as("sum_cents"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_cents"))

  final case class FrameIn(doc_id: String, frame_id: Int, rms: Double,
      ts: java.sql.Timestamp)
  final case class EnvState(lastFrame: Int, env: Double)
  final case class EnvOut(doc_id: String, frame_id: Int, env: Double)

  /** Streaming envelope follower — the one-pole recursion
    * `env = x + coef·(env − x)` (`Envelopes.inl:14-18`) as CUSTOM state via
    * `flatMapGroupsWithState`: windowed aggregations cannot express a
    * recursion whose state is the previous OUTPUT, so each doc keys a
    * `GroupState[EnvState]` carrying (last emitted frame, envelope value).
    * Within a micro-batch the group's frames are sorted by frame id.
    *
    * '''Ordering contract (stricter than the watermark):''' because the
    * recursion emits in Append mode, an emitted `env` can never be
    * retro-corrected — so any frame with `frame_id <=` the last emitted
    * frame for its key is dropped, EVEN IF it is still within the
    * watermark. Cross-batch reordering per key is therefore NOT handled;
    * the source must deliver each key's frames in non-decreasing frame
    * order across micro-batches (within one batch any order is fine — the
    * batch is sorted before folding). For sources that can reorder across
    * batches, buffer frames upstream until the watermark passes before
    * feeding this operator (the [[rollingMedianStream]] /
    * [[refractoryStream]] state pattern extends to such a buffer).
    * State expires via event-time timeout `stateTtl` after a key's last
    * activity (watermark clock) — bounded state at any stream scale. The
    * TTL is the parity/memory dial shared by every stateful op here: a
    * key quiet for longer than `stateTtl` has its state evicted and its
    * NEXT frame restarts the recursion from the initial state, so choose
    * `stateTtl` ≥ the maximum per-key quiet gap where exact batch parity
    * must hold (the batch kernels carry state across arbitrary gaps).
    *
    * Parity: on in-order-per-key input (any micro-batch split) the emitted
    * series is bitwise-equal to the batch kernel
    * [[graft.functions.expressions.EnvelopeScan]] (StreamingSpec). */
  def envelopeStream(frames: Dataset[FrameIn], coef: Double,
                     watermark: String,
                     stateTtl: String = "1 hour"): Dataset[EnvOut] = {
    import frames.sparkSession.implicits._
    frames
      .withWatermark("ts", watermark)
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(
        (key: String, it: Iterator[FrameIn], state: GroupState[EnvState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = it.toArray.sortBy(_.frame_id)
            var st = state.getOption.getOrElse(EnvState(-1, 0.0))
            val out = scala.collection.mutable.ArrayBuffer.empty[EnvOut]
            var maxTs = Long.MinValue
            for (f <- sorted if f.frame_id > st.lastFrame) {
              st = EnvState(f.frame_id, f.rms + coef * (st.env - f.rms))
              out += EnvOut(key, f.frame_id, st.env)
              maxTs = math.max(maxTs, f.ts.getTime)
            }
            state.update(st)
            if (maxTs != Long.MinValue && state.getCurrentWatermarkMs() >= 0)
              state.setTimeoutTimestamp(maxTs, stateTtl)
            out.iterator
          }
        })
  }

  final case class FfIn(doc_id: String, frame_id: Int, value: Double,
      gate: Boolean, ts: java.sql.Timestamp)
  final case class FfState(lastFrame: Int, lastKept: Double, seen: Boolean)
  final case class FfOut(doc_id: String, frame_id: Int, filled: Option[Double])

  /** Streaming gated forward-fill — the custom-state form of
    * [[graft.core.Windows.forwardFill]] (failsafe-F0 fill,
    * `SampleAnalyser.cpp:875-917`): rows where `gate` is false carry the
    * last gated value forward; rows before the first gated value emit
    * None (the batch kernel's null). State per key is one (Double,
    * Boolean) — bounded at any stream scale.
    *
    * Same ordering contract and watermark-timeout expiry as
    * [[envelopeStream]]. Parity: bitwise-equal to the batch window kernel
    * on in-order-per-key input across any micro-batch split
    * (StreamingSpec). */
  def forwardFillStream(rows: Dataset[FfIn],
                        watermark: String,
                        stateTtl: String = "1 hour"): Dataset[FfOut] = {
    import rows.sparkSession.implicits._
    rows
      .withWatermark("ts", watermark)
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(
        (key: String, it: Iterator[FfIn], state: GroupState[FfState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = it.toArray.sortBy(_.frame_id)
            var st = state.getOption.getOrElse(FfState(-1, 0.0, false))
            val out = scala.collection.mutable.ArrayBuffer.empty[FfOut]
            var maxTs = Long.MinValue
            for (r <- sorted if r.frame_id > st.lastFrame) {
              if (r.gate) st = FfState(r.frame_id, r.value, seen = true)
              else st = st.copy(lastFrame = r.frame_id)
              out += FfOut(key, r.frame_id,
                if (st.seen) Some(st.lastKept) else None)
              maxTs = math.max(maxTs, r.ts.getTime)
            }
            state.update(st)
            if (maxTs != Long.MinValue && state.getCurrentWatermarkMs() >= 0)
              state.setTimeoutTimestamp(maxTs, stateTtl)
            out.iterator
          }
        })
  }

  final case class MedState(lastFrame: Int, buf: List[Double])
  final case class MedOut(doc_id: String, frame_id: Int, med: Double)

  /** Streaming trailing rolling median over the last `span` frames — the
    * custom-state form of the batch kernel
    * [[graft.functions.rhythm.trailingMedian]] (onset threshold baseline,
    * `OnsetDetector.cpp:551-570`). State per key is the last `span − 1`
    * values (bounded — O(span) per key at any stream scale) plus the last
    * emitted frame id; each new frame emits the lower-middle element of the
    * sorted trailing buffer, exactly as the batch kernel does.
    *
    * Same ordering contract and watermark-timeout state expiry as
    * [[envelopeStream]] (the positional window needs each key's frames
    * in non-decreasing frame order across micro-batches; within a batch
    * any order is fine). Parity: bitwise-equal to the batch kernel on
    * in-order-per-key input across any micro-batch split (StreamingSpec). */
  def rollingMedianStream(frames: Dataset[FrameIn], span: Int,
                          watermark: String,
                          stateTtl: String = "1 hour"): Dataset[MedOut] = {
    import frames.sparkSession.implicits._
    frames
      .withWatermark("ts", watermark)
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(
        (key: String, it: Iterator[FrameIn], state: GroupState[MedState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = it.toArray.sortBy(_.frame_id)
            var st = state.getOption.getOrElse(MedState(-1, Nil))
            val out = scala.collection.mutable.ArrayBuffer.empty[MedOut]
            var maxTs = Long.MinValue
            for (f <- sorted if f.frame_id > st.lastFrame) {
              val win = (st.buf :+ f.rms).takeRight(span)
              val s = win.sorted
              out += MedOut(key, f.frame_id, s((s.length - 1) / 2))
              st = MedState(f.frame_id, win.takeRight(span - 1))
              maxTs = math.max(maxTs, f.ts.getTime)
            }
            state.update(st)
            if (maxTs != Long.MinValue && state.getCurrentWatermarkMs() >= 0)
              state.setTimeoutTimestamp(maxTs, stateTtl)
            out.iterator
          }
        })
  }

  final case class EvIn(doc_id: String, pos: Long, ts: java.sql.Timestamp)
  final case class RefState(lastKept: Long)
  final case class EvOut(doc_id: String, pos: Long)

  /** Streaming refractory-gap suppression — keep an event iff it is ≥ `gap`
    * after the last KEPT event ([[graft.core.Windows.refractoryExpr]];
    * `OnsetDetector.cpp:574-586`). The recursion's state is the previous
    * OUTPUT (the last kept position), so like the envelope it needs custom
    * state: one Long per key, watermark-expired. Initial state matches the
    * batch fold's `last = −gap − 1` (the first event is always kept).
    *
    * Same ordering contract as [[envelopeStream]]: each key's events must
    * arrive in non-decreasing `pos` order across micro-batches (any order
    * within one batch); an emitted keep/suppress decision is final in
    * Append mode. Parity: bitwise-equal to the batch array fold on
    * in-order-per-key input across any micro-batch split (StreamingSpec). */
  def refractoryStream(events: Dataset[EvIn], gap: Long,
                       watermark: String,
                       stateTtl: String = "1 hour"): Dataset[EvOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(
        (key: String, it: Iterator[EvIn], state: GroupState[RefState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = it.toArray.sortBy(_.pos)
            var st = state.getOption.getOrElse(RefState(-gap - 1))
            val out = scala.collection.mutable.ArrayBuffer.empty[EvOut]
            var maxTs = Long.MinValue
            for (e <- sorted if e.pos > st.lastKept) {
              if (e.pos - st.lastKept >= gap) {
                st = RefState(e.pos)
                out += EvOut(key, e.pos)
              }
              maxTs = math.max(maxTs, e.ts.getTime)
            }
            state.update(st)
            if (maxTs != Long.MinValue && state.getCurrentWatermarkMs() >= 0)
              state.setTimeoutTimestamp(maxTs, stateTtl)
            out.iterator
          }
        })
  }

  final case class AsOfIn(doc_id: String, side: Int, tsv: Long,
      value: Double, ts: java.sql.Timestamp)
  final case class AsOfState(lastTsv: Long, lastSide: Int,
      seriesTsv: Long, seriesVal: Double, seen: Boolean)
  final case class AsOfOut(doc_id: String, tsv: Long,
      series_ts: Option[Long], value: Option[Double])

  /** Streaming point-in-time / as-of join — the stream form of the
    * engine's core operator ([[graft.operators.AsOfJoin]]): each probe row
    * `(key, tsv)` is enriched with the latest series row at-or-before it.
    * Input is the two streams unioned into [[AsOfIn]] (`side = 0` series
    * rows carrying `value`; `side = 1` probes — the same tagging the batch
    * union-window plan uses), e.g. via [[asOfUnion]].
    *
    * Why custom state, not a stream-stream join: Spark's watermarked
    * interval join emits ALL series rows in the time range, not "the
    * latest at-or-before", and holds the full range buffered; here state
    * per key is O(1) — the single latest series observation — so a
    * 100 TB/day stream holds one (Long, Double) per live entity.
    *
    * Tie semantics match the batch operator: a series row AT the probe
    * timestamp is visible to it (`side 0` sorts first). Probes before any
    * series row emit None — the caller applies silence-reference defaults
    * exactly as the batch `defaults` map does.
    *
    * Same ordering contract and watermark-timeout expiry as
    * [[envelopeStream]]: each key's rows must arrive in non-decreasing
    * `(tsv, side)` order ACROSS micro-batches (any order within a batch —
    * the group sorts before folding); an emitted enrichment is final in
    * Append mode. Duplicate `(tsv, side)` tuples WITHIN one batch are
    * legal and all emit (matching the batch operator); a tuple at or
    * behind a previous batch's frontier is dropped (indistinguishable
    * from a replay — give duplicates that must survive batch boundaries
    * distinct timestamps). Parity: equal to
    * [[graft.operators.AsOfJoin.asOf]] on in-order-per-key input across
    * any micro-batch split (StreamingSpec).
    *
    * Payload width: the state machine is payload-agnostic — `value` is one
    * Double here because the typed state must have a concrete encoder;
    * wider payloads ride the same operator by packing them on the series
    * side (e.g. a serialized struct / the feature-vector array index) or
    * by keying a second pass per column — state stays one observation per
    * key either way. */
  def asOfStream(rows: Dataset[AsOfIn],
                 watermark: String,
                 stateTtl: String = "1 hour"): Dataset[AsOfOut] = {
    import rows.sparkSession.implicits._
    rows
      .withWatermark("ts", watermark)
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(
        (key: String, it: Iterator[AsOfIn], state: GroupState[AsOfState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = it.toArray.sortBy(r => (r.tsv, r.side))
            var st = state.getOption.getOrElse(
              AsOfState(Long.MinValue, -1, 0L, 0.0, seen = false))
            val out = scala.collection.mutable.ArrayBuffer.empty[AsOfOut]
            var maxTs = Long.MinValue
            // the cross-batch ordering guard compares against the state AS
            // OF BATCH START, not the evolving fold state: two probes at
            // the SAME (tsv, side) within one batch are both legal input
            // (the batch operator enriches both) and must both emit —
            // only rows at-or-behind a PREVIOUS batch's frontier drop
            val (floorTsv, floorSide) = (st.lastTsv, st.lastSide)
            for (r <- sorted
                 if r.tsv > floorTsv ||
                   (r.tsv == floorTsv && r.side > floorSide)) {
              if (r.side == 0)
                st = AsOfState(r.tsv, 0, r.tsv, r.value, seen = true)
              else {
                out += AsOfOut(key, r.tsv,
                  if (st.seen) Some(st.seriesTsv) else None,
                  if (st.seen) Some(st.seriesVal) else None)
                st = st.copy(lastTsv = r.tsv, lastSide = 1)
              }
              maxTs = math.max(maxTs, r.ts.getTime)
            }
            state.update(st)
            if (maxTs != Long.MinValue && state.getCurrentWatermarkMs() >= 0)
              state.setTimeoutTimestamp(maxTs, stateTtl)
            out.iterator
          }
        })
  }

  /** Tag-and-union two streams into the [[asOfStream]] input shape.
    * `series` needs (`doc_id`, `tsv`, `value`, `ts`); `probes` needs
    * (`doc_id`, `tsv`, `ts`). Both narrow projections — the single
    * shuffle is the stateful key exchange inside [[asOfStream]]. */
  def asOfUnion(probes: DataFrame, series: DataFrame): Dataset[AsOfIn] = {
    import probes.sparkSession.implicits._
    series.select(col("doc_id"), lit(0).as("side"), col("tsv"),
        col("value").cast("double").as("value"), col("ts").cast("timestamp").as("ts"))
      .unionByName(
        probes.select(col("doc_id"), lit(1).as("side"), col("tsv"),
          lit(0.0).as("value"), col("ts").cast("timestamp").as("ts")))
      .as[AsOfIn]
  }

  /** Tumbling frame aggregation on the token clock: pos → event time via
    * `timestamp_micros`, hop-sized tumbling windows — the streaming analog
    * of the batch framing (`window($"ts", frame, hop)` would give the
    * sliding variant). */
  def frameAgg(tokens: DataFrame, hopMicros: Long, watermark: String): DataFrame =
    tokens
      .withColumn("ts", timestamp_micros(col("pos")))
      .withWatermark("ts", watermark)
      .groupBy(col("doc_id"), window(col("ts"), s"$hopMicros microseconds"))
      .agg(count(lit(1)).as("n_samp"),
        sum(expr("CAST(token AS BIGINT) * token")).as("fsumsq"),
        max(abs(col("token"))).as("peak"))
      .select(col("doc_id"),
        col("window.start").cast("long").as("frame_start_s"),
        col("n_samp"), col("fsumsq"), col("peak"))

  final case class HhIn(stream_id: String, item: String,
                        ts: java.sql.Timestamp)
  final case class HhState(counts: List[(String, Long, Long)])
  final case class HhOut(stream_id: String, as_of: Long, item: String,
                         count_est: Long, err: Long)

  /** Streaming SpaceSaving heavy hitters (Metwally et al. 2005) — the
    * bounded-state streaming form of the batch frequency sketches
    * ([[graft.ops.Sketches.countMinReport]] estimates ANY item's count;
    * SpaceSaving TRACKS the top items): a capped table of `capacity`
    * (item, count, err) counters per stream key. A tracked item
    * increments; an untracked item evicts the minimum counter (ties →
    * smallest item id, deterministic) and inherits its count as `err`.
    * Invariants (asserted in StreamingSpec): Σ count = N exactly,
    * `count − err ≤ true ≤ count` per tracked item, and every item with
    * true count > N/capacity is tracked — the heavy-hitter guarantee.
    *
    * After each micro-batch the whole table is re-emitted stamped with
    * `as_of` = the key's max event time so far (Append mode cannot
    * retract; readers take the latest `as_of` snapshot — the same
    * batch-id-snapshot convention as the exactly-once sink). Rows are
    * folded in (event-time, item) order, so any micro-batch split of the
    * same stream yields bitwise-identical tables (SpaceSaving is
    * arrival-order-dependent; fixing the fold order is what makes the
    * operator reproducible). State is O(capacity) per key — bounded at
    * any stream scale — and watermark-expired like [[envelopeStream]]. */
  def heavyHittersStream(rows: Dataset[HhIn], capacity: Int,
                         watermark: String,
                         stateTtl: String = "1 hour"): Dataset[HhOut] = {
    import rows.sparkSession.implicits._
    rows
      .withWatermark("ts", watermark)
      .groupByKey(_.stream_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(
        (key: String, it: Iterator[HhIn], state: GroupState[HhState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = it.toArray.sortBy(r => (r.ts.getTime, r.item))
            val tbl = scala.collection.mutable.Map.empty[String, (Long, Long)]
            state.getOption.foreach(_.counts.foreach {
              case (i, c, e) => tbl(i) = (c, e) })
            var maxTs = Long.MinValue
            for (r <- sorted) {
              tbl.get(r.item) match {
                case Some((c, e)) => tbl(r.item) = (c + 1, e)
                case None if tbl.size < capacity => tbl(r.item) = (1L, 0L)
                case None =>
                  val (mi, (mc, _)) = tbl.minBy { case (i, (c, _)) => (c, i) }
                  tbl.remove(mi)
                  tbl(r.item) = (mc + 1, mc)
              }
              maxTs = math.max(maxTs, r.ts.getTime)
            }
            val counts = tbl.toList.map { case (i, (c, e)) => (i, c, e) }
              .sortBy { case (i, c, _) => (-c, i) }
            state.update(HhState(counts))
            if (maxTs != Long.MinValue && state.getCurrentWatermarkMs() >= 0)
              state.setTimeoutTimestamp(maxTs, stateTtl)
            if (sorted.isEmpty) Iterator.empty
            else counts.iterator.map { case (i, c, e) =>
              HhOut(key, maxTs, i, c, e) }
          }
        })
  }

  final case class TrailIn(user_id: Long, ts_us: Long, cents: Long,
      ts: java.sql.Timestamp)
  final case class TrailState(buf: List[(Long, Long)], lastTs: Long)
  final case class TrailOut(user_id: Long, ts_us: Long, w_count: Long,
      w_cents: Long)

  /** Streaming trailing event-time window features — the custom-state
    * form of [[graft.operators.WindowFeatures.trailingAgg]] with every
    * event its own probe: count + exact-cents sum over the key's events
    * in `[t−W, t)`, STRICTLY before `t` (same-timestamp events exclude
    * each other, exactly like the batch RANGE frame `W PRECEDING ..
    * 1 PRECEDING`). Same-ts groups are therefore featurized against the
    * pre-group buffer first and inserted after — order inside the group
    * cannot matter.
    *
    * State per key is the event buffer inside the trailing window
    * (evicted as each event's horizon passes — bounded by per-key
    * activity within W, not stream length), plus the same ordering
    * contract and TTL expiry as [[envelopeStream]]. Parity: bitwise ==
    * the batch operator with probes = series = events, on
    * in-order-per-key delivery across any micro-batch split
    * (StreamingSpec). */
  def trailingStream(rows: Dataset[TrailIn], windowUs: Long,
                     watermark: String,
                     stateTtl: String = "1 hour"): Dataset[TrailOut] = {
    import rows.sparkSession.implicits._
    rows
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(
        (key: Long, it: Iterator[TrailIn], state: GroupState[TrailState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = it.toArray.sortBy(r => (r.ts_us, r.cents))
            var st = state.getOption.getOrElse(TrailState(Nil, Long.MinValue))
            var buf = st.buf
            val out = scala.collection.mutable.ArrayBuffer.empty[TrailOut]
            var maxTs = Long.MinValue
            var i = 0
            while (i < sorted.length) {
              val t = sorted(i).ts_us
              if (t > st.lastTs) {
                // the whole same-ts group scores against the pre-group
                // buffer, then inserts — batch same-ts-exclusion semantics
                var j = i
                while (j < sorted.length && sorted(j).ts_us == t) j += 1
                buf = buf.filter(_._1 >= t - windowUs)
                val inWin = buf.filter(_._1 <= t - 1)
                val c = inWin.size.toLong
                val s = inWin.foldLeft(0L)(_ + _._2)
                var k = i
                while (k < j) {
                  out += TrailOut(key, t, c, s)
                  maxTs = math.max(maxTs, sorted(k).ts.getTime)
                  k += 1
                }
                var m = i
                while (m < j) { buf = (t, sorted(m).cents) :: buf; m += 1 }
                st = TrailState(buf, t)
                i = j
              } else i += 1
            }
            state.update(st)
            if (maxTs != Long.MinValue && state.getCurrentWatermarkMs() >= 0)
              state.setTimeoutTimestamp(maxTs, stateTtl)
            out.iterator
          }
        })
  }

  /** Streaming exact dedup: first arrival per `key` wins, duplicates within
    * the watermark horizon are dropped (`dropDuplicatesWithinWatermark`) —
    * the streaming form of the batch exact-dedup operator
    * ([[graft.ops.Dedup]]). State holds one entry per key seen within the
    * horizon and is evicted as the watermark advances, so state size is
    * bounded by the horizon's key cardinality, not the stream's. A
    * duplicate arriving AFTER its key's state expired is re-emitted — at
    * 100 TB/day the horizon is the dedup-exactness/memory dial (the batch
    * operator is the exact backstop). */
  def dedupExactStream(rows: DataFrame, key: String,
                       watermark: String): DataFrame =
    rows
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(key)

  /** Streaming split assignment: [[graft.ops.Sampling.milleSlot]] is a
    * stateless narrow projection, so the SAME expression the batch
    * splitter uses runs unchanged on a stream — deterministic assignment
    * regardless of arrival order, batch boundaries, or restarts (the
    * property `rand()`-based splitting loses on every retry). */
  def splitStream(rows: DataFrame, key: String): DataFrame =
    graft.ops.Sampling.assignSplit(rows, col(key))

  /** Continuous-ingestion near-dup dedup: a `foreachBatch` sink that
    * screens every micro-batch of new docs against the ACCUMULATED corpus
    * and admits only the fresh ones — the streaming form of
    * [[graft.ops.Dedup.incrementalScreenWith]], closing the loop the batch
    * operator leaves open (each admitted batch becomes part of the frozen
    * side for the next).
    *
    * State lives in two [[graft.sink.KeyedSink]] tables:
    *  - `corpusPath` — admitted docs `(doc_id, tokens, n_tok, source,
    *    bands)`; the stored MinHash band array means an increment explodes
    *    a compact per-doc array into the probe index instead of re-hashing
    *    corpus tokens (narrow, no shuffle);
    *  - `verdictPath` — one verdict row per screened doc, committed with
    *    the stream-batch ledger.
    *
    * == Exactly-once across restarts ==
    * The verdict commit (ledger-guarded [[graft.sink.KeyedSink
    * .upsertStreamBatch]]) is the LAST write. A replayed batch id no-ops
    * on the ledger check; a crash between the corpus upsert and the
    * verdict commit replays the batch, and the corpus upsert is idempotent
    * (keyed by doc_id, same rows), so the end state is identical. Within a
    * batch, duplicates against both the corpus AND earlier docs of the
    * same batch are caught (the batch's own band table joins the probe
    * index after the corpus's).
    *
    * Scale: per micro-batch the corpus-side cost is one narrow read of the
    * band-array table + the broadcast-probe join — the corpus is never
    * re-hashed and never shuffled; only candidates and the (tiny) batch
    * move. */
  def dedupIngest(corpusPath: String, verdictPath: String,
                  minJaccard: Double): (DataFrame, Long) => Unit =
    (batch0: DataFrame, batchId: Long) => {
      import graft.ops.Dedup
      import graft.sink.KeyedSink
      val spark = batch0.sparkSession
      if (!KeyedSink.lastStreamBatch(verdictPath).exists(_ >= batchId)) {
        // in-batch self-dedup first: keep the min doc_id per identical
        // band signature, so twins ARRIVING TOGETHER don't both slip past
        // the (stale-by-one-batch) corpus index
        val batch = Dedup.minhash(batch0)
          .select(col("doc_id"), col("bands"))
          .join(batch0, Seq("doc_id"))
          .localCheckpoint(true) // small; avoids recomputing minhash below
        val corpus = KeyedSink.read(spark, corpusPath)
        val verdicts = corpus match {
          case None =>
            // empty corpus: screen the batch against ITSELF only
            selfScreen(batch, minJaccard)
          case Some(c) =>
            val index = c.select(col("doc_id"),
              posexplode(col("bands")).as(Seq("band_id", "band_hash")))
            val vsCorpus = Dedup.incrementalScreenWith(
              index, c, batch, minJaccard)
            // batch-internal twins: screen vs earlier same-batch docs too
            val vsSelf = selfScreen(batch, minJaccard)
            mergeVerdicts(vsCorpus, vsSelf)
        }
        val v = verdicts.localCheckpoint(true) // verdicts are batch-sized
        val fresh = batch.join(
          v.filter(!col("is_dup")).select(col("batch_doc").as("doc_id")),
          Seq("doc_id"))
        KeyedSink.upsert(spark, corpusPath, fresh, "doc_id")
        KeyedSink.upsertStreamBatch(spark, verdictPath, batchId, v,
          "batch_doc")
      }
      ()
    }

  /** Screen a batch against its own earlier docs (doc_id order = arrival
    * order within the batch): candidate pairs from the batch band
    * self-join restricted to `earlier < later`, verified like the
    * corpus path. */
  private def selfScreen(batch: DataFrame, minJaccard: Double): DataFrame = {
    import graft.ops.Dedup
    val bands = batch.select(col("doc_id"),
      posexplode(col("bands")).as(Seq("band_id", "band_hash")))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") > col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val verified = Dedup.shingleJaccardPairs(batch, cand)
      .filter(col("jaccard") >= minJaccard)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"))
      .orderBy(col("jaccard").desc, col("doc_b"))
    val agg = verified.withColumn("rk", row_number().over(w))
      .groupBy(col("doc_a").as("batch_doc"))
      .agg(count(lit(1)).as("n_matches"),
        max(when(col("rk") === 1, col("doc_b"))).as("best_match"),
        max(when(col("rk") === 1, col("jaccard"))).as("best_jaccard"))
    batch.select(col("doc_id").as("batch_doc"))
      .join(agg, Seq("batch_doc"), "left_outer")
      .select(col("batch_doc"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        (coalesce(col("n_matches"), lit(0L)) > 0).as("is_dup"),
        col("best_match"), col("best_jaccard"))
  }

  /** Merge the corpus-side and self-side verdicts for one batch: a doc is
    * a dup if EITHER screen flags it; the best match is the better-scoring
    * of the two (tie → corpus match, the earlier-committed doc). */
  private def mergeVerdicts(vsCorpus: DataFrame,
                            vsSelf: DataFrame): DataFrame =
    vsCorpus.alias("c")
      .join(vsSelf.alias("s"), Seq("batch_doc"))
      .select(col("batch_doc"),
        (col("c.n_matches") + col("s.n_matches")).as("n_matches"),
        (col("c.is_dup") || col("s.is_dup")).as("is_dup"),
        when(coalesce(col("s.best_jaccard"), lit(Double.NegativeInfinity)) >
             coalesce(col("c.best_jaccard"), lit(Double.NegativeInfinity)),
          col("s.best_match")).otherwise(col("c.best_match"))
          .as("best_match"),
        when(coalesce(col("s.best_jaccard"), lit(Double.NegativeInfinity)) >
             coalesce(col("c.best_jaccard"), lit(Double.NegativeInfinity)),
          col("s.best_jaccard")).otherwise(col("c.best_jaccard"))
          .as("best_jaccard"))

  // ------------------------------------------------------------------
  // Streaming HLL distinct-count sketch
  // ------------------------------------------------------------------

  final case class HllIn(stream_id: String, ts: java.sql.Timestamp,
                         tokens: Seq[Int])
  final case class HllSkState(regs: Array[Byte])
  final case class HllSkOut(stream_id: String, as_of: Long, n_zero: Long,
                            sum_scaled: Long, est_micro: Long)

  /** Streaming HLL: per stream key, the 2^p register table lives in
    * `flatMapGroupsWithState` state and max-updates from each micro-batch's
    * token rows with the IDENTICAL gram-pack + integer-mixer + rho rule as
    * the batch [[graft.functions.expressions.HllTokensAgg]]; after each
    * batch the current estimate snapshot is emitted (Append mode, readers
    * take the latest `as_of` — the [[heavyHittersStream]] convention).
    * Registers are order- AND duplicate-insensitive (max-merge), so ANY
    * micro-batch split of the same rows yields bitwise-identical final
    * registers — the strongest batch==stream guarantee in the family,
    * pinned against [[graft.ops.Sketches.hllSketch]] in StreamingSpec.
    * State is exactly 2^p bytes per key, watermark-expired. */
  def hllStream(rows: Dataset[HllIn], p: Int, watermark: String,
                stateTtl: String = "1 hour"): Dataset[HllSkOut] = {
    import rows.sparkSession.implicits._
    import graft.functions.expressions.{KmvMix, HllTokensAgg}
    val m = 1 << p
    rows
      .withWatermark("ts", watermark)
      .groupByKey(_.stream_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(
        (key: String, it: Iterator[HllIn], state: GroupState[HllSkState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val regs = state.getOption.map(_.regs.clone())
              .getOrElse(new Array[Byte](m))
            var maxTs = Long.MinValue
            var any = false
            val maxRho = 61 - p
            for (r <- it) {
              any = true
              maxTs = math.max(maxTs, r.ts.getTime)
              val arr = r.tokens
              var i = 0
              while (i < arr.length - 1) {
                val gram = (arr(i) + 2048L) * 4096L + (arr(i + 1) + 2048L)
                val h = KmvMix.hash(HllTokensAgg.HllSalt, gram)
                val bucket = (h % m).toInt
                val w = h / m
                val rho =
                  if (w == 0) maxRho
                  else java.lang.Long.numberOfTrailingZeros(w) + 1
                if (rho > regs(bucket)) regs(bucket) = rho.toByte
                i += 1
              }
            }
            state.update(HllSkState(regs))
            if (maxTs != Long.MinValue && state.getCurrentWatermarkMs() >= 0)
              state.setTimeoutTimestamp(maxTs, stateTtl)
            if (!any) Iterator.empty
            else {
              val (nz, ss, _, em) =
                graft.ops.Sketches.hllEstimate(regs.map(_.toInt), p)
              Iterator.single(HllSkOut(key, maxTs, nz, ss, em))
            }
          }
        })
  }

  // ------------------------------------------------------------------
  // Streaming histogram quantile sketch
  // ------------------------------------------------------------------

  final case class QhIn(source: String, ts: java.sql.Timestamp, n_tok: Int)
  final case class QhState(bins: Array[Long])
  final case class QhOut(source: String, as_of: Long, n: Long,
                         est50: Long, est90: Long, est99: Long)

  /** Streaming form of [[graft.ops.Sketches.quantileHistogram]]: per
    * source key the `nBins` bin counters live in
    * `flatMapGroupsWithState` state and add-update from each
    * micro-batch's rows with the IDENTICAL bin rule
    * (`least(n_tok div width, nBins-1)`); after each batch the current
    * p50/p90/p99 snapshot is emitted (Append mode, readers take the
    * latest `as_of` — the [[hllStream]] convention). Counter addition is
    * order- and split-insensitive, so any micro-batch partition of the
    * same rows yields identical final bins — pinned against the batch
    * sketch in StreamingSpec. State is exactly `nBins` longs per key,
    * watermark-expired. */
  def quantileHistStream(rows: Dataset[QhIn], nBins: Int, width: Int,
                         watermark: String,
                         stateTtl: String = "1 hour"): Dataset[QhOut] = {
    import rows.sparkSession.implicits._
    rows
      .withWatermark("ts", watermark)
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(
        (key: String, it: Iterator[QhIn], state: GroupState[QhState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val bins = state.getOption.map(_.bins.clone())
              .getOrElse(new Array[Long](nBins))
            var maxTs = Long.MinValue
            var any = false
            for (r <- it) {
              any = true
              maxTs = math.max(maxTs, r.ts.getTime)
              val b = math.min(r.n_tok / width, nBins - 1)
              bins(b) += 1L
            }
            state.update(QhState(bins))
            if (maxTs != Long.MinValue && state.getCurrentWatermarkMs() >= 0)
              state.setTimeoutTimestamp(maxTs, stateTtl)
            if (!any) Iterator.empty
            else {
              val n = bins.sum
              def est(qPct: Int): Long = {
                val target = (qPct * n + 99L) / 100L
                var cum = 0L; var b = 0
                while (b < nBins) {
                  cum += bins(b)
                  if (cum >= target) return (b + 1L) * width - 1L
                  b += 1
                }
                (nBins.toLong) * width - 1L
              }
              Iterator.single(QhOut(key, maxTs, n, est(50), est(90), est(99)))
            }
          }
        })
  }
}
