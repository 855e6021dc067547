package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming._

case class TimedValue(key: Long, id: Long, ts_ms: Long, value: Double)
case class GapSession(key: Long, n_events: Long, sum_value: Double, start_ms: Long, end_ms: Long)

/** Event-time-timer demonstration operator: a custom gap-session window
  * built directly on KeyedProcess timers — the exact mechanics of Flink's
  * `KeyedProcessFunction#onTimer` + `TimerService.registerEventTimeTimer`
  * ([U] flink-streaming-java api/functions/KeyedProcessFunction.java;
  * SURVEY.md §2.2 "process + timers").
  *
  * Per key: buffer events in ListState and register a timer at ts + gap
  * per event; when the watermark passes, buffered events ≤ watermark are
  * folded TIME-SORTED into the open session accumulator — so out-of-order
  * arrivals within the watermark slack land in the right session instead
  * of merging backward in arrival order. A session closes (emits) when the
  * next sorted event exceeds the gap, or when the watermark moves gap-past
  * its last event. Equivalent to session_window aggregation, but expressed
  * through the timer API — the point is exercising timers, buffering, and
  * state clearing.
  */
class GapSessionProcess(gapMs: Long)
    extends KeyedProcess[Long, TimedValue, GapSession] {
  @transient private var buf: ListState[TimedValue] = _
  @transient private var acc: ValueState[GapSession] = _

  override def open(h: StatefulProcessorHandle, om: OutputMode, tm: TimeMode): Unit = {
    buf = h.getListState[TimedValue]("buf", StateEncoders.timedValue, TTLConfig.NONE)
    acc = h.getValueState[GapSession]("acc", StateEncoders.gapSession, TTLConfig.NONE)
  }

  override def onElement(key: Long, v: TimedValue, tv: TimerValues,
      emit: GapSession => Unit): Unit = {
    // buffer only: out-of-order events (within the watermark slack) must
    // not merge backward into whatever session happens to be open — they
    // are folded time-sorted on timer firing, like Flink's session-window
    // merge on the ordered state backend view
    buf.appendValue(v)
    registerTimer(v.ts_ms + gapMs)
  }

  override def onTimer(key: Long, expiryMs: Long, tv: TimerValues,
      emit: GapSession => Unit): Unit = {
    val wm = math.max(tv.getCurrentWatermarkInMs, expiryMs)
    val (readyRaw, pending) = buf.get().toArray.partition(_.ts_ms <= wm)
    var cur = Option(acc.get()).filter(_.n_events > 0)
    if (readyRaw.nonEmpty) {
      readyRaw.sortBy(e => (e.ts_ms, e.id)).foreach { v =>
        cur match {
          case Some(s) if v.ts_ms - s.end_ms > gapMs =>
            emit(s)
            cur = Some(GapSession(v.key, 1L, v.value, v.ts_ms, v.ts_ms))
          case Some(s) =>
            cur = Some(GapSession(s.key, s.n_events + 1, s.sum_value + v.value,
              math.min(s.start_ms, v.ts_ms), math.max(s.end_ms, v.ts_ms)))
          case None =>
            cur = Some(GapSession(v.key, 1L, v.value, v.ts_ms, v.ts_ms))
        }
      }
      buf.clear()
      if (pending.nonEmpty) buf.appendList(pending)
    }
    cur match {
      case Some(s) if wm - s.end_ms > gapMs =>
        // gap elapsed in event time with nothing arriving: session closed
        emit(s)
        acc.clear()
      case Some(s) =>
        acc.update(s)
        registerTimer(s.end_ms + gapMs)
      case None => ()
    }
  }
}

object TimerOps {
  /** Gap sessions via event-time timers; `ds` must carry a watermark on an
    * event-time column for TimeMode.EventTime.
    */
  def gapSessions(ds: Dataset[TimedValue], gapMs: Long): Dataset[GapSession] = {
    implicit val out: Encoder[GapSession] = Encoders.product[GapSession]
    ds.groupByKey(_.key)(Encoders.scalaLong)
      .transformWithState(new GapSessionProcess(gapMs), TimeMode.EventTime(),
        OutputMode.Append())
  }
}
