package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming._

case class WindowedValue(key: String, w_start: Long, w_end: Long, ts_ms: Long, value: Double)
case class EarlyFire(key: String, w_start: Long, w_end: Long, n: Long,
    sum_value: Double, is_final: Boolean)

/** Early-firing tumbling aggregation — the ContinuousEventTimeTrigger
  * pattern ([U] flink-streaming-java api/windowing/triggers/
  * ContinuousEventTimeTrigger.java): a tumbling window that emits partial
  * aggregates every `earlyMs` of event time while it is open, then a
  * final row (`is_final = true`) when the watermark closes it. The
  * standard shape for live dashboards over long windows: readers see the
  * running aggregate instead of waiting out the window.
  *
  * Built on KeyedProcess timers: the group key is (key, window), state is
  * one (n, sum) accumulator per open window — O(1) per window, cleared on
  * the final firing (PurgingTrigger semantics). Count-based triggering is
  * covered by [[CountWindow]]; this closes the time-based early-fire case.
  */
class EarlyFiringTumbleProcess(sizeMs: Long, earlyMs: Long)
    extends KeyedProcess[(String, Long), WindowedValue, EarlyFire] {
  @transient private var acc: ValueState[(Long, Double)] = _
  @transient private var armed: ValueState[Boolean] = _
  @transient private var closed: ValueState[Boolean] = _

  override def open(h: StatefulProcessorHandle, om: OutputMode, tm: TimeMode): Unit = {
    acc = h.getValueState[(Long, Double)]("acc", StateEncoders.longDouble, TTLConfig.NONE)
    armed = h.getValueState[Boolean]("armed", Encoders.scalaBoolean, TTLConfig.NONE)
    // the closed marker guards against late re-opens; GC'd by an
    // event-time timer one lateness horizon past the close (TTL state is
    // not allowed in EventTime mode) so the per-window boolean does not
    // accumulate forever. The bounded-state trade: a row arriving beyond
    // the horizon could re-open the window — at that lateness the
    // reference would long since have dropped it upstream too.
    closed = h.getValueState[Boolean]("closed", Encoders.scalaBoolean, TTLConfig.NONE)
  }

  override def onElement(key: (String, Long), v: WindowedValue, tv: TimerValues,
      emit: EarlyFire => Unit): Unit = {
    // a row for a window that already final-fired is LATE — dropped, or
    // the purged window would re-open and emit a second conflicting final
    if (Option(closed.get()).getOrElse(false)) return
    val (n, sum) = Option(acc.get()).getOrElse((0L, 0.0))
    acc.update((n + 1, sum + v.value))
    if (!Option(armed.get()).getOrElse(false)) {
      // arm the early-fire timers once per window: every earlyMs boundary
      // inside the window, plus the window end for the final firing
      var t = v.w_start + earlyMs
      while (t < v.w_end) { registerTimer(t); t += earlyMs }
      registerTimer(v.w_end)
      armed.update(true)
    }
  }

  override def onTimer(key: (String, Long), expiryMs: Long, tv: TimerValues,
      emit: EarlyFire => Unit): Unit = {
    val (k, wStart) = key
    val wEnd = wStart + sizeMs
    if (expiryMs >= wEnd + Triggers.markerGcMs) { closed.clear(); return }
    Option(acc.get()).filter(_._1 > 0).foreach { case (n, sum) =>
      val isFinal = expiryMs >= wEnd
      emit(EarlyFire(k, wStart, wEnd, n, sum, isFinal))
      if (isFinal) {
        acc.clear(); armed.clear(); closed.update(true)
        registerTimer(wEnd + Triggers.markerGcMs) // marker GC horizon
      }
    }
  }
}

object Triggers {
  /** Event-time horizon after which a closed-window marker is GC'd. */
  private[streaming] val markerGcMs: Long = 3600000L
  /** Tumbling count+sum per key with early firings every `earlyMs` and a
    * final purging emission at window close. `is_final=false` rows are the
    * running (cumulative) aggregate at each early boundary.
    */
  def earlyFiringTumble(ds: Dataset[(String, Long, Double)], sizeMs: Long,
      earlyMs: Long): Dataset[EarlyFire] = {
    import ds.sparkSession.implicits._
    val assigned = ds.map { case (k, ts, v) =>
      val wStart = ts - java.lang.Math.floorMod(ts, sizeMs)
      WindowedValue(k, wStart, wStart + sizeMs, ts, v)
    }
    implicit val out: Encoder[EarlyFire] = Encoders.product[EarlyFire]
    assigned.groupByKey(w => (w.key, w.w_start))
      .transformWithState(new EarlyFiringTumbleProcess(sizeMs, earlyMs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
