package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming._

case class EvictedWindow(key: Long, w_start: Long, w_end: Long,
    n_kept: Long, sum_kept: Double, n_evicted: Long)

/** Window evictors — Flink's CountEvictor / TimeEvictor
  * ([U] flink-streaming-java api/windowing/evictors/): before the window
  * function evaluates at window close, elements are evicted from the
  * buffer — keep-the-last-N (CountEvictor) or keep-only-the-trailing-T
  * (TimeEvictor, relative to the window's max timestamp). Evicting
  * windows necessarily BUFFER their elements (no incremental aggregate) —
  * the same state cost Flink pays; state is one window's events per key,
  * dropped at firing.
  */
sealed trait Evictor extends Serializable {
  /** Input sorted by (ts, id); returns the retained suffix. */
  def retain(events: Array[TimedValue]): Array[TimedValue]
}

/** Keep at most `maxCount` elements, evicting from the front (oldest). */
case class CountEvictor(maxCount: Int) extends Evictor {
  override def retain(events: Array[TimedValue]): Array[TimedValue] =
    events.takeRight(maxCount)
}

/** Keep only elements within `keepMs` of the window's max timestamp. */
case class TimeEvictor(keepMs: Long) extends Evictor {
  override def retain(events: Array[TimedValue]): Array[TimedValue] =
    if (events.isEmpty) events
    else { val cut = events.last.ts_ms - keepMs; events.filter(_.ts_ms >= cut) }
}

class EvictedTumbleProcess(sizeMs: Long, evictor: Evictor)
    extends KeyedProcess[(Long, Long), TimedValue, EvictedWindow] {
  @transient private var buf: ListState[TimedValue] = _
  @transient private var closed: ValueState[Boolean] = _

  override def open(h: StatefulProcessorHandle, om: OutputMode, tm: TimeMode): Unit = {
    buf = h.getListState[TimedValue]("buf", StateEncoders.timedValue, TTLConfig.NONE)
    // guards late rows from re-opening a fired window (which would emit
    // a duplicate EvictedWindow row); GC'd by an event-time timer one
    // lateness horizon past the close — same trade as Triggers' marker
    closed = h.getValueState[Boolean]("closed", Encoders.scalaBoolean, TTLConfig.NONE)
  }

  override def onElement(key: (Long, Long), v: TimedValue, tv: TimerValues,
      emit: EvictedWindow => Unit): Unit = {
    if (Option(closed.get()).getOrElse(false)) return // late for a fired window
    buf.appendValue(v)
    registerTimer(key._2 + sizeMs) // window end
  }

  override def onTimer(key: (Long, Long), expiryMs: Long, tv: TimerValues,
      emit: EvictedWindow => Unit): Unit = {
    val (k, wStart) = key
    if (expiryMs >= wStart + sizeMs + Triggers.markerGcMs) { closed.clear(); return }
    val all = buf.get().toArray.sortBy(e => (e.ts_ms, e.id))
    if (all.nonEmpty) {
      val kept = evictor.retain(all)
      emit(EvictedWindow(k, wStart, wStart + sizeMs,
        kept.length.toLong, kept.map(_.value).sum, (all.length - kept.length).toLong))
      buf.clear()
      closed.update(true)
      registerTimer(wStart + sizeMs + Triggers.markerGcMs) // marker GC
    }
  }
}

object Evictors {
  /** Tumbling count+sum per key with pre-aggregation eviction. */
  def evictedTumble(ds: Dataset[TimedValue], sizeMs: Long, evictor: Evictor)
      : Dataset[EvictedWindow] = {
    implicit val out: Encoder[EvictedWindow] = Encoders.product[EvictedWindow]
    ds.groupByKey(v => (v.key, v.ts_ms - java.lang.Math.floorMod(v.ts_ms, sizeMs)))(
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .transformWithState(new EvictedTumbleProcess(sizeMs, evictor),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
