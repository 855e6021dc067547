package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming._

/** Cumulate-window emission for a keyed stream. */
case class CumulateOut(key: String, window_start: Long, window_end: Long,
    sum_value: Double, n: Long)

/** Streaming CUMULATE — the reference's cumulative window aggregate
  * ([U] flink-table-runtime operators/aggregate/window slicing
  * operators; batch emulation is [[graft.operators.Cumulate]]): expanding
  * step-aligned windows from a shared span start, one EMISSION PER STEP
  * as the watermark closes it — the behavior Structured Streaming's
  * native `window()` cannot produce (it emits once per window, and
  * grouping by a derived window column cannot be watermark-tracked).
  *
  * Per (key, span): rows buffer in ListState; an event-time timer is
  * registered at every step boundary a row's span still owes. When the
  * watermark passes a step end, the step window `[span, stepEnd)` emits
  * the aggregate of the rows at-or-before it; the span's buffer is
  * dropped after its last step closes, so state is bounded by
  * `maxSize` per key — the same retained-slice shape as the reference.
  * Late rows inside the watermark slack fold into the remaining
  * (still-open) steps of their span; steps already emitted are final
  * (append semantics).
  */
class StreamingCumulateProcess(stepMs: Long, maxSizeMs: Long)
    extends KeyedProcess[String, OverIn, CumulateOut] {
  require(maxSizeMs % stepMs == 0, "maxSize must be a multiple of step")

  @transient private var buf: ListState[OverIn] = _

  override def open(h: StatefulProcessorHandle, om: OutputMode, tm: TimeMode): Unit = {
    buf = h.getListState[OverIn]("buf", StateEncoders.overIn, TTLConfig.NONE)
  }

  override def onElement(key: String, v: OverIn, tv: TimerValues,
      emit: CumulateOut => Unit): Unit = {
    val span = Math.floorDiv(v.ts_ms, maxSizeMs) * maxSizeMs
    val wm = tv.getCurrentWatermarkInMs()
    // a row whose whole span already closed can never emit and no timer
    // would ever evict it — dropped (fully late), or it would sit in
    // ListState forever and break the documented per-key state bound
    if (span + maxSizeMs <= wm) return
    buf.appendValue(v)
    // every step boundary of this row's span that is still ahead of it:
    // the row contributes to each of those step windows. Steps the
    // watermark already closed must NOT be re-registered — a late row
    // (inside the slack) would re-fire an emitted step and duplicate it;
    // it folds into the remaining open steps instead (append semantics).
    var stepEnd = (Math.floorDiv(v.ts_ms - span, stepMs) + 1) * stepMs + span
    while (stepEnd <= span + maxSizeMs) {
      if (stepEnd > wm) registerTimer(stepEnd)
      stepEnd += stepMs
    }
  }

  override def onTimer(key: String, expiryMs: Long, tv: TimerValues,
      emit: CumulateOut => Unit): Unit = {
    val span = Math.floorDiv(expiryMs - 1, maxSizeMs) * maxSizeMs
    val rows = buf.get().toArray
    val mine = rows.filter(r => r.ts_ms >= span && r.ts_ms < expiryMs)
    if (mine.nonEmpty)
      emit(CumulateOut(key, span, expiryMs, mine.map(_.values.head).sum, mine.length.toLong))
    // after the span's LAST step closes, its rows can never contribute
    // again — evict them; earlier steps keep the buffer (still expanding)
    if (expiryMs == span + maxSizeMs) {
      val keep = rows.filterNot(r => r.ts_ms >= span && r.ts_ms < expiryMs)
      buf.clear()
      if (keep.nonEmpty) buf.appendList(keep)
    }
  }
}

object CumulateOps {
  /** Per-key cumulate windows (`stepMs`-aligned expanding windows inside
    * `maxSizeMs` spans), one append-mode emission per closed step;
    * `ds` must carry an event-time watermark.
    */
  def cumulate(ds: Dataset[OverIn], stepMs: Long, maxSizeMs: Long): Dataset[CumulateOut] = {
    implicit val out: Encoder[CumulateOut] = Encoders.product[CumulateOut]
    ds.groupByKey(_.key)(Encoders.STRING)
      .transformWithState(new StreamingCumulateProcess(stepMs, maxSizeMs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
