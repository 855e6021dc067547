package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming._

case class WinRankIn(key: String, id: Long, ts_ms: Long, score: Double)

case class WinRankOut(window_start: Long, window_end: Long, key: String,
    id: Long, score: Double, rn: Int)

/** Streaming window Top-N — the reference's WindowRankOperator ([U]
  * flink-table-runtime operators/rank/window; SURVEY.md §2.6): rank rows
  * within each (tumbling window × key) and emit the top N APPEND-ONLY
  * once the watermark closes the window — no retractions, unlike the
  * global [[StreamingTopN]], because a closed window's rank is final.
  *
  * Per key: rows buffer in ListState tagged by their window start; an
  * event-time timer is registered at each window end, and when it fires
  * every window whose end ≤ watermark is sorted (score desc, id asc) and
  * its top N emitted with ranks. Rows for already-closed windows (late
  * beyond the watermark slack) are dropped, mirroring Flink's late-data
  * drop for closed windows; `closedUpTo` ValueState records the frontier.
  *
  * State: watermark-bounded buffer per key (only open windows are held) +
  * one frontier long — the same bound Flink's window state has.
  */
class StreamingWindowRank(windowMs: Long, n: Int)
    extends KeyedProcess[String, WinRankIn, WinRankOut] {
  @transient private var buf: ListState[WinRankIn] = _
  @transient private var closedUpTo: ValueState[Long] = _

  override def open(h: StatefulProcessorHandle, om: OutputMode, tm: TimeMode): Unit = {
    buf = h.getListState[WinRankIn]("buf", StateEncoders.winRankIn, TTLConfig.NONE)
    closedUpTo = h.getValueState[Long]("closed", Encoders.scalaLong, TTLConfig.NONE)
  }

  private def windowStart(tsMs: Long): Long = tsMs - Math.floorMod(tsMs, windowMs)

  /** Within-window emission order; rank = position + 1. Top-N orders by
    * (score desc, id asc); [[StreamingWindowDedup]] overrides with rowtime.
    */
  protected def ordered(rows: Array[WinRankIn]): Seq[WinRankIn] =
    rows.toSeq.sortBy(r => (-r.score, r.id))

  override def onElement(key: String, v: WinRankIn, tv: TimerValues,
      emit: WinRankOut => Unit): Unit = {
    val frontier = if (closedUpTo.exists()) closedUpTo.get() else Long.MinValue
    val wEnd = windowStart(v.ts_ms) + windowMs
    if (wEnd > frontier) { // window still open: buffer + arm its closing timer
      buf.appendValue(v)
      registerTimer(wEnd)
    } // else: late row for an emitted window — dropped (Flink closed-window drop)
  }

  override def onTimer(key: String, expiryMs: Long, tv: TimerValues,
      emit: WinRankOut => Unit): Unit = {
    val wm = math.max(tv.getCurrentWatermarkInMs, expiryMs)
    val (closed, open) = buf.get().toArray.partition(r => windowStart(r.ts_ms) + windowMs <= wm)
    if (closed.nonEmpty) {
      closed.groupBy(r => windowStart(r.ts_ms)).toSeq.sortBy(_._1).foreach {
        case (ws, rows) =>
          ordered(rows).take(n).zipWithIndex.foreach {
            case (r, i) => emit(WinRankOut(ws, ws + windowMs, key, r.id, r.score, i + 1))
          }
      }
      closedUpTo.update(wm)
      buf.clear()
      if (open.nonEmpty) buf.appendList(open)
    }
  }
}

/** Streaming window deduplication — the reference's window dedup TVF
  * post-op ([U] flink-table-runtime operators/deduplicate/window;
  * SURVEY.md §2.5 "window Top-N / window deduplication"): keep the first
  * (or last) row by rowtime per (tumbling window × key), append-only on
  * window close — `ROW_NUMBER() OVER (PARTITION BY window, key ORDER BY
  * rowtime [ASC|DESC]) = 1` in Flink SQL. Same watermark-bounded buffer
  * as [[StreamingWindowRank]]; only the within-window order differs.
  */
class StreamingWindowDedup(windowMs: Long, keepFirst: Boolean)
    extends StreamingWindowRank(windowMs, 1) {
  override protected def ordered(rows: Array[WinRankIn]): Seq[WinRankIn] =
    if (keepFirst) rows.toSeq.sortBy(r => (r.ts_ms, r.id))
    else rows.toSeq.sortBy(r => (-r.ts_ms, -r.id))
}

object WindowRank {
  /** Top-N per (tumbling window, key), append-only on window close; `ds`
    * must carry an event-time watermark on the column backing `ts_ms`.
    */
  def windowTopN(ds: Dataset[WinRankIn], windowMs: Long, n: Int): Dataset[WinRankOut] = {
    implicit val out: Encoder[WinRankOut] = Encoders.product[WinRankOut]
    ds.groupByKey(_.key)(Encoders.STRING)
      .transformWithState(new StreamingWindowRank(windowMs, n),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Keep-first/keep-last row by rowtime per (tumbling window, key),
    * append-only on window close (window dedup TVF semantics).
    */
  def windowDedup(ds: Dataset[WinRankIn], windowMs: Long,
      keepFirst: Boolean): Dataset[WinRankOut] = {
    implicit val out: Encoder[WinRankOut] = Encoders.product[WinRankOut]
    ds.groupByKey(_.key)(Encoders.STRING)
      .transformWithState(new StreamingWindowDedup(windowMs, keepFirst),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
