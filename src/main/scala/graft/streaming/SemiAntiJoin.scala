package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming._

/** Streaming semi / anti join — the reference's
  * StreamingSemiAntiJoinOperator ([U] flink-table-runtime
  * operators/join/stream/StreamingSemiAntiJoinOperator.java), which
  * Structured Streaming does not support at all (SURVEY.md §2.3
  * "semi/anti stream-stream not supported → custom transformWithState").
  *
  * Time-bounded formulation (the state-bounded variant): a left row
  * matches if any right row with the same key arrives with
  * `|right.ts − left.ts| <= boundMs`.
  *  - SEMI: left row emitted (once) as soon as a matching right exists —
  *    either a right already seen, or one arriving later within bound;
  *  - ANTI: left row emitted when its timer (left.ts + bound) fires with
  *    no match seen.
  *
  * Two-input encoding: union of tagged rows (side 0 = right/build,
  * side 1 = left/probe). State per key: pending left rows + right
  * timestamps inside the horizon, both pruned by watermark timers.
  */
case class SemiAntiOut(key: Long, id: Long, ts_ms: Long, matched: Boolean)

class SemiAntiProcess(boundMs: Long) extends KeyedProcess[Long, TemporalIn, SemiAntiOut] {
  // pending left rows: (id, ts, matched-already-emitted?)
  @transient private var lefts: ListState[(Long, Long, Boolean)] = _
  @transient private var rights: ListState[Long] = _ // right ts seen
  @transient private var prunedUpTo: ValueState[Long] = _ // rights pruned ≤ this

  override def open(h: StatefulProcessorHandle, om: OutputMode, tm: TimeMode): Unit = {
    lefts = h.getListState[(Long, Long, Boolean)]("lefts", StateEncoders.longLongBoolean,
      TTLConfig.NONE)
    rights = h.getListState[Long]("rights", Encoders.scalaLong, TTLConfig.NONE)
    prunedUpTo = h.getValueState[Long]("pruned", Encoders.scalaLong, TTLConfig.NONE)
  }

  private def within(lts: Long, rts: Long): Boolean = math.abs(lts - rts) <= boundMs

  override def onElement(key: Long, v: TemporalIn, tv: TimerValues,
      emit: SemiAntiOut => Unit): Unit =
    if (v.side == 0) {
      rights.appendValue(v.ts_ms)
      // a new right may satisfy pending lefts → emit their SEMI rows now
      val cur = lefts.get().toArray
      val updated = cur.map { case (id, lts, done) =>
        if (!done && within(lts, v.ts_ms)) {
          emit(SemiAntiOut(key, id, lts, matched = true)); (id, lts, true)
        } else (id, lts, done)
      }
      lefts.clear(); if (updated.nonEmpty) lefts.appendList(updated)
      registerTimer(v.ts_ms + boundMs) // prune horizon
    } else {
      // a left whose bound window reaches into pruned right state could
      // get a FALSE anti answer (its match may be gone) — dropped as
      // late, like the reference drops behind-watermark rows
      // NOTE: must be exists()-guarded — get() on unset ValueState[Long]
      // null-unboxes to 0, which would silently drop pre-epoch lefts
      val frontier = if (prunedUpTo.exists()) prunedUpTo.get() else Long.MinValue
      if (v.ts_ms - boundMs > frontier) {
        val matchedNow = rights.get().exists(r => within(v.ts_ms, r))
        if (matchedNow) emit(SemiAntiOut(key, v.id, v.ts_ms, matched = true))
        lefts.appendValue((v.id, v.ts_ms, matchedNow))
        registerTimer(v.ts_ms + boundMs) // ANTI decision point
      }
    }

  override def onTimer(key: Long, expiryMs: Long, tv: TimerValues,
      emit: SemiAntiOut => Unit): Unit = {
    val wm = math.max(tv.getCurrentWatermarkInMs, expiryMs)
    val cur = lefts.get().toArray
    val (decided, pending) = cur.partition { case (_, lts, _) => lts + boundMs <= wm }
    decided.foreach { case (id, lts, done) =>
      if (!done) emit(SemiAntiOut(key, id, lts, matched = false)) // ANTI
    }
    lefts.clear(); if (pending.nonEmpty) lefts.appendList(pending)
    // prune rights beyond any possible future left within watermark,
    // recording the frontier so late lefts that would need them drop
    val all = rights.get().toArray
    val keep = all.filter(r => r + boundMs > wm - boundMs)
    if (keep.length != all.length) {
      prunedUpTo.update(math.max(
        if (prunedUpTo.exists()) prunedUpTo.get() else Long.MinValue,
        wm - 2 * boundMs))
    }
    rights.clear(); if (keep.nonEmpty) rights.appendList(keep)
  }
}

object SemiAntiJoin {
  /** Tagged-stream semi/anti join within `boundMs`; output rows carry
    * `matched` (true = semi result, false = anti result). `ds` must have
    * an event-time watermark.
    */
  def within(ds: Dataset[TemporalIn], boundMs: Long): Dataset[SemiAntiOut] = {
    implicit val out: Encoder[SemiAntiOut] = Encoders.product[SemiAntiOut]
    ds.groupByKey(_.key)(Encoders.scalaLong)
      .transformWithState(new SemiAntiProcess(boundMs), TimeMode.EventTime(),
        OutputMode.Append())
  }
}
