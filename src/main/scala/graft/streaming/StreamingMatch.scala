package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming._

import graft.operators.Cep
import graft.plans.MatchRecognize

/** Streaming MATCH_RECOGNIZE kernel — the measured, string-keyed
  * counterpart of [[StreamingPatternProcess]] ([U] flink-table-runtime
  * operators/match/ — Flink's MATCH_RECOGNIZE is streaming-first and
  * carries its MEASURES through the NFA). Events buffer in ListState
  * until the watermark passes; the shared measured scan
  * ([[MatchRecognize.scanMeasured]] — the exact batch kernel) emits only
  * RESOLVED matches with their measure values, and consumed events are
  * physically dropped from state, so state per key is the pending suffix
  * + in-flight events — the same bound the unmeasured process carries.
  * A per-key ValueState counter numbers matches continuously across
  * micro-batches, so MATCH_NUMBER() (and the ALL ROWS `match_seq`
  * column) survives rescans — Flink's per-partition numbering.
  *
  * The key is a STRING (the partition column's canonical string form,
  * cast back to the original type on output), so any atomic partition
  * key works — not just integral ones.
  */
private[graft] trait MatchBuffer {
  self: KeyedProcess[String, StreamingMatch.MrSEvent, _] =>
  @transient protected var buf: ListState[StreamingMatch.MrSEvent] = _
  @transient protected var seq: ValueState[Long] = _

  protected def openState(h: StatefulProcessorHandle): Unit = {
    buf = h.getListState[StreamingMatch.MrSEvent]("buf", StateEncoders.mrsEvent, TTLConfig.NONE)
    seq = h.getValueState[Long]("seq", Encoders.scalaLong, TTLConfig.NONE)
  }

  /** Buffer + sort the watermark-ready events, run the shared scan, and
    * hand the resolved matches (with the ready array for payload/measure
    * lookup and the per-key match-seq base) to `emitMatches`; drop
    * consumed events from state.
    */
  protected def onTimerShared(expiryMs: Long, tv: TimerValues,
      stepAlts: IndexedSeq[IndexedSeq[Cep.Step]],
      stepVarsAlts: IndexedSeq[IndexedSeq[Seq[(String, Int)]]],
      measures: Seq[MatchRecognize.Measure], strOrd: Array[Boolean],
      withinMs: Long, skip: Cep.AfterMatch,
      subsets: Map[String, Seq[String]], wantRows: Boolean,
      aggSpec: MatchRecognize.AggSpec = null)(
      emitMatches: (Seq[MatchRecognize.MMatch],
        Array[StreamingMatch.MrSEvent], Long) => Unit): Unit = {
    val wm = math.max(tv.getCurrentWatermarkInMs, expiryMs)
    val (readyRaw, pending) = buf.get().toArray.partition(_.ord <= wm)
    if (readyRaw.nonEmpty) {
      val ready = readyRaw.sortBy(_.ord)
      val base = Option(seq.get()).getOrElse(0L)
      val (matches, resume) = MatchRecognize.scanMeasured(
        ready.map(_.ord), ready.map(_.mask),
        i => ready(i).mv, i => ready(i).sv,
        stepAlts, stepVarsAlts, measures, strOrd,
        withinMs, skip, openEnded = true, wm = wm, subsets = subsets,
        matchSeqBase = base, wantRows = wantRows,
        agg = if (aggSpec == null) null
              else MatchRecognize.AggEval(i => ready(i).av, aggSpec))
      emitMatches(matches, ready, base)
      if (matches.nonEmpty) seq.update(base + matches.size)
      buf.clear()
      val keep = ready.drop(resume) ++ pending
      if (keep.nonEmpty) {
        buf.appendList(keep)
        // pending events need a revisit when the watermark advances —
        // their own ord-timers have already fired
        registerTimer(wm + 1)
      }
    }
  }
}

class StreamingMatchProcess(
    stepAlts: IndexedSeq[IndexedSeq[Cep.Step]],
    stepVarsAlts: IndexedSeq[IndexedSeq[Seq[(String, Int)]]],
    measures: Seq[MatchRecognize.Measure], strOrd: Array[Boolean],
    withinMs: Long, skip: Cep.AfterMatch,
    subsets: Map[String, Seq[String]],
    aggSpec: MatchRecognize.AggSpec = null)
    extends KeyedProcess[String, StreamingMatch.MrSEvent, StreamingMatch.MrSMatch]
    with MatchBuffer {

  override def open(h: StatefulProcessorHandle, om: OutputMode, tm: TimeMode): Unit =
    openState(h)

  override def onElement(key: String, v: StreamingMatch.MrSEvent, tv: TimerValues,
      emit: StreamingMatch.MrSMatch => Unit): Unit = {
    buf.appendValue(v)
    registerTimer(v.ord)
  }

  override def onTimer(key: String, expiryMs: Long, tv: TimerValues,
      emit: StreamingMatch.MrSMatch => Unit): Unit =
    onTimerShared(expiryMs, tv, stepAlts, stepVarsAlts, measures, strOrd,
      withinMs, skip, subsets, wantRows = false, aggSpec = aggSpec) { (matches, _, _) =>
      matches.foreach(m =>
        emit(StreamingMatch.MrSMatch(key, m.start, m.end, m.n, m.m, m.sm)))
    }
}

/** ALL ROWS PER MATCH over a stream: each resolved match replays its
  * consumed rows in match order with `match_seq`, `classifier`, and the
  * RUNNING (or FINAL-wrapped) measures — the batch [[MatchRecognize]]
  * all-rows contract, append-only because matches only resolve behind
  * the watermark. The full input row rides through state as a JSON
  * payload (`to_json(struct(*))`, parsed back on output with the known
  * schema) — the same full-row state Flink's match operator keeps.
  */
class StreamingMatchAllRowsProcess(
    stepAlts: IndexedSeq[IndexedSeq[Cep.Step]],
    stepVarsAlts: IndexedSeq[IndexedSeq[Seq[(String, Int)]]],
    measures: Seq[MatchRecognize.Measure], strOrd: Array[Boolean],
    withinMs: Long, skip: Cep.AfterMatch,
    subsets: Map[String, Seq[String]],
    aggSpec: MatchRecognize.AggSpec = null)
    extends KeyedProcess[String, StreamingMatch.MrSEvent, StreamingMatch.MrSAllRow]
    with MatchBuffer {
  private val anyFinal = measures.exists(_.isFinal)

  override def open(h: StatefulProcessorHandle, om: OutputMode, tm: TimeMode): Unit =
    openState(h)

  override def onElement(key: String, v: StreamingMatch.MrSEvent, tv: TimerValues,
      emit: StreamingMatch.MrSAllRow => Unit): Unit = {
    buf.appendValue(v)
    registerTimer(v.ord)
  }

  override def onTimer(key: String, expiryMs: Long, tv: TimerValues,
      emit: StreamingMatch.MrSAllRow => Unit): Unit =
    onTimerShared(expiryMs, tv, stepAlts, stepVarsAlts, measures, strOrd,
      withinMs, skip, subsets, wantRows = true, aggSpec = aggSpec) { (matches, ready, base) =>
      matches.zipWithIndex.foreach { case (m, mi) =>
        val matchSeq = base + mi + 1
        val finAcc = if (anyFinal) {
          val a = new MatchRecognize.RunAcc(measures, strOrd, subsets)
          m.rowCls.foreach { case (ix, cls) =>
            a.update(cls, ready(ix).mv, ready(ix).sv) }
          a
        } else null
        val acc = new MatchRecognize.RunAcc(measures, strOrd, subsets)
        m.rowCls.foreach { case (ix, cls) =>
          acc.update(cls, ready(ix).mv, ready(ix).sv)
          val snapM = measures.indices.map(i =>
            if (measures(i).isFinal) finAcc.snapM(i) else acc.snapM(i))
          val snapS = measures.indices.map(i =>
            if (measures(i).isFinal) finAcc.snapS(i) else acc.snapS(i))
          emit(StreamingMatch.MrSAllRow(key, ready(ix).ord, matchSeq, cls,
            snapM, snapS, ready(ix).payload))
        }
      }
    }
}

object StreamingMatch {
  /** One tagged input row: the order value (also the event time, ms),
    * the DEFINE bitmask, the per-measure numeric/string views, and (for
    * ALL ROWS) the full-row JSON payload — null in one-row mode so the
    * buffered state stays narrow.
    */
  final case class MrSEvent(key: String, ord: Long, mask: Long,
      mv: Seq[Double], sv: Seq[String], payload: String = null,
      av: Seq[Double] = Seq.empty)

  /** One resolved match with its measure values — the batch
    * `MrMatchM` shape, keyed by the canonical string key.
    */
  final case class MrSMatch(key: String, match_start: Long, match_end: Long,
      n_events: Int, m: Seq[Double], sm: Seq[String])

  /** One matched INPUT row (ALL ROWS PER MATCH) with its running
    * measures and the original row as a JSON payload.
    */
  final case class MrSAllRow(key: String, ord: Long, match_seq: Long,
      classifier: String, m: Seq[Double], sm: Seq[String], payload: String)

  /** Run the measured pattern over a watermarked keyed event stream. */
  def run(ds: Dataset[MrSEvent],
      stepAlts: IndexedSeq[IndexedSeq[Cep.Step]],
      stepVarsAlts: IndexedSeq[IndexedSeq[Seq[(String, Int)]]],
      measures: Seq[MatchRecognize.Measure], strOrd: Array[Boolean],
      withinMs: Long, skip: Cep.AfterMatch,
      subsets: Map[String, Seq[String]] = Map.empty,
      aggSpec: MatchRecognize.AggSpec = null): Dataset[MrSMatch] = {
    implicit val out: Encoder[MrSMatch] = Encoders.product[MrSMatch]
    ds.groupByKey(_.key)(Encoders.STRING)
      .transformWithState(
        new StreamingMatchProcess(stepAlts, stepVarsAlts, measures, strOrd,
          withinMs, skip, subsets, aggSpec),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** ALL ROWS PER MATCH variant: one output row per matched input row. */
  def runAllRows(ds: Dataset[MrSEvent],
      stepAlts: IndexedSeq[IndexedSeq[Cep.Step]],
      stepVarsAlts: IndexedSeq[IndexedSeq[Seq[(String, Int)]]],
      measures: Seq[MatchRecognize.Measure], strOrd: Array[Boolean],
      withinMs: Long, skip: Cep.AfterMatch,
      subsets: Map[String, Seq[String]] = Map.empty,
      aggSpec: MatchRecognize.AggSpec = null): Dataset[MrSAllRow] = {
    implicit val out: Encoder[MrSAllRow] = Encoders.product[MrSAllRow]
    ds.groupByKey(_.key)(Encoders.STRING)
      .transformWithState(
        new StreamingMatchAllRowsProcess(stepAlts, stepVarsAlts, measures,
          strOrd, withinMs, skip, subsets, aggSpec),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
