package graft.streaming

import scala.reflect.ClassTag

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming._
import graft.operators.Cep

/** Streaming CEP — MATCH_RECOGNIZE's `A B+ C WITHIN t` subset over an
  * unbounded keyed stream ([U] flink-cep nfa/NFA.java with its ordered
  * event buffer; SURVEY.md §7.4.5). The same pure NFA stepper as the
  * batch operator (Cep.step) runs here behind a watermark:
  *
  *  - out-of-order events buffer in ListState with a timer per event ts;
  *  - when the watermark passes, buffered events ≤ watermark are sorted
  *    and fed through the NFA whose register (Cep.NfaState) persists in
  *    ValueState across firings — so partial matches span micro-batches.
  *
  * State per key: the watermark-bounded buffer + one O(1) NFA register —
  * the same bound Flink's NFA carries for this pattern class.
  */
class StreamingCepProcess(a: String, b: String, c: String, withinMs: Long)
    extends KeyedProcess[Long, Cep.Event, Cep.Match] {
  @transient private var buf: ListState[Cep.Event] = _
  @transient private var reg: ValueState[Cep.NfaState] = _

  override def open(h: StatefulProcessorHandle, om: OutputMode, tm: TimeMode): Unit = {
    buf = h.getListState[Cep.Event]("buf", StateEncoders.cepEvent, TTLConfig.NONE)
    reg = h.getValueState[Cep.NfaState]("reg", StateEncoders.cepNfaState, TTLConfig.NONE)
  }

  override def onElement(key: Long, v: Cep.Event, tv: TimerValues,
      emit: Cep.Match => Unit): Unit = {
    buf.appendValue(v)
    registerTimer(v.ts)
  }

  override def onTimer(key: Long, expiryMs: Long, tv: TimerValues,
      emit: Cep.Match => Unit): Unit = {
    val wm = math.max(tv.getCurrentWatermarkInMs, expiryMs)
    val (ready, pending) = buf.get().toArray.partition(_.ts <= wm)
    if (ready.nonEmpty) {
      var s = Option(reg.get()).getOrElse(Cep.idle)
      ready.sortBy(e => (e.ts, e.id)).foreach { e =>
        val (ns, m) = Cep.step(s, e, a, b, c, withinMs)
        s = ns
        m.foreach(emit)
      }
      reg.update(s)
      buf.clear()
      if (pending.nonEmpty) buf.appendList(pending)
    }
  }
}

/** The watermark buffer every streaming pattern kernel runs behind:
  * events buffer in ListState with a timer per event time; when the
  * watermark passes, the buffered events at or before it are sorted and
  * scanned, and the scan emits only RESOLVED matches — a match that could
  * still change with later events stays pending (its events remain
  * buffered) until a later event resolves it or the watermark moves past
  * the WITHIN window of its start, after which no future event can join
  * it. Events before the scan's resume index are dropped from state, so
  * state per key is the pending suffix + in-flight events — the same
  * bound Flink's NFA SharedBuffer carries under a watermark.
  */
abstract class BufferedScanProcess[K, E: ClassTag, O] extends KeyedProcess[K, E, O] {
  @transient private var buf: ListState[E] = _

  protected def stateEncoder: Encoder[E]
  protected def tsOf(e: E): Long
  protected def order: Ordering[E]
  /** Scan the sorted, watermark-ready events of `key`: emit the resolved
    * matches and return the resume index.
    */
  protected def scan(key: K, ready: Array[E], wm: Long, emit: O => Unit): Int

  override def open(h: StatefulProcessorHandle, om: OutputMode, tm: TimeMode): Unit =
    buf = h.getListState[E]("buf", stateEncoder, TTLConfig.NONE)

  override def onElement(key: K, v: E, tv: TimerValues, emit: O => Unit): Unit = {
    buf.appendValue(v)
    registerTimer(tsOf(v))
  }

  override def onTimer(key: K, expiryMs: Long, tv: TimerValues, emit: O => Unit): Unit = {
    val wm = math.max(tv.getCurrentWatermarkInMs, expiryMs)
    val (readyRaw, pending) = buf.get().toArray.partition(tsOf(_) <= wm)
    if (readyRaw.nonEmpty) {
      val ready = readyRaw.sorted(order)
      val resume = scan(key, ready, wm, emit)
      buf.clear()
      val keep = ready.drop(resume) ++ pending
      if (keep.nonEmpty) {
        buf.appendList(keep)
        // pending events need a revisit when the watermark advances —
        // their own timers have already fired
        registerTimer(wm + 1)
      }
    }
  }
}

/** A [[Cep]] scan over a watermarked keyed event stream — the
  * unbounded-stream counterpart of the batch pattern APIs, running the
  * same scan ([[Cep.scanAlts]], [[Cep.scanRelaxed]], [[Cep.scanFunnel]])
  * behind the watermark with `openEnded` set.
  */
class StreamingScanProcess[O](
    scanFn: (Array[Cep.Event], Boolean, Long) => (Seq[O], Int))
    extends BufferedScanProcess[Long, Cep.Event, O] {
  override protected def stateEncoder: Encoder[Cep.Event] = StateEncoders.cepEvent
  override protected def tsOf(e: Cep.Event): Long = e.ts
  override protected def order: Ordering[Cep.Event] = StreamingCep.eventOrder
  override protected def scan(key: Long, ready: Array[Cep.Event], wm: Long,
      emit: O => Unit): Int = {
    val (matches, resume) = scanFn(ready, true, wm)
    matches.foreach(emit)
    resume
  }
}

/** Streaming funnel analysis: every anchored start resolves to exactly
  * one outcome — completed when the pattern finishes, or ABANDONED once
  * the watermark passes the anchor's WITHIN window without completion
  * ([U] flink-cep TimedOutPartialMatchHandler behind event time).
  */
class StreamingFunnelProcess(elems: IndexedSeq[Cep.RelElem], withinMs: Long)
    extends StreamingScanProcess[Cep.FunnelOut](
      Cep.scanFunnel(_, elems, withinMs, _, _)) {
  override def onElement(key: Long, v: Cep.Event, tv: TimerValues,
      emit: Cep.FunnelOut => Unit): Unit = {
    super.onElement(key, v, tv, emit)
    // the anchor resolves as abandoned when its window closes
    if (withinMs < Long.MaxValue / 8) registerTimer(v.ts + withinMs + 1)
  }
}

object StreamingCep {
  private[streaming] val eventOrder: Ordering[Cep.Event] =
    Ordering.by((e: Cep.Event) => (e.ts, e.id))

  /** `a b+ c WITHIN withinMs` over a watermarked keyed event stream. */
  def abcWithin(ds: Dataset[Cep.Event], a: String, b: String, c: String,
      withinMs: Long): Dataset[Cep.Match] = {
    implicit val out: Encoder[Cep.Match] = Encoders.product[Cep.Match]
    ds.groupByKey(_.key)(Encoders.scalaLong)
      .transformWithState(new StreamingCepProcess(a, b, c, withinMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** General quantified pattern over a watermarked keyed event stream. */
  def matchPattern(ds: Dataset[Cep.Event], steps: Seq[Cep.Step],
      withinMs: Long, skip: Cep.AfterMatch = Cep.SkipPastLastRow)
      : Dataset[Cep.PMatch] =
    matchPatternAlts(ds, IndexedSeq(steps.toIndexedSeq), withinMs, skip)

  /** [[matchPattern]] over alternative step sequences (PERMUTE): first
    * matching alternative wins; a pending higher-preference alternative
    * keeps the scan buffered (Cep.walk's preference rule).
    */
  def matchPatternAlts(ds: Dataset[Cep.Event], alts: IndexedSeq[IndexedSeq[Cep.Step]],
      withinMs: Long, skip: Cep.AfterMatch = Cep.SkipPastLastRow)
      : Dataset[Cep.PMatch] = {
    implicit val out: Encoder[Cep.PMatch] = Encoders.product[Cep.PMatch]
    ds.groupByKey(_.key)(Encoders.scalaLong)
      .transformWithState(
        new StreamingScanProcess(Cep.scanAlts(_, alts, withinMs, skip, _, _)),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming funnel analysis over a relaxed pattern: completed
    * matches emit when the pattern finishes; an open anchor emits as
    * ABANDONED (completed=false, deepest partial) once the watermark
    * passes its WITHIN window.
    */
  def matchFunnel(ds: Dataset[Cep.Event], elems: Seq[Cep.RelElem],
      withinMs: Long): Dataset[Cep.FunnelOut] = {
    implicit val out: Encoder[Cep.FunnelOut] = Encoders.product[Cep.FunnelOut]
    val el = elems.toIndexedSeq
    Cep.validateRelaxed(el)
    ds.groupByKey(_.key)(Encoders.scalaLong)
      .transformWithState(new StreamingFunnelProcess(el, withinMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Relaxed-contiguity pattern (followedBy / followedByAny / notNext /
    * notFollowedBy) over a watermarked keyed event stream.
    */
  def matchPatternRelaxed(ds: Dataset[Cep.Event], elems: Seq[Cep.RelElem],
      withinMs: Long, overlapping: Boolean = false): Dataset[Cep.RMatch] = {
    implicit val out: Encoder[Cep.RMatch] = Encoders.product[Cep.RMatch]
    val el = elems.toIndexedSeq
    Cep.validateRelaxed(el)
    ds.groupByKey(_.key)(Encoders.scalaLong)
      .transformWithState(
        new StreamingScanProcess(Cep.scanRelaxed(_, el, withinMs, overlapping, _, _)),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
