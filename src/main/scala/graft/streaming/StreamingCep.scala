package graft.streaming

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

/** Streaming general pattern match (quantifiers, optional steps, AFTER
  * MATCH SKIP) — the unbounded-stream counterpart of [[Cep.matchPattern]],
  * sharing its scan/backtracking core. Events buffer in ListState until
  * the watermark passes; the scan emits only RESOLVED matches — a match
  * whose greedy quantifiers touch the buffer end stays pending (its
  * events remain buffered) until either a later event resolves it or the
  * watermark moves past the WITHIN window of its start event, after which
  * no future event can join it. Consumed events are physically dropped
  * from state, so state per key is the pending suffix + in-flight events
  * — the same bound Flink's NFA SharedBuffer carries under a watermark.
  */
class StreamingPatternProcess(alts: IndexedSeq[IndexedSeq[Cep.Step]], withinMs: Long,
    skip: Cep.AfterMatch)
    extends KeyedProcess[Long, Cep.Event, Cep.PMatch] {
  @transient private var buf: ListState[Cep.Event] = _

  override def open(h: StatefulProcessorHandle, om: OutputMode, tm: TimeMode): Unit = {
    buf = h.getListState[Cep.Event]("buf", StateEncoders.cepEvent, TTLConfig.NONE)
  }

  override def onElement(key: Long, v: Cep.Event, tv: TimerValues,
      emit: Cep.PMatch => Unit): Unit = {
    buf.appendValue(v)
    registerTimer(v.ts)
  }

  override def onTimer(key: Long, expiryMs: Long, tv: TimerValues,
      emit: Cep.PMatch => Unit): Unit = {
    val wm = math.max(tv.getCurrentWatermarkInMs, expiryMs)
    val (readyRaw, pending) = buf.get().toArray.partition(_.ts <= wm)
    if (readyRaw.nonEmpty) {
      val ready = readyRaw.sortBy(e => (e.ts, e.id))
      val (matches, resume) =
        Cep.scanAlts(ready, alts, withinMs, skip, openEnded = true, wm = wm)
      matches.foreach(emit)
      buf.clear()
      val keep = ready.drop(resume) ++ pending
      if (keep.nonEmpty) {
        buf.appendList(keep)
        // pending events need a revisit when the watermark advances —
        // their own ts-timers have already fired
        registerTimer(wm + 1)
      }
    }
  }
}

/** Relaxed-contiguity pattern (followedBy / notFollowedBy chains) over a
  * watermarked stream — [[StreamingPatternProcess]] with the relaxed
  * scan ([U] flink-cep NFA under SKIP_TILL_NEXT/SKIP_TILL_ANY). The
  * same resolution rule applies: an occurrence search or quantifier
  * that runs into the buffer end stays pending until more events or the
  * watermark close the WITHIN window.
  */
class StreamingRelaxedProcess(elems: IndexedSeq[Cep.RelElem], withinMs: Long,
    overlapping: Boolean)
    extends KeyedProcess[Long, Cep.Event, Cep.RMatch] {
  @transient private var buf: ListState[Cep.Event] = _

  override def open(h: StatefulProcessorHandle, om: OutputMode, tm: TimeMode): Unit = {
    buf = h.getListState[Cep.Event]("buf", StateEncoders.cepEvent, TTLConfig.NONE)
  }

  override def onElement(key: Long, v: Cep.Event, tv: TimerValues,
      emit: Cep.RMatch => Unit): Unit = {
    buf.appendValue(v)
    registerTimer(v.ts)
  }

  override def onTimer(key: Long, expiryMs: Long, tv: TimerValues,
      emit: Cep.RMatch => Unit): Unit = {
    val wm = math.max(tv.getCurrentWatermarkInMs, expiryMs)
    val (readyRaw, pending) = buf.get().toArray.partition(_.ts <= wm)
    if (readyRaw.nonEmpty) {
      val ready = readyRaw.sortBy(e => (e.ts, e.id))
      val (matches, resume) = Cep.scanRelaxed(ready, ready.map(_.ts), elems,
        withinMs, overlapping, openEnded = true, wm = wm)
      matches.foreach(emit)
      buf.clear()
      val keep = ready.drop(resume) ++ pending
      if (keep.nonEmpty) {
        buf.appendList(keep)
        registerTimer(wm + 1)
      }
    }
  }
}

/** Streaming funnel analysis: every anchored start resolves to exactly
  * one outcome — completed when the pattern finishes, or ABANDONED once
  * the watermark passes the anchor's WITHIN window without completion
  * ([U] flink-cep TimedOutPartialMatchHandler behind event time).
  */
class StreamingFunnelProcess(elems: IndexedSeq[Cep.RelElem], withinMs: Long)
    extends KeyedProcess[Long, Cep.Event, Cep.FunnelOut] {
  @transient private var buf: ListState[Cep.Event] = _

  override def open(h: StatefulProcessorHandle, om: OutputMode, tm: TimeMode): Unit = {
    buf = h.getListState[Cep.Event]("buf", StateEncoders.cepEvent, TTLConfig.NONE)
  }

  override def onElement(key: Long, v: Cep.Event, tv: TimerValues,
      emit: Cep.FunnelOut => Unit): Unit = {
    buf.appendValue(v)
    registerTimer(v.ts)
    // the anchor resolves as abandoned when its window closes
    if (withinMs < Long.MaxValue / 8) registerTimer(v.ts + withinMs + 1)
  }

  override def onTimer(key: Long, expiryMs: Long, tv: TimerValues,
      emit: Cep.FunnelOut => Unit): Unit = {
    val wm = math.max(tv.getCurrentWatermarkInMs, expiryMs)
    val (readyRaw, pending) = buf.get().toArray.partition(_.ts <= wm)
    if (readyRaw.nonEmpty) {
      val ready = readyRaw.sortBy(e => (e.ts, e.id))
      val (matches, resume) = Cep.scanFunnel(ready, ready.map(_.ts), elems,
        withinMs, openEnded = true, wm = wm)
      matches.foreach(emit)
      buf.clear()
      val keep = ready.drop(resume) ++ pending
      if (keep.nonEmpty) {
        buf.appendList(keep)
        registerTimer(wm + 1)
      }
    }
  }
}

object StreamingCep {
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
    * keeps the scan buffered (Cep.tryMatchAlts' preference rule).
    */
  def matchPatternAlts(ds: Dataset[Cep.Event], alts: IndexedSeq[IndexedSeq[Cep.Step]],
      withinMs: Long, skip: Cep.AfterMatch = Cep.SkipPastLastRow)
      : Dataset[Cep.PMatch] = {
    implicit val out: Encoder[Cep.PMatch] = Encoders.product[Cep.PMatch]
    alts.foreach(Cep.requireNonIterative)
    ds.groupByKey(_.key)(Encoders.scalaLong)
      .transformWithState(new StreamingPatternProcess(alts, withinMs, skip),
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
      .transformWithState(new StreamingRelaxedProcess(el, withinMs, overlapping),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
