package graft.operators

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions.col

/** Minimal CEP — the reference's MATCH_RECOGNIZE / CEP library
  * ([U] flink-cep nfa/NFA.java, pattern/Pattern.java; SURVEY.md §7.4.5:
  * "scope to a minimal NFA ... for the `A B+ C within T` class patterns,
  * do not build the general library").
  *
  * Semantics implemented (matching Flink's MATCH_RECOGNIZE defaults where
  * they exist):
  *  - pattern `A B+ C` with STRICT contiguity (Flink `next()`): any
  *    non-matching symbol aborts the partial match;
  *  - `WITHIN t`: the whole match must fit in `withinMs` of the A event;
  *  - AFTER MATCH SKIP PAST LAST ROW: matches don't overlap;
  *  - events processed in (ts, id) order per key.
  *
  * Execution: hash-repartition on key + `sortWithinPartitions(key, ts,
  * id)` (Spark's external sort — spills, never materializes a key in
  * memory) + a `mapPartitions` scan holding only a WITHIN-bounded
  * lookback buffer ([[boundedScanPartition]]). Per-task memory is
  * bounded by one WITHIN window's occupancy — the same bound Flink's
  * NFA carries via its pruned SharedBuffer — NOT by a key's whole
  * history, so a hot key (one user with 10⁸ events) sorts externally
  * and streams through the scan instead of OOMing the task. Keys are
  * processed independently and distributed by the shuffle, so the
  * operator scales with executors.
  *
  * Every general pattern API here, its streaming twin and the SQL
  * MATCH_RECOGNIZE rewrite run one backtracking walk ([[walk]]) under one
  * anchor loop ([[anchorLoop]]). Only `abcWithin` keeps its O(1) register
  * NFA ([[step]]): when symbols coincide (`A B+ B`) the register never
  * emits where the walk backtracks and matches.
  */
object Cep {

  case class Event(key: Long, id: Long, ts: Long, sym: String, value: Double = 0.0)
  case class Match(key: Long, a_id: Long, c_id: Long, n_b: Int, a_ts: Long, c_ts: Long)

  /** NFA register: 0 = idle, 1 = saw A, 2 = saw A B+; plus the pending A
    * and B-count. Pure value so batch and streaming share the stepper and
    * streaming can persist it in ValueState between watermark firings.
    */
  case class NfaState(state: Int, aId: Long, aTs: Long, nB: Int)
  val idle: NfaState = NfaState(0, 0L, 0L, 0)

  /** One NFA transition on a time-ordered event. */
  def step(s: NfaState, e: Event, a: String, b: String, c: String, withinMs: Long)
      : (NfaState, Option[Match]) = {
    val cur = if (s.state != 0 && e.ts - s.aTs > withinMs) idle else s
    (cur.state, e.sym) match {
      case (0, `a`) => (NfaState(1, e.id, e.ts, 0), None)
      case (0, _)   => (cur, None)
      case (1, `b`) => (cur.copy(state = 2, nB = 1), None)
      case (2, `b`) => (cur.copy(nB = cur.nB + 1), None)
      case (2, `c`) =>
        (idle, Some(Match(e.key, cur.aId, e.id, cur.nB, cur.aTs, e.ts)))
      case (_, `a`) => (NfaState(1, e.id, e.ts, 0), None) // restart on fresh A
      case _        => (idle, None) // strict contiguity: abort
    }
  }

  /** Hash-shuffle on key and sort each partition (key, ts, id) — the
    * shared input shape of every batch kernel here. Spark's sort is
    * external (spills past memory), so a hot key never has to fit in RAM.
    */
  private def sortedByKey(ds: Dataset[Event]): Dataset[Event] =
    ds.repartition(col("key")).sortWithinPartitions(col("key"), col("ts"), col("id"))

  /** Events appended to the lookback buffer between rescans. Smaller =
    * tighter memory, more rescan passes over the retained window; the
    * scan cost per event is O(retained/chunk) extra passes.
    */
  private[graft] val ScanChunk = 4096

  /** Bounded-memory scan of a key-clustered, (key, ts, id)-sorted
    * partition iterator. `scanFn(events, openEnded, wm)` is a scan over
    * [[anchorLoop]]: it emits every match RESOLVED given events up to the
    * horizon and returns the resume index — the first position a future
    * event could still affect.
    * Everything before the resume index is evicted, so the buffer
    * retains at most one WITHIN window of events (plus a chunk): with
    * `wm` = the last buffered timestamp, any anchor older than
    * `withinMs` is closed and resolves definitively, exactly the
    * streaming eviction contract (StreamingCep) replayed over a batch
    * iterator.
    */
  private[graft] def boundedScanPartition[Out](rows: Iterator[Event])(
      scanFn: (Array[Event], Boolean, Long) => (Seq[Out], Int)): Iterator[Out] =
    boundedScanPartitionBy(rows)(_.key, _.ts)(scanFn)

  /** [[boundedScanPartition]] over any row type — the MATCH_RECOGNIZE
    * kernels scan tagged rows keyed by a canonical string, so the key
    * extractor compares by value equality and `tsOf` supplies the order
    * value that closes WITHIN windows. `onNewKey` fires before the first
    * scan of each key run, for per-key carry state (MATCH_NUMBER bases).
    */
  private[graft] def boundedScanPartitionBy[E: scala.reflect.ClassTag, Out](
      rows: Iterator[E])(keyOf: E => Any, tsOf: E => Long)(
      scanFn: (Array[E], Boolean, Long) => (Seq[Out], Int),
      onNewKey: () => Unit = () => ()): Iterator[Out] =
    new Iterator[Out] {
      private val it = rows.buffered
      private val buf = scala.collection.mutable.ArrayBuffer.empty[E]
      private var outIt: Iterator[Out] = Iterator.empty
      private var curKey: Any = null
      private var started = false
      override def hasNext: Boolean = {
        while (!outIt.hasNext && (it.hasNext || buf.nonEmpty)) advance()
        outIt.hasNext
      }
      override def next(): Out = {
        if (!hasNext) throw new NoSuchElementException("end of scan")
        outIt.next()
      }
      private def advance(): Unit = {
        if (buf.isEmpty) {
          val e = it.next()
          // the buffer also drains mid-key when a scan resolves everything
          // in view — only a genuine key change resets per-key carry state
          if (!started || keyOf(e) != curKey) {
            onNewKey(); curKey = keyOf(e); started = true
          }
          buf += e
        }
        val key = keyOf(buf.head)
        var added = 0
        while (added < ScanChunk && it.hasNext && keyOf(it.head) == key) {
          buf += it.next(); added += 1
        }
        val keyDone = !it.hasNext || keyOf(it.head) != key
        if (keyDone) {
          // complete history for this key is in view: close the scan
          val (ms, _) = scanFn(buf.toArray, false, Long.MaxValue)
          buf.clear()
          outIt = ms.iterator
        } else {
          val (ms, resume) = scanFn(buf.toArray, true, tsOf(buf.last))
          buf.dropInPlace(resume)
          outIt = ms.iterator
        }
      }
    }

  /** Detect `a b+ c WITHIN withinMs` per key. The NFA state is O(1), so
    * the scan is a pure single pass over the sorted run — no buffer at
    * all, state resets at each key boundary.
    */
  def abcWithin(ds: Dataset[Event], a: String, b: String, c: String, withinMs: Long)
      : Dataset[Match] = {
    implicit val matchEnc = Encoders.product[Match]
    sortedByKey(ds).mapPartitions { rows =>
      var s = idle
      var curKey = Long.MinValue
      var first = true
      rows.flatMap { e =>
        if (first || e.key != curKey) { s = idle; curKey = e.key; first = false }
        val (ns, m) = step(s, e, a, b, c, withinMs)
        s = ns
        m
      }
    }
  }

  // ----- general pattern matching: quantifiers, optional steps, AFTER
  // MATCH SKIP strategies ([U] flink-cep pattern/Pattern.java times()/
  // optional(), aftermatch/AfterMatchSkipStrategy.java) -----

  /** One pattern step: between `min` and `max` (inclusive) consecutive
    * events accepted by the step's condition. min=0 → optional;
    * (1, MaxTimes) → `+`. Quantifiers are greedy with backtracking
    * (Flink/regex default); `reluctant` flips the backtrack order to
    * fewest-first ([U] flink-cep Quantifier.java greedy()/reluctant() —
    * `+?` `*?` `??` `{n,m}?`).
    */
  sealed trait Step extends Serializable {
    def min: Int
    def max: Int
    def reluctant: Boolean
    /** Whether `e` may join this step; `partial` is the events the
      * partial match has consumed so far, in match order (built only
      * when an iterative condition asks for it).
      */
    def accepts(e: Event, partial: => IndexedSeq[Event]): Boolean
    /** Step label — the pattern variable for simple steps; used by the
      * SKIP TO FIRST/LAST `<variable>` strategies to locate the step.
      */
    def name: String
  }

  /** Symbol-equality step (MATCH_RECOGNIZE pattern variable whose DEFINE
    * is `CLASSIFIER() = sym`).
    */
  case class PStep(sym: String, min: Int, max: Int,
      reluctant: Boolean = false) extends Step {
    require(min >= 0 && max >= min, s"bad quantifier {$min,$max}")
    override def accepts(e: Event, partial: => IndexedSeq[Event]): Boolean = e.sym == sym
    override def name: String = sym
  }

  /** Predicate step — the general DEFINE clause ([U] flink-cep
    * pattern/conditions/SimpleCondition.java): any per-event condition
    * over the event's attributes.
    */
  case class CondStep(name: String, min: Int, max: Int,
      reluctant: Boolean = false)(val pred: Event => Boolean)
      extends Step {
    require(min >= 0 && max >= min, s"bad quantifier {$min,$max}")
    override def accepts(e: Event, partial: => IndexedSeq[Event]): Boolean = pred(e)
  }

  /** Iterative condition ([U] flink-cep pattern/conditions/
    * IterativeCondition.java — Flink's signature CEP feature): the
    * predicate also sees the events already CONSUMED by the current
    * partial match (previous steps plus this step's earlier
    * repetitions, in match order), so conditions like "price above the
    * first event's" are expressible. Every pattern API takes it.
    */
  case class CtxStep(name: String, min: Int, max: Int,
      reluctant: Boolean = false)(
      val pred: (Event, IndexedSeq[Event]) => Boolean) extends Step {
    override def accepts(e: Event, partial: => IndexedSeq[Event]): Boolean =
      pred(e, partial)
  }

  def whenCtx(name: String, min: Int = 1, max: Int = 1, reluctant: Boolean = false)(
      pred: (Event, IndexedSeq[Event]) => Boolean): CtxStep =
    CtxStep(name, min, max, reluctant)(pred)

  val MaxTimes: Int = Int.MaxValue
  def once(sym: String): PStep = PStep(sym, 1, 1)
  def opt(sym: String): PStep = PStep(sym, 0, 1)
  def plus(sym: String): PStep = PStep(sym, 1, MaxTimes)
  def times(sym: String, min: Int, max: Int): PStep = PStep(sym, min, max)
  def when(name: String, min: Int = 1, max: Int = 1, reluctant: Boolean = false)(
      pred: Event => Boolean): CondStep =
    CondStep(name, min, max, reluctant)(pred)
  /** Alternation step — `(A|B)` class patterns ([U] flink-cep
    * GroupPattern): accepts an event whose symbol is ANY of `syms`.
    */
  def anyOf(min: Int, max: Int, syms: String*): CondStep = {
    val set = syms.toSet
    CondStep(syms.mkString("(", "|", ")"), min, max)(e => set.contains(e.sym))
  }

  /** AFTER MATCH SKIP strategy: where the scan resumes after a match. */
  sealed trait AfterMatch extends Serializable
  /** Non-overlapping matches (Flink's default for MATCH_RECOGNIZE). */
  case object SkipPastLastRow extends AfterMatch
  /** Overlapping: resume at the row after the match's first row. */
  case object SkipToNextRow extends AfterMatch
  /** Resume AT the first row the named step matched ([U] flink-cep
    * aftermatch/AfterMatchSkipStrategy.skipToFirst). Like Flink, a
    * resume that would land on the match's own first row (an infinite
    * loop) or on a step that matched no rows raises.
    */
  case class SkipToFirst(variable: String) extends AfterMatch
  /** Resume AT the last row the named step matched (skipToLast). */
  case class SkipToLast(variable: String) extends AfterMatch

  // ----- relaxed contiguity + negative patterns ([U] flink-cep
  // Pattern.next/followedBy/followedByAny/notNext/notFollowedBy) -----

  /** Contiguity of a step to the previous one: [[NextC]] = strict
    * (Flink `next`), [[FollowedByC]] = skip-till-next — non-matching
    * events between the steps are skipped and the FIRST occurrence is
    * taken, no backtracking to later ones (Flink `followedBy` /
    * SKIP_TILL_NEXT), [[FollowedByAnyC]] = skip-till-any — later
    * occurrences are tried when the remainder fails (Flink
    * `followedByAny` / SKIP_TILL_ANY).
    */
  sealed trait Contiguity extends Serializable
  case object NextC extends Contiguity
  case object FollowedByC extends Contiguity
  case object FollowedByAnyC extends Contiguity

  /** One element of a pattern; a strict pattern is all [[NextC]]
    * positive elements.
    */
  sealed trait RelElem extends Serializable
  /** A positive step (consumes events) with its contiguity. The FIRST
    * positive element anchors at the scan position (Flink `begin`), so
    * its contiguity is ignored.
    */
  final case class PosElem(step: Step, contiguity: Contiguity = NextC) extends RelElem
  /** A negative pattern (consumes nothing): `strict` asserts the
    * immediate next event does not match (Flink `notNext`); relaxed
    * asserts NO matching event occurs in the span skipped before the
    * next positive step's match (Flink `notFollowedBy`). Like Flink, a
    * pattern cannot END with a relaxed negative element.
    */
  final case class NegElem(name: String, strict: Boolean)(val pred: Event => Boolean)
      extends RelElem

  def next(s: Step): RelElem = PosElem(s, NextC)
  def followedBy(s: Step): RelElem = PosElem(s, FollowedByC)
  def followedByAny(s: Step): RelElem = PosElem(s, FollowedByAnyC)
  def notNext(name: String)(pred: Event => Boolean): RelElem =
    NegElem(name, strict = true)(pred)
  def notFollowedBy(name: String)(pred: Event => Boolean): RelElem =
    NegElem(name, strict = false)(pred)

  /** Next scan position after a match at [i, end) whose per-step
    * consumption is `takes` (a strict pattern: the match is contiguous).
    * SKIP TO FIRST/LAST resolves the variable to the FIRST step bearing
    * that name (a variable reused across several steps lands on its
    * first step — a documented simplification of Flink's row-level
    * mapping).
    */
  private[graft] def resumeAfter(skip: AfterMatch, i: Int, end: Int,
      elems: IndexedSeq[RelElem], takes: Array[Int]): Int = {
    def stepPos(v: String, last: Boolean): Int = {
      val si = elems.indexWhere {
        case PosElem(st, _) => st.name == v
        case _              => false
      }
      if (si < 0)
        throw new IllegalArgumentException(
          s"AFTER MATCH SKIP TO $v: no pattern step named $v")
      if (takes(si) == 0)
        throw new IllegalArgumentException(
          s"AFTER MATCH SKIP TO $v: the variable matched no rows in this match")
      var pos = i
      var s = 0
      while (s < si) { pos += takes(s); s += 1 }
      val target = if (last) pos + takes(si) - 1 else pos
      if (target == i) // resume on the match's own first row: infinite loop
        throw new IllegalArgumentException(
          s"AFTER MATCH SKIP TO $v would loop on the match's first row")
      target
    }
    skip match {
      case SkipPastLastRow   => end
      case SkipToNextRow     => i + 1
      case SkipToFirst(v)    => stepPos(v, last = false)
      case SkipToLast(v)     => stepPos(v, last = true)
    }
  }

  /** Outcome of matching at one start position. */
  private[graft] final val Fail = -1
  private[graft] final val Pending = -2

  /** Decides, for the [[walk]], whether row `p` may join pattern element
    * `ei`: a positive step's next repetition, or the row a negative
    * element forbids. `partial` is the rows the partial match has
    * consumed, in match order. The walk reports each row it adds to the
    * partial match (`commit`) and takes back (`rewind`) in its LIFO
    * backtracking order, so an acceptor may keep running state over the
    * partial match; `reset` starts each walk afresh.
    */
  private[graft] trait Acceptor {
    def accepts(ei: Int, p: Int, partial: scala.collection.IndexedSeq[Int]): Boolean
    def commit(ei: Int, p: Int): Unit = ()
    def rewind(ei: Int, p: Int): Unit = ()
    def reset(): Unit = ()
  }

  /** The acceptor over [[Event]]s: each element's own condition, with no
    * state of its own — an iterative condition reads the partial match.
    */
  private[graft] final class EventAcceptor(events: Array[Event],
      elems: IndexedSeq[RelElem]) extends Acceptor {
    override def accepts(ei: Int, p: Int,
        partial: scala.collection.IndexedSeq[Int]): Boolean = elems(ei) match {
      case PosElem(st, _) => st.accepts(events(p), partial.map(events(_)).toIndexedSeq)
      case ne: NegElem    => ne.pred(events(p))
    }
  }

  /** One anchored walk's outcome: `end` is the exclusive end index,
    * [[Fail]] or [[Pending]]; a match also carries the alternative that
    * matched (`alt`), each element's row count (`takes`) and the
    * consumed row indices in match order (`rows`).
    */
  private[graft] final case class Walk(end: Int, alt: Int = -1,
      takes: Array[Int] = null, rows: IndexedSeq[Int] = null)
  private val failed = Walk(Fail)
  private val pending = Walk(Pending)

  /** The backtracking match anchored at `start` over `n` time-sorted
    * rows with times `ts` — every pattern kernel (strict, relaxed,
    * measured and SQL) runs this one walk. Each alternative element
    * sequence is tried in order with its acceptor, and the FIRST that
    * matches wins (the SQL standard's leftmost-alternative preference —
    * PERMUTE(A, B) ≡ (A B | B A)). Quantifiers are greedy with
    * backtracking, or fewest-first when reluctant; all consumed rows lie
    * within `withinMs` of the start row, and a match that consumes no row
    * fails. When `openEnded` (more rows may still arrive), the outcome is
    * [[Pending]] if it could change with more rows: a quantifier or an
    * occurrence search ran into the end, or a strict negative had no row
    * to test yet. A higher-preference alternative that is Pending pends
    * the whole outcome, since committing a lesser one now would emit a
    * match a full-history scan would not. `partialOut` (when non-null)
    * receives the deepest partial any anchored walk reached — the
    * abandoned funnel row.
    */
  private[graft] def walk(ts: Array[Long], start: Int,
      alts: IndexedSeq[IndexedSeq[RelElem]], accs: IndexedSeq[Acceptor],
      withinMs: Long, openEnded: Boolean,
      partialOut: scala.collection.mutable.ArrayBuffer[Int] = null): Walk = {
    val n = ts.length
    if (partialOut != null) partialOut.clear()
    var ai = 0
    while (ai < alts.length) {
      val elems = alts(ai)
      val acc = accs(ai)
      acc.reset()
      var isPending = false
      val consumed = scala.collection.mutable.ArrayBuffer.empty[Int]
      val takes = new Array[Int](elems.length)
      val firstPos = elems.indexWhere(_.isInstanceOf[PosElem])
      def inWindow(j: Int): Boolean = ts(j) - ts(start) <= withinMs
      def snapshotPartial(): Unit =
        if (partialOut != null && consumed.length > partialOut.length) {
          partialOut.clear(); partialOut ++= consumed
        }
      // guards: the relaxed negatives to verify over the span skipped
      // before the next positive match
      def rec(pos: Int, ei: Int, guards: List[Int]): Int = {
        if (ei == elems.length) return pos
        elems(ei) match {
          case ne: NegElem if ne.strict =>
            if (pos >= n) { if (openEnded) isPending = true; return Fail }
            if (acc.accepts(ei, pos, consumed)) Fail else rec(pos, ei + 1, guards)
          case _: NegElem =>
            rec(pos, ei + 1, ei :: guards)
          case PosElem(st, contig0) =>
            val contig = if (ei == firstPos) NextC else contig0
            // consecutive consumption at j (greedy count, then backtrack);
            // a failed attempt leaves the partial match as it found it
            def attempt(j: Int): Int = {
              val mark = consumed.length
              var cnt = 0
              while (cnt < st.max && j + cnt < n && inWindow(j + cnt) &&
                acc.accepts(ei, j + cnt, consumed)) {
                consumed += j + cnt; acc.commit(ei, j + cnt); cnt += 1
              }
              val atEdge = openEnded && j + cnt == n && cnt < st.max
              def setTaken(take: Int): Unit = {
                while (consumed.length > mark + take)
                  acc.rewind(ei, consumed.remove(consumed.length - 1))
                while (consumed.length < mark + take) {
                  val p = j + consumed.length - mark
                  consumed += p; acc.commit(ei, p)
                }
              }
              def tryTake(take: Int): Int = {
                setTaken(take)
                if (take >= st.min) snapshotPartial()
                val r = rec(j + take, ei + 1, Nil)
                if (r >= 0) takes(ei) = take
                r
              }
              if (st.reluctant) {
                // fewest-first: extend only when the remainder fails. A
                // success is RESOLVED even at the buffer edge — a future
                // row could only extend this step, which reluctant
                // preference rejects — so the edge pends the outcome only
                // when every take fails
                var take = st.min
                while (take <= cnt) {
                  val r = tryTake(take)
                  if (r >= 0) return r
                  take += 1
                }
                if (atEdge) isPending = true
              } else {
                // greedy stopped at the buffer end with quantifier room
                // left: a future row could extend this step into a MORE
                // preferred (longer) match, so even a success is unresolved
                if (atEdge) isPending = true
                var take = cnt
                while (take >= st.min) {
                  val r = tryTake(take)
                  if (r >= 0) return r
                  take -= 1
                }
              }
              setTaken(0)
              Fail
            }
            contig match {
              case NextC =>
                // the skipped span is empty under strict contiguity, so
                // any pending notFollowedBy guards hold vacuously
                attempt(pos)
              case FollowedByC | FollowedByAnyC =>
                var j = pos
                while (j < n && inWindow(j)) {
                  if (guards.exists(g => acc.accepts(g, j, consumed)))
                    return Fail // negative pattern hit first
                  if (st.min == 0 || acc.accepts(ei, j, consumed)) { // an occurrence at j
                    val r = attempt(j)
                    if (r >= 0) return r
                    if (contig == FollowedByC && st.min > 0)
                      return Fail // skip-till-next commits to the first occurrence
                  }
                  j += 1
                }
                if (openEnded && j == n) isPending = true // occurrence may still arrive
                Fail
            }
        }
      }
      val r = rec(start, 0, Nil)
      if (isPending) return pending
      if (r >= 0 && consumed.nonEmpty) return Walk(r, ai, takes, consumed.toIndexedSeq)
      ai += 1
    }
    failed
  }

  /** The anchor loop every scan shares: walk at each position in turn —
    * Pending halts (everything from there on stays buffered), Fail calls
    * `onFail` and advances, and a match goes to `emit`, which returns the
    * next position. `wm` closes the WITHIN window for pending decisions:
    * once `wm - ts(i) > withinMs`, no future row can join a match
    * anchored at `i`, so its walk is closed. Returns the resume index —
    * the first position a future row could still affect (streaming keeps
    * the rows from there; a closed scan resolves everything).
    */
  private[graft] def anchorLoop(ts: Array[Long],
      alts: IndexedSeq[IndexedSeq[RelElem]], accs: IndexedSeq[Acceptor],
      withinMs: Long, openEnded: Boolean, wm: Long,
      partialOut: scala.collection.mutable.ArrayBuffer[Int] = null,
      onFail: Int => Unit = _ => ())(emit: (Int, Walk) => Int): Int = {
    var i = 0
    var halt = false
    while (i < ts.length && !halt) {
      val w = walk(ts, i, alts, accs, withinMs,
        openEnded && wm - ts(i) <= withinMs, partialOut)
      if (w.end == Pending) halt = true
      else if (w.end == Fail) { onFail(i); i += 1 }
      else i = emit(i, w)
    }
    i
  }

  /** Hash shuffle on key + external sort + WITHIN-bounded lookback scan
    * ([[boundedScanPartition]]) — task memory bounded by the window, not
    * the key's history. The batch shape of every pattern API here.
    */
  private def perKey[Out: Encoder](ds: Dataset[Event])(
      scanFn: (Array[Event], Boolean, Long) => (Seq[Out], Int)): Dataset[Out] =
    sortedByKey(ds).mapPartitions(rows => boundedScanPartition(rows)(scanFn))

  case class PMatch(key: Long, start_id: Long, end_id: Long,
      start_ts: Long, end_ts: Long, n_events: Int)

  /** Scan a time-sorted run of events against quantified steps: emit
    * resolved matches, return the resume index ([[anchorLoop]]).
    */
  private[graft] def scan(events: Array[Event], steps: IndexedSeq[Step],
      withinMs: Long, skip: AfterMatch, openEnded: Boolean, wm: Long)
      : (Seq[PMatch], Int) =
    scanAlts(events, IndexedSeq(steps), withinMs, skip, openEnded, wm)

  /** [[scan]] over alternative step sequences ([[walk]]'s preference
    * order); AFTER MATCH SKIP resumes against the matched alternative's
    * own steps, so SKIP TO FIRST/LAST a permuted variable lands wherever
    * THAT permutation placed it.
    */
  private[graft] def scanAlts(events: Array[Event], alts: IndexedSeq[IndexedSeq[Step]],
      withinMs: Long, skip: AfterMatch, openEnded: Boolean, wm: Long)
      : (Seq[PMatch], Int) = {
    val elems = alts.map(_.map(next))
    val out = scala.collection.mutable.ArrayBuffer.empty[PMatch]
    val resume = anchorLoop(events.map(_.ts), elems,
        elems.map(new EventAcceptor(events, _)), withinMs, openEnded, wm) { (i, w) =>
      val e0 = events(i)
      val e1 = events(w.end - 1)
      out += PMatch(e0.key, e0.id, e1.id, e0.ts, e1.ts, w.end - i)
      resumeAfter(skip, i, w.end, elems(w.alt), w.takes)
    }
    (out.toSeq, resume)
  }

  /** Batch pattern match per key: greedy quantified steps with strict
    * contiguity, WITHIN window, and the chosen AFTER MATCH SKIP strategy.
    */
  def matchPattern(ds: Dataset[Event], steps: Seq[Step], withinMs: Long,
      skip: AfterMatch = SkipPastLastRow): Dataset[PMatch] =
    matchPatternAlts(ds, Seq(steps), withinMs, skip)

  /** [[matchPattern]] over alternative step sequences — the API-level
    * PERMUTE form ([U] flink-sql-parser's Calcite row-pattern PERMUTE):
    * alternatives try in listed order at each start position and the
    * first match wins.
    */
  def matchPatternAlts(ds: Dataset[Event], alts: Seq[Seq[Step]], withinMs: Long,
      skip: AfterMatch = SkipPastLastRow): Dataset[PMatch] = {
    val a = alts.map(_.toIndexedSeq).toIndexedSeq
    perKey(ds)(scanAlts(_, a, withinMs, skip, _, _))(Encoders.product[PMatch])
  }

  /** One relaxed-pattern match: span ends plus how many events were
    * CONSUMED (skipped events in relaxed gaps are not counted).
    */
  case class RMatch(key: Long, start_id: Long, end_id: Long,
      start_ts: Long, end_ts: Long, n_events: Int)

  /** Batch relaxed-contiguity pattern match per key ([U] flink-cep
    * CEP.pattern with followedBy/notFollowedBy chains). AFTER MATCH:
    * non-overlapping — the scan resumes past the last CONSUMED row
    * (Flink's NO_SKIP emits overlapping branch matches; the reference's
    * common deployment uses skip-past, which is what a non-branching
    * scan produces). Same distribution shape as [[matchPattern]].
    */
  def matchPatternRelaxed(ds: Dataset[Event], elems: Seq[RelElem],
      withinMs: Long, overlapping: Boolean = false): Dataset[RMatch] = {
    val el = elems.toIndexedSeq
    validateRelaxed(el) // fail on the driver, not wrapped in a task error
    perKey(ds)(scanRelaxed(_, el, withinMs, overlapping, _, _))(Encoders.product[RMatch])
  }

  /** One funnel outcome: a COMPLETED match, or an ABANDONED start — the
    * deepest partial the anchor reached without completing ([U]
    * flink-cep TimedOutPartialMatchHandler / CEP.select timeout tag:
    * Flink surfaces partial matches pruned by the WITHIN window; here
    * every anchored start resolves to exactly one outcome — completed,
    * abandoned, or nothing if even the first step never matched).
    */
  case class FunnelOut(key: Long, start_id: Long, end_id: Long,
      start_ts: Long, end_ts: Long, n_events: Int, completed: Boolean)

  /** Funnel analysis over a relaxed-contiguity pattern: OVERLAPPING
    * anchors (every event that satisfies the first step opens a funnel),
    * each resolving to completed=true with its consumed rows or
    * completed=false with the deepest partial reached. Batch; the
    * streaming counterpart is `StreamingCep.matchFunnel`, where an open
    * funnel resolves as abandoned once the watermark passes its WITHIN
    * window.
    */
  def matchFunnel(ds: Dataset[Event], elems: Seq[RelElem],
      withinMs: Long): Dataset[FunnelOut] = {
    val el = elems.toIndexedSeq
    validateRelaxed(el)
    perKey(ds)(scanFunnel(_, el, withinMs, _, _))(Encoders.product[FunnelOut])
  }

  private[graft] def scanFunnel(events: Array[Event], elems: IndexedSeq[RelElem],
      withinMs: Long, openEnded: Boolean, wm: Long): (Seq[FunnelOut], Int) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[FunnelOut]
    def outcome(idxs: scala.collection.IndexedSeq[Int], completed: Boolean): Unit = {
      val e0 = events(idxs.head)
      val e1 = events(idxs.last)
      out += FunnelOut(e0.key, e0.id, e1.id, e0.ts, e1.ts, idxs.length, completed)
    }
    val partial = scala.collection.mutable.ArrayBuffer.empty[Int]
    val resume = anchorLoop(events.map(_.ts), IndexedSeq(elems),
        IndexedSeq(new EventAcceptor(events, elems)), withinMs, openEnded, wm,
        partial, onFail = _ => if (partial.nonEmpty) outcome(partial, completed = false)) {
      (i, w) =>
        outcome(w.rows, completed = true)
        i + 1 // overlapping: every anchor gets an outcome
    }
    (out.toSeq, resume)
  }

  private[graft] def validateRelaxed(elems: IndexedSeq[RelElem]): Unit = {
    if (!elems.exists(_.isInstanceOf[PosElem]))
      throw new IllegalArgumentException("pattern needs at least one positive step")
    elems.lastOption match {
      case Some(ne: NegElem) if !ne.strict =>
        throw new IllegalArgumentException(
          "pattern cannot end with notFollowedBy (no following step bounds the span)")
      case _ =>
    }
  }

  /** The relaxed scan (batch + streaming): emit resolved matches,
    * return the resume index for the streaming buffer.
    */
  private[graft] def scanRelaxed(events: Array[Event], elems: IndexedSeq[RelElem],
      withinMs: Long, overlapping: Boolean,
      openEnded: Boolean, wm: Long): (Seq[RMatch], Int) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[RMatch]
    val resume = anchorLoop(events.map(_.ts), IndexedSeq(elems),
        IndexedSeq(new EventAcceptor(events, elems)), withinMs, openEnded, wm) { (i, w) =>
      val e0 = events(w.rows.head)
      val e1 = events(w.rows.last)
      out += RMatch(e0.key, e0.id, e1.id, e0.ts, e1.ts, w.rows.length)
      if (overlapping) i + 1 else w.rows.last + 1
    }
    (out.toSeq, resume)
  }

  /** Match + per-step MEASURES ([U] flink-table-runtime operators/match/
    * — MEASURES COUNT(B.*), SUM(B.value), FIRST/LAST ids): each match row
    * carries, per pattern step, how many events it consumed, the sum of
    * their `value`s, and the first/last consumed id (0/null-sentinel −1
    * for optional steps that matched zero events).
    */
  case class PMeasures(key: Long, start_id: Long, end_id: Long, n_events: Int,
      step_counts: Seq[Int], step_sums: Seq[Double],
      step_first_id: Seq[Long], step_last_id: Seq[Long])

  /** [[scan]] with per-step measures per match. */
  private[graft] def scanMeasures(events: Array[Event], steps: IndexedSeq[Step],
      withinMs: Long, skip: AfterMatch, openEnded: Boolean, wm: Long)
      : (Seq[PMeasures], Int) = {
    val elems = steps.map(next)
    val out = scala.collection.mutable.ArrayBuffer.empty[PMeasures]
    val resume = anchorLoop(events.map(_.ts), IndexedSeq(elems),
        IndexedSeq(new EventAcceptor(events, elems)), withinMs, openEnded, wm) { (i, w) =>
      val takes = w.takes
      var pos = i
      val sums = new Array[Double](steps.length)
      val firsts = Array.fill(steps.length)(-1L)
      val lasts = Array.fill(steps.length)(-1L)
      var si = 0
      while (si < steps.length) {
        if (takes(si) > 0) {
          firsts(si) = events(pos).id
          lasts(si) = events(pos + takes(si) - 1).id
          var k = 0
          while (k < takes(si)) { sums(si) += events(pos + k).value; k += 1 }
        }
        pos += takes(si)
        si += 1
      }
      out += PMeasures(events(i).key, events(i).id, events(w.end - 1).id,
        w.end - i, takes.toSeq, sums.toSeq, firsts.toSeq, lasts.toSeq)
      resumeAfter(skip, i, w.end, elems, takes)
    }
    (out.toSeq, resume)
  }

  def matchPatternMeasures(ds: Dataset[Event], steps: Seq[Step], withinMs: Long,
      skip: AfterMatch = SkipPastLastRow): Dataset[PMeasures] = {
    val stepsIdx = steps.toIndexedSeq
    perKey(ds)(scanMeasures(_, stepsIdx, withinMs, skip, _, _))(
      Encoders.product[PMeasures])
  }
}
