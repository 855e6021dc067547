package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming._

/** Streaming OVER window — the reference's row-time OVER aggregate
  * ([U] flink-table-runtime operators/over/ RowTimeRangeUnboundedPreceding
  * family; SURVEY.md §2.5 "streaming OVER → transformWithState with
  * ordered ListState where truly needed").
  *
  * Structured Streaming has no analytic windows, so per key:
  *  - out-of-order rows buffer in ListState with an event-time timer per
  *    row timestamp;
  *  - when the watermark passes, buffered rows ≤ watermark are sorted by
  *    (ts, id) and emitted with the running aggregate (sum, count, min,
  *    max, first/last value, row number) carried in ValueState across
  *    emissions — i.e. `SUM(v) OVER (PARTITION BY key ORDER BY ts ROWS
  *    UNBOUNDED PRECEDING)` with watermark-delayed, in-order emission.
  *
  * The key is an OPAQUE string — the SQL deployment layer encodes the
  * (possibly composite, possibly non-integral) PARTITION BY tuple as
  * JSON and decodes it back on the way out, so the kernels stay
  * key-shape-agnostic ([U] flink-table-runtime over operators key by
  * an arbitrary RowData key selector).
  *
  * State: pending buffer is watermark-bounded; the running accumulator is
  * O(1) per key. Rows arriving behind the emitted frontier (possible only
  * inside the watermark slack) are folded in at the next firing in
  * arrival order — same best-effort as Flink applies behind its watermark.
  */
/** `nulls` is the per-slot NULL mask of `values` (SQL semantics can't
  * ride a primitive Seq[Double] alone — a null value column used to
  * crash the encoder with NOT_NULL_ASSERT_VIOLATION): values carry 0.0
  * where the mask is true, aggregates SKIP masked entries (per-slot
  * non-null counts ride the output as `nn_cnt`), DISTINCT sets ignore
  * them, and FIRST/LAST/LAG report their own masks so the splice can
  * restore SQL's RESPECT-NULLS offset/positional semantics. A SHORT or
  * empty mask means "no nulls" — existing producers stay valid.
  *
  * `svalues` carries STRING value slots — the positional/offset
  * functions' non-numeric surface (FIRST_VALUE/LAST_VALUE/LAG over a
  * string column): a separate vector because strings hold SQL NULL
  * natively (object array — no mask needed) and never enter the
  * arithmetic folds. Empty when no string slot is requested — the
  * kernels then carry and emit empty string metadata at ~zero cost.
  */
case class OverIn(key: String, id: Long, ts_ms: Long, values: Seq[Double],
    nulls: Seq[Boolean], svalues: Seq[String])
case class OverOut(key: String, id: Long, ts_ms: Long,
    running_sum: Seq[Double], running_cnt: Long, rn: Long,
    running_min: Seq[Double], running_max: Seq[Double],
    first_v: Seq[Double], last_v: Seq[Double], lags: Seq[Seq[Double]],
    dist_sum: Seq[Double], dist_cnt: Seq[Long], sumsq: Seq[Double],
    dist_sumsq: Seq[Double], nn_cnt: Seq[Long],
    first_null: Seq[Boolean], last_null: Seq[Boolean],
    lags_null: Seq[Seq[Boolean]],
    first_s: Seq[String], last_s: Seq[String], lags_s: Seq[Seq[String]],
    min_s: Seq[String], max_s: Seq[String], dcnt_s: Seq[Long])

private[streaming] object OverNulls {
  /** Tolerant mask read: entries past the mask are non-null. */
  def isNull(r: OverIn, j: Int): Boolean = j < r.nulls.length && r.nulls(j)
  /** The row's full-length mask (padded for short producers). */
  def mask(r: OverIn): Seq[Boolean] =
    Seq.tabulate(r.values.length)(j => isNull(r, j))
  /** The no-nulls FAST PATH: an all-false mask emits as the EMPTY seq —
    * null metadata measurably taxes the per-row output encoder (the
    * bounded kernel read ~1.6× slower emitting four populated arrays
    * per row), and the SQL splice reads the null columns through
    * `coalesce(try_element_at(...), default)`, so emptiness means
    * "no nulls" for free.
    */
  def maskOrEmpty(r: OverIn): Seq[Boolean] =
    if (r.nulls.exists(identity)) mask(r) else Seq.empty
  /** UTF-8 binary "a < b" — Spark compares strings by UTF-8 bytes, so
    * the streaming MIN/MAX(string) must too (Java compareTo diverges
    * on supplementary characters); both args non-null.
    */
  def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }
  /** Null-skipping per-slot string MIN/MAX over a window (SQL
    * semantics: an all-null slot yields NULL).
    */
  def stringMinMax(window: Array[OverIn], ks: Int): (Seq[String], Seq[String]) = {
    if (ks == 0) return (Seq.empty, Seq.empty)
    val mn = new Array[String](ks)
    val mx = new Array[String](ks)
    var i = 0
    while (i < window.length) {
      val sv = window(i).svalues
      var j = 0
      while (j < ks && j < sv.length) {
        val v = sv(j)
        if (v != null) {
          if (mn(j) == null || utf8Lt(v, mn(j))) mn(j) = v
          if (mx(j) == null || utf8Lt(mx(j), v)) mx(j) = v
        }
        j += 1
      }
      i += 1
    }
    (mn.toSeq, mx.toSeq)
  }
}

/** The unbounded running kernel, two frames in one process:
  *  - `peerGrouped = false` → `ROWS UNBOUNDED PRECEDING`: every row gets
  *    its own frame ending at itself;
  *  - `peerGrouped = true` → `RANGE UNBOUNDED PRECEDING`: rows with the
  *    SAME rowtime are peers and share one frame that includes the whole
  *    peer group (the SQL RANGE semantics — the reference's
  *    RowTimeRangeUnboundedPrecedingFunction buffers a rowtime's rows
  *    and emits them together for exactly this reason). State stays the
  *    O(1) accumulator either way — peers are folded before emission.
  *
  * `lagMax > 0` additionally retains the last `lagMax` emitted rows'
  * value vectors per key (most recent first) and stamps each output row
  * with that trailing snapshot — LAG(col, n ≤ lagMax) is an offset
  * lookup, ROW-based even under peer grouping (SQL offset functions
  * ignore the frame; peers are ordered by the deterministic id
  * tiebreak).
  *
  * `distinctSlots` marks value-vector slots whose DISTINCT sum/count
  * the frame also carries (SUM/COUNT/AVG DISTINCT — [U]
  * flink-table-runtime keeps the same per-key distinct-value state as
  * a MapView): per marked slot the seen-value set persists in state
  * and the running distinct sum/count update only on first sight.
  * Documented delta vs Flink: the set is rewritten per FIRING (not
  * per-entry incremental as RocksDB MapState), so state I/O per firing
  * is O(distinct values) — the CARDINALITY matches the reference's.
  */
/** `stateTtlMs > 0` enables idle-key state expiry — the deployment
  * surface of Flink's `table.exec.state.ttl` / STATE_TTL hint on OVER
  * ([U] flink-table-runtime over functions register cleanup timers and
  * clear accumulator + MapView state after the retention interval).
  * Spark's `TTLConfig` is processing-time-only and rejected under the
  * event-time mode these kernels require, so the TTL binds to the
  * EVENT-TIME frontier instead: a cleanup timer at (last activity +
  * ttl) clears the accumulator, lag snapshot, and distinct seen-sets
  * once the watermark passes it with nothing left to emit — a key idle
  * longer than the TTL in event time restarts from a fresh accumulator
  * (exactly what expired Flink state does). The watermark-bounded
  * pending buffer is not TTL state and survives — buffered future rows
  * re-accumulate from zero. Documented delta: idleness is measured on
  * watermark progress, not wall-clock (an idle SOURCE freezes both the
  * watermark and the TTL clock — the replay-deterministic reading).
  */
class StreamingOverProcess(peerGrouped: Boolean = false, lagMax: Int = 0,
    distinctSlots: Set[Int] = Set.empty, distinctStrSlots: Set[Int] = Set.empty,
    stateTtlMs: Long = 0L)
    extends KeyedProcess[String, OverIn, OverOut] {
  // acc = (sum, cnt, mn, mx, fst, sq, nn non-null counts, fst null mask,
  //        fst string slots, running string min, running string max)
  private type Acc = StateEncoders.OverAcc
  private type Lags = StateEncoders.OverLags
  @transient private var buf: ListState[OverIn] = _
  @transient private var acc: ValueState[Acc] = _
  @transient private var lagState: ValueState[Lags] = _
  @transient private var distState:
    ValueState[(Seq[Seq[Double]], Seq[Double], Seq[Long])] = _
  @transient private var distStrState: ValueState[Seq[Seq[String]]] = _
  @transient private var lastAct: ValueState[Long] = _

  override def open(h: StatefulProcessorHandle, om: OutputMode, tm: TimeMode): Unit = {
    buf = h.getListState[OverIn]("buf", StateEncoders.overIn, TTLConfig.NONE)
    acc = h.getValueState[Acc]("acc", StateEncoders.overAcc, TTLConfig.NONE)
    if (lagMax > 0)
      lagState = h.getValueState[Lags]("lags", StateEncoders.overLags, TTLConfig.NONE)
    if (distinctSlots.nonEmpty)
      distState = h.getValueState[(Seq[Seq[Double]], Seq[Double], Seq[Long])](
        "dist", StateEncoders.overDist, TTLConfig.NONE)
    if (distinctStrSlots.nonEmpty) {
      // its OWN state name: queries without string DISTINCT never
      // create it, so pre-existing checkpoints stay restorable
      distStrState = h.getValueState[Seq[Seq[String]]](
        "dist_s", StateEncoders.stringSeqs, TTLConfig.NONE)
    }
    // its OWN state name, created only under a TTL'd deploy — un-hinted
    // queries' state layout (and their checkpoints) stay byte-identical
    if (stateTtlMs > 0)
      lastAct = h.getValueState[Long]("last_act", Encoders.scalaLong, TTLConfig.NONE)
  }

  override def onElement(key: String, v: OverIn, tv: TimerValues,
      emit: OverOut => Unit): Unit = {
    buf.appendValue(v)
    registerTimer(v.ts_ms)
  }

  override def onTimer(key: String, expiryMs: Long, tv: TimerValues,
      emit: OverOut => Unit): Unit = {
    val wm = math.max(tv.getCurrentWatermarkInMs, expiryMs)
    val (ready, pending) = buf.get().toArray.partition(_.ts_ms <= wm)
    if (ready.nonEmpty) {
      val sorted = ready.sortBy(r => (r.ts_ms, r.id))
      val k = sorted.head.values.length
      var (sum, cnt, mn, mx, fst, sq, nn, fstNull, fstS, smin, smax) =
        Option(acc.get()).getOrElse((
          Seq.fill(k)(0.0), 0L, Seq.fill(k)(Double.PositiveInfinity),
          Seq.fill(k)(Double.NegativeInfinity), Seq.fill(k)(0.0),
          Seq.fill(k)(0.0), Seq.fill(k)(0L), Seq.fill(k)(false),
          Seq.empty[String], Seq.empty[String], Seq.empty[String]))
      var (lags, lagsNull, lagsS): (Seq[Seq[Double]], Seq[Seq[Boolean]], Seq[Seq[String]]) =
        if (lagMax > 0)
          Option(lagState.get()).getOrElse((Seq.empty, Seq.empty, Seq.empty))
        else (Seq.empty, Seq.empty, Seq.empty)
      // distinct tracking: live sets + running distinct sum/count per
      // slot; the distinct sum-of-squares (the VARIANCE-family DISTINCT
      // input) re-derives from the persisted set at firing start —
      // O(distinct) once per firing, the same order as the state
      // rewrite below, so it needs NO state schema of its own
      val (dsets, dsum, dcnt, dsq) =
        if (distinctSlots.isEmpty) (null, null, null, null)
        else {
          val (s0, ds0, dc0) = Option(distState.get()).getOrElse(
            (Seq.fill(k)(Seq.empty[Double]), Seq.fill(k)(0.0), Seq.fill(k)(0L)))
          (s0.map(s => scala.collection.mutable.HashSet(s: _*)).toArray,
            ds0.toArray, dc0.toArray,
            s0.map(_.map(v => v * v).sum).toArray)
        }
      // string DISTINCT (COUNT(DISTINCT string_col)): seen-string sets
      // per marked string slot, same MapView-cardinality shape
      val dsetsS: Array[scala.collection.mutable.HashSet[String]] =
        if (distinctStrSlots.isEmpty) null
        else {
          val ks = (distinctStrSlots.max + 1) max
            sorted.head.svalues.length
          val s0 = Option(distStrState.get())
            .getOrElse(Seq.fill(ks)(Seq.empty[String]))
            .padTo(ks, Seq.empty[String])
          s0.map(s => scala.collection.mutable.HashSet(s: _*)).toArray
        }
      def fold(r: OverIn): Unit = {
        // SQL null semantics: masked slots skip every arithmetic
        // aggregate and the distinct sets; nn counts non-null per slot
        sum = Seq.tabulate(k)(j =>
          if (OverNulls.isNull(r, j)) sum(j) else sum(j) + r.values(j))
        sq = Seq.tabulate(k)(j =>
          if (OverNulls.isNull(r, j)) sq(j) else sq(j) + r.values(j) * r.values(j))
        mn = Seq.tabulate(k)(j =>
          if (OverNulls.isNull(r, j)) mn(j) else math.min(mn(j), r.values(j)))
        mx = Seq.tabulate(k)(j =>
          if (OverNulls.isNull(r, j)) mx(j) else math.max(mx(j), r.values(j)))
        nn = Seq.tabulate(k)(j =>
          if (OverNulls.isNull(r, j)) nn(j) else nn(j) + 1L)
        cnt += 1
        if (cnt == 1L) { fst = r.values; fstNull = OverNulls.mask(r); fstS = r.svalues }
        if (r.svalues.nonEmpty) {
          val ks = r.svalues.length
          if (smin.length < ks) smin = smin.padTo(ks, null: String)
          if (smax.length < ks) smax = smax.padTo(ks, null: String)
          smin = Seq.tabulate(ks) { j =>
            val v = r.svalues(j)
            if (v == null) smin(j)
            else if (smin(j) == null || OverNulls.utf8Lt(v, smin(j))) v else smin(j)
          }
          smax = Seq.tabulate(ks) { j =>
            val v = r.svalues(j)
            if (v == null) smax(j)
            else if (smax(j) == null || OverNulls.utf8Lt(smax(j), v)) v else smax(j)
          }
        }
        if (distinctSlots.nonEmpty) {
          var j = 0
          while (j < r.values.length) {
            if (distinctSlots.contains(j) && !OverNulls.isNull(r, j) &&
                dsets(j).add(r.values(j))) {
              dsum(j) += r.values(j); dcnt(j) += 1L
              dsq(j) += r.values(j) * r.values(j)
            }
            j += 1
          }
        }
        if (distinctStrSlots.nonEmpty) {
          var j = 0
          while (j < r.svalues.length) {
            val v = r.svalues(j)
            if (distinctStrSlots.contains(j) && v != null && j < dsetsS.length)
              dsetsS(j).add(v)
            j += 1
          }
        }
      }
      def dsumSnap: Seq[Double] =
        if (distinctSlots.isEmpty) Seq.empty else dsum.toSeq
      def dcntSnap: Seq[Long] =
        if (distinctSlots.isEmpty) Seq.empty else dcnt.toSeq
      def dsqSnap: Seq[Double] =
        if (distinctSlots.isEmpty) Seq.empty else dsq.toSeq
      def dcntSSnap: Seq[Long] =
        if (distinctStrSlots.isEmpty) Seq.empty
        else dsetsS.map(_.size.toLong).toSeq
      // no-nulls fast path (see OverNulls.maskOrEmpty): empty metadata
      // arrays when every slot's non-null count equals the row count
      def nnOut: Seq[Long] = if (nn.forall(_ == cnt)) Seq.empty else nn
      def fstNullOut: Seq[Boolean] =
        if (fstNull.exists(identity)) fstNull else Seq.empty
      if (!peerGrouped) {
        sorted.foreach { r =>
          fold(r)
          emit(OverOut(key, r.id, r.ts_ms, sum, cnt, cnt, mn, mx, fst, r.values,
            lags, dsumSnap, dcntSnap, sq, dsqSnap, nnOut, fstNullOut,
            OverNulls.maskOrEmpty(r), lagsNull, fstS, r.svalues, lagsS,
            smin, smax, dcntSSnap))
          if (lagMax > 0) {
            lags = (r.values +: lags).take(lagMax)
            lagsNull = (OverNulls.maskOrEmpty(r) +: lagsNull).take(lagMax)
            lagsS = (r.svalues +: lagsS).take(lagMax)
          }
        }
      } else {
        // RANGE peers share the group-inclusive frame; LAG stays row-based
        sorted.groupBy(_.ts_ms).toSeq.sortBy(_._1).foreach { case (_, peers) =>
          val rowLags = peers.map { r =>
            val snap = (lags, lagsNull, lagsS)
            if (lagMax > 0) {
              lags = (r.values +: lags).take(lagMax)
              lagsNull = (OverNulls.maskOrEmpty(r) +: lagsNull).take(lagMax)
              lagsS = (r.svalues +: lagsS).take(lagMax)
            }
            snap
          }
          peers.foreach(fold)
          val lastV = peers.last.values
          val lastN = OverNulls.maskOrEmpty(peers.last)
          val lastS = peers.last.svalues
          val (ds, dc, dq, dcs) = (dsumSnap, dcntSnap, dsqSnap, dcntSSnap)
          peers.zip(rowLags).foreach { case (r, (l, ln, ls)) =>
            emit(OverOut(key, r.id, r.ts_ms, sum, cnt, cnt, mn, mx, fst, lastV,
              l, ds, dc, sq, dq, nnOut, fstNullOut, lastN, ln, fstS, lastS, ls,
              smin, smax, dcs))
          }
        }
      }
      acc.update((sum, cnt, mn, mx, fst, sq, nn, fstNull, fstS, smin, smax))
      if (lagMax > 0) lagState.update((lags, lagsNull, lagsS))
      if (distinctSlots.nonEmpty)
        distState.update((dsets.map(_.toSeq).toSeq, dsum.toSeq, dcnt.toSeq))
      if (distinctStrSlots.nonEmpty)
        distStrState.update(dsetsS.map(_.toSeq).toSeq)
      buf.clear()
      if (pending.nonEmpty) buf.appendList(pending)
      if (stateTtlMs > 0) {
        val act = math.max(
          if (lastAct.exists()) lastAct.get() else Long.MinValue,
          sorted.last.ts_ms)
        lastAct.update(act)
        registerTimer(act + stateTtlMs)
      }
    } else if (stateTtlMs > 0 && lastAct.exists() &&
        wm >= lastAct.get() + stateTtlMs) {
      // idle past the TTL in event time with nothing emittable: expire
      // the key's accumulated state (the Flink state-retention cleanup);
      // the watermark-bounded buffer survives — any buffered future row
      // restarts the key from a fresh accumulator
      acc.clear()
      if (lagMax > 0) lagState.clear()
      if (distinctSlots.nonEmpty) distState.clear()
      if (distinctStrSlots.nonEmpty) distStrState.clear()
      lastAct.clear()
    }
  }
}

/** Bounded time-range OVER output: the RANGE [ts − range, ts] frame
  * aggregate for each row (all equal-rowtime peers share one frame, as
  * in the batch RANGE semantics). first_v/last_v are the frame's
  * earliest/latest row value in (ts, id) order — FIRST_VALUE/LAST_VALUE
  * over the same frame. dist_sum/dist_cnt are the frame's DISTINCT
  * sum/count for the slots in `distinctSlots` — the bounded kernels
  * RETAIN the frame rows as their state shape anyway ([U]
  * flink-table-runtime bounded-over retained state), so frame-DISTINCT
  * is a fold over the retained window at emission, not new per-value
  * refcount state; statements without DISTINCT pay nothing (empty
  * slot set → empty vectors, the fold never runs).
  */
case class BoundedOverOut(key: String, id: Long, ts_ms: Long,
    range_sum: Seq[Double], range_cnt: Long,
    range_min: Seq[Double], range_max: Seq[Double],
    first_v: Seq[Double], last_v: Seq[Double], lags: Seq[Seq[Double]],
    sumsq: Seq[Double], dist_sum: Seq[Double], dist_cnt: Seq[Long],
    dist_sumsq: Seq[Double], nn_cnt: Seq[Long],
    first_null: Seq[Boolean], last_null: Seq[Boolean],
    lags_null: Seq[Seq[Boolean]],
    first_s: Seq[String], last_s: Seq[String], lags_s: Seq[Seq[String]],
    min_s: Seq[String], max_s: Seq[String], dcnt_s: Seq[Long])

/** Streaming bounded-range OVER — the reference's
  * RowTimeRangeBoundedPrecedingFunction ([U] flink-table-runtime
  * operators/over/; the batch shape is q83's `RANGE BETWEEN INTERVAL ...
  * PRECEDING AND CURRENT ROW`). Same buffer-until-watermark plan as
  * [[StreamingOverProcess]], but instead of an O(1) running accumulator
  * the state retains the rows inside the trailing range window —
  * exactly Flink's retained state for bounded frames, evicted as the
  * frontier advances, so per-key state is O(rows within `rangeMs`).
  * MIN/MAX/FIRST/LAST fold over the retained window at emission — the
  * retained rows were already the state shape, so wider agg coverage
  * costs no new state.
  */
class StreamingBoundedOverProcess(rangeMs: Long, lagMax: Int = 0,
    distinctSlots: Set[Int] = Set.empty, distinctStrSlots: Set[Int] = Set.empty,
    stateTtlMs: Long = 0L)
    extends KeyedProcess[String, OverIn, BoundedOverOut] {
  @transient private var buf: ListState[OverIn] = _
  @transient private var recent: ListState[OverIn] = _
  @transient private var emittedUpTo: ValueState[Long] = _
  @transient private var lagState:
    ValueState[(Seq[Seq[Double]], Seq[Seq[Boolean]], Seq[Seq[String]])] = _

  override def open(h: StatefulProcessorHandle, om: OutputMode, tm: TimeMode): Unit = {
    buf = h.getListState[OverIn]("buf", StateEncoders.overIn, TTLConfig.NONE)
    recent = h.getListState[OverIn]("recent", StateEncoders.overIn, TTLConfig.NONE)
    emittedUpTo = h.getValueState[Long]("emitted", Encoders.scalaLong, TTLConfig.NONE)
    if (lagMax > 0)
      lagState = h.getValueState[(Seq[Seq[Double]], Seq[Seq[Boolean]], Seq[Seq[String]])](
        "lags", StateEncoders.overLags, TTLConfig.NONE)
  }

  override def onElement(key: String, v: OverIn, tv: TimerValues,
      emit: BoundedOverOut => Unit): Unit = {
    // a row at-or-behind the emitted frontier is LATE: its emission point
    // passed, and folding it in would put FUTURE rows inside its trailing
    // frame — dropped, Flink's lastTriggeringTs rule
    val frontier = if (emittedUpTo.exists()) emittedUpTo.get() else Long.MinValue
    if (v.ts_ms > frontier) {
      buf.appendValue(v)
      registerTimer(v.ts_ms)
    }
  }

  override def onTimer(key: String, expiryMs: Long, tv: TimerValues,
      emit: BoundedOverOut => Unit): Unit = {
    val wm = math.max(tv.getCurrentWatermarkInMs, expiryMs)
    val (ready, pending) = buf.get().toArray.partition(_.ts_ms <= wm)
    if (ready.nonEmpty) {
      var window = recent.get().toArray
      var (lags, lagsNull, lagsS): (Seq[Seq[Double]], Seq[Seq[Boolean]], Seq[Seq[String]]) =
        if (lagMax > 0)
          Option(lagState.get()).getOrElse((Seq.empty, Seq.empty, Seq.empty))
        else (Seq.empty, Seq.empty, Seq.empty)
      // per distinct rowtime: evict, then every peer shares the frame of
      // [ts − range, ts] — the batch RANGE-frame peer semantics. The
      // window array stays in (ts, id) order: peers append in sorted
      // order and eviction drops a prefix. LAG stays ROW-based across
      // the peer group (offset functions ignore the frame).
      ready.sortBy(r => (r.ts_ms, r.id)).groupBy(_.ts_ms).toSeq.sortBy(_._1)
        .foreach { case (ts, peers) =>
          val rowLags = peers.map { r =>
            val snap = (lags, lagsNull, lagsS)
            if (lagMax > 0) {
              lags = (r.values +: lags).take(lagMax)
              lagsNull = (OverNulls.maskOrEmpty(r) +: lagsNull).take(lagMax)
              lagsS = (r.svalues +: lagsS).take(lagMax)
            }
            snap
          }
          window = (window ++ peers).filter(_.ts_ms >= ts - rangeMs)
          val k = window.head.values.length
          val (sum, sq, mn, mx, nn0) = OverOps.windowFold(window, k)
          val cnt = window.length.toLong
          val nn = if (nn0.forall(_ == cnt)) Seq.empty[Long] else nn0
          val (first, last) = (window.head.values, window.last.values)
          val firstN = OverNulls.maskOrEmpty(window.head)
          val lastN = OverNulls.maskOrEmpty(window.last)
          val (firstS, lastS) = (window.head.svalues, window.last.svalues)
          val (sMn, sMx) = OverNulls.stringMinMax(window, window.head.svalues.length)
          val (dsum, dcnt, dsq) = OverOps.distinctFold(window, k, distinctSlots)
          val dcntS = OverOps.distinctStrFold(window, distinctStrSlots)
          peers.zip(rowLags).foreach { case (r, (l, ln, ls)) =>
            emit(BoundedOverOut(key, r.id, r.ts_ms, sum, cnt, mn, mx, first, last, l, sq,
              dsum, dcnt, dsq, nn, firstN, lastN, ln, firstS, lastS, ls, sMn, sMx,
              dcntS))
          }
        }
      recent.clear()
      if (window.nonEmpty) recent.appendList(window)
      buf.clear()
      if (pending.nonEmpty) buf.appendList(pending)
      emittedUpTo.update(ready.map(_.ts_ms).max)
      if (lagMax > 0) lagState.update((lags, lagsNull, lagsS))
      if (stateTtlMs > 0) registerTimer(ready.map(_.ts_ms).max + stateTtlMs)
    } else if (stateTtlMs > 0 && emittedUpTo.exists() &&
        wm >= emittedUpTo.get() + stateTtlMs) {
      // idle-key state expiry (see StreamingOverProcess): the retained
      // frame, lag snapshot, and emitted frontier expire together —
      // clearing the frontier also re-opens the late-row gate, exactly
      // as Flink's state cleanup drops lastTriggeringTs
      recent.clear()
      if (lagMax > 0) lagState.clear()
      emittedUpTo.clear()
    }
  }
}

/** Streaming ROWS-bounded OVER — the reference's
  * RowTimeRowsBoundedPrecedingFunction ([U] flink-table-runtime
  * operators/over/): each row's aggregate over itself and the previous
  * `nRows − 1` rows per key in (ts, id) order (the batch
  * `ROWS BETWEEN n−1 PRECEDING AND CURRENT ROW` frame — count-based,
  * so unlike the RANGE variant equal-rowtime peers do NOT share
  * frames). State retains exactly the trailing `nRows − 1` emitted
  * rows per key; MIN/MAX/FIRST/LAST fold over that retained frame.
  */
class StreamingBoundedRowsProcess(nRows: Int, lagMax: Int = 0,
    distinctSlots: Set[Int] = Set.empty, distinctStrSlots: Set[Int] = Set.empty,
    stateTtlMs: Long = 0L)
    extends KeyedProcess[String, OverIn, BoundedOverOut] {
  @transient private var buf: ListState[OverIn] = _
  @transient private var recent: ListState[OverIn] = _
  @transient private var emittedUpTo: ValueState[Long] = _
  @transient private var lagState:
    ValueState[(Seq[Seq[Double]], Seq[Seq[Boolean]], Seq[Seq[String]])] = _

  override def open(h: StatefulProcessorHandle, om: OutputMode, tm: TimeMode): Unit = {
    buf = h.getListState[OverIn]("buf", StateEncoders.overIn, TTLConfig.NONE)
    recent = h.getListState[OverIn]("recent", StateEncoders.overIn, TTLConfig.NONE)
    emittedUpTo = h.getValueState[Long]("emitted", Encoders.scalaLong, TTLConfig.NONE)
    if (lagMax > 0)
      lagState = h.getValueState[(Seq[Seq[Double]], Seq[Seq[Boolean]], Seq[Seq[String]])](
        "lags", StateEncoders.overLags, TTLConfig.NONE)
  }

  override def onElement(key: String, v: OverIn, tv: TimerValues,
      emit: BoundedOverOut => Unit): Unit = {
    // late row (at-or-behind the emitted frontier): appending it now
    // would make its frame contain its successors — dropped, like the
    // reference's lastTriggeringTs rule
    val frontier = if (emittedUpTo.exists()) emittedUpTo.get() else Long.MinValue
    if (v.ts_ms > frontier) {
      buf.appendValue(v)
      registerTimer(v.ts_ms)
    }
  }

  override def onTimer(key: String, expiryMs: Long, tv: TimerValues,
      emit: BoundedOverOut => Unit): Unit = {
    val wm = math.max(tv.getCurrentWatermarkInMs, expiryMs)
    val (ready, pending) = buf.get().toArray.partition(_.ts_ms <= wm)
    if (ready.nonEmpty) {
      var window = recent.get().toArray
      var (lags, lagsNull, lagsS): (Seq[Seq[Double]], Seq[Seq[Boolean]], Seq[Seq[String]]) =
        if (lagMax > 0)
          Option(lagState.get()).getOrElse((Seq.empty, Seq.empty, Seq.empty))
        else (Seq.empty, Seq.empty, Seq.empty)
      ready.sortBy(r => (r.ts_ms, r.id)).foreach { r =>
        window = (window :+ r).takeRight(nRows)
        val k = window.head.values.length
        val cnt = window.length.toLong
        val (sum, sq, mn, mx, nn0) = OverOps.windowFold(window, k)
        val nn = if (nn0.forall(_ == cnt)) Seq.empty[Long] else nn0
        val (dsum, dcnt, dsq) = OverOps.distinctFold(window, k, distinctSlots)
        val dcntS = OverOps.distinctStrFold(window, distinctStrSlots)
        val (sMn, sMx) = OverNulls.stringMinMax(window, window.head.svalues.length)
        emit(BoundedOverOut(key, r.id, r.ts_ms,
          sum, cnt, mn, mx,
          window.head.values, window.last.values, lags, sq,
          dsum, dcnt, dsq, nn,
          OverNulls.maskOrEmpty(window.head), OverNulls.maskOrEmpty(window.last),
          lagsNull, window.head.svalues, window.last.svalues, lagsS, sMn, sMx,
          dcntS))
        if (lagMax > 0) {
          lags = (r.values +: lags).take(lagMax)
          lagsNull = (OverNulls.maskOrEmpty(r) +: lagsNull).take(lagMax)
          lagsS = (r.svalues +: lagsS).take(lagMax)
        }
      }
      recent.clear()
      val keep = window.takeRight(math.max(nRows - 1, 0))
      if (keep.nonEmpty) recent.appendList(keep)
      buf.clear()
      if (pending.nonEmpty) buf.appendList(pending)
      emittedUpTo.update(ready.map(_.ts_ms).max)
      if (lagMax > 0) lagState.update((lags, lagsNull, lagsS))
      if (stateTtlMs > 0) registerTimer(ready.map(_.ts_ms).max + stateTtlMs)
    } else if (stateTtlMs > 0 && emittedUpTo.exists() &&
        wm >= emittedUpTo.get() + stateTtlMs) {
      // idle-key state expiry — see StreamingBoundedOverProcess
      recent.clear()
      if (lagMax > 0) lagState.clear()
      emittedUpTo.clear()
    }
  }
}

object OverOps {
  /** Null-skipping frame fold over the retained window: per-slot
    * (sum, sumsq, min, max, non-null count) — masked entries skip every
    * aggregate (SQL semantics); an all-null slot leaves the ±∞ min/max
    * placeholders and nn = 0, which the SQL splice turns into NULL.
    */
  private[streaming] def windowFold(window: Array[OverIn], k: Int)
      : (Seq[Double], Seq[Double], Seq[Double], Seq[Double], Seq[Long]) = {
    val sum = new Array[Double](k)
    val sq = new Array[Double](k)
    val mn = Array.fill(k)(Double.PositiveInfinity)
    val mx = Array.fill(k)(Double.NegativeInfinity)
    val nn = new Array[Long](k)
    var i = 0
    while (i < window.length) {
      val r = window(i)
      var j = 0
      while (j < k) {
        if (!OverNulls.isNull(r, j)) {
          val v = r.values(j)
          sum(j) += v; sq(j) += v * v
          if (v < mn(j)) mn(j) = v
          if (v > mx(j)) mx(j) = v
          nn(j) += 1L
        }
        j += 1
      }
      i += 1
    }
    (sum.toSeq, sq.toSeq, mn.toSeq, mx.toSeq, nn.toSeq)
  }

  /** Frame-DISTINCT sum/count over the retained window, computed only
    * for the requested slots (0-based); (empty, empty) when none.
    * NULL entries never enter the distinct sets (SQL DISTINCT
    * aggregates skip them).
    */
  private[streaming] def distinctFold(window: Array[OverIn], k: Int,
      slots: Set[Int]): (Seq[Double], Seq[Long], Seq[Double]) =
    if (slots.isEmpty) (Seq.empty, Seq.empty, Seq.empty)
    else {
      val dvals = Seq.tabulate(k)(i =>
        if (slots.contains(i))
          window.filter(r => !OverNulls.isNull(r, i)).map(_.values(i)).distinct
        else Array.empty[Double])
      (dvals.map(_.sum), dvals.map(_.length.toLong),
        dvals.map(_.map(v => v * v).sum))
    }
  /** Per-string-slot distinct non-null count over the retained frame
    * (COUNT(DISTINCT string_col)); empty slot set folds nothing.
    */
  private[streaming] def distinctStrFold(window: Array[OverIn],
      slots: Set[Int]): Seq[Long] =
    if (slots.isEmpty) Seq.empty
    else {
      val ks = (slots.max + 1) max window.head.svalues.length
      Seq.tabulate(ks)(i =>
        if (slots.contains(i))
          window.iterator.map(r =>
            if (i < r.svalues.length) r.svalues(i) else null)
            .filter(_ != null).toSet.size.toLong
        else 0L)
    }
  /** Running sum/count/min/max/first/row_number per key ordered by event
    * time, emitted behind the watermark; `ds` must carry an event-time
    * watermark. `peerGrouped = true` switches to the RANGE-UNBOUNDED
    * peer-frame semantics; `lagMax > 0` stamps each row with the
    * trailing `lagMax` value vectors (LAG support).
    */
  def runningAgg(ds: Dataset[OverIn], peerGrouped: Boolean = false,
      lagMax: Int = 0, distinctSlots: Set[Int] = Set.empty,
      distinctStrSlots: Set[Int] = Set.empty,
      stateTtlMs: Long = 0L): Dataset[OverOut] = {
    implicit val out: Encoder[OverOut] = Encoders.product[OverOut]
    ds.groupByKey(_.key)(Encoders.STRING)
      .transformWithState(
        new StreamingOverProcess(peerGrouped, lagMax, distinctSlots, distinctStrSlots,
          stateTtlMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Bounded trailing-range aggregate per key: each row's
    * sum/count/min/max/first/last over rows with `ts ∈ [ts − rangeMs,
    * ts]` (peers share frames), emitted behind the watermark; `ds` must
    * carry an event-time watermark.
    */
  def boundedRangeAgg(ds: Dataset[OverIn], rangeMs: Long,
      lagMax: Int = 0, distinctSlots: Set[Int] = Set.empty,
      distinctStrSlots: Set[Int] = Set.empty,
      stateTtlMs: Long = 0L): Dataset[BoundedOverOut] = {
    implicit val out: Encoder[BoundedOverOut] = Encoders.product[BoundedOverOut]
    ds.groupByKey(_.key)(Encoders.STRING)
      .transformWithState(
        new StreamingBoundedOverProcess(rangeMs, lagMax, distinctSlots, distinctStrSlots,
          stateTtlMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Count-bounded trailing frame per key: each row's aggregate over
    * itself and the previous `nRows − 1` rows in (ts, id) order,
    * emitted behind the watermark.
    */
  def boundedRowsAgg(ds: Dataset[OverIn], nRows: Int,
      lagMax: Int = 0, distinctSlots: Set[Int] = Set.empty,
      distinctStrSlots: Set[Int] = Set.empty,
      stateTtlMs: Long = 0L): Dataset[BoundedOverOut] = {
    require(nRows >= 1, "nRows must be >= 1")
    implicit val out: Encoder[BoundedOverOut] = Encoders.product[BoundedOverOut]
    ds.groupByKey(_.key)(Encoders.STRING)
      .transformWithState(
        new StreamingBoundedRowsProcess(nRows, lagMax, distinctSlots, distinctStrSlots,
          stateTtlMs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
