package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming._

/** Changelog input for the retract-consuming Top-N: `row_kind` follows
  * Flink's RowKind ("+I"/"+U" upsert the id's score, "-U"/"-D" retract
  * it), `key` is the ranking partition, `id` the ranked entity.
  */
case class ChangeScored(row_kind: String, key: String, id: Long, score: Double)

/** Retract-consuming streaming Top-N — the reference's
  * RetractableTopNFunction proper ([U] flink-table-runtime
  * operators/rank/RetractableTopNFunction.java): unlike the append-only
  * [[StreamingTopN]] (bounded O(N) state, cannot promote on retraction),
  * this keeps EVERY current row of the ranking key in state, so a
  * retraction of a ranked row promotes the next-best row — exactly what
  * a changelog input (e.g. a refining group aggregate) requires. Flink
  * pays the same cost: its retractable rank keeps the full data state
  * keyed by sort key, because a retract stream can shrink any row.
  *
  * Emission: "+I"/"-D" diffs of the top-N set on every effective change,
  * so a downstream consumer reconstructs the current Top-N by applying
  * the changelog — and the whole operator chain nets to the batch
  * answer.
  */
class RetractableTopN(n: Int) extends KeyedProcess[String, ChangeScored, TopNChange] {
  // (id, score) pairs — the state encoder supports product lists, not maps
  @transient private var rows: ValueState[List[(Long, Double)]] = _

  override def open(h: StatefulProcessorHandle, om: OutputMode, tm: TimeMode): Unit = {
    rows = h.getValueState[List[(Long, Double)]]("rows", StateEncoders.longDoubleList,
      TTLConfig.NONE)
  }

  private def topOf(m: List[(Long, Double)]): List[(Long, Double)] =
    m.sortBy { case (id, s) => (-s, id) }.take(n)

  override def onElement(key: String, v: ChangeScored, tv: TimerValues,
      emit: TopNChange => Unit): Unit = {
    val cur = Option(rows.get()).getOrElse(Nil)
    val without = cur.filterNot(_._1 == v.id)
    val next = v.row_kind match {
      case "-U" | "-D" => without
      case _ => (v.id, v.score) :: without // +I / +U upsert
    }
    if (next != cur) {
      if (next.isEmpty) rows.clear() else rows.update(next)
      val before = topOf(cur)
      val after = topOf(next)
      before.filterNot(after.contains).foreach { case (id, s) =>
        emit(TopNChange("-D", key, id, s))
      }
      after.filterNot(before.contains).foreach { case (id, s) =>
        emit(TopNChange("+I", key, id, s))
      }
    }
  }
}

/** Changelog input for the retract-consuming window aggregate. */
case class WinChangeIn(row_kind: String, key: String, ts_ms: Long, value: Double)

case class WinAggOut(window_start: Long, window_end: Long, key: String,
    cnt: Long, sum_value: Double)

/** Retract-consuming tumbling-window aggregate — the reference's
  * windowed aggregation over a retract input ([U] flink-table-runtime
  * StreamExecWindowAggregate consuming an update stream): a "-U"/"-D"
  * row cancels its insert from the row's OWN window, so an upstream
  * changelog operator (keep-last dedup, retracting group agg) can feed
  * a windowed rollup and the closed windows reflect the net state.
  * Emission is append-only on watermark close (a closed window's
  * aggregate is final — no retraction stream out); windows that net to
  * zero rows emit nothing; late changelog rows for closed windows drop,
  * mirroring the closed-window drop of [[StreamingWindowRank]].
  *
  * State: one (window_start, cnt, sum) triple per OPEN window per key —
  * watermark-bounded, the same bound Flink's window state carries.
  */
class RetractWindowAgg(windowMs: Long)
    extends KeyedProcess[String, WinChangeIn, WinAggOut] {
  @transient private var acc: ValueState[List[(Long, Long, Double)]] = _
  @transient private var closedUpTo: ValueState[Long] = _

  override def open(h: StatefulProcessorHandle, om: OutputMode, tm: TimeMode): Unit = {
    acc = h.getValueState[List[(Long, Long, Double)]]("acc", StateEncoders.longLongDoubleList,
      TTLConfig.NONE)
    closedUpTo = h.getValueState[Long]("closed", Encoders.scalaLong, TTLConfig.NONE)
  }

  private def windowStart(ts: Long): Long = ts - Math.floorMod(ts, windowMs)

  override def onElement(key: String, v: WinChangeIn, tv: TimerValues,
      emit: WinAggOut => Unit): Unit = {
    val frontier = if (closedUpTo.exists()) closedUpTo.get() else Long.MinValue
    val ws = windowStart(v.ts_ms)
    if (ws + windowMs > frontier) {
      val retract = v.row_kind == "-U" || v.row_kind == "-D"
      val cur = Option(acc.get()).getOrElse(Nil)
      val (c0, s0) = cur.find(_._1 == ws).map(t => (t._2, t._3)).getOrElse((0L, 0.0))
      val (c1, s1) = if (retract) (c0 - 1, s0 - v.value) else (c0 + 1, s0 + v.value)
      val rest = cur.filterNot(_._1 == ws)
      val next = if (c1 <= 0) rest else (ws, c1, s1) :: rest
      if (next.isEmpty) acc.clear() else acc.update(next)
      registerTimer(ws + windowMs)
    } // late changelog row for an emitted window — dropped
  }

  override def onTimer(key: String, expiryMs: Long, tv: TimerValues,
      emit: WinAggOut => Unit): Unit = {
    val wm = math.max(tv.getCurrentWatermarkInMs, expiryMs)
    val cur = Option(acc.get()).getOrElse(Nil)
    val (closed, open) = cur.partition(t => t._1 + windowMs <= wm)
    if (closed.nonEmpty) {
      closed.sortBy(_._1).foreach { case (ws, c, s) =>
        if (c > 0) emit(WinAggOut(ws, ws + windowMs, key, c, s))
      }
      closedUpTo.update(wm)
      if (open.isEmpty) acc.clear() else acc.update(open)
    }
  }
}

/** Composability helpers for chaining changelog-emitting stateful
  * operators — the usability gap a Flink user hits first: in Flink the
  * planner threads retractions between operators automatically
  * ([U] FlinkChangelogModeInferenceProgram.scala); here the `row_kind`
  * column is explicit, and these combinators wire it from one
  * operator's output into the next operator's input.
  */
object ChangelogChain {

  /** Wire the retract-consuming tumbling-window aggregate onto a keyed
    * changelog stream; `ds` must carry an event-time watermark on the
    * column backing `ts_ms`.
    */
  def retractWindowAgg(ds: Dataset[WinChangeIn], windowMs: Long): Dataset[WinAggOut] = {
    implicit val out: Encoder[WinAggOut] = Encoders.product[WinAggOut]
    ds.groupByKey(_.key)(Encoders.STRING)
      .transformWithState(new RetractWindowAgg(windowMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Wire the retract-consuming Top-N onto a keyed changelog stream. */
  def retractableTopN(ds: Dataset[ChangeScored], n: Int): Dataset[TopNChange] = {
    implicit val out: Encoder[TopNChange] = Encoders.product[TopNChange]
    ds.groupByKey(_.key)(Encoders.STRING)
      .transformWithState(new RetractableTopN(n), TimeMode.None(), OutputMode.Append())
  }

  /** The canonical Flink retract chain ([U] StreamExecGroupAggregate →
    * StreamExecRank): a refining streaming group aggregate feeds a
    * Top-N of the groups ranked by their aggregate, all in ONE streaming
    * query — the aggregate's "-U"/"+U" refinements flow into the rank
    * operator as retract/upsert, so the emitted Top-N changelog always
    * nets to the Top-N of the CURRENT aggregates.
    */
  def aggTopN(changes: Dataset[ChangeIn], n: Int): Dataset[TopNChange] = {
    val agg = GroupAgg.retractingAgg(changes)
    implicit val enc: Encoder[ChangeScored] = Encoders.product[ChangeScored]
    retractableTopN(
      agg.map(c => ChangeScored(c.row_kind, "all", c.key, c.sum_value)), n)
  }
}
