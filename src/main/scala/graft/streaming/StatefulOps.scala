package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming._

/** Input/output row shapes for the stateful custom operators. Concrete
  * (key: Long, id: Long, score/value: Double) rows keep the encoders simple;
  * callers project their columns into this shape, exactly like keying a
  * Flink stream with a KeySelector.
  */
case class KeyedScored(key: String, id: Long, score: Double)

/** Changelog row: `row_kind` mirrors Flink's RowKind (SURVEY.md §7.4.1) —
  * "+I" insert into the top-N, "-D" retract from it.
  */
case class TopNChange(row_kind: String, key: String, id: Long, score: Double)

case class KeyedValue(key: Long, id: Long, value: Double)

case class CountWindowOut(key: Long, win_seq: Long, n: Long, sum_value: Double)

case class KeepLastOut(row_kind: String, key: Long, id: Long, value: Double)

/** Streaming Top-N per key — the reference's RetractableTopNFunction
  * ([U] flink-table-runtime operators/rank/; SURVEY.md §7.4.3): bounded
  * sorted state (top N by score desc, id asc as tiebreak) per key; emits
  * "+I"/"-D" changelog rows as entries enter/leave the top-N. Downstream
  * reconstructs the current top-N by applying the changelog.
  *
  * State is O(N) per key — bounded regardless of stream length.
  */
class StreamingTopN(n: Int) extends KeyedProcess[String, KeyedScored, TopNChange] {
  @transient private var top: ValueState[List[KeyedScored]] = _

  override def open(h: StatefulProcessorHandle, om: OutputMode, tm: TimeMode): Unit = {
    top = h.getValueState[List[KeyedScored]]("topn", StateEncoders.keyedScoredList,
      TTLConfig.NONE)
  }

  private def ordered(xs: List[KeyedScored]): List[KeyedScored] =
    xs.sortBy(e => (-e.score, e.id))

  override def onElement(key: String, v: KeyedScored, tv: TimerValues,
      emit: TopNChange => Unit): Unit = {
    val cur = Option(top.get()).getOrElse(Nil)
    // upsert per id (Flink RetractableTopNFunction): a re-arriving id
    // replaces its old version, which is retracted below if it was ranked
    val next = ordered(v :: cur.filterNot(_.id == v.id)).take(n)
    if (next != cur) {
      top.update(next)
      cur.filterNot(next.contains).foreach(e => emit(TopNChange("-D", e.key, e.id, e.score)))
      next.filterNot(cur.contains).foreach(e => emit(TopNChange("+I", e.key, e.id, e.score)))
    }
  }
}

/** Count windows — Flink's `KeyedStream.countWindow(n)` (GlobalWindows +
  * CountTrigger, SURVEY.md §2.5): every `size` elements per key emit one
  * aggregate row and reset. State: one (seq, count, sum) triple per key.
  */
class CountWindow(size: Int) extends KeyedProcess[Long, KeyedValue, CountWindowOut] {
  @transient private var acc: ValueState[(Long, Long, Double)] = _

  override def open(h: StatefulProcessorHandle, om: OutputMode, tm: TimeMode): Unit = {
    acc = h.getValueState[(Long, Long, Double)]("acc", StateEncoders.longLongDouble,
      TTLConfig.NONE)
  }

  override def onElement(key: Long, v: KeyedValue, tv: TimerValues,
      emit: CountWindowOut => Unit): Unit = {
    val (seq, cnt, sum) = Option(acc.get()).getOrElse((0L, 0L, 0.0))
    val (nc, ns) = (cnt + 1, sum + v.value)
    if (nc == size) {
      emit(CountWindowOut(key, seq, nc, ns))
      acc.update((seq + 1, 0L, 0.0))
    } else acc.update((seq, nc, ns))
  }
}

/** Keep-LAST deduplication — the reference's RowTimeDeduplicateFunction
  * keep-last mode ([U] flink-table-runtime operators/deduplicate/;
  * SURVEY.md §2.6). Spark's dropDuplicates keeps the FIRST row per key;
  * keep-last is a changelog: each new row retracts the previous one
  * ("-U") and asserts itself ("+U"). State: one row per key.
  */
class KeepLastDedup(ttl: TTLConfig = TTLConfig.NONE)
    extends KeyedProcess[Long, KeyedValue, KeepLastOut] {
  @transient private var lastSeen: ValueState[KeyedValue] = _

  override def open(h: StatefulProcessorHandle, om: OutputMode, tm: TimeMode): Unit = {
    // ttl = Flink StateTtlConfig analog: expired entries read as null, so
    // a re-arriving key after the TTL emits no retraction
    lastSeen = h.getValueState[KeyedValue]("last", StateEncoders.keyedValue, ttl)
  }

  override def onElement(key: Long, v: KeyedValue, tv: TimerValues,
      emit: KeepLastOut => Unit): Unit = {
    Option(lastSeen.get()).foreach(p => emit(KeepLastOut("-U", p.key, p.id, p.value)))
    lastSeen.update(v)
    emit(KeepLastOut("+U", v.key, v.id, v.value))
  }
}

/** Entry points wiring the processors onto keyed datasets. */
object StatefulOps {
  def topN(ds: Dataset[KeyedScored], n: Int, outputMode: OutputMode = OutputMode.Append())
      : Dataset[TopNChange] = {
    implicit val out: Encoder[TopNChange] = Encoders.product[TopNChange]
    ds.groupByKey(_.key)(Encoders.STRING)
      .transformWithState(new StreamingTopN(n), TimeMode.None(), outputMode)
  }

  def countWindow(ds: Dataset[KeyedValue], size: Int,
      outputMode: OutputMode = OutputMode.Append()): Dataset[CountWindowOut] = {
    implicit val out: Encoder[CountWindowOut] = Encoders.product[CountWindowOut]
    ds.groupByKey(_.key)(Encoders.scalaLong)
      .transformWithState(new CountWindow(size), TimeMode.None(), outputMode)
  }

  def keepLast(ds: Dataset[KeyedValue], outputMode: OutputMode = OutputMode.Append(),
      ttl: TTLConfig = TTLConfig.NONE): Dataset[KeepLastOut] = {
    implicit val out: Encoder[KeepLastOut] = Encoders.product[KeepLastOut]
    // TTL state requires a time mode with a processing-time clock
    val timeMode = if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()
    ds.groupByKey(_.key)(Encoders.scalaLong)
      .transformWithState(new KeepLastDedup(ttl), timeMode, outputMode)
  }
}
