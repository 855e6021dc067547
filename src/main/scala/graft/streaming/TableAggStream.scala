package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.streaming._
import graft.operators.TableAggregateFunction

/** One emitted change of a streaming table aggregate: "+I" adds a row to
  * the group's current result set, "-D" removes one — applying the log
  * yields the group's `emitValue` of the present accumulator.
  */
case class TableAggChange[K, OUT](row_kind: String, key: K, value: OUT)

/** Streaming runner for [[TableAggregateFunction]] — the reference's
  * `emitUpdateWithRetract` mode ([U] flink-table-common
  * TableAggregateFunction.java: "emits values that have been updated,
  * retracting old records"): instead of asking the function author to
  * track what changed, the runner keeps the accumulator AND the last
  * emitted result set in state; on every input it re-emits only the
  * set difference as "-D"/"+I" changes. State per key is O(|acc| +
  * |emitValue|) — for Top2, five rows — the same bound Flink's
  * incremental emit carries.
  */
class TableAggProcess[K, IN, ACC, OUT](
    f: TableAggregateFunction[IN, ACC, OUT],
    accEnc: Encoder[ACC], emittedEnc: Encoder[List[OUT]])
    extends KeyedProcess[K, IN, TableAggChange[K, OUT]] {

  @transient private var acc: ValueState[ACC] = _
  @transient private var emitted: ValueState[List[OUT]] = _

  override def open(h: StatefulProcessorHandle, om: OutputMode, tm: TimeMode): Unit = {
    acc = h.getValueState[ACC]("acc", accEnc, TTLConfig.NONE)
    emitted = h.getValueState[List[OUT]]("emitted", emittedEnc, TTLConfig.NONE)
  }

  override def onElement(key: K, v: IN, tv: TimerValues,
      emit: TableAggChange[K, OUT] => Unit): Unit = {
    val cur = Option(acc.get()).getOrElse(f.createAccumulator())
    val next = f.accumulate(cur, v)
    acc.update(next)
    val before = Option(emitted.get()).getOrElse(Nil)
    val after = f.emitValue(next).toList
    if (after != before) {
      emitted.update(after)
      // MULTISET diff (counted occurrences, not contains): with duplicate
      // OUT values a set-style diff would under-emit — e.g. [5,5] → [6,5]
      // must retract ONE 5, or applying the log no longer reconstructs
      // emitValue
      val beforeCnt = before.groupBy(identity).view.mapValues(_.size)
      val afterCnt = after.groupBy(identity).view.mapValues(_.size)
      beforeCnt.foreach { case (o, n) =>
        val excess = n - afterCnt.getOrElse(o, 0)
        (0 until excess).foreach(_ => emit(TableAggChange("-D", key, o)))
      }
      afterCnt.foreach { case (o, n) =>
        val excess = n - beforeCnt.getOrElse(o, 0)
        (0 until excess).foreach(_ => emit(TableAggChange("+I", key, o)))
      }
    }
  }
}

object TableAggStream {

  /** Wire a table aggregate onto a keyed stream, emitting the "+I"/"-D"
    * changelog of each key's result set.
    */
  def flatAggregate[K, IN, ACC, OUT](
      ds: Dataset[IN], keyFn: IN => K, f: TableAggregateFunction[IN, ACC, OUT])(
      implicit kEnc: Encoder[K], accEnc: Encoder[ACC],
      emittedEnc: Encoder[List[OUT]],
      outEnc: Encoder[TableAggChange[K, OUT]]): Dataset[TableAggChange[K, OUT]] =
    ds.groupByKey(keyFn)
      .transformWithState(new TableAggProcess(f, resolved(accEnc), resolved(emittedEnc)),
        TimeMode.None(), OutputMode.Append())

  /** An `ExpressionEncoder()` built from a TypeTag carries unresolved
    * deserializer lambdas that do not survive task-closure serialization
    * (UnresolvedMapObjects drops its function) — resolve on the driver so
    * the state store gets a bound encoder.
    */
  private def resolved[T](e: Encoder[T]): Encoder[T] = e match {
    case ee: ExpressionEncoder[T] => ee.resolveAndBind()
    case other => other
  }
}
