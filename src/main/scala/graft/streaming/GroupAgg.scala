package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming._

/** Changelog input row for the retracting group aggregate: `row_kind`
  * follows Flink's RowKind — "+I"/"+U" accumulate, "-U"/"-D" retract —
  * so the operator can sit downstream of another changelog-emitting
  * operator (keep-last dedup, retractable Top-N) exactly like a Flink
  * retract pipeline.
  */
case class ChangeIn(row_kind: String, key: Long, value: Double)

/** Changelog output: the refined aggregate per key. "+I" first result,
  * "-U"/"+U" pair on every refinement, "-D" when the group empties.
  */
case class GroupAggChange(row_kind: String, key: Long, cnt: Long,
    sum_value: Double, avg_value: Double)

/** General retract-emitting streaming group aggregate — the reference's
  * `GroupAggFunction` ([U] flink-table-runtime
  * operators/aggregate/GroupAggFunction.java; SURVEY.md §2.4): every
  * refinement of a group's aggregate emits an UPDATE_BEFORE ("-U") with
  * the previous value and an UPDATE_AFTER ("+U") with the new one, the
  * first value per key emits "+I", and a group whose accumulated row
  * count returns to zero emits "-D" and clears its state (Flink's
  * `recordCounter.recordCountIsZero` branch).
  *
  * Like Flink, emission is per input record (not per micro-batch), so a
  * downstream consumer sees every intermediate refinement; and like
  * Flink's `RecordEqualiser` optimization, a record that leaves the
  * aggregate value unchanged emits nothing.
  *
  * State: one (count, sum) accumulator per key — O(1) per key regardless
  * of stream length. At scale the operator partitions by key hash like
  * any shuffle aggregate; no per-key list state is kept.
  */
class StreamingGroupAgg(ttlMillis: Option[Long] = None)
    extends KeyedProcess[Long, ChangeIn, GroupAggChange] {
  @transient private var acc: ValueState[(Long, Double)] = _

  override def open(h: StatefulProcessorHandle, om: OutputMode, tm: TimeMode): Unit = {
    // Flink's StateTtlConfig analog (the STATE_TTL hint surface): an
    // idle group's accumulator expires on processing time — both engines
    // trade exactness of late refinements for bounded state
    val ttl = ttlMillis.map(ms => TTLConfig(java.time.Duration.ofMillis(ms)))
      .getOrElse(TTLConfig.NONE)
    acc = h.getValueState[(Long, Double)]("acc", StateEncoders.longDouble, ttl)
  }

  private def out(kind: String, key: Long, c: Long, s: Double): GroupAggChange =
    GroupAggChange(kind, key, c, s, s / c)

  override def onElement(key: Long, v: ChangeIn, tv: TimerValues,
      emit: GroupAggChange => Unit): Unit = {
    val prev = Option(acc.get())
    val (c0, s0) = prev.getOrElse((0L, 0.0))
    val retract = v.row_kind == "-U" || v.row_kind == "-D"
    val (c1, s1) = if (retract) (c0 - 1, s0 - v.value) else (c0 + 1, s0 + v.value)
    if (c1 <= 0) {
      // group emptied: retract the published aggregate, drop all state
      if (c0 > 0) emit(out("-D", key, c0, s0))
      acc.clear()
    } else {
      acc.update((c1, s1))
      if (c0 <= 0) emit(out("+I", key, c1, s1))
      else if ((c1, s1) != (c0, s0)) {
        emit(out("-U", key, c0, s0))
        emit(out("+U", key, c1, s1))
      }
    }
  }
}

object GroupAgg {
  /** Wire the retracting aggregate onto a keyed changelog stream. Input
    * rows must carry row_kind; an append-only stream is the special case
    * where every row is "+I".
    */
  def retractingAgg(ds: Dataset[ChangeIn],
      stateTtl: Option[java.time.Duration] = None): Dataset[GroupAggChange] = {
    implicit val out: Encoder[GroupAggChange] = Encoders.product[GroupAggChange]
    // a TTL'd state variable needs the processing-time clock (Spark
    // rejects TTLConfig under TimeMode.None; Flink's TTL is also
    // processing-time based)
    val tm = if (stateTtl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    ds.groupByKey(_.key)(Encoders.scalaLong)
      .transformWithState(new StreamingGroupAgg(stateTtl.map(_.toMillis)),
        tm, OutputMode.Append())
  }
}
