package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming._

/** Streaming temporal (event-time as-of) join — the reference's
  * `FOR SYSTEM_TIME AS OF a.rowtime` against a versioned table
  * ([U] flink-table-runtime operators/join/temporal/
  * TemporalRowTimeJoinOperator.java; SURVEY.md §7.4.2 streaming half).
  *
  * Both inputs arrive as one keyed stream of tagged rows (build side =
  * version updates, probe side = lookups) — the union-of-tagged-streams
  * encoding of Flink's two-input operator (SURVEY.md §2.2 "connect").
  * Per key:
  *  - versions: MapState[version_ts → payload] — the versioned table;
  *  - probes: ListState of pending lookups, buffered because a version
  *    older than the probe may still arrive (out-of-orderness);
  *  - an event-time timer per probe ts: when the watermark passes, every
  *    version ≤ probe.ts has arrived → emit the as-of match and drop the
  *    probe; versions behind the watermark are pruned down to the latest
  *    one still reachable (exactly Flink's cleanup rule).
  *
  * State per key = versions kept ∪ pending probes, both watermark-bounded.
  */
case class TemporalIn(key: Long, side: Int, id: Long, ts_ms: Long, value: Double)
case class TemporalMatch(key: Long, probe_id: Long, probe_ts: Long,
    version_id: Option[Long], version_value: Option[Double])

class TemporalJoinProcess extends KeyedProcess[Long, TemporalIn, TemporalMatch] {
  @transient private var versions: MapState[Long, (Long, Double)] = _
  @transient private var probes: ListState[(Long, Long)] = _ // (id, ts)
  @transient private var prunedUpTo: ValueState[Long] = _

  override def open(h: StatefulProcessorHandle, om: OutputMode, tm: TimeMode): Unit = {
    versions = h.getMapState[Long, (Long, Double)]("versions", Encoders.scalaLong,
      StateEncoders.longDouble, TTLConfig.NONE)
    probes = h.getListState[(Long, Long)]("probes", StateEncoders.longLong, TTLConfig.NONE)
    prunedUpTo = h.getValueState[Long]("pruned", Encoders.scalaLong, TTLConfig.NONE)
  }

  override def onElement(key: Long, v: TemporalIn, tv: TimerValues,
      emit: TemporalMatch => Unit): Unit =
    if (v.side == 0) {
      versions.updateValue(v.ts_ms, (v.id, v.value))
    } else {
      // a probe at-or-behind the prune frontier is LATE: the versions
      // its as-of lookup needs may already be gone, so answering it
      // could be affirmatively wrong — dropped, like the reference
      // exists()-guarded: unset ValueState[Long] null-unboxes to 0,
      // which would drop pre-epoch probes
      val frontier = if (prunedUpTo.exists()) prunedUpTo.get() else Long.MinValue
      if (v.ts_ms >= frontier) {
        probes.appendValue((v.id, v.ts_ms))
        registerTimer(v.ts_ms) // fires once watermark passes probe time
      }
    }

  override def onTimer(key: Long, expiryMs: Long, tv: TimerValues,
      emit: TemporalMatch => Unit): Unit = {
    val wm = math.max(tv.getCurrentWatermarkInMs, expiryMs)
    val vs = versions.iterator().toArray
    val (ready, pending) = probes.get().toArray.partition(_._2 <= wm)
    ready.sortBy(p => (p._2, p._1)).foreach { case (id, ts) =>
      val m = vs.filter(_._1 <= ts).sortBy(_._1).lastOption
      emit(TemporalMatch(key, id, ts, m.map(_._2._1), m.map(_._2._2)))
    }
    probes.clear()
    if (pending.nonEmpty) probes.appendList(pending)
    // prune: drop versions behind the watermark except the latest of
    // them; record the frontier so later-arriving probes older than it
    // are dropped rather than answered from pruned state
    val behind = vs.map(_._1).filter(_ <= wm)
    if (behind.length > 1) {
      behind.sorted.init.foreach(versions.removeKey)
      // a probe older than the RETAINED behind-watermark version would
      // need a pruned one for its as-of answer — that ts is the frontier
      prunedUpTo.update(math.max(
        if (prunedUpTo.exists()) prunedUpTo.get() else Long.MinValue,
        behind.max))
    }
  }
}

object TemporalJoin {
  /** As-of join two tagged streams (side 0 = versions, side 1 = probes);
    * `ds` must carry an event-time watermark for TimeMode.EventTime.
    */
  def asOf(ds: Dataset[TemporalIn]): Dataset[TemporalMatch] = {
    implicit val out: Encoder[TemporalMatch] = Encoders.product[TemporalMatch]
    ds.groupByKey(_.key)(Encoders.scalaLong)
      .transformWithState(new TemporalJoinProcess, TimeMode.EventTime(), OutputMode.Append())
  }
}
