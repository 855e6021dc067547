package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming._

import graft.plans.MatchRecognize
import graft.plans.MatchRecognize.{MMatch, MrAllRow, MrMatch, MrRow}

/** Streaming MATCH_RECOGNIZE kernel ([U] flink-table-runtime
  * operators/match/ — Flink's MATCH_RECOGNIZE is streaming-first and
  * carries its MEASURES through the NFA): the batch kernel's scan
  * ([[MatchRecognize.Kernel]]) behind the watermark buffer
  * ([[BufferedScanProcess]]), handing each resolved match with its
  * number to `out`. A per-key ValueState counter numbers matches
  * continuously across micro-batches, so MATCH_NUMBER() (and the ALL ROWS
  * `match_seq` column) survives rescans — Flink's per-partition
  * numbering.
  *
  * The key is a STRING (the partition column's canonical string form,
  * cast back to the original type on output), so any atomic partition
  * key works — not just integral ones.
  */
class StreamingMatchProcess[O](kernel: MatchRecognize.Kernel,
    out: (Array[MrRow], MMatch, Long) => Seq[O])
    extends BufferedScanProcess[String, MrRow, O] {
  @transient private var seq: ValueState[Long] = _

  override protected def stateEncoder: Encoder[MrRow] = StateEncoders.mrRow
  override protected def tsOf(e: MrRow): Long = e.ord
  override protected def order: Ordering[MrRow] = StreamingMatch.byOrd

  override def open(h: StatefulProcessorHandle, om: OutputMode, tm: TimeMode): Unit = {
    super.open(h, om, tm)
    seq = h.getValueState[Long]("seq", Encoders.scalaLong, TTLConfig.NONE)
  }

  override protected def scan(key: String, ready: Array[MrRow], wm: Long,
      emit: O => Unit): Int = {
    val base = Option(seq.get()).getOrElse(0L)
    val (matches, resume) = kernel.scan(ready, openEnded = true, wm, base)
    matches.zipWithIndex.foreach { case (m, mi) =>
      out(ready, m, base + mi + 1).foreach(emit)
    }
    if (matches.nonEmpty) seq.update(base + matches.size)
    resume
  }
}

object StreamingMatch {
  private[streaming] val byOrd: Ordering[MrRow] = Ordering.by((r: MrRow) => r.ord)

  /** Run the measured pattern over a watermarked keyed row stream. */
  def run(ds: Dataset[MrRow], kernel: MatchRecognize.Kernel): Dataset[MrMatch] = {
    implicit val out: Encoder[MrMatch] = Encoders.product[MrMatch]
    ds.groupByKey(_.key)(Encoders.STRING)
      .transformWithState(new StreamingMatchProcess(kernel, kernel.oneRow),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** ALL ROWS PER MATCH variant: one output row per matched input row,
    * carrying the input row's JSON payload.
    */
  def runAllRows(ds: Dataset[MrRow], kernel: MatchRecognize.Kernel): Dataset[MrAllRow] = {
    implicit val out: Encoder[MrAllRow] = Encoders.product[MrAllRow]
    ds.groupByKey(_.key)(Encoders.STRING)
      .transformWithState(new StreamingMatchProcess(kernel, kernel.allRows),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
