package graft.streaming

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.streaming._
import scala.collection.mutable.ArrayBuffer

import graft.operators.Cep

/** Flink `KeyedProcessFunction`-shaped façade over Spark 4's
  * `StatefulProcessor` (SURVEY.md §7.4.4: build this once, then every
  * stateful custom operator — streaming Top-N, count windows, keep-last
  * dedup, temporal join, CEP — is written against the familiar
  * onElement/onTimer shape so reference semantics transfer legibly).
  *
  * Deltas vs Flink, by construction of Structured Streaming:
  *  - elements arrive per-key per-micro-batch (the iterator is unrolled
  *    here into per-element callbacks);
  *  - timers are the engine's (processing- or event-time per the
  *    `TimeMode` passed to `transformWithState`); watermark semantics are
  *    Spark's global-per-trigger watermark (SURVEY.md §2.10).
  *
  * State is created in [[open]] via the handle (value/list/map state with
  * optional TTL — the analog of Flink's StateTtlConfig).
  */
abstract class KeyedProcess[K, I, O] extends StatefulProcessor[K, I, O] {

  /** Create state handles here; called on operator (re)start. */
  def open(handle: StatefulProcessorHandle, outputMode: OutputMode, timeMode: TimeMode): Unit = ()

  /** Per-element hook; `emit` collects output rows. */
  def onElement(key: K, value: I, timers: TimerValues, emit: O => Unit): Unit

  /** Timer hook (register via [[registerTimer]]). */
  def onTimer(key: K, expiryMs: Long, timers: TimerValues, emit: O => Unit): Unit = ()

  final override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    open(getHandle, outputMode, timeMode)

  final override def handleInputRows(key: K, rows: Iterator[I], tv: TimerValues): Iterator[O] = {
    val buf = ArrayBuffer.empty[O]
    rows.foreach(r => onElement(key, r, tv, buf += _))
    buf.iterator
  }

  final override def handleExpiredTimer(key: K, tv: TimerValues, info: ExpiredTimerInfo): Iterator[O] = {
    val buf = ArrayBuffer.empty[O]
    onTimer(key, info.getExpiryTimeInMs, tv, buf += _)
    buf.iterator
  }

  protected def registerTimer(ms: Long): Unit = getHandle.registerTimer(ms)
  protected def deleteTimer(ms: Long): Unit = getHandle.deleteTimer(ms)
}

/** State encoders of the [[KeyedProcess]] operators, derived once per JVM.
  * Deriving one (`ExpressionEncoder()`, `Encoders.product`) goes through
  * Scala runtime reflection, which takes a global lock; derived in `open`,
  * it ran in every task of every micro-batch and a stage's tasks queued
  * behind each other. An encoder is immutable (state handles build their
  * own serializers from it), so tasks share one. Lazy, so a JVM derives
  * only the encoders of the operators it runs.
  */
private[streaming] object StateEncoders {
  type OverAcc = (Seq[Double], Long, Seq[Double], Seq[Double], Seq[Double],
    Seq[Double], Seq[Long], Seq[Boolean], Seq[String], Seq[String], Seq[String])
  type OverLags = (Seq[Seq[Double]], Seq[Seq[Boolean]], Seq[Seq[String]])
  type OverDist = (Seq[Seq[Double]], Seq[Double], Seq[Long])

  lazy val longDouble: Encoder[(Long, Double)] = ExpressionEncoder()
  lazy val longLong: Encoder[(Long, Long)] = ExpressionEncoder()
  lazy val longLongDouble: Encoder[(Long, Long, Double)] = ExpressionEncoder()
  lazy val longLongBoolean: Encoder[(Long, Long, Boolean)] = ExpressionEncoder()
  lazy val longDoubleList: Encoder[List[(Long, Double)]] = ExpressionEncoder()
  lazy val longLongDoubleList: Encoder[List[(Long, Long, Double)]] = ExpressionEncoder()
  lazy val keyedScoredList: Encoder[List[KeyedScored]] = ExpressionEncoder()
  lazy val keyedValue: Encoder[KeyedValue] = Encoders.product[KeyedValue]
  lazy val timedValue: Encoder[TimedValue] = Encoders.product[TimedValue]
  lazy val gapSession: Encoder[GapSession] = Encoders.product[GapSession]
  lazy val winRankIn: Encoder[WinRankIn] = Encoders.product[WinRankIn]
  lazy val overIn: Encoder[OverIn] = Encoders.product[OverIn]
  lazy val overAcc: Encoder[OverAcc] = ExpressionEncoder()
  lazy val overLags: Encoder[OverLags] = ExpressionEncoder()
  lazy val overDist: Encoder[OverDist] = ExpressionEncoder()
  lazy val stringSeqs: Encoder[Seq[Seq[String]]] = ExpressionEncoder()
  lazy val cepEvent: Encoder[Cep.Event] = Encoders.product[Cep.Event]
  lazy val cepNfaState: Encoder[Cep.NfaState] = Encoders.product[Cep.NfaState]
  lazy val mrRow: Encoder[graft.plans.MatchRecognize.MrRow] =
    Encoders.product[graft.plans.MatchRecognize.MrRow]
}
