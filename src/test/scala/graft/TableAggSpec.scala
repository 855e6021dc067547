package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.operators.{TableAgg, TableAggregateFunction, Top2}
import graft.streaming.{TableAggChange, TableAggStream}

/** Top2 with retraction support for the changelog-input path: keeps the
  * full multiset (the cost Flink's retractable table aggregates pay too)
  * so a retraction can promote the next-best row.
  */
class Top2Retract extends TableAggregateFunction[(Long, Double), List[(Long, Double)], (Long, Double, Int)] {
  def createAccumulator(): List[(Long, Double)] = Nil
  def accumulate(acc: List[(Long, Double)], in: (Long, Double)): List[(Long, Double)] = in :: acc
  def merge(a: List[(Long, Double)], b: List[(Long, Double)]): List[(Long, Double)] = a ++ b
  override def retract(acc: List[(Long, Double)], in: (Long, Double)): List[(Long, Double)] = {
    val i = acc.indexOf(in)
    if (i < 0) acc else acc.patch(i, Nil, 1)
  }
  def emitValue(acc: List[(Long, Double)]): Seq[(Long, Double, Int)] =
    acc.sortBy { case (id, v) => (-v, id) }.take(2)
      .zipWithIndex.map { case ((id, v), i) => (id, v, i + 1) }
}

/** TableAggregateFunction analog (SURVEY.md §2.9; [U] flink-table-common
  * TableAggregateFunction.java): multi-row-emitting aggregates, batch
  * `flatAggregate`, changelog input via `retract`, and the streaming
  * emitUpdateWithRetract changelog produced by diffing emitValue sets.
  */
class TableAggSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("batch flatAggregate Top2 equals the row_number rewrite") {
    import spark.implicits._
    val ev = Tables.events(spark, TestSpark.sfDir)
      .select($"event_type", $"event_id".cast("long").as("event_id"), $"value")
      .as[(String, Long, Double)]
    val got = TableAgg
      .flatAggregate(ev, (t: (String, Long, Double)) => t._1,
        new Top2().contramap[(String, Long, Double)](t => (t._2, t._3)))
      .map { case (et, (id, v, r)) => (et, id, v, r) }
      .collect().toSet
    val want = Tables.events(spark, TestSpark.sfDir)
      .select($"event_type", $"event_id".cast("long").as("event_id"), $"value",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy($"event_type").orderBy($"value".desc, $"event_id")).as("rnk"))
      .filter($"rnk" <= 2)
      .as[(String, Long, Double, Int)].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("changelog-input flatAggregate retracts and promotes") {
    import spark.implicits._
    val rows = Seq(
      ("+I", ("g", 1L, 50.0)), ("+I", ("g", 2L, 40.0)), ("+I", ("g", 3L, 30.0)),
      ("-D", ("g", 1L, 50.0))).toDS()
    val out = TableAgg
      .flatAggregateChangelog(rows, (t: (String, Long, Double)) => t._1,
        new Top2Retract().contramap[(String, Long, Double)](t => (t._2, t._3)))
      .collect().map { case (k, (id, v, r)) => (k, id, v, r) }.toSet
    // retracting the leader promotes 3 into the top-2
    assert(out == Set(("g", 2L, 40.0, 1), ("g", 3L, 30.0, 2)))
  }

  test("changelog fold is order-independent: a retract arriving before its insert still nets out") {
    import spark.implicits._
    // Spark gives no within-group order after the shuffle; the runner
    // applies inserts before retracts, so this -D-first input must net
    // to the same state as insert-then-retract
    val rows = Seq(
      ("-D", ("g", 1L, 50.0)), ("+I", ("g", 1L, 50.0)), ("+I", ("g", 2L, 40.0)))
      .toDS()
    val out = TableAgg
      .flatAggregateChangelog(rows, (t: (String, Long, Double)) => t._1,
        new Top2Retract().contramap[(String, Long, Double)](t => (t._2, t._3)))
      .collect().map { case (k, (id, v, r)) => (k, id, v, r) }.toSet
    assert(out == Set(("g", 2L, 40.0, 1)))
  }

  test("streaming flatAggregate emits the emitUpdateWithRetract changelog") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val accEnc: Encoder[List[(Long, Double)]] = ExpressionEncoder()
    implicit val emitEnc: Encoder[List[(Long, Double, Int)]] = ExpressionEncoder()
    implicit val outEnc: Encoder[TableAggChange[String, (Long, Double, Int)]] =
      ExpressionEncoder()
    val input = MemoryStream[(String, Long, Double)]
    val changes = TableAggStream.flatAggregate(
      input.toDS(), (t: (String, Long, Double)) => t._1,
      new Top2().contramap[(String, Long, Double)](t => (t._2, t._3)))
    val q = changes.writeStream.format("memory").queryName("tagg_sink")
      .outputMode("append").start()
    try {
      input.addData(("a", 1L, 10.0)); q.processAllAvailable()
      input.addData(("a", 2L, 30.0)); q.processAllAvailable()
      input.addData(("a", 3L, 20.0)); q.processAllAvailable()
    } finally q.stop()
    val log = spark.table("tagg_sink")
      .as[TableAggChange[String, (Long, Double, Int)]].collect().toList
    // apply the changelog: the net set is the batch emitValue
    val net = log.foldLeft(Set.empty[(Long, Double, Int)]) { (s, c) =>
      if (c.row_kind == "+I") s + c.value else s - c.value
    }
    assert(net == Set((2L, 30.0, 1), (3L, 20.0, 2)))
    // the overtaken leader was explicitly retracted: 1 held rank 1, then
    // 2 displaced it, then 3 displaced it from rank 2
    val kinds = log.map(c => (c.row_kind, c.value))
    assert(kinds.contains(("-D", (1L, 10.0, 1))) && kinds.contains(("-D", (1L, 10.0, 2))))
    // row 2 at rank 1 was emitted once and never retracted
    assert(kinds.count(_ == (("+I", (2L, 30.0, 1)))) == 1 &&
      !kinds.contains(("-D", (2L, 30.0, 1))))
  }

  test("streaming changelog diff is a MULTISET diff: duplicate values retract one-for-one") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val listEnc: Encoder[List[Double]] = ExpressionEncoder()
    implicit val outEnc: Encoder[TableAggChange[String, Double]] = ExpressionEncoder()
    // Top2 over VALUES only — equal scores produce duplicate OUT values,
    // where a set-style diff would under-retract
    val top2vals = new TableAggregateFunction[Double, List[Double], Double] {
      def createAccumulator(): List[Double] = Nil
      def accumulate(acc: List[Double], in: Double): List[Double] =
        (in :: acc).sorted(Ordering[Double].reverse).take(2)
      override def retract(acc: List[Double], in: Double): List[Double] = {
        val i = acc.indexOf(in); if (i < 0) acc else acc.patch(i, Nil, 1)
      }
      def merge(a: List[Double], b: List[Double]): List[Double] =
        (a ++ b).sorted(Ordering[Double].reverse).take(2)
      def emitValue(acc: List[Double]): Seq[Double] = acc
    }
    val input = MemoryStream[(String, Double)]
    val changes = TableAggStream.flatAggregate(
      input.toDS(), (t: (String, Double)) => t._1,
      top2vals.contramap[(String, Double)](_._2))
    val q = changes.writeStream.format("memory").queryName("tagg_dup_sink")
      .outputMode("append").start()
    try {
      input.addData(("a", 5.0)); q.processAllAvailable()
      input.addData(("a", 5.0)); q.processAllAvailable() // emitValue [5,5]
      input.addData(("a", 6.0)); q.processAllAvailable() // emitValue [6,5]
    } finally q.stop()
    val log = spark.table("tagg_dup_sink")
      .as[TableAggChange[String, Double]].collect().toList
    // applying the log must reconstruct [6.0, 5.0] WITH multiplicities
    val net = log.foldLeft(Map.empty[Double, Int].withDefaultValue(0)) { (m, c) =>
      if (c.row_kind == "+I") m.updated(c.value, m(c.value) + 1)
      else m.updated(c.value, m(c.value) - 1)
    }.filter(_._2 != 0)
    assert(net == Map(6.0 -> 1, 5.0 -> 1), s"net $net from $log")
    // exactly ONE of the two 5.0s was retracted when 6.0 displaced it
    assert(log.count(c => c.row_kind == "-D" && c.value == 5.0) == 1, log.toString)
  }
}
