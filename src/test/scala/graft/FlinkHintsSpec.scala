package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.plans.FlinkHints
import graft.streaming.{ChangeIn, GroupAgg, GroupAggChange}

/** Flink's key-value hints through the dialect chain (MIGRATION.md):
  * `LOOKUP` executes as a broadcast of the dimension side — the
  * Spark-first lookup join — with Flink's option validation; `STATE_TTL`
  * validates and records per-input TTLs, honored for real by the
  * stateful operators' `TTLConfig` (processing-time expiry, like Flink's
  * StateTtlConfig).
  */
class FlinkHintsSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  private def tmp(): String =
    tempDir("graft_hints")

  test("duration literals parse with Flink's unit table") {
    assert(FlinkHints.parseDuration("123", "t") == 123L)
    assert(FlinkHints.parseDuration("100ms", "t") == 100L)
    assert(FlinkHints.parseDuration("3 s", "t") == 3000L)
    assert(FlinkHints.parseDuration("2min", "t") == 120000L)
    assert(FlinkHints.parseDuration("12 hours", "t") == 12L * 3600000L)
    assert(FlinkHints.parseDuration("1 d", "t") == 86400000L)
    // sub-milli units (Flink TimeUtils accepts them) round UP to 1ms so
    // a nonzero TTL never collapses to zero
    assert(FlinkHints.parseDuration("500 µs", "t") == 1L)
    assert(FlinkHints.parseDuration("2000us", "t") == 2L)
    assert(FlinkHints.parseDuration("1 ns", "t") == 1L)
    assert(FlinkHints.parseDuration("0ns", "t") == 0L)
    val eBig = intercept[IllegalArgumentException](
      FlinkHints.parseDuration("99999999999999999999 s", "t"))
    assert(eBig.getMessage.contains("range"))
    // a big-unit multiply that would wrap Long fails typed, never a
    // negative TTL (999999999999 d ≈ 8.6e19 ms > Long.MaxValue)
    val eMul = intercept[IllegalArgumentException](
      FlinkHints.parseDuration("999999999999 d", "t"))
    assert(eMul.getMessage.contains("range"))
    val e = intercept[IllegalArgumentException](FlinkHints.parseDuration("5 weeks", "t"))
    assert(e.getMessage.contains("unit"))
    val e2 = intercept[IllegalArgumentException](FlinkHints.parseDuration("soon", "t"))
    assert(e2.getMessage.contains("duration"))
  }

  test("LOOKUP hint broadcasts the dimension side of the join") {
    val dir = tmp()
    FlinkSql.run(spark,
      s"""CREATE TABLE lk_dim (id BIGINT, name STRING) WITH (
         |  'connector' = 'filesystem', 'path' = '$dir/dim', 'format' = 'parquet');
         |INSERT INTO lk_dim VALUES (1, 'a'), (2, 'b');
         |CREATE TABLE lk_fact (k BIGINT, v BIGINT) WITH (
         |  'connector' = 'filesystem', 'path' = '$dir/fact', 'format' = 'parquet');
         |INSERT INTO lk_fact VALUES (1, 10), (2, 20), (1, 30)""".stripMargin)
    val df = FlinkSql.sql(spark,
      """SELECT /*+ LOOKUP('table'='lk_dim', 'async'='true',
        |                  'output-mode'='allow_unordered', 'capacity'='100',
        |                  'timeout'='300 s', 'retry-predicate'='lookup_miss',
        |                  'retry-strategy'='fixed_delay', 'fixed-delay'='10s',
        |                  'max-attempts'='3') */
        |  f.k, f.v, d.name FROM lk_fact f JOIN lk_dim d ON f.k = d.id""".stripMargin)
    assert(df.count() == 3)
    // the hint's execution mapping: dim side broadcast, probe unshuffled
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin"), phys.take(500))
  }

  test("an INSERT body carries the dialect surface: LOOKUP hint + bracket constructor") {
    val dir = tmp()
    FlinkSql.run(spark,
      s"""CREATE TABLE lkb_dim (id BIGINT, name STRING) WITH (
         |  'connector' = 'filesystem', 'path' = '$dir/dim', 'format' = 'parquet');
         |INSERT INTO lkb_dim VALUES (1, 'a'), (2, 'b');
         |CREATE TABLE lkb_fact (k BIGINT, v BIGINT) WITH (
         |  'connector' = 'filesystem', 'path' = '$dir/fact', 'format' = 'parquet');
         |INSERT INTO lkb_fact VALUES (1, 10), (2, 20);
         |CREATE TABLE lkb_out (k BIGINT, name STRING, tags ARRAY<STRING>) WITH (
         |  'connector' = 'filesystem', 'path' = '$dir/out', 'format' = 'parquet');
         |INSERT INTO lkb_out SELECT /*+ LOOKUP('table'='lkb_dim') */
         |  f.k, d.name, ARRAY['x', d.name] AS tags
         |FROM lkb_fact f JOIN lkb_dim d ON f.k = d.id""".stripMargin)
    val got = spark.table("lkb_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2).toList))
      .sortBy(_._1).toList
    assert(got == List((1L, "a", List("x", "a")), (2L, "b", List("x", "b"))))
  }

  test("LOOKUP options validate with Flink's rules") {
    // a full 10-digit positive int is valid (Int.MaxValue bound, not 9 digits)
    assert(FlinkSql.sql(spark,
      "SELECT /*+ LOOKUP('table'='t', 'capacity'='2000000000') */ 1 AS one").count() == 1)
    val bad = Seq(
      "'async'='yes', 'table'='t'" -> "async",
      "'table'='t', 'output-mode'='fast'" -> "output-mode",
      "'table'='t', 'capacity'='-1'" -> "capacity",
      "'table'='t', 'capacity'='3000000000'" -> "capacity", // > Int.MaxValue
      "'table'='t', 'retry-predicate'='always'" -> "retry-predicate",
      "'table'='t', 'nope'='x'" -> "'nope'",
      "'async'='true'" -> "table")
    bad.foreach { case (opts, what) =>
      val e = intercept[IllegalArgumentException](FlinkSql.sql(spark,
        s"SELECT /*+ LOOKUP($opts) */ 1 AS one"))
      assert(e.getMessage.contains(what), s"$opts → ${e.getMessage}")
    }
  }

  test("STATE_TTL records per-input TTLs and strips cleanly") {
    val df = FlinkSql.sql(spark,
      "SELECT /*+ STATE_TTL('orders_s'='1d', 'lineitem_s'='12 hours') */ 1 AS one")
    assert(df.count() == 1) // the hint is gone before Spark parses
    assert(FlinkHints.stateTtlOf(spark, "orders_s").contains(86400000L))
    assert(FlinkHints.stateTtlOf(spark, "LINEITEM_S").contains(12L * 3600000L))
    assert(FlinkHints.stateTtlOf(spark, "absent").isEmpty)
    val e = intercept[IllegalArgumentException](FlinkSql.sql(spark,
      "SELECT /*+ STATE_TTL('t'='sometime') */ 1"))
    assert(e.getMessage.contains("duration"))
  }

  test("STATE_TTL is per-statement scope, like Flink's StateTtlHint") {
    FlinkSql.sql(spark,
      "SELECT /*+ STATE_TTL('scoped_t'='1d') */ 1 AS one").count()
    assert(FlinkHints.stateTtlOf(spark, "scoped_t").contains(86400000L))
    // a later statement re-using the alias must NOT inherit the TTL
    FlinkSql.sql(spark, "SELECT 2 AS two").count()
    assert(FlinkHints.stateTtlOf(spark, "scoped_t").isEmpty)
    // and two hints on the same alias in different queries don't merge:
    // only the latest statement's value is visible
    FlinkSql.sql(spark,
      "SELECT /*+ STATE_TTL('scoped_t'='2 h') */ 3 AS three").count()
    assert(FlinkHints.stateTtlOf(spark, "scoped_t").contains(7200000L))
  }

  // a TTL'd state variable needs the processing-time clock, and under
  // TimeMode.ProcessingTime the query schedules no-data batches
  // continuously, so neither processAllAvailable nor AvailableNow ever
  // settles — the TTL tests poll the memory sink for the expected trace
  // instead (data batches still process normally between the idle ones).
  private def pollTrace(name: String, want: List[(String, Long, Double)]):
      List[(String, Long, Double)] = {
    import spark.implicits._
    val deadline = System.currentTimeMillis + 60000
    var got = List.empty[(String, Long, Double)]
    while (got != want && System.currentTimeMillis < deadline) {
      Thread.sleep(200)
      got = spark.table(name).as[GroupAggChange].collect()
        .map(c => (c.row_kind, c.cnt, c.sum_value)).toList
    }
    got
  }

  test("group agg under a state TTL still refines; an idle group expires (StateTtlConfig)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ChangeIn]
    val q = GroupAgg.retractingAgg(input.toDS(),
        stateTtl = Some(java.time.Duration.ofSeconds(5)))
      .writeStream.outputMode("append").format("memory").queryName("hints_ttl").start()
    try {
      // two rows inside the TTL: the normal +I then -U/+U refinement
      input.addData(ChangeIn("+I", 5, 10.0), ChangeIn("+I", 5, 20.0))
      assert(pollTrace("hints_ttl", List(
        ("+I", 1L, 10.0), ("-U", 1L, 10.0), ("+U", 2L, 30.0))) == List(
        ("+I", 1L, 10.0), ("-U", 1L, 10.0), ("+U", 2L, 30.0)))
      Thread.sleep(8000) // well past the TTL: the accumulator expires
      input.addData(ChangeIn("+I", 5, 7.0))
      // the expired group restarts FRESH: +I of (1, 7) — a live
      // accumulator would have refined to (3, 37) instead
      val want = List(("+I", 1L, 10.0), ("-U", 1L, 10.0), ("+U", 2L, 30.0),
        ("+I", 1L, 7.0))
      assert(pollTrace("hints_ttl", want) == want)
    } finally q.stop()
  }

  test("STATE_TTL on a streaming OVER INSERT expires an idle key; live keys stream ≡ batch; un-hinted unchanged") {
    import spark.implicits._
    val dir = tmp()
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    FlinkSql.run(spark,
      s"""CREATE TABLE ttlov_src (
         |  event_id BIGINT, user_id BIGINT, ts TIMESTAMP(3), v DOUBLE,
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem', 'path' = '$dir/src',
         |        'format' = 'parquet');
         |CREATE TABLE ttlov_sink (event_id BIGINT, user_id BIGINT,
         |                         sum_v DOUBLE, n BIGINT)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/sink',
         |      'format' = 'parquet');
         |CREATE TABLE ttlov_sink_plain (event_id BIGINT, user_id BIGINT,
         |                               sum_v DOUBLE, n BIGINT)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/sink_plain',
         |      'format' = 'parquet')""".stripMargin)
    def ins(sink: String, hint: String) =
      s"""INSERT INTO $sink
         |SELECT $hint event_id, user_id,
         |  sum(v) OVER w AS sum_v, count(*) OVER w AS n
         |FROM ttlov_src
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin
    val hinted = ins("ttlov_sink", "/*+ STATE_TTL('ttlov_src'='1 min') */")
    val plain = ins("ttlov_sink_plain", "")
    def runBoth(): Unit =
      Seq((hinted, s"$dir/ckpt_h"), (plain, s"$dir/ckpt_p")).foreach {
        case (stmt, ck) =>
          graft.plans.FlinkDdl.executeInsertStream(spark, stmt,
            trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
            checkpointDir = Some(ck)).awaitTermination()
      }
    def got(path: String) = spark.read.parquet(path).collect()
      .filter(_.getLong(1) != 9L)
      .map(r => (r.getLong(0), r.getDouble(2), r.getLong(3))).toSet
    // phase A: user 1 stops at t=20 (idle from here on); user 2 keeps
    // emitting inside the TTL; sentinel user 9 advances the watermark
    Seq((1L, 1L, t(10), 1.0), (2L, 1L, t(20), 2.0),
        (4L, 2L, t(10), 10.0), (5L, 2L, t(50), 20.0),
        (90L, 9L, t(100), 0.0))
      .toDF("event_id", "user_id", "ts", "v")
      .write.mode("append").parquet(s"$dir/src")
    runBoth()
    val phaseA = Set((1L, 1.0, 1L), (2L, 3.0, 2L), (4L, 10.0, 1L), (5L, 30.0, 2L))
    val hA = got(s"$dir/sink"); val pA = got(s"$dir/sink_plain")
    assert(hA == phaseA && pA == phaseA, s"phase A: hinted=$hA plain=$pA")
    // phase B: user 1 returns after an event-time gap of 180 s (> the
    // 1-minute TTL) — its accumulator must have expired; user 2's next
    // row sits 40 s after its last (inside the TTL) — still accumulating
    Seq((3L, 1L, t(200), 4.0), (6L, 2L, t(90), 30.0), (91L, 9L, t(300), 0.0))
      .toDF("event_id", "user_id", "ts", "v")
      .write.mode("append").parquet(s"$dir/src")
    runBoth()
    val hB = got(s"$dir/sink"); val pB = got(s"$dir/sink_plain")
    assert(hB == phaseA + ((3L, 4.0, 1L)) + ((6L, 60.0, 3L)),
      s"hinted: the idle key must restart fresh after the TTL: $hB")
    assert(pB == phaseA + ((3L, 7.0, 3L)) + ((6L, 60.0, 3L)),
      s"un-hinted twin must keep the no-TTL accumulator: $pB")
    // the live key's full trace equals the batch OVER on the same data
    val batch2 = FlinkSql.sql(spark,
      """SELECT event_id, sum(v) OVER w AS sum_v, count(*) OVER w AS n
        |FROM ttlov_src WHERE user_id = 2
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(hB.filter(e => Set(4L, 5L, 6L).contains(e._1)) == batch2,
      s"live key stream vs batch: $batch2")
    FlinkSql.run(spark,
      "DROP TABLE ttlov_src; DROP TABLE ttlov_sink; DROP TABLE ttlov_sink_plain")
  }
}
