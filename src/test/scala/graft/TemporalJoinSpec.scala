package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{TemporalIn, TemporalJoin, TemporalMatch}

/** Streaming temporal as-of join: versioned MapState + watermark-driven
  * probe resolution, including out-of-order versions arriving after the
  * probe.
  */
class TemporalJoinSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  private def in(key: Long, side: Int, id: Long, sec: Long, v: Double) =
    Raw(key, side.toLong * 1000000 + id, new java.sql.Timestamp(sec * 1000), v)

  test("FOR SYSTEM_TIME AS OF SQL lowers onto the as-of carry-forward plan") {
    import spark.implicits._
    // rates versioned at t=0/100/200 for ccy A, t=50 for ccy B
    Seq(("A", ts(0), 1.0), ("A", ts(100), 2.0), ("A", ts(200), 3.0), ("B", ts(50), 9.0))
      .toDF("ccy", "rts", "rate").createOrReplaceTempView("stj_rates")
    Seq((1L, "A", ts(99)), (2L, "A", ts(100)), (3L, "A", ts(500)),
        (4L, "B", ts(10)), (5L, "C", ts(100)))
      .toDF("oid", "ccy", "ots").createOrReplaceTempView("stj_orders")
    // rowtime columns are differently named → the AS OF column must exist
    // on the right too; re-expose the rate rowtime under the probe's name
    spark.table("stj_rates").withColumnRenamed("rts", "ots")
      .createOrReplaceTempView("stj_rates2")
    val parser = new graft.plans.GraftSqlParser(spark, spark.sessionState.sqlParser)
    val inner = graft.plans.SystemTimeJoin.sql(spark,
      """SELECT o.oid, r.rate FROM stj_orders AS o
        |JOIN stj_rates2 FOR SYSTEM_TIME AS OF o.ots AS r ON r.ccy = o.ccy""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    // order 1 @99 → rate 1.0; order 2 @100 → 2.0 (at-or-before includes
    // the equal-time version); order 3 @500 → 3.0; order 4 @10 → no
    // version yet (B starts at 50) → dropped; order 5 ccy C → dropped
    assert(inner == Set((1L, 1.0), (2L, 2.0), (3L, 3.0)))
    // LEFT JOIN keeps version-less probes with null rate
    val louter = graft.plans.SystemTimeJoin.sql(spark,
      """SELECT o.oid, r.rate FROM stj_orders AS o
        |LEFT JOIN stj_rates2 FOR SYSTEM_TIME AS OF o.ots AS r ON r.ccy = o.ccy""".stripMargin)
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getDouble(1))).toSet
    assert(louter == Set((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, null), (5L, null)))
    // the injected parser accepts the syntax inside a plain statement
    assert(parser.parsePlan(
      """SELECT o.oid FROM stj_orders AS o
        |JOIN stj_rates2 FOR SYSTEM_TIME AS OF o.ots AS r ON r.ccy = o.ccy""".stripMargin) != null)
    // a DDL-declared watermark names the versioned side's rowtime, so
    // differently-named time columns need no rename
    val dir = tempDir("stj_ddl")
    spark.table("stj_rates").write.mode("overwrite").parquet(s"$dir/rates.parquet")
    graft.plans.FlinkDdl.execute(spark,
      s"""CREATE TABLE stj_rates_ddl (
         |  ccy STRING, rts TIMESTAMP(3), rate DOUBLE,
         |  WATERMARK FOR rts AS rts - INTERVAL '1' SECOND
         |) WITH ('connector' = 'filesystem', 'path' = '$dir/rates.parquet',
         |        'format' = 'parquet')""".stripMargin)
    val viaDdl = graft.plans.SystemTimeJoin.sql(spark,
      """SELECT o.oid, r.rate FROM stj_orders AS o
        |JOIN stj_rates_ddl FOR SYSTEM_TIME AS OF o.ots AS r ON r.ccy = o.ccy""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(viaDdl == inner)
    // unsupported shapes fail clearly
    val e = intercept[IllegalArgumentException] {
      graft.plans.SystemTimeJoin.sql(spark,
        """SELECT o.oid FROM stj_orders AS o
          |JOIN stj_rates2 FOR SYSTEM_TIME AS OF o.ots AS r ON r.ccy < o.ccy""".stripMargin)
    }
    assert(e.getMessage.contains("ON condition"))
  }

  test("alias stripping is literal-aware: quoted 'alias.' text survives") {
    import graft.plans.SystemTimeJoin.stripQualifiers
    // a literal containing `c.x` is untouched; real qualifiers drop
    assert(stripQualifiers("c.x, r.rate, 'c.x' AS lit", Set("c", "r")) ==
      "x, rate, 'c.x' AS lit")
    // escaped quotes keep the literal open across ''
    assert(stripQualifiers("'don''t c.x', c.v", Set("c")) == "'don''t c.x', v")
    // whole-identifier match only — `crate.x` is not alias `c`
    assert(stripQualifiers("crate.x, c.y", Set("c")) == "crate.x, y")
    // SQL identifiers are case-insensitive
    assert(stripQualifiers(" WHERE C.note = 'C.note'", Set("c")) ==
      " WHERE note = 'C.note'")
    // end-to-end: a WHERE literal that names the alias is compared, not corrupted
    import spark.implicits._
    Seq(("A", ts(0), 1.0)).toDF("ccy", "ots", "rate")
      .createOrReplaceTempView("stj_lit_rates")
    Seq((1L, "A", ts(10), "c.x"), (2L, "A", ts(10), "other"))
      .toDF("oid", "ccy", "ots", "note").createOrReplaceTempView("stj_lit_orders")
    val got = graft.plans.SystemTimeJoin.sql(spark,
      """SELECT c.oid, r.rate FROM stj_lit_orders AS c
        |JOIN stj_lit_rates FOR SYSTEM_TIME AS OF c.ots AS r ON r.ccy = c.ccy
        |WHERE c.note = 'c.x'""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set((1L, 1.0)))
  }

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)

  test("legacy temporal table function: LATERAL TABLE (rates(o.ts))") {
    import spark.implicits._
    Seq(("USD", 1.0, 0L), ("USD", 1.2, 10L), ("EUR", 2.0, 5L))
      .toDF("currency", "rate", "rts").createOrReplaceTempView("tf_rates")
    Seq((100.0, "USD", 4L), (100.0, "USD", 12L), (50.0, "EUR", 7L),
        (50.0, "EUR", 3L)) // EUR@3: before the first version -> no row
      .toDF("amount", "currency", "ots").createOrReplaceTempView("tf_orders")
    graft.plans.TemporalFunctions.register(spark, "rates", "tf_rates",
      timeAttr = "rts", primaryKey = Seq("currency"))
    val df = FlinkSql.sql(spark,
      """SELECT o.amount * r.rate AS conv, o.currency, o.ots
        |FROM tf_orders AS o, LATERAL TABLE (rates(o.ots)) AS r
        |WHERE r.currency = o.currency""".stripMargin)
    val got = df.collect().map(r => (r.getDouble(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((100.0, "USD", 4L), (120.0, "USD", 12L), (100.0, "EUR", 7L)))
    // valid Flink SQL with NO space after the comma (round-11 ADVICE:
    // the keyword-form regex had tightened the comma form to \s+)
    val tight = FlinkSql.sql(spark,
      """SELECT o.amount * r.rate AS conv
        |FROM tf_orders AS o,LATERAL TABLE (rates(o.ots)) AS r
        |WHERE r.currency = o.currency""".stripMargin)
    assert(tight.collect().map(_.getDouble(0)).toSet == Set(100.0, 120.0))
    // the key equation folds into the join: no cartesian/nested-loop
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"temporal-fn join fell back to a cross product:\n$plan")
    // guard rails
    def bad(sql: String) =
      intercept[IllegalArgumentException](FlinkSql.sql(spark, sql))
    assert(bad("""SELECT * FROM tf_orders AS o, LATERAL TABLE (nope(o.ots)) AS r""")
      .getMessage.contains("registered"))
    assert(bad("""SELECT * FROM tf_orders AS o,
      | LATERAL TABLE (rates(o.ots)) AS r (a, b, c)""".stripMargin)
      .getMessage.contains("column-list"))
  }

  test("as-of join resolves probes against the latest version at-or-before") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Raw]
    // Raw.id encodes side: side = id / 1000000
    val tagged = input.toDS()
      .withWatermark("ts", "5 seconds")
      .select($"key", expr("id div 1000000").cast("int").as("side"),
        ($"id" % 1000000).as("id"), unix_millis($"ts").as("ts_ms"), $"value")
      .as[TemporalIn]
    val q = TemporalJoin.asOf(tagged)
      .writeStream.outputMode("append").format("memory").queryName("tj_out").start()
    try {
      // versions for key 1 at t=1000 (v=1.0) and t=1100 (v=2.0)
      // probes at t=1050 (→ version@1000), t=1200 (→ version@1100),
      //           t=900  (→ no version)
      input.addData(
        in(1, 0, 10, 1000, 1.0), in(1, 0, 11, 1100, 2.0),
        in(1, 1, 20, 1050, 0.0), in(1, 1, 21, 1200, 0.0), in(1, 1, 22, 900, 0.0))
      q.processAllAvailable()
      // push the watermark far past every probe
      input.addData(in(9, 0, 99, 5000, 0.0))
      q.processAllAvailable()
      val got = spark.table("tj_out").as[TemporalMatch].collect().toSet
      assert(got == Set(
        TemporalMatch(1, 20, 1050000, Some(10), Some(1.0)),
        TemporalMatch(1, 21, 1200000, Some(11), Some(2.0)),
        TemporalMatch(1, 22, 900000, None, None)))
    } finally q.stop()
  }

  test("out-of-order version arriving before the watermark closes still wins") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Raw]
    val tagged = input.toDS()
      .withWatermark("ts", "60 seconds")
      .select($"key", expr("id div 1000000").cast("int").as("side"),
        ($"id" % 1000000).as("id"), unix_millis($"ts").as("ts_ms"), $"value")
      .as[TemporalIn]
    val q = TemporalJoin.asOf(tagged)
      .writeStream.outputMode("append").format("memory").queryName("tj_out2").start()
    try {
      // probe first...
      input.addData(in(1, 1, 20, 1050, 0.0))
      q.processAllAvailable()
      // ...then a LATE version older than the probe (within watermark slack)
      input.addData(in(1, 0, 10, 1040, 7.0))
      q.processAllAvailable()
      // close the watermark
      input.addData(in(9, 0, 99, 5000, 0.0))
      q.processAllAvailable()
      val got = spark.table("tj_out2").as[TemporalMatch].collect().toSet
      assert(got == Set(TemporalMatch(1, 20, 1050000, Some(10), Some(7.0))))
    } finally q.stop()
  }
}
