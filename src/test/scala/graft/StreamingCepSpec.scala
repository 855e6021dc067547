package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.operators.Cep
import graft.streaming.StreamingCep

/** Streaming CEP: partial matches persist across micro-batches; the
  * watermark orders out-of-order events before they reach the NFA.
  */
class StreamingCepSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  private def raw(key: Long, id: Long, sec: Long, sym: String) =
    Ev(id, new java.sql.Timestamp(sec * 1000), key, sym, 0.0)

  private def run(batches: Seq[Seq[Ev]], name: String): Set[Cep.Match] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val events = input.toDF().withWatermark("ts", "5 seconds")
      .select($"user_id".as("key"), $"event_id".as("id"),
        unix_millis($"ts").as("ts"), $"event_type".as("sym"), $"value")
      .as[Cep.Event]
    val q = StreamingCep.abcWithin(events, "A", "B", "C", withinMs = 60000L)
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      input.addData(raw(99, 999, 9000, "X")) // close the watermark
      q.processAllAvailable()
      spark.table(name).as[Cep.Match].collect().toSet
    } finally q.stop()
  }

  test("pattern spanning three micro-batches matches once watermark passes") {
    val got = run(Seq(
      Seq(raw(1, 1, 1000, "A")),
      Seq(raw(1, 2, 1010, "B"), raw(1, 3, 1020, "B")),
      Seq(raw(1, 4, 1030, "C"))), "scep1")
    assert(got == Set(Cep.Match(1, 1, 4, 2, 1000000, 1030000)))
  }

  test("out-of-order arrival within watermark slack is reordered before the NFA") {
    // B arrives after C in wall time, but event-time order is A,B,C
    val got = run(Seq(
      Seq(raw(1, 1, 1000, "A"), raw(1, 3, 1004, "C")),
      Seq(raw(1, 2, 1002, "B"))), "scep2")
    assert(got == Set(Cep.Match(1, 1, 3, 1, 1000000, 1004000)))
  }

  test("streaming agrees with the batch NFA on a mixed multi-key stream") {
    import spark.implicits._
    val evs = Seq(
      raw(1, 1, 1000, "A"), raw(1, 2, 1010, "B"), raw(1, 3, 1015, "X"),
      raw(1, 4, 1020, "C"), // aborted by X → no match
      raw(2, 5, 1000, "A"), raw(2, 6, 1005, "B"), raw(2, 7, 1010, "C"),
      raw(3, 8, 1000, "A"), raw(3, 9, 1200, "B")) // exceeds 60s window... within? 200s > 60s → expired
    val batches = evs.grouped(3).toSeq
    val got = run(batches, "scep3")
    val batchGot = Cep.abcWithin(
      evs.map(e => Cep.Event(e.user_id, e.event_id, e.ts.getTime, e.event_type)).toDS(),
      "A", "B", "C", 60000L).collect().toSet
    assert(got == batchGot)
    assert(got == Set(Cep.Match(2, 5, 7, 1, 1000000, 1010000)))
  }

  test("streaming quantified pattern agrees with batch across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // pattern: A{1,2} B? C within 60s — greedy quantifier + optional step
    val steps = Seq(Cep.times("A", 1, 2), Cep.opt("B"), Cep.once("C"))
    val evs = Seq(
      raw(1, 1, 1000, "A"), raw(1, 2, 1010, "A"), raw(1, 3, 1020, "C"), // A A C
      raw(1, 4, 1100, "A"), raw(1, 5, 1110, "B"), raw(1, 6, 1120, "C"), // A B C
      raw(2, 7, 1000, "A"), raw(2, 8, 1005, "C"),                       // A C
      raw(2, 9, 1200, "A"), raw(2, 10, 1210, "B"),                      // no C → no match
      raw(3, 11, 1000, "A"), raw(3, 12, 1100, "C"))                     // 100s > 60s window
    val input = MemoryStream[Ev]
    val events = input.toDF().withWatermark("ts", "5 seconds")
      .select($"user_id".as("key"), $"event_id".as("id"),
        unix_millis($"ts").as("ts"), $"event_type".as("sym"), $"value")
      .as[Cep.Event]
    val q = StreamingCep.matchPattern(events, steps, withinMs = 60000L)
      .writeStream.outputMode("append").format("memory").queryName("scep4").start()
    try {
      evs.grouped(4).foreach { b => input.addData(b: _*); q.processAllAvailable() }
      input.addData(raw(99, 999, 9000, "X")) // close the watermark
      q.processAllAvailable()
      input.addData(raw(99, 998, 9100, "X")) // advance once more: resolve re-registered timers
      q.processAllAvailable()
      val got = spark.table("scep4").as[Cep.PMatch].collect().toSet
      val batchGot = Cep.matchPattern(
        evs.map(e => Cep.Event(e.user_id, e.event_id, e.ts.getTime, e.event_type)).toDS(),
        steps, 60000L).collect().toSet
      assert(got == batchGot)
      assert(got == Set(
        Cep.PMatch(1, 1, 3, 1000000, 1020000, 3),
        Cep.PMatch(1, 4, 6, 1100000, 1120000, 3),
        Cep.PMatch(2, 7, 8, 1000000, 1005000, 2)))
    } finally q.stop()
  }

  test("streaming alternation (A|B)+ C agrees with batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the CondStep family serializes into the streaming NFA unchanged,
    // so the SQL surface's alternation semantics hold on streams too
    val steps = Seq(Cep.anyOf(1, Cep.MaxTimes, "A", "B"), Cep.once("C"))
    val evs = Seq(
      raw(1, 1, 1000, "A"), raw(1, 2, 1010, "B"), raw(1, 3, 1020, "C"), // A B C
      raw(2, 4, 1000, "B"), raw(2, 5, 1010, "C"),                       // B C
      raw(3, 6, 1000, "X"), raw(3, 7, 1010, "C"))                       // no A/B run
    val input = MemoryStream[Ev]
    val events = input.toDF().withWatermark("ts", "5 seconds")
      .select($"user_id".as("key"), $"event_id".as("id"),
        unix_millis($"ts").as("ts"), $"event_type".as("sym"), $"value")
      .as[Cep.Event]
    val q = StreamingCep.matchPattern(events, steps, withinMs = 60000L)
      .writeStream.outputMode("append").format("memory").queryName("scep_alt").start()
    try {
      evs.grouped(3).foreach { b => input.addData(b: _*); q.processAllAvailable() }
      input.addData(raw(99, 999, 9000, "X")); q.processAllAvailable()
      input.addData(raw(99, 998, 9100, "X")); q.processAllAvailable()
      val got = spark.table("scep_alt").as[Cep.PMatch].collect().toSet
      val batchGot = Cep.matchPattern(
        evs.map(e => Cep.Event(e.user_id, e.event_id, e.ts.getTime, e.event_type)).toDS(),
        steps, 60000L).collect().toSet
      assert(got == batchGot)
      assert(got == Set(
        Cep.PMatch(1, 1, 3, 1000000, 1020000, 3),
        Cep.PMatch(2, 4, 5, 1000000, 1010000, 2)))
    } finally q.stop()
  }

  test("streaming PERMUTE alternatives agree with batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // PERMUTE(A, B+) ≡ alternatives [A B+] then [B+ A]; a pending
    // preferred alternative must hold the buffer until resolved
    val alts = IndexedSeq(
      IndexedSeq[Cep.Step](Cep.once("A"), Cep.plus("B")),
      IndexedSeq[Cep.Step](Cep.plus("B"), Cep.once("A")))
    val evs = Seq(
      raw(1, 1, 1000, "A"), raw(1, 2, 1010, "B"), raw(1, 3, 1020, "B"), // A B+
      raw(2, 4, 1000, "B"), raw(2, 5, 1010, "B"), raw(2, 6, 1020, "A"), // B+ A
      raw(3, 7, 1000, "B"), raw(3, 8, 1010, "X"), raw(3, 9, 1020, "A")) // broken run
    val input = MemoryStream[Ev]
    val events = input.toDF().withWatermark("ts", "5 seconds")
      .select($"user_id".as("key"), $"event_id".as("id"),
        unix_millis($"ts").as("ts"), $"event_type".as("sym"), $"value")
      .as[Cep.Event]
    val q = StreamingCep.matchPatternAlts(events, alts, withinMs = 60000L)
      .writeStream.outputMode("append").format("memory").queryName("scep_perm").start()
    try {
      evs.grouped(3).foreach { b => input.addData(b: _*); q.processAllAvailable() }
      input.addData(raw(99, 999, 9000, "X")); q.processAllAvailable()
      input.addData(raw(99, 998, 9100, "X")); q.processAllAvailable()
      val got = spark.table("scep_perm").as[Cep.PMatch].collect().toSet
      val batchGot = Cep.matchPatternAlts(
        evs.map(e => Cep.Event(e.user_id, e.event_id, e.ts.getTime, e.event_type)).toDS(),
        alts.map(_.toSeq), 60000L).collect().toSet
      assert(got == batchGot)
      assert(got == Set(
        Cep.PMatch(1, 1, 3, 1000000, 1020000, 3),
        Cep.PMatch(2, 4, 6, 1000000, 1020000, 3)))
    } finally q.stop()
  }

  test("streaming SKIP TO NEXT ROW emits overlapping matches like batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq(Cep.plus("A"), Cep.once("C"))
    // A A C: overlapping matches at [1,3] and [2,3]
    val evs = Seq(raw(1, 1, 1000, "A"), raw(1, 2, 1010, "A"), raw(1, 3, 1020, "C"))
    val input = MemoryStream[Ev]
    val events = input.toDF().withWatermark("ts", "5 seconds")
      .select($"user_id".as("key"), $"event_id".as("id"),
        unix_millis($"ts").as("ts"), $"event_type".as("sym"), $"value")
      .as[Cep.Event]
    val q = StreamingCep.matchPattern(events, steps, withinMs = 60000L,
        skip = Cep.SkipToNextRow)
      .writeStream.outputMode("append").format("memory").queryName("scep5").start()
    try {
      evs.grouped(2).foreach { b => input.addData(b: _*); q.processAllAvailable() }
      input.addData(raw(99, 999, 9000, "X")); q.processAllAvailable()
      input.addData(raw(99, 998, 9100, "X")); q.processAllAvailable()
      val got = spark.table("scep5").as[Cep.PMatch].collect().toSet
      val batchGot = Cep.matchPattern(
        evs.map(e => Cep.Event(e.user_id, e.event_id, e.ts.getTime, e.event_type)).toDS(),
        steps, 60000L, Cep.SkipToNextRow).collect().toSet
      assert(got == batchGot)
      assert(got == Set(
        Cep.PMatch(1, 1, 3, 1000000, 1020000, 3),
        Cep.PMatch(1, 2, 3, 1010000, 1020000, 2)))
    } finally q.stop()
  }

  test("streaming SQL MATCH_RECOGNIZE agrees with the batch rewrite") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val body =
      """PARTITION BY user_id
        |ORDER BY ts
        |AFTER MATCH SKIP PAST LAST ROW
        |PATTERN (V{1,2} C)
        |DEFINE V AS sym = 'v', C AS sym = 'c'""".stripMargin
    val evs = Seq(
      raw(1, 1, 1000, "v"), raw(1, 2, 1010, "v"), raw(1, 3, 1020, "c"),
      raw(1, 4, 1100, "v"), raw(1, 5, 1110, "c"),
      raw(2, 6, 1000, "v"), raw(2, 7, 1010, "e"), raw(2, 8, 1020, "c"))
    val input = MemoryStream[Ev]
    val df = input.toDF().withWatermark("ts", "5 seconds")
      .select($"user_id", $"ts", substring($"event_type", 1, 1).as("sym"))
    val q = graft.plans.MatchRecognize.stream(df, body)
      .writeStream.outputMode("append").format("memory").queryName("scep_sql").start()
    try {
      evs.grouped(3).foreach { b => input.addData(b: _*); q.processAllAvailable() }
      input.addData(raw(99, 999, 9000, "x")); q.processAllAvailable()
      input.addData(raw(99, 998, 9100, "x")); q.processAllAvailable()
      val got = spark.table("scep_sql").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .filter(_._1 != 99L).toSet
      evs.toDF().select($"user_id", $"ts",
          substring($"event_type", 1, 1).as("sym"))
        .createOrReplaceTempView("scep_sql_batch")
      val want = graft.plans.MatchRecognize.sql(spark,
        s"SELECT * FROM scep_sql_batch MATCH_RECOGNIZE (\n$body\n)")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
      assert(got == want, s"streaming $got vs batch $want")
      assert(got.nonEmpty && got.map(_._1) == Set(1L)) // user 2: e breaks contiguity
    } finally q.stop()
    // guard rails: non-streaming input and out-of-subset clauses
    val e1 = intercept[IllegalArgumentException](
      graft.plans.MatchRecognize.stream(spark.range(1).toDF(), body))
    assert(e1.getMessage.contains("streaming DataFrame"))
    val e2 = intercept[IllegalArgumentException](graft.plans.MatchRecognize.stream(
      input.toDF().withWatermark("ts", "5 seconds")
        .select(array($"user_id").as("user_id"), $"ts",
          substring($"event_type", 1, 1).as("sym")),
      body))
    assert(e2.getMessage.contains("atomic"))
  }

  test("streaming MEASURES and a string partition key agree with batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val body =
      """PARTITION BY uid
        |ORDER BY ts
        |MEASURES SUM(V.value) AS v_sum, LAST(C.value) AS c_val, MAX(V.sym) AS v_max,
        |         FIRST(V.value, 1) AS v_f1
        |AFTER MATCH SKIP PAST LAST ROW
        |PATTERN (V{1,2} C)
        |DEFINE V AS sym = 'v', C AS sym = 'c'""".stripMargin
    def rawv(key: Long, id: Long, sec: Long, sym: String, v: Double) =
      Ev(id, new java.sql.Timestamp(sec * 1000), key, sym, v)
    val evs = Seq(
      rawv(1, 1, 1000, "v", 2.0), rawv(1, 2, 1010, "v", 3.0), rawv(1, 3, 1020, "c", 9.0),
      rawv(1, 4, 1100, "v", 1.5), rawv(1, 5, 1110, "c", 0.5),
      rawv(2, 6, 1000, "v", 4.0), rawv(2, 7, 1010, "e", 0.0), rawv(2, 8, 1020, "c", 1.0))
    def proj(df: org.apache.spark.sql.DataFrame) = df
      .select(concat(lit("u"), $"user_id").as("uid"), $"ts",
        substring($"event_type", 1, 1).as("sym"), $"value")
    val input = MemoryStream[Ev]
    val q = graft.plans.MatchRecognize
      .stream(proj(input.toDF().withWatermark("ts", "5 seconds")), body)
      .writeStream.outputMode("append").format("memory").queryName("scep_meas").start()
    try {
      evs.grouped(3).foreach { b => input.addData(b: _*); q.processAllAvailable() }
      input.addData(rawv(99, 999, 9000, "x", 0.0)); q.processAllAvailable()
      input.addData(rawv(99, 998, 9100, "x", 0.0)); q.processAllAvailable()
      def shape(rs: Array[org.apache.spark.sql.Row]) = rs
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3),
          r.getDouble(4), r.getDouble(5), r.getString(6),
          if (r.isNullAt(7)) null
          else java.lang.Double.valueOf(r.getDouble(7)))).toSet
      val got = shape(spark.table("scep_meas").collect()).filter(_._1 != "u99")
      proj(evs.toDF()).createOrReplaceTempView("scep_meas_batch")
      val want = shape(graft.plans.MatchRecognize.sql(spark,
        s"SELECT * FROM scep_meas_batch MATCH_RECOGNIZE (\n$body\n)").collect())
      assert(got == want, s"streaming $got vs batch $want")
      assert(got.map(_._1) == Set("u1")) // u2: e breaks contiguity
      assert(got.map(_._5) == Set(5.0, 1.5)) // per-match SUM(V.value)
      assert(got.forall(_._7 == "v")) // string MAX keeps the type
      // FIRST(V.value, 1): 2-row V match → second value; 1-row → NULL
      assert(got.map(_._8) == Set(java.lang.Double.valueOf(3.0), null))
    } finally q.stop()
    // PREV/NEXT navigation stays out of the streaming subset
    val e2 = intercept[IllegalArgumentException](graft.plans.MatchRecognize.stream(
      proj(input.toDF().withWatermark("ts", "5 seconds")),
      body.replace("V AS sym = 'v'", "V AS value > PREV(value)")))
    assert(e2.getMessage.contains("batch-only"))
  }

  test("streaming ALL ROWS PER MATCH and MATCH_NUMBER agree with batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val allRowsBody =
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES SUM(V.value) AS v_run
        |ALL ROWS PER MATCH
        |PATTERN (V{1,2} C)
        |DEFINE V AS sym = 'v', C AS sym = 'c'""".stripMargin
    def rawv(key: Long, id: Long, sec: Long, sym: String, v: Double) =
      Ev(id, new java.sql.Timestamp(sec * 1000), key, sym, v)
    // two matches for user 1 split across micro-batches: match_seq must
    // number them 1, 2 continuously (per-key counter state), and each
    // matched row must come back with its full payload + running measure
    val evs = Seq(
      rawv(1, 1, 1000, "v", 2.0), rawv(1, 2, 1010, "v", 3.0), rawv(1, 3, 1020, "c", 9.0),
      rawv(1, 4, 1100, "v", 1.5), rawv(1, 5, 1110, "c", 0.5),
      rawv(2, 6, 1000, "e", 0.0), rawv(2, 7, 1010, "v", 4.0), rawv(2, 8, 1020, "c", 1.0))
    def proj(df: org.apache.spark.sql.DataFrame) = df
      .select($"user_id", $"ts", substring($"event_type", 1, 1).as("sym"), $"value")
    val input = MemoryStream[Ev]
    val q = graft.plans.MatchRecognize
      .stream(proj(input.toDF().withWatermark("ts", "5 seconds")), allRowsBody)
      .writeStream.outputMode("append").format("memory").queryName("scep_ar").start()
    try {
      evs.grouped(3).foreach { b => input.addData(b: _*); q.processAllAvailable() }
      input.addData(rawv(99, 999, 9000, "x", 0.0)); q.processAllAvailable()
      input.addData(rawv(99, 998, 9100, "x", 0.0)); q.processAllAvailable()
      def shape(rs: Array[org.apache.spark.sql.Row]) = rs
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getString(2),
          r.getDouble(3), r.getLong(4), r.getString(5), r.getDouble(6)))
        .filter(_._1 != 99L).toSet
      val got = shape(spark.table("scep_ar").collect())
      proj(evs.toDF()).createOrReplaceTempView("scep_ar_batch")
      val want = shape(graft.plans.MatchRecognize.sql(spark,
        s"SELECT * FROM scep_ar_batch MATCH_RECOGNIZE (\n$allRowsBody\n)").collect())
      assert(got == want, s"streaming $got vs batch $want")
      // user 1: two matches, numbered continuously across batches
      assert(got.filter(_._1 == 1L).map(_._5) == Set(1L, 2L))
      assert(got.map(_._6).subsetOf(Set("V", "C"))) // classifier column
    } finally q.stop()
    // MATCH_NUMBER() in ONE ROW mode: continuous per-key numbering
    val mnBody =
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES MATCH_NUMBER() AS mn, SUM(V.value) AS v_sum
        |PATTERN (V{1,2} C)
        |DEFINE V AS sym = 'v', C AS sym = 'c'""".stripMargin
    val input2 = MemoryStream[Ev]
    val q2 = graft.plans.MatchRecognize
      .stream(proj(input2.toDF().withWatermark("ts", "5 seconds")), mnBody)
      .writeStream.outputMode("append").format("memory").queryName("scep_mn").start()
    try {
      evs.grouped(3).foreach { b => input2.addData(b: _*); q2.processAllAvailable() }
      input2.addData(rawv(99, 999, 9000, "x", 0.0)); q2.processAllAvailable()
      input2.addData(rawv(99, 998, 9100, "x", 0.0)); q2.processAllAvailable()
      val got = spark.table("scep_mn").collect()
        .map(r => (r.getLong(0), r.getLong(4))).filter(_._1 != 99L).toSet
      assert(got == Set((1L, 1L), (1L, 2L), (2L, 1L)), s"match numbers $got")
    } finally q2.stop()
  }

  test("streaming reluctant quantifier agrees with batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // (A*? C) tiles each partition into segments ending at each c; the
    // reluctant scan must emit the same tiling when the c arrives in a
    // LATER micro-batch than its segment's opening rows
    val body =
      """PARTITION BY user_id
        |ORDER BY ts
        |PATTERN (A*? C)
        |DEFINE A AS TRUE, C AS sym = 'c'""".stripMargin
    val evs = Seq(
      raw(1, 1, 1000, "v"), raw(1, 2, 1010, "e"), raw(1, 3, 1020, "c"),
      raw(1, 4, 1030, "v"), raw(1, 5, 1040, "c"), raw(1, 6, 1050, "v"))
    val input = MemoryStream[Ev]
    val df = input.toDF().withWatermark("ts", "5 seconds")
      .select($"user_id", $"ts", substring($"event_type", 1, 1).as("sym"))
    val q = graft.plans.MatchRecognize.stream(df, body)
      .writeStream.outputMode("append").format("memory").queryName("scep_rel").start()
    try {
      evs.grouped(2).foreach { b => input.addData(b: _*); q.processAllAvailable() }
      input.addData(raw(99, 999, 9000, "x")); q.processAllAvailable()
      input.addData(raw(99, 998, 9100, "x")); q.processAllAvailable()
      val got = spark.table("scep_rel").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .filter(_._1 != 99L).toSet
      evs.toDF().select($"user_id", $"ts", substring($"event_type", 1, 1).as("sym"))
        .createOrReplaceTempView("scep_rel_batch")
      val want = graft.plans.MatchRecognize.sql(spark,
        s"SELECT * FROM scep_rel_batch MATCH_RECOGNIZE (\n$body\n)")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
      assert(got == want, s"streaming $got vs batch $want")
      assert(want.map(t => (t._2, t._3)) == // ord = unix millis of ts
        Set((1000000L, 1020000L), (1030000L, 1040000L))) // trailing v never closes
    } finally q.stop()
  }

  test("streaming MATCH_RECOGNIZE state survives a checkpointed restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = tempDir("graft_mr_ckpt")
    val body =
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES MATCH_NUMBER() AS mn
        |PATTERN (V{1,2} C)
        |DEFINE V AS sym = 'v', C AS sym = 'c'""".stripMargin
    val input = MemoryStream[Ev]
    def proj(df: org.apache.spark.sql.DataFrame) = df
      .withWatermark("ts", "5 seconds")
      .select($"user_id", $"ts", substring($"event_type", 1, 1).as("sym"))
    def start() = graft.plans.MatchRecognize.stream(proj(input.toDF()), body)
      .writeStream.outputMode("append").format("parquet")
      .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt").start()
    val q1 = start()
    try {
      // match 1 completes; v@100,v@101 stay BUFFERED as an open partial
      input.addData(raw(1, 1, 10, "v"), raw(1, 2, 11, "v"), raw(1, 3, 12, "c"))
      q1.processAllAvailable()
      input.addData(raw(1, 4, 100, "v"), raw(1, 5, 101, "v"),
        raw(99, 900, 5000, "x"))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      // the c closing the buffered partial arrives AFTER the restart:
      // both the event buffer and the match counter must be restored
      input.addData(raw(1, 6, 102, "c"), raw(99, 901, 9000, "x"))
      q2.processAllAvailable()
      input.addData(raw(99, 902, 9100, "x"))
      q2.processAllAvailable()
    } finally q2.stop()
    val got = spark.read.parquet(s"$base/out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
      .filter(_._1 == 1L).toSet
    assert(got == Set((1L, 10000L, 12000L, 1L), (1L, 100000L, 102000L, 2L)),
      s"restart lost buffered events or the match counter: $got")
  }

  test("streaming SKIP TO FIRST variable agrees with batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // A{2} B with A = anything, B = high value: the B row of one match
    // starts the next; scan's resume index feeds the buffer drop, so
    // the shared-row event must stay buffered across the micro-batches
    val steps = Seq(
      Cep.when("A", 2, 2)(_.value >= 1.0),
      Cep.when("B", 1, 1)(_.value >= 10.0))
    def mk(id: Long, sec: Long, v: Double) =
      Ev(id, new java.sql.Timestamp(sec * 1000), 1L, "x", v)
    val evs = Seq(mk(1, 1000, 1.0), mk(2, 1010, 2.0), mk(3, 1020, 10.0),
      mk(4, 1030, 3.0), mk(5, 1040, 11.0))
    val input = MemoryStream[Ev]
    val events = input.toDF().withWatermark("ts", "5 seconds")
      .select($"user_id".as("key"), $"event_id".as("id"),
        unix_millis($"ts").as("ts"), $"event_type".as("sym"), $"value")
      .as[Cep.Event]
    val q = StreamingCep.matchPattern(events, steps, withinMs = 60000L,
        skip = Cep.SkipToFirst("B"))
      .writeStream.outputMode("append").format("memory").queryName("scep_sv").start()
    try {
      evs.grouped(2).foreach { b => input.addData(b: _*); q.processAllAvailable() }
      input.addData(mk(999, 9000, 0.5)); q.processAllAvailable()
      input.addData(mk(998, 9100, 0.5)); q.processAllAvailable()
      val got = spark.table("scep_sv").as[Cep.PMatch].collect()
        .filter(_.key == 1L).toSet
      val batchGot = Cep.matchPattern(
        evs.map(e => Cep.Event(e.user_id, e.event_id, e.ts.getTime, e.event_type, e.value)).toDS(),
        steps, 60000L, Cep.SkipToFirst("B")).collect().toSet
      assert(got == batchGot)
      assert(got.map(m => (m.start_id, m.end_id)) == Set((1L, 3L), (3L, 5L)))
    } finally q.stop()
  }

  test("streaming reluctant + SUBSET measures agree with batch (cross-engine lock)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the two newest MR features in one clause: a reluctant quantifier
    // tiling segments at each 'c', and SUBSET measures aggregating the
    // union of both variables' rows — streaming must emit exactly the
    // batch result even when segments span micro-batches
    val body =
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES SUM(U.value) AS u_sum, COUNT(U.*) AS u_n, LAST(C.value) AS c_val
        |AFTER MATCH SKIP PAST LAST ROW
        |PATTERN (A*? C)
        |SUBSET U = (A, C)
        |DEFINE A AS sym <> 'c', C AS sym = 'c'""".stripMargin
    def rawv(key: Long, id: Long, sec: Long, sym: String, v: Double) =
      Ev(id, new java.sql.Timestamp(sec * 1000), key, sym, v)
    val evs = Seq(
      rawv(1, 1, 1000, "v", 1.0), rawv(1, 2, 1010, "e", 2.0), rawv(1, 3, 1020, "c", 4.0),
      rawv(1, 4, 1030, "v", 8.0), rawv(1, 5, 1040, "c", 16.0), rawv(1, 6, 1050, "v", 32.0),
      rawv(2, 7, 1000, "c", 64.0), rawv(2, 8, 1010, "v", 0.5), rawv(2, 9, 1020, "c", 0.25))
    def proj(df: org.apache.spark.sql.DataFrame) = df
      .select($"user_id", $"ts", substring($"event_type", 1, 1).as("sym"), $"value")
    val input = MemoryStream[Ev]
    val q = graft.plans.MatchRecognize
      .stream(proj(input.toDF().withWatermark("ts", "5 seconds")), body)
      .writeStream.outputMode("append").format("memory").queryName("scep_relsub").start()
    try {
      evs.grouped(2).foreach { b => input.addData(b: _*); q.processAllAvailable() }
      input.addData(rawv(99, 999, 9000, "x", 0.0)); q.processAllAvailable()
      input.addData(rawv(99, 998, 9100, "x", 0.0)); q.processAllAvailable()
      def shape(rs: Array[org.apache.spark.sql.Row]) = rs
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
          r.getDouble(4), r.getLong(5), r.getDouble(6))).toSet
      val got = shape(spark.table("scep_relsub").collect()).filter(_._1 != 99L)
      proj(evs.toDF()).createOrReplaceTempView("scep_relsub_batch")
      val want = shape(graft.plans.MatchRecognize.sql(spark,
        s"SELECT * FROM scep_relsub_batch MATCH_RECOGNIZE (\n$body\n)").collect())
      assert(got == want, s"streaming $got vs batch $want")
      // u1 tiles (1,2,3)(4,5) — trailing v never closes; u2 tiles (7)(8,9)
      assert(want.map(t => (t._1, t._5, t._6)) ==
        Set((1L, 7.0, 3L), (1L, 24.0, 2L), (2L, 64.0, 1L), (2L, 0.75, 2L)))
      assert(want.map(_._7) == Set(4.0, 16.0, 64.0, 0.25))
    } finally q.stop()
  }

  test("streaming aggregate DEFINE agrees with batch across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // running SUM cap in DEFINE: B rows while cumulative B.value < 10,
    // then c — the B run spans micro-batches, so the running aggregate
    // must survive the state buffer
    val body =
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES SUM(B.value) AS spend, COUNT(B.*) AS n_b
        |PATTERN (B+ C)
        |DEFINE B AS sym = 'b' AND SUM(B.value) < 10, C AS sym = 'c'""".stripMargin
    def rawv(key: Long, id: Long, sec: Long, sym: String, v: Double) =
      Ev(id, new java.sql.Timestamp(sec * 1000), key, sym, v)
    val evs = Seq(
      rawv(1, 1, 1000, "b", 4.0), rawv(1, 2, 1010, "b", 3.0), rawv(1, 3, 1020, "b", 5.0),
      rawv(1, 4, 1030, "c", 0.0),
      rawv(2, 5, 1000, "b", 9.0), rawv(2, 6, 1010, "c", 1.0),
      rawv(3, 7, 1000, "b", 11.0), rawv(3, 8, 1010, "c", 2.0))
    def proj(df: org.apache.spark.sql.DataFrame) = df
      .select($"user_id", $"ts", substring($"event_type", 1, 1).as("sym"), $"value")
    val input = MemoryStream[Ev]
    val q = graft.plans.MatchRecognize
      .stream(proj(input.toDF().withWatermark("ts", "5 seconds")), body)
      .writeStream.outputMode("append").format("memory").queryName("scep_agg").start()
    try {
      evs.grouped(2).foreach { b => input.addData(b: _*); q.processAllAvailable() }
      input.addData(rawv(99, 999, 9000, "x", 0.0)); q.processAllAvailable()
      input.addData(rawv(99, 998, 9100, "x", 0.0)); q.processAllAvailable()
      def shape(rs: Array[org.apache.spark.sql.Row]) = rs
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
          r.getDouble(4), r.getLong(5))).toSet
      val got = shape(spark.table("scep_agg").collect()).filter(_._1 != 99L)
      proj(evs.toDF()).createOrReplaceTempView("scep_agg_batch")
      val want = shape(graft.plans.MatchRecognize.sql(spark,
        s"SELECT * FROM scep_agg_batch MATCH_RECOGNIZE (\n$body\n)").collect())
      assert(got == want, s"streaming $got vs batch $want")
      // u1: anchor at id2 (3+5=8<10) then c — ids 2..4; u2: 9<10 then c;
      // u3: 11 over the cap, no match
      assert(want.map(t => (t._1, t._5, t._6)) ==
        Set((1L, 8.0, 2L), (2L, 9.0, 1L)))
    } finally q.stop()
  }
}
