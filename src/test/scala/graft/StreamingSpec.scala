package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.WindowOps
import java.sql.Timestamp

/** Structured Streaming semantics, tested with the MemoryStream +
  * processAllAvailable harness — the exact analog of Flink's
  * KeyedOneInputStreamOperatorTestHarness (push elements, advance the
  * watermark via late-closing data, assert emitted rows; SURVEY.md §5).
  */
case class DriftDoc(ts: java.sql.Timestamp, source: String, text: String)

class StreamingSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  private def ev(id: Long, sec: Long, user: Long = 1L, typ: String = "click", v: Double = 1.0) =
    Ev(id, new Timestamp(sec * 1000), user, typ, v)

  private var qid = 0
  private def nextName(): String = { qid += 1; s"stream_out_$qid" }

  test("tumbling window agg (append mode) emits closed windows equal to batch result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val name = nextName()
    val q = WindowOps.tumbleAgg(input.toDF().withWatermark("ts", "10 seconds"), "1 minute")
      .writeStream.outputMode(OutputMode.Append).format("memory").queryName(name).start()
    try {
      val batch1 = Seq(ev(1, 5), ev(2, 30), ev(3, 59), ev(4, 65), ev(5, 90))
      input.addData(batch1: _*)
      q.processAllAvailable()
      // nothing closed yet (watermark = 90s - 10s = 80s < window ends)
      // sentinel far in the future closes both earlier windows
      input.addData(ev(99, 500))
      q.processAllAvailable()
      val got = spark.table(name)
        .select(unix_millis($"wstart").as("ws"), $"event_type", $"n", $"sum_value")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val want = Set(
        (0L, "click", 3L, 3.0),      // window [0, 60): ids 1,2,3
        (60000L, "click", 2L, 2.0))  // window [60, 120): ids 4,5
      assert(got == want)
    } finally q.stop()
  }

  test("batch and streaming share one query definition (tumbleAgg) and agree") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = (0 until 200).map(i => ev(i, i * 7L, i % 3, if (i % 2 == 0) "a" else "b", 1.0))
    // batch run of the same builder
    val want = WindowOps.tumbleAgg(rows.toDF(), "1 minute")
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2))).toSet
    val input = MemoryStream[Ev]
    val name = nextName()
    val q = WindowOps.tumbleAgg(input.toDF().withWatermark("ts", "5 seconds"), "1 minute")
      .writeStream.outputMode(OutputMode.Append).format("memory").queryName(name).start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData(ev(9999, 100000)) // close everything
      q.processAllAvailable()
      val got = spark.table(name)
        .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2))).toSet
      assert(got == want)
    } finally q.stop()
  }

  test("streaming dedup: dropDuplicatesWithinWatermark keeps first per event_id") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val name = nextName()
    val q = input.toDF().withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.outputMode(OutputMode.Append).format("memory").queryName(name).start()
    try {
      input.addData(ev(1, 1, v = 1.0), ev(1, 2, v = 2.0), ev(2, 3))
      q.processAllAvailable()
      input.addData(ev(1, 4, v = 3.0), ev(3, 5))
      q.processAllAvailable()
      val got = spark.table(name).groupBy($"event_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    } finally q.stop()
  }

  test("stream-static lookup join enriches events with customer dims") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Tables.customer(spark, TestSpark.sfDir)
      .select($"c_custkey", $"c_mktsegment")
    val input = MemoryStream[Ev]
    val name = nextName()
    val q = input.toDF()
      .join(dim, $"user_id" === $"c_custkey", "left")
      .writeStream.outputMode(OutputMode.Append).format("memory").queryName(name).start()
    try {
      input.addData(ev(1, 1, user = 0), ev(2, 2, user = 3), ev(3, 3, user = 999999))
      q.processAllAvailable()
      val got = spark.table(name)
        .select($"event_id", $"c_mktsegment")
        .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(got(1L).isDefined && got(2L).isDefined)
      assert(got(3L).isEmpty) // no such customer
    } finally q.stop()
  }

  test("cumulate windows run on a stream (update mode): expanding counts per bucket") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val name = nextName()
    // same Cumulate operator as batch q26: 10-min max, 2-min step
    val q = graft.operators.Cumulate.assign(input.toDF(), "ts", 600000L, 120000L)
      .groupBy($"w_start", $"w_end").agg(count(lit(1)).as("n"))
      .writeStream.outputMode(OutputMode.Update).format("memory").queryName(name).start()
    try {
      input.addData(ev(1, 30), ev(2, 90)) // both in bucket [0,600s): steps 1..5
      q.processAllAvailable()
      val latest = spark.table(name).groupBy($"w_start", $"w_end")
        .agg(max($"n").as("n")).collect()
        .map(r => (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime) -> r.getLong(2)).toMap
      // ev@30s covers ends 120..600s; ev@90s the same → every window n=2
      assert(latest == (1 to 5).map(k => (0L, k * 120000L) -> 2L).toMap)
    } finally q.stop()
  }

  test("streaming group agg in update mode emits revised counts per trigger") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val name = nextName()
    val q = input.toDF().groupBy($"event_type").count()
      .writeStream.outputMode(OutputMode.Update).format("memory").queryName(name).start()
    try {
      input.addData(ev(1, 1, typ = "a"), ev(2, 2, typ = "a"), ev(3, 3, typ = "b"))
      q.processAllAvailable()
      input.addData(ev(4, 4, typ = "a"))
      q.processAllAvailable()
      // update sink appends revisions; latest row per key is the truth
      val latest = spark.table(name).groupBy($"event_type")
        .agg(max($"count").as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(latest == Map("a" -> 3L, "b" -> 1L))
    } finally q.stop()
  }

  test("foreachBatch sink: batch-wise custom writer sees every row exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = input.toDF()
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select($"event_id").collect().foreach(r => seen.add(r.getLong(0)))
        () // Unit: disambiguates the Scala/Java foreachBatch overloads
      }
      .start()
    try {
      input.addData(ev(1, 1), ev(2, 2))
      q.processAllAvailable()
      input.addData(ev(3, 3))
      q.processAllAvailable()
      assert(seen.toArray.map(_.asInstanceOf[Long]).sorted.sameElements(Array(1L, 2L, 3L)))
    } finally q.stop()
  }

  test("stream-stream interval join: clicks join views within [0, 60s] per user") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[Ev]
    val clicks = MemoryStream[Ev]
    // generous watermark delay: MemoryStream may split the two addData
    // calls into separate micro-batches, and a tight watermark would evict
    // the view state before the click batch arrives (correct semantics —
    // just not what this test stages)
    val v = views.toDF().withWatermark("ts", "10 minutes")
      .select($"user_id".as("v_user"), $"ts".as("v_ts"), $"event_id".as("v_id"))
    val c = clicks.toDF().withWatermark("ts", "10 minutes")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"), $"event_id".as("c_id"))
    val joined = v.join(c,
      $"v_user" === $"c_user" &&
        $"c_ts" >= $"v_ts" && $"c_ts" <= $"v_ts" + expr("INTERVAL 60 SECONDS"))
    val name = nextName()
    val q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      // keep times well above epoch 0: a row AT the initial watermark (0)
      // is dropped as late
      views.addData(ev(1, 1000, user = 1, typ = "view"), ev(2, 1100, user = 2, typ = "view"))
      clicks.addData(ev(10, 1030, user = 1), ev(11, 1070, user = 1), // +70s > 60 → no match
        ev(12, 1130, user = 2))
      q.processAllAvailable()
      val got = spark.table(name)
        .select($"v_id", $"c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 10L), (2L, 12L)))
    } finally { q.stop() }
  }

  test("stream-stream LEFT OUTER join: unmatched left rows emit with nulls after state expiry") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Flink's outer stream joins emit the null-padded row once the other
    // side can no longer match (state eviction); Spark's watermarked outer
    // join has the same contract — the null row appears when the
    // watermark passes the join window.
    val views = MemoryStream[Ev]
    val clicks = MemoryStream[Ev]
    val v = views.toDF().withWatermark("ts", "10 seconds")
      .select($"user_id".as("v_user"), $"ts".as("v_ts"), $"event_id".as("v_id"))
    val c = clicks.toDF().withWatermark("ts", "10 seconds")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"), $"event_id".as("c_id"))
    val joined = v.join(c,
      $"v_user" === $"c_user" &&
        $"c_ts" >= $"v_ts" && $"c_ts" <= $"v_ts" + expr("INTERVAL 60 SECONDS"),
      "left_outer")
    val name = nextName()
    val q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      views.addData(ev(1, 1000, user = 1, typ = "view"), ev(2, 1000, user = 2, typ = "view"))
      clicks.addData(ev(10, 1030, user = 1))
      q.processAllAvailable()
      // matched pair emits promptly; user 2's null row must NOT exist yet
      val early = spark.table(name).collect()
      assert(early.exists(r => r.getAs[Long]("v_id") == 1L && r.getAs[Long]("c_id") == 10L))
      assert(!early.exists(r => r.getAs[Long]("v_id") == 2L))
      // advance the watermark far past view(2)'s join window
      clicks.addData(ev(99, 2000, user = 9))
      q.processAllAvailable()
      views.addData(ev(98, 2000, user = 9, typ = "view"))
      q.processAllAvailable()
      val late = spark.table(name).collect()
      val nullRow = late.filter(r => r.getAs[Long]("v_id") == 2L)
      assert(nullRow.length == 1 && nullRow.head.isNullAt(nullRow.head.fieldIndex("c_id")),
        s"expected exactly one null-padded row for the unmatched view; got ${late.toSeq}")
    } finally q.stop()
  }

  test("allowedLateness analog: late row within the watermark revises its window (update mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val name = nextName()
    val q = WindowOps.tumbleAgg(input.toDF().withWatermark("ts", "120 seconds"), "1 minute")
      .writeStream.outputMode(OutputMode.Update).format("memory").queryName(name).start()
    try {
      input.addData(ev(1, 1000), ev(2, 1010), ev(3, 1100))
      q.processAllAvailable()
      // late row for the [960,1020) window — still inside the 120s lateness
      input.addData(ev(4, 1015))
      q.processAllAvailable()
      val revisions = spark.table(name)
        .filter(unix_millis($"wstart") === 960000L)
        .select($"n").collect().map(_.getLong(0)).sorted
      assert(revisions.sameElements(Array(2L, 3L))) // first emit 2, revised to 3
    } finally q.stop()
  }

  test("checkpoint restart: a new query on the same checkpoint resumes exactly-once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ckpt")
    val outDir = s"$dir/out"
    val ckpt = s"$dir/ckpt"
    val input = MemoryStream[Ev]
    def start() = input.toDF()
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      input.addData(ev(1, 1), ev(2, 2))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart from the same checkpoint — the file sink's manifest makes
    // the resume exactly-once (Flink's checkpoint/savepoint analog)
    val q2 = start()
    try {
      input.addData(ev(3, 3))
      q2.processAllAvailable()
      val ids = spark.read.parquet(outDir).select($"event_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.sameElements(Array(1L, 2L, 3L)))
    } finally q2.stop()
  }

  test("session window (streaming) groups events by 30s gaps per user") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val name = nextName()
    val q = WindowOps.sessionAgg(input.toDF().withWatermark("ts", "5 seconds"), "30 seconds")
      .writeStream.outputMode(OutputMode.Append).format("memory").queryName(name).start()
    try {
      // user 1: two sessions (0-10 with 3 events, 100-105 with 2)
      input.addData(ev(1, 0), ev(2, 5), ev(3, 10), ev(4, 100), ev(5, 105))
      q.processAllAvailable()
      input.addData(ev(99, 1000)) // close sessions
      q.processAllAvailable()
      val got = spark.table(name)
        .filter($"user_id" === 1)
        .select(unix_millis($"wstart"), $"n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((0L, 3L), (100000L, 2L)))
    } finally q.stop()
  }

  test("session window with DYNAMIC per-event gap agrees streaming vs batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // clicks hold a session open for only 5s; views for 30s — the same
    // event spacing sessions differently depending on the PREVIOUS
    // event's type, which a static gap cannot express
    val gap = when($"event_type" === "click", lit("5 seconds"))
      .otherwise(lit("30 seconds"))
    val evs = Seq(
      ev(1, 0, typ = "view"), ev(2, 20, typ = "click"), // view's 30s holds 0-20
      ev(3, 40, typ = "view"),  // click's 5s lapsed at 25 → new session
      ev(4, 60, typ = "view"))  // view's 30s holds 40-60
    val input = MemoryStream[Ev]
    val name = nextName()
    val q = WindowOps.sessionAggDynamic(
        input.toDF().withWatermark("ts", "5 seconds"), gap)
      .writeStream.outputMode(OutputMode.Append).format("memory").queryName(name).start()
    try {
      evs.grouped(2).foreach { b => input.addData(b: _*); q.processAllAvailable() }
      input.addData(ev(99, 1000)) // close sessions
      q.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) = df
        .filter($"user_id" === 1)
        .select(unix_millis($"wstart"), unix_millis($"wend"), $"n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val got = shape(spark.table(name))
      val want = shape(WindowOps.sessionAggDynamic(evs.toDF(), gap))
      assert(got == want, s"streaming $got vs batch $want")
      // sessions: [0, 30) — the view's 30s horizon outlives the click's
      // 25s one (end = max over events of ts+gap) — then the click
      // horizon having lapsed by 40 opens [40, 90)
      assert(want == Set((0L, 30000L, 2L), (40000L, 90000L, 2L)))
    } finally q.stop()
  }

  test("incremental near-dup dedup: stream batches dedupe against the persistent store") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = tempDir("inc_dedup")
    val (store, out) = (s"$tmp/fps", s"$tmp/docs")
    val base = "the quick brown fox jumps over the lazy dog by the river bank in summer light"
    val other = "distributed analytics engines aggregate shuffle and join massive columnar tables"
    val input = MemoryStream[(Long, String)]
    // compactEvery = 1: the in-stream fp-store compaction runs after
    // every batch past the first, so batch 3's verdicts below also
    // certify the folded store answers identically
    val q = graft.streaming.IncrementalDedup.run(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", store, out,
      s"$tmp/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
      compactEvery = 1)
    // batch 1: two distinct docs + one same-batch near-dup of doc 1
    input.addData((1L, base), (2L, other), (3L, "intro " + base))
    q.processAllAvailable()
    // batch 2: a near-dup of batch-1 content, an exact copy, and a novel doc
    val novel = "embedding vectors power approximate nearest neighbor search at corpus scale"
    input.addData((10L, base + " postfix"), (11L, other), (12L, novel))
    q.processAllAvailable()
    // batch 3 (arrives AFTER a compaction folded batches 0-1's store
    // partitions): copies of both old and new store content must still
    // reject, novelty must still pass
    input.addData((20L, novel + " suffix"), (21L, "fresh unrelated words " +
      "about gardens orchards and the late autumn harvest moon festival"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // doc 3 lost to same-batch doc 1; docs 10/11 lost to the store; 12
    // novel; doc 20 lost to the COMPACTED store's batch-1 content; 21 novel
    assert(kept == Set(1L, 2L, 12L, 21L), s"kept $kept")
    // the store is folded: at most its compacted partition + the last
    // batch's own partition remain
    val parts = spark.read.parquet(store).select($"batch_id".cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(parts.subsetOf(Set(-1L, 2L)), s"store partitions after compaction: $parts")
  }

  test("incremental dedup: kill-and-resume re-admits nothing and loses nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = tempDir("inc_resume")
    val (store, out, ckpt) = (s"$tmp/fps", s"$tmp/docs", s"$tmp/ckpt")
    val base = "the quick brown fox jumps over the lazy dog by the river bank in summer light"
    val other = "distributed analytics engines aggregate shuffle and join massive columnar tables"
    val input = MemoryStream[(Long, String)]
    def start() = graft.streaming.IncrementalDedup.run(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", store, out, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    val q1 = start()
    try {
      input.addData((1L, base), (2L, other))
      q1.processAllAvailable()
    } finally q1.stop() // kill after batch 0 fully committed
    // at-least-once replay of the committed batch (the ADVICE failure
    // shape: store write landed, sink write retried): own-batch store
    // rows are excluded, so the survivors must NOT be scored against
    // their own fingerprints and silently dropped
    val replayKept = graft.streaming.IncrementalDedup.processBatch(
      Seq((1L, base), (2L, other)).toDF("doc_id", "text"),
      "doc_id", "text", store, batchId = 0L)
    assert(replayKept.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L), "replayed batch keeps its survivors")
    val q2 = start() // resume on the same checkpoint
    try {
      val novel = "embedding vectors power approximate nearest neighbor search at corpus scale"
      input.addData((10L, base + " postfix"), (11L, novel))
      q2.processAllAvailable()
    } finally q2.stop()
    val rows = spark.read.parquet(out)
      .select($"doc_id", $"batch_id".cast("long").as("batch_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch-0 survivors intact (not clobbered by the resumed query —
    // the restart continued at batch 1, proving the offset was
    // recovered); doc 10 rejected against the store; doc 11 novel
    assert(rows == Set((1L, 0L), (2L, 0L), (11L, 1L)), s"got $rows")
  }

  test("drift monitor: streaming windowed KL equals the batch fold; drifted shard spikes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // reference corpus: in-distribution vocabulary
    val ref = graft.streaming.DriftMonitor.referenceDistribution(
      Seq("the quick brown fox", "the lazy dog", "quick dog fox the")
        .toDF("text"), "text")
    // stream: src_ok stays in-vocabulary, src_drift is out-of-vocabulary
    def doc(sec: Long, src: String, text: String) =
      DriftDoc(new Timestamp(sec * 1000), src, text)
    val docs = Seq(
      doc(5, "src_ok", "the quick fox"), doc(20, "src_ok", "lazy dog the"),
      doc(10, "src_drift", "zebra quantum xylophone"),
      doc(30, "src_drift", "warp nacelle zebra"))
    val input = MemoryStream[DriftDoc]
    val q = graft.streaming.DriftMonitor.sourceDrift(
      input.toDF().withWatermark("ts", "5 seconds"), ref, "text", "1 minute")
      .writeStream.outputMode(OutputMode.Append).format("memory")
      .queryName("drift_out").start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      input.addData(doc(500, "src_ok", "the")) // sentinel closes the window
      q.processAllAvailable()
      val got = spark.table("drift_out")
        .filter($"wstart" === lit(new Timestamp(0)))
        .collect().map(r => r.getAs[String]("source") -> r.getAs[Double]("kl")).toMap
      // batch fold of the same window must agree exactly
      val batch = graft.streaming.DriftMonitor.sourceDrift(
        docs.toDF(), ref, "text", "1 minute")
        .collect().map(r => r.getAs[String]("source") -> r.getAs[Double]("kl")).toMap
      assert(got == batch, s"stream $got vs batch $batch")
      // every src_drift term is out-of-reference → KL ≈ ln(1/(N·ε)) scale,
      // decisively above the in-distribution shard
      assert(got("src_drift") > got("src_ok") + 5.0,
        s"drifted shard must spike: $got")
    } finally q.stop()
  }

  test("streaming window join: only same-window pairs emit, equal to the batch join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[Ev]
    val clicks = MemoryStream[Ev]
    val joined = graft.streaming.WindowJoin.tumbling(
      views.toDF(), clicks.toDF(), "user_id", "ts", "1 minute", "10 seconds")
      .select($"user_id", $"l_event_id".as("v_id"), $"r_event_id".as("c_id"))
    val name = nextName()
    val q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      val vRows = Seq(ev(1, 1010, user = 1, typ = "view"), ev(2, 1050, user = 1, typ = "view"),
        ev(3, 1070, user = 1, typ = "view"), ev(4, 1015, user = 3, typ = "view"))
      val cRows = Seq(ev(10, 1030, user = 1), ev(11, 1080, user = 1), ev(12, 1040, user = 2))
      views.addData(vRows: _*)
      clicks.addData(cRows: _*)
      q.processAllAvailable()
      val got = spark.table(name)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // window [960,1020): views 1,4 — no same-window click (click 12 is
      // user 2); [1020,1080): views 2,3 × click 10 (user 1); [1080,1140):
      // click 11 has no view in ITS window
      assert(got == Set((1L, 2L, 10L), (1L, 3L, 10L)), s"got $got")
      // batch fold of the same rows through the same builder must agree
      val batch = graft.streaming.WindowJoin.tumbling(
        vRows.toDF(), cRows.toDF(), "user_id", "ts", "1 minute", "10 seconds")
        .select($"user_id", $"l_event_id", $"r_event_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == batch, s"stream $got vs batch $batch")
    } finally q.stop()
  }

  test("streaming window LEFT join: unmatched row null-pads once its window closes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[Ev]
    val clicks = MemoryStream[Ev]
    val joined = graft.streaming.WindowJoin.tumbling(
      views.toDF(), clicks.toDF(), "user_id", "ts", "1 minute", "10 seconds", "left_outer")
      .select($"user_id", $"l_event_id".as("v_id"), $"r_event_id".as("c_id"))
    val name = nextName()
    val q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      views.addData(ev(1, 1030, user = 1, typ = "view"), ev(2, 1040, user = 2, typ = "view"))
      clicks.addData(ev(10, 1050, user = 1))
      q.processAllAvailable()
      val early = spark.table(name).collect()
      assert(early.exists(r => r.getLong(1) == 1L && r.getLong(2) == 10L))
      assert(!early.exists(r => r.getLong(1) == 2L), "null row must wait for window close")
      // advance both watermarks far past the window
      views.addData(ev(98, 2000, user = 9, typ = "view"))
      clicks.addData(ev(99, 2000, user = 9))
      q.processAllAvailable()
      val late = spark.table(name).collect().filter(_.getLong(1) == 2L)
      assert(late.length == 1 && late.head.isNullAt(2),
        s"expected one null-padded row for the clickless view; got ${late.toSeq}")
    } finally q.stop()
  }

  test("streaming window SEMI and ANTI joins partition views by same-window clicks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def run(joinType: String): Set[Long] = {
      val views = MemoryStream[Ev]
      val clicks = MemoryStream[Ev]
      val out = graft.streaming.WindowJoin.tumbling(
        views.toDF(), clicks.toDF(), "user_id", "ts", "1 minute", "10 seconds", joinType)
        .select(col("l_event_id"))
      val name = nextName()
      val q = out.writeStream.outputMode("append").format("memory").queryName(name).start()
      try {
        // window [960,1020): view 1 (user 1, clicked), view 2 (user 2, not);
        // window [1020,1080): view 3 (user 1, no click in that window)
        views.addData(ev(1, 1000, user = 1, typ = "view"), ev(2, 1005, user = 2, typ = "view"),
          ev(3, 1030, user = 1, typ = "view"))
        clicks.addData(ev(10, 1010, user = 1))
        q.processAllAvailable()
        // close every window
        views.addData(ev(98, 2000, user = 9, typ = "view"))
        clicks.addData(ev(99, 2000, user = 9))
        q.processAllAvailable()
        spark.table(name).collect().map(_.getLong(0)).toSet - 98L - 99L
      } finally q.stop()
    }
    assert(run("left_semi") == Set(1L), "semi: only the clicked same-window view")
    assert(run("left_anti") == Set(2L, 3L), "anti: the clickless views, at window close")
  }

  test("cascading window aggregation: 1-min windows roll up into 10-min windows in one stream") {
    // Flink 1.19's cascading window aggregation (window_time as the outer
    // rowtime) maps onto Spark's chained streaming window aggs: the outer
    // window() takes the INNER WINDOW STRUCT directly, so both stateful
    // aggs share one watermark lineage and evict correctly.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val inner = input.toDF().withWatermark("ts", "10 seconds")
      .groupBy(window($"ts", "1 minute").as("w1"), $"event_type")
      .agg(count(lit(1)).as("n1"))
    val outer = inner
      .groupBy(window($"w1", "10 minutes").as("w10"), $"event_type")
      .agg(sum($"n1").as("n"), count(lit(1)).as("n_minutes"))
    val name = nextName()
    val q = outer.writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      input.addData(ev(1, 10), ev(2, 30), ev(3, 70), ev(4, 130), ev(5, 610))
      q.processAllAvailable()
      input.addData(ev(99, 1300)) // close the 10-minute window [0, 600)
      q.processAllAvailable()
      val got = spark.table(name)
        .select(unix_millis($"w10.start").as("ws"), $"n", $"n_minutes")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // [0,600): minutes 0 (ids 1,2), 1 (id 3), 2 (id 4) → n=4 over 3
      // minute-buckets; [600,1200): id 5 alone — both closed by the sentinel
      assert(got == Set((0L, 4L, 3L), (600000L, 1L, 1L)), s"got $got")
    } finally q.stop()
  }
}