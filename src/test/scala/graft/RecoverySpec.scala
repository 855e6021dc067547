package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming._

/** Recovery + remaining streaming surface: RocksDB state restored across
  * query restarts (Flink checkpoint/savepoint analog for custom state),
  * stream-stream windowed join, observed metrics.
  */
class RecoverySpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  test("custom operator state survives a checkpointed restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // memory sink can't recover from a checkpoint — use the file sink
    val base = tempDir("graft_state_ckpt")
    val input = MemoryStream[KeyedValue]
    def start() = StatefulOps.keepLast(input.toDS()).toDF()
      .writeStream.outputMode("append").format("parquet")
      .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt").start()
    val q1 = start()
    try {
      input.addData(KeyedValue(1L, 1, 10.0))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      // the pre-restart value must be retracted → ValueState was restored
      input.addData(KeyedValue(1L, 2, 20.0))
      q2.processAllAvailable()
      val changes = spark.read.parquet(s"$base/out").as[KeepLastOut].collect()
      assert(changes.exists(c => c.row_kind == "-U" && c.id == 1L),
        s"expected retraction of pre-restart state, got ${changes.mkString(", ")}")
      assert(changes.exists(c => c.row_kind == "+U" && c.id == 2L))
    } finally q2.stop()
  }

  test("stream-stream windowed join: same 1-minute bucket and key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val l = MemoryStream[Ev]
    val r = MemoryStream[Ev]
    val lv = l.toDF().withWatermark("ts", "10 seconds")
      .select($"user_id".as("l_user"), window($"ts", "1 minute").as("l_w"),
        $"event_id".as("l_id"))
    val rv = r.toDF().withWatermark("ts", "10 seconds")
      .select($"user_id".as("r_user"), window($"ts", "1 minute").as("r_w"),
        $"event_id".as("r_id"))
    val q = lv.join(rv, $"l_user" === $"r_user" && $"l_w" === $"r_w")
      .select($"l_id", $"r_id")
      .writeStream.outputMode("append").format("memory").queryName("winjoin").start()
    try {
      def ev(id: Long, sec: Long, user: Long) =
        Ev(id, new java.sql.Timestamp(sec * 1000), user, "x", 0.0)
      l.addData(ev(1, 1000, 1), ev(2, 1070, 1)) // buckets [960,1020), [1020,1080)
      r.addData(ev(10, 1010, 1), ev(11, 1200, 1)) // same bucket as 1; far bucket
      q.processAllAvailable()
      val got = spark.table("winjoin").collect()
        .map(row => (row.getLong(0), row.getLong(1))).toSet
      assert(got == Set((1L, 10L)))
    } finally q.stop()
  }

  test("streaming window join state survives a checkpointed restart (no dupes, no losses)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = tempDir("graft_wjoin_ckpt")
    val views = MemoryStream[Ev]
    val clicks = MemoryStream[Ev]
    def ev(id: Long, sec: Long, user: Long) =
      Ev(id, new java.sql.Timestamp(sec * 1000), user, "x", 0.0)
    def start() = graft.streaming.WindowJoin.tumbling(
      views.toDF(), clicks.toDF(), "user_id", "ts", "1 minute", "10 seconds")
      .select($"user_id", $"l_event_id".as("v_id"), $"r_event_id".as("c_id"))
      .writeStream.outputMode("append").format("parquet")
      .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt").start()
    val q1 = start()
    try {
      // view buffered in join state; its click arrives AFTER the restart
      views.addData(ev(1, 1030, 1))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      clicks.addData(ev(10, 1040, 1)) // same window [1020,1080), same user
      q2.processAllAvailable()
      val got = spark.read.parquet(s"$base/out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.toSeq.sorted == Seq((1L, 1L, 10L)),
        s"exactly the one pair, joined across the restart; got ${got.toSeq}")
    } finally q2.stop()
  }

  // ---- top-N restarts. One row per key per batch fixes each key's
  // arrival order, so the +I/-D changelog an uninterrupted run emits is
  // the exact expected output of a restarted one.
  private val topKeys = Seq("a", "b", "c", "d", "e")
  private def topBatch(b: Int): Seq[KeyedScored] = topKeys.zipWithIndex.map {
    case (k, i) =>
      val id = (b * topKeys.size + i).toLong
      KeyedScored(k, id, ((id * 7919L) % 101).toDouble)
  }

  /** A session with few shuffle (= state) partitions for a small query. */
  private def smallSession(): org.apache.spark.sql.SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s
  }

  /** Runs top-3 over `batches` into `dir`, fed batch by batch; a new
    * source in `s` replays `committed` first, which the checkpoint
    * already holds, so the query resumes after them.
    */
  private def runTopN(s: org.apache.spark.sql.SparkSession, dir: String,
      committed: Seq[Seq[KeyedScored]], batches: Seq[Seq[KeyedScored]]): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[KeyedScored] =
      org.apache.spark.sql.Encoders.product[KeyedScored]
    val input = MemoryStream[KeyedScored]
    committed.foreach(b => input.addData(b: _*))
    val q = StatefulOps.topN(input.toDS(), 3).toDF()
      .writeStream.outputMode("append").format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ckpt").start()
    try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
  }

  private def topNOut(dir: String): Seq[TopNChange] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/out").as[TopNChange].collect().toSeq
      .sortBy(c => (c.key, c.id, c.row_kind))
  }

  private def stateFiles(dir: String, suffix: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "ckpt", "state"))
    try walk.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(suffix)).toList
    finally walk.close()
  }

  test("RocksDB top-N restarted after more than 10 changelog batches equals an uninterrupted run") {
    val base = tempDir("graft_topn_ckpt")
    val batches = (0 until 15).map(topBatch)
    runTopN(smallSession(), s"$base/whole", Nil, batches)
    runTopN(smallSession(), s"$base/restart", Nil, batches.take(12))
    // the commits went to changelogs (snapshots upload in the background),
    // so recovery replays changelogs on top of the latest snapshot
    assert(stateFiles(s"$base/restart", ".changelog").contains("12.changelog"))
    runTopN(smallSession(), s"$base/restart", batches.take(12), batches.drop(12))
    assert(topNOut(s"$base/restart") == topNOut(s"$base/whole"))
  }

  test("a checkpoint written without changelogs, through Hadoop's file manager, carries its state over") {
    val base = tempDir("graft_topn_legacy")
    val batches = (0 until 11).map(topBatch)
    runTopN(smallSession(), s"$base/whole", Nil, batches)
    // Spark's defaults, set on this session only: a full snapshot per
    // commit, written through the FileContext manager
    val legacy = smallSession()
    legacy.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "false")
    legacy.conf.set("spark.sql.streaming.checkpointFileManagerClass", classOf[
      org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager]
      .getName)
    runTopN(legacy, s"$base/restart", Nil, batches.take(5))
    assert(stateFiles(s"$base/restart", ".zip").nonEmpty &&
      stateFiles(s"$base/restart", ".changelog").isEmpty)
    // the session defaults: the first restart loads the legacy snapshot
    // and writes changelogs, the second replays them on top of it
    runTopN(smallSession(), s"$base/restart", batches.take(5), batches.slice(5, 8))
    assert(stateFiles(s"$base/restart", ".changelog").contains("8.changelog"))
    runTopN(smallSession(), s"$base/restart", batches.take(8), batches.drop(8))
    assert(topNOut(s"$base/restart") == topNOut(s"$base/whole"))
  }

  test("rate source (datagen analog) exposes the documented schema") {
    val rate = spark.readStream.format("rate").option("rowsPerSecond", "5").load()
    assert(rate.isStreaming)
    assert(rate.schema.fieldNames.toSeq == Seq("timestamp", "value"))
  }

  test("Connect.side/connect feed the temporal join the same as hand-tagging") {
    import spark.implicits._
    val versions = Seq((1L, 10L, new java.sql.Timestamp(1000000), 1.5))
      .toDF("user", "vid", "vts", "price")
    val probes = Seq((1L, 20L, new java.sql.Timestamp(1050000), 0.0))
      .toDF("u", "pid", "pts", "x")
    val tagged = graft.streaming.Connect.connect(
      graft.streaming.Connect.side(versions, 0, "user", "vid", "vts", "price"),
      graft.streaming.Connect.side(probes, 1, "u", "pid", "pts", "x"))
    val rows = tagged.collect().sortBy(_.side)
    assert(rows.map(r => (r.key, r.side, r.id, r.ts_ms)).toSeq ==
      Seq((1L, 0, 10L, 1000000L), (1L, 1, 20L, 1050000L)))
  }

  test("observed metrics: per-action counters without a second pass (Flink metrics analog)") {
    val df = Tables.lineitem(spark, TestSpark.sfDir)
      .observe("stats", count(lit(1)).as("rows"), sum(col("l_quantity")).as("qty"))
    // metrics attach to THIS plan's execution — collect on df itself
    // (df.count() would spin up a separate QueryExecution)
    val n = df.collect().length
    val metrics = df.queryExecution.observedMetrics("stats")
    assert(metrics.getAs[Long]("rows") == n.toLong)
    assert(metrics.getAs[Double]("qty") > 0)
  }
}
