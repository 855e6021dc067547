package graft.tools

import graft.{GraftSession, Tables}
import graft.streaming.WindowOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Streaming throughput bench (BASELINE.md row "streaming tumbling-window
  * agg over events via MemoryStream"): replays the sf events table
  * through MemoryStream in micro-batches into the shared tumbleAgg
  * builder with a 10 s watermark, reports rows/s end-to-end.
  */
object StreamBench {
  case class E(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val batchSize = if (args.length > 1) args(1).toInt else 10000
    val parts = if (args.length > 2) args(2).toInt else 32
    // `hdfs` swaps in the in-JVM HDFSBackedStateStoreProvider — a plain
    // windowed agg doesn't need RocksDB (only transformWithState does),
    // and the per-micro-batch state commit is the measured bottleneck
    val hdfs = (args.length > 3 && args(3) == "hdfs") ||
      (args.length > 4 && args(4) == "hdfs")
    val builder = org.apache.spark.sql.SparkSession.builder()
      .master("local[32]").appName("graft-streambench")
    val spark = GraftSession.configure(builder, shufflePartitions = parts).getOrCreate()
    if (hdfs) spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // `cumsql` measures the streaming CUMULATE TVF SQL deploy end-to-end
    // (FlinkDdl.startCumulate: DDL parquet source → span store →
    // per-step re-aggregation → parquet sink), AvailableNow over the
    // whole events table — the BASELINE row for the cumulate deploy
    if (args.length > 3 && args(3) == "cumsql") {
      val tmp = java.nio.file.Files.createTempDirectory("graft_cumsql").toString
      val src = Tables.events(spark, dir)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      src.write.mode("overwrite").parquet(s"$tmp/src")
      val n = src.count()
      graft.FlinkSql.run(spark,
        s"""CREATE TABLE cb_src (
           |  event_id BIGINT, ts TIMESTAMP(3), user_id BIGINT,
           |  event_type STRING, value DOUBLE,
           |  WATERMARK FOR ts AS ts - INTERVAL '10' SECOND
           |) WITH ('connector' = 'filesystem', 'path' = '$tmp/src',
           |        'format' = 'parquet');
           |CREATE TABLE cb_sink (ws TIMESTAMP(3), we TIMESTAMP(3),
           |  event_type STRING, n BIGINT, sum_v DOUBLE)
           |WITH ('connector' = 'filesystem', 'path' = '$tmp/sink',
           |      'format' = 'parquet')""".stripMargin)
      val t0 = System.nanoTime()
      val q = graft.plans.FlinkDdl.executeInsertStream(spark,
        """INSERT INTO cb_sink
          |SELECT window_start, window_end, event_type, count(*) AS n, sum(value) AS sum_v
          |FROM TABLE(CUMULATE(TABLE cb_src, DESCRIPTOR(ts), INTERVAL '30' MINUTE, INTERVAL '2' HOUR))
          |GROUP BY window_start, window_end, event_type""".stripMargin,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q.awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      val emitted = spark.read.parquet(s"$tmp/sink").count()
      println(f"""{"metric":"stream_cumulate_sql_rows_per_sec","value":${n / sec}%.0f,"unit":"rows/s","rows":$n,"emitted":$emitted,"sec":$sec%.2f,"parts":$parts,"sf":"$dir"}""")
      spark.stop()
      return
    }
    val topn = args.length > 3 && args(3) == "topn"
    // `wjoin` replays views and clicks into the streaming window join
    // (two-sided symmetric-hash join state keyed by (window, user)) —
    // the BASELINE row for stream-stream join throughput
    val wjoin = args.length > 3 && args(3) == "wjoin"
    // `over` replays events into the ROWS-bounded OverOps kernel keyed
    // by user_id (MANY keys, unlike topn's 5 event types — the retained
    // trailing frame + per-ts timer path under RocksDB) — the BASELINE
    // row for custom transformWithState-kernel throughput
    val over = args.length > 3 && args(3) == "over"
    val rows = Tables.events(spark, dir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[E].collect().sortBy(_.ts.getTime)
    val input = MemoryStream[E]
    val input2 = MemoryStream[E]
    // `topn` drives the transformWithState stack (keyed state + per-id
    // upsert/retract) instead of the stateless windowed agg — the
    // BASELINE row for stateful-operator throughput
    val metric =
      if (topn) "stream_topn_rows_per_sec"
      else if (wjoin) "stream_wjoin_rows_per_sec"
      else if (over) "stream_over_rows_per_sec"
      else "stream_tumble_rows_per_sec"
    val out =
      if (over)
        graft.streaming.OverOps.boundedRowsAgg(
          input.toDF().withWatermark("ts", "10 seconds")
            .select($"user_id".cast("string").as("key"), $"event_id".as("id"),
              unix_millis($"ts").as("ts_ms"), array($"value").as("values"),
              // empty mask = "no nulls" (the fast path; a 1-element
              // false mask would serialize per row for nothing)
              expr("CAST(array() AS ARRAY<BOOLEAN>)").as("nulls"),
              expr("CAST(array() AS ARRAY<STRING>)").as("svalues"))
            .as[graft.streaming.OverIn], 10)
          .toDF()
      else if (topn)
        graft.streaming.StatefulOps.topN(
          input.toDF().select($"event_type".as("key"), $"event_id".as("id"),
            $"value".as("score")).as[graft.streaming.KeyedScored], 10)
          .toDF()
      else if (wjoin)
        graft.streaming.WindowJoin.tumbling(
          input.toDF(), input2.toDF(), "user_id", "ts", "5 minutes", "10 seconds")
      else WindowOps.tumbleAgg(input.toDF().withWatermark("ts", "10 seconds"), "5 minutes")
    val q = out.writeStream.outputMode("append").format("noop").start()
    val t0 = System.nanoTime()
    try {
      if (wjoin) {
        val (views, clicks) = rows.partition(_.event_type == "view")
        views.grouped(batchSize).zipAll(clicks.grouped(batchSize),
          Array.empty[E], Array.empty[E]).foreach { case (v, c) =>
          if (v.nonEmpty) input.addData(v.toIndexedSeq: _*)
          if (c.nonEmpty) input2.addData(c.toIndexedSeq: _*)
          q.processAllAvailable()
        }
      } else {
        rows.grouped(batchSize).foreach { b => input.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
      }
    } finally q.stop()
    val sec = (System.nanoTime() - t0) / 1e9
    val fed =
      if (wjoin) rows.count(r => r.event_type == "view" || r.event_type == "click")
      else rows.length
    val rps = fed / sec
    println(f"""{"metric":"$metric","value":$rps%.0f,"unit":"rows/s","rows":$fed,"sec":$sec%.2f,"batch":$batchSize,"parts":$parts,"sf":"$dir"}""")
    spark.stop()
  }
}
