package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.{GraftSession, SparkEntry}
import graft.streaming.{KeyedScored, StatefulOps, WindowJoin, WindowOps}

/** One event as the stream workload replays it into `MemoryStream`. */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

/** JVM side of the benchmark. It drives the program only through its public
  * entry points and writes what it saw as one raw JSON file; `run.py` turns
  * that into metrics and checks the outputs.
  *
  * Arguments (all required): `--workload batch|stream`, `--data DIR`
  * (generated tables), `--plan FILE` (query names in run order, or
  * `phase count` lines for the stream), `--out DIR`, `--threads N`,
  * `--setups N`, `--warmup N` (untimed start-up batches per stream
  * pipeline), `--trace 0|1`; or only `--list FILE`.
  */
object Harness {
  private val Warmup = "q01_pricing_summary"

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    if (a.contains("list")) return listWorkloads(a("list"))
    val workload = a("workload")
    val dataDir = a("data")
    val outDir = a("out")
    val threads = a("threads").toInt
    val traced = a("trace") == "1"
    val plan = Files.readAllLines(Paths.get(a("plan"))).asScala.map(_.trim).filter(_.nonEmpty).toSeq
    Files.createDirectories(Paths.get(outDir))
    val heap = new HeapWatch

    val clock = new Clock
    // Set-up is repeated so that one slow start cannot decide setup_s; the
    // first sample counts from JVM start, the others from session start.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    var spark: SparkSession = null
    val setups = (1 to a("setups").toInt).map { i =>
      if (spark != null) spark.stop()
      val s0 = clock.nowMs
      spark = session(threads, outDir)
      val s1 = clock.nowMs
      SparkEntry.queries(Warmup)(spark, dataDir).write.mode("overwrite").format("noop").save()
      val s2 = clock.nowMs
      val from = if (i == 1) jvmStartMs else s0
      Json.obj("start_s" -> (s1 - from) / 1e3, "warmup_s" -> (s2 - s1) / 1e3)
    }

    val trace = if (traced) Some(new Trace(spark, clock)) else None
    val runStart = clock.nowMs
    val body: Seq[(String, Any)] = workload match {
      case "batch" => runQueries(spark, dataDir, outDir, plan, clock)
      case "stream" => runStream(spark, dataDir, outDir, plan, a("warmup").toInt, clock)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val runEnd = clock.nowMs
    val traceJson = trace.map(_.finish()).getOrElse(null)
    System.gc() // a full collection after the run: what is left is the live set
    val liveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val out = Json.obj((Seq(
      "setup" -> setups,
      "run" -> Json.obj("start_ms" -> runStart, "end_ms" -> runEnd),
      "heap_peak_mb" -> heap.peakMb,
      "heap_live_mb" -> liveMb,
      "trace" -> traceJson) ++ body): _*)
    Files.writeString(Paths.get(outDir, "raw.json"), Json.render(out))
    spark.stop()
  }

  /** Writes the batch workload's declared queries, one `batch name group`
    * per line: group `sql` is the relational and temporal surface,
    * `curation` the text and vector one. */
  private def listWorkloads(path: String): Unit = {
    import graft.queries._
    val byWorkload = Seq(
      "sql" -> (Relational.queries ++ Relational2.queries ++ Relational3.queries ++ Temporal.queries),
      "curation" -> (Text.queries ++ Vector.queries))
    Files.writeString(Paths.get(path), byWorkload.flatMap { case (w, qs) =>
      qs.keys.toSeq.sorted.map(n => s"batch $n $w")
    }.mkString("", "\n", "\n"))
  }

  private def session(threads: Int, outDir: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$threads]").appName("perfbench")
      .config("spark.local.dir", s"$outDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val s = GraftSession.configure(b, shufflePartitions = threads).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Two passes over the planned queries, a closed loop. The first, untimed,
    * is each query's first run in the session: it loads classes and
    * generates code, and how long that takes depends mostly on how warm the
    * JVM already is, so on the query's place in the run. The second is
    * timed: each query is built and forced by collecting its result, which
    * the output check compares afterwards; the time covers both. A query
    * that raises in either pass fails. */
  private def runQueries(spark: SparkSession, dataDir: String, outDir: String,
      plan: Seq[String], clock: Clock): Seq[(String, Any)] = {
    val all = SparkEntry.queries
    val warmErrors = plan.map { name =>
      try { all(name)(spark, dataDir).collect(); null }
      catch { case e: Throwable => String.valueOf(e.getMessage).take(500) }
    }
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame, Array[Row])]
    val ops = plan.zip(warmErrors).zipWithIndex.map { case ((name, warmErr), i) =>
      val t0 = clock.nowMs
      var built = t0
      val err =
        try {
          val df = all(name)(spark, dataDir)
          built = clock.nowMs
          results += ((name, df, df.collect()))
          null
        } catch { case e: Throwable => String.valueOf(e.getMessage).take(500) }
      val t1 = clock.nowMs
      Json.obj("id" -> i, "kind" -> "query", "name" -> name, "start_ms" -> t0, "end_ms" -> t1,
        "build_ms" -> (built - t0), "ok" -> (err == null && warmErr == null),
        "error" -> Option(err).getOrElse(warmErr))
    }
    val passEnd = clock.nowMs
    // Untimed: hand each result to the oracle check as parquet.
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val written = Future.sequence(results.toSeq.map { case (name, df, rows) =>
      Future {
        try {
          spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/results/$name")
          name -> null
        } catch { case e: Throwable => name -> String.valueOf(e.getMessage).take(500) }
      }
    })
    val writeErrors = try Await.result(written, Duration.Inf) finally pool.shutdown()
    val oracle = SparkEntry.oracleSql
    Seq(
      "ops" -> ops,
      "passes" -> Seq(Json.obj("name" -> "pass", "start_ms" -> ops.headOption
        .map(_("start_ms")).getOrElse(passEnd), "end_ms" -> passEnd)),
      "result_errors" -> Json.obj(writeErrors.filter(_._2 != null): _*),
      "oracle_sql" -> Json.obj(plan.distinct.map(n => n -> oracle.getOrElse(n, null)): _*))
  }

  /** Replays the generated schedule through the three stateful pipelines,
    * each with a fresh checkpoint. The pipelines run side by side and take
    * the batches in turn (batch 0 to each, then batch 1 to each, ...), so a
    * slow stretch of the shared machine falls on every phase alike. */
  private def runStream(spark: SparkSession, dataDir: String, outDir: String,
      plan: Seq[String], warmup: Int, clock: Clock): Seq[(String, Any)] = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // One micro-batch per appended batch: the watermark each batch sees is
    // then fixed by the schedule, which the late-row check relies on.
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val rows = spark.read.parquet(s"$dataDir/stream.parquet")
      .orderBy("seq").collect()
      .map(r => (r.getAs[Int]("batch"), r.getAs[Boolean]("late"),
        Ev(r.getAs[Long]("event_id"), r.getAs[Timestamp]("ts"), r.getAs[Long]("user_id"),
          r.getAs[String]("event_type"), r.getAs[Double]("value"))))
    val batches = rows.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.toSeq)
    val phases = plan.map { line =>
      val Array(phase, count) = line.split("\\s+")
      val input = MemoryStream[Ev]
      val src = input.toDF()
      val out = phase match {
        case "tumble" => WindowOps.tumbleAgg(src.withWatermark("ts", "10 seconds"), "5 minutes")
        case "topn" => StatefulOps.topN(src.select($"event_type".as("key"),
          $"event_id".as("id"), $"value".as("score")).as[KeyedScored], 10).toDF()
        case "wjoin" => joinShape(src)
      }
      val q = out.writeStream.format("memory").queryName(s"pb_$phase").outputMode("append")
        .option("checkpointLocation", s"$outDir/checkpoints/$phase").start()
      (phase, batches.take(count.toInt), input, q)
    }
    val ops = scala.collection.mutable.ArrayBuffer.empty[Json.Obj]
    val p0 = clock.nowMs
    try (0 until phases.map(_._2.size).max).foreach { i =>
      phases.filter(_._2.size > i).foreach { case (phase, fed, input, q) =>
        val t0 = clock.nowMs
        input.addData(fed(i).map(_._3): _*)
        q.processAllAvailable()
        val t1 = clock.nowMs
        // the first batches of each pipeline start it up: run, checked, not timed
        ops += Json.obj("id" -> ops.size, "kind" -> "batch", "name" -> s"$phase/$i",
          "phase" -> phase, "rows" -> fed(i).size, "start_ms" -> t0, "end_ms" -> t1, "ok" -> true,
          "warmup" -> (i < warmup))
      }
    } finally phases.foreach(_._4.stop())
    val p1 = clock.nowMs
    val results = phases.map { case (phase, fed, _, q) =>
      val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      // Untimed: the emitted rows and the batch twin over the same rows.
      val all = fed.flatten
      val onTime = all.filterNot(_._2).map(_._3).toDS()
      val twin = phase match {
        case "tumble" => WindowOps.tumbleAgg(onTime.toDF(), "5 minutes")
        case "topn" => StatefulOps.topN(all.map(_._3).toDS().select($"event_type".as("key"),
          $"event_id".as("id"), $"value".as("score")).as[KeyedScored], 10).toDF()
        case "wjoin" => joinShape(onTime.toDF())
      }
      spark.table(s"pb_$phase").write.mode("overwrite").parquet(s"$outDir/results/$phase/emitted")
      twin.write.mode("overwrite").parquet(s"$outDir/results/$phase/twin")
      phase -> Json.obj(
        "batches" -> fed.size,
        "rows" -> all.size,
        "late_fed" -> all.count(_._2),
        "late_dropped" -> progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum,
        "watermark_ms" -> progress.flatMap(p => Option(p.eventTime.get("watermark")))
          .map(s => java.time.Instant.parse(s).toEpochMilli).maxOption.getOrElse(0L),
        "progress" -> progress.map(progressJson))
    }
    Seq("ops" -> ops.toSeq, "passes" -> Seq(Json.obj("name" -> "replay", "start_ms" -> p0, "end_ms" -> p1)),
      "stream" -> Json.obj(results: _*))
  }

  /** Views joined to clicks of the same user in the same 5-minute window. */
  private def joinShape(src: DataFrame): DataFrame = {
    def side(t: String) = src.filter(col("event_type") === t).select("event_id", "ts", "user_id")
    WindowJoin.tumbling(side("view"), side("click"), "user_id", "ts", "5 minutes", "10 seconds")
      .select(col("window.start").as("wstart"), col("user_id"),
        col("l_event_id").as("view_id"), col("r_event_id").as("click_id"))
  }

  private[perfbench] def progressJson(p: StreamingQueryProgress): Json.Obj = Json.obj(
    "query" -> p.id.toString,
    "batch" -> p.batchId,
    "input_rows" -> p.numInputRows,
    "duration_ms" -> Json.obj(p.durationMs.asScala.toSeq.map { case (k, v) => k -> v.longValue }: _*),
    "state" -> p.stateOperators.toSeq.map(s => Json.obj(
      "rows" -> s.numRowsTotal, "mem_bytes" -> s.memoryUsedBytes, "commit_ms" -> s.commitTimeMs,
      "removed" -> s.numRowsRemoved, "dropped" -> s.numRowsDroppedByWatermark)))
}

/** Wall-clock milliseconds with sub-millisecond resolution: one epoch anchor
  * plus `nanoTime`, so spans line up with listener event times. */
final class Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Largest heap occupancy right after any collection, from the JVM's
  * post-collection pool usage. */
final class HeapWatch {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  @volatile var peakMb = 0.0
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peakMb = math.max(peakMb, used / 1048576.0) }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }
}
