package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import scala.concurrent.Future
import scala.concurrent.duration._
import graft.operators.{AsyncIO, Changelog, Multimodal, SideOutput}

/** The thin custom patterns: async I/O, CDC changelog decode, side
  * outputs, multimodal column convention.
  */
class PatternsSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  test("async mapOrdered preserves order; capacity bounds in-flight work") {
    import spark.implicits._
    val ds = (1 to 100).toDS().repartition(4)
    val out = AsyncIO.mapOrdered(ds, capacity = 8, timeout = 10.seconds) { (i, ec) =>
      Future { Thread.sleep((i % 3).toLong); i * 2 }(ec)
    }.collect()
    // order preserved within each partition → global set and per-partition
    // monotonicity; set equality is the portable assertion
    assert(out.toSet == (1 to 100).map(_ * 2).toSet)
    assert(out.length == 100)
  }

  test("async mapUnordered completes all items") {
    import spark.implicits._
    val ds = (1 to 50).toDS().repartition(2)
    val out = AsyncIO.mapUnordered(ds, capacity = 4, timeout = 10.seconds) { (i, ec) =>
      Future(i + 1000)(ec)
    }.collect()
    assert(out.toSet == (1 to 50).map(_ + 1000).toSet)
  }

  test("async mapUnordered emits in completion order: one slow call does not block the pipe") {
    import spark.implicits._
    // single partition, first element sleeps 2s, the rest are instant —
    // unorderedWait must surface the fast results FIRST (a wave-barrier
    // implementation would emit nothing until the slow call resolves)
    val ds = (1 to 20).toDS().coalesce(1)
    val out = AsyncIO.mapUnordered(ds, capacity = 8, timeout = 30.seconds) { (i, ec) =>
      Future { if (i == 1) Thread.sleep(2000); i }(ec)
    }.collect()
    assert(out.toSet == (1 to 20).toSet)
    // the slow element cannot be first; fast elements overtook it
    assert(out.head != 1, s"slow call head-of-line-blocked: ${out.toSeq}")
    assert(out.indexOf(1) >= 7, s"expected 1 to finish late, got order ${out.toSeq}")
    // capacity <= 0 must error, not silently emit an empty dataset
    intercept[IllegalArgumentException](
      AsyncIO.mapUnordered(ds, capacity = 0, timeout = 1.second)((i, ec) =>
        Future(i)(ec)))
  }

  test("debezium json decodes to row_kind changelog; updates expand to -U/+U") {
    import spark.implicits._
    val df = Seq(
      """{"before": null, "after": {"id": 1, "v": 10.0}, "op": "c"}""",
      """{"before": {"id": 1, "v": 10.0}, "after": {"id": 1, "v": 20.0}, "op": "u"}""",
      """{"before": {"id": 2, "v": 5.0}, "after": null, "op": "d"}""")
      .toDF("json")
    val out = Changelog.fromDebeziumJson(df, "json", "id BIGINT, v DOUBLE")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out == Set(
      ("+I", 1L, 10.0), ("-U", 1L, 10.0), ("+U", 1L, 20.0), ("-D", 2L, 5.0)))
  }

  test("canal json decodes batched data rows; update-before overlays old's changed columns") {
    import spark.implicits._
    val df = Seq(
      """{"data": [{"id": 1, "v": 10.0}, {"id": 2, "v": 5.0}], "old": null, "type": "INSERT"}""",
      """{"data": [{"id": 1, "v": 20.0}], "old": [{"v": 10.0}], "type": "UPDATE"}""",
      """{"data": [{"id": 2, "v": 5.0}], "old": null, "type": "DELETE"}""")
      .toDF("json")
    val out = Changelog.fromCanalJson(df, "json", "id BIGINT, v DOUBLE")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out == Set(
      ("+I", 1L, 10.0), ("+I", 2L, 5.0),
      // -U reconstructs the before-row: id from data, v from old
      ("-U", 1L, 10.0), ("+U", 1L, 20.0),
      ("-D", 2L, 5.0)))
  }

  test("maxwell json decodes single-row messages with partial old overlays") {
    import spark.implicits._
    val df = Seq(
      """{"data": {"id": 1, "v": 10.0}, "old": null, "type": "insert"}""",
      """{"data": {"id": 1, "v": 20.0}, "old": {"v": 10.0}, "type": "update"}""",
      """{"data": {"id": 1, "v": 20.0}, "old": null, "type": "delete"}""")
      .toDF("json")
    val out = Changelog.fromMaxwellJson(df, "json", "id BIGINT, v DOUBLE")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out == Set(
      ("+I", 1L, 10.0), ("-U", 1L, 10.0), ("+U", 1L, 20.0), ("-D", 1L, 20.0)))
  }

  test("CDC edge cases: debezium snapshot 'r' is +I; NULL-old columns reconstruct NULL before-images") {
    import spark.implicits._
    // Debezium's initial-snapshot READ op must land as an insert, not vanish
    val snap = Seq("""{"before": null, "after": {"id": 9, "v": 1.5}, "op": "r"}""").toDF("json")
    val snapOut = Changelog.fromDebeziumJson(snap, "json", "id BIGINT, v DOUBLE")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(snapOut == Set(("+I", 9L, 1.5)))
    // canal: a column updated FROM NULL — key presence in `old`, not
    // null-ness, marks it changed, so -U carries v=NULL
    val canal = Seq(
      """{"data": [{"id": 1, "v": 5.0}], "old": [{"v": null}], "type": "UPDATE"}""")
      .toDF("json")
    val canalOut = Changelog.fromCanalJson(canal, "json", "id BIGINT, v DOUBLE")
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(canalOut == Set(("-U", 1L, None), ("+U", 1L, Some(5.0))), canalOut.toString)
    // maxwell: same rule, single-row message shape
    val mx = Seq(
      """{"data": {"id": 2, "v": 7.0}, "old": {"v": null}, "type": "update"}""")
      .toDF("json")
    val mxOut = Changelog.fromMaxwellJson(mx, "json", "id BIGINT, v DOUBLE")
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(mxOut == Set(("-U", 2L, None), ("+U", 2L, Some(7.0))), mxOut.toString)
    // an UNCHANGED column still comes from data under the presence rule
    val canal2 = Seq(
      """{"data": [{"id": 3, "v": 8.0}], "old": [{"id": 30}], "type": "UPDATE"}""")
      .toDF("json")
    val c2 = Changelog.fromCanalJson(canal2, "json", "id BIGINT, v DOUBLE")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(c2 == Set(("-U", 30L, 8.0), ("+U", 3L, 8.0)), c2.toString)
  }

  test("CDC decoders drop malformed/unknown-op messages, never throw (dirty-feed contract)") {
    import spark.implicits._
    // a crawl-scale CDC feed carries broken lines; the decoders must keep
    // the well-formed rows and silently drop the rest (Flink's
    // ignore-parse-errors posture), not fail the task
    val dirt = Seq(
      "not json at all", "", "{", """{"unrelated": 1}""",
      """{"before": null, "after": {"id": 7, "v": 1.0}, "op": "zz"}""",
      """{"data": "scalar-not-array", "type": "INSERT"}""",
      """{"data": [{"id": 7, "v": 1.0}], "old": null, "type": "TRUNCATE"}""",
      """{"data": {"id": 7, "v": 1.0}, "old": null, "type": "bootstrap"}""",
      """{"before": {"id": 7, "v": 1.0}, "after": null, "op_type": "X"}""")
    def feed(valid: String) = (dirt :+ valid).toDF("json")
    val dz = Changelog.fromDebeziumJson(
      feed("""{"before": null, "after": {"id": 1, "v": 2.0}, "op": "c"}"""),
      "json", "id BIGINT, v DOUBLE")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(dz == Set(("+I", 1L, 2.0)), dz.toString)
    val cn = Changelog.fromCanalJson(
      feed("""{"data": [{"id": 1, "v": 2.0}], "old": null, "type": "INSERT"}"""),
      "json", "id BIGINT, v DOUBLE")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(cn == Set(("+I", 1L, 2.0)), cn.toString)
    val mx = Changelog.fromMaxwellJson(
      feed("""{"data": {"id": 1, "v": 2.0}, "old": null, "type": "insert"}"""),
      "json", "id BIGINT, v DOUBLE")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(mx == Set(("+I", 1L, 2.0)), mx.toString)
    val og = Changelog.fromOggJson(
      feed("""{"before": null, "after": {"id": 1, "v": 2.0}, "op_type": "I"}"""),
      "json", "id BIGINT, v DOUBLE")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(og == Set(("+I", 1L, 2.0)), og.toString)
  }

  test("ogg json decodes full before/after images; U expands to -U/+U") {
    import spark.implicits._
    val df = Seq(
      """{"before": null, "after": {"id": 1, "v": 10.0}, "op_type": "I"}""",
      """{"before": {"id": 1, "v": 10.0}, "after": {"id": 1, "v": 20.0}, "op_type": "U"}""",
      """{"before": {"id": 1, "v": 20.0}, "after": null, "op_type": "D"}""")
      .toDF("json")
    val out = Changelog.fromOggJson(df, "json", "id BIGINT, v DOUBLE")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out == Set(
      ("+I", 1L, 10.0), ("-U", 1L, 10.0), ("+U", 1L, 20.0), ("-D", 1L, 20.0)))
  }

  test("windowed coGroup: both sides per (key, window); one-sided keys still emit") {
    import spark.implicits._
    import graft.operators.CoGroup
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val a = Seq((1L, ts(1001), 10.0), (1L, ts(1003), 11.0), (2L, ts(1002), 20.0),
      (1L, ts(1012), 12.0)).toDF("k", "ts", "v")
    val b = Seq((1L, ts(1004), 100.0), (3L, ts(1005), 300.0), (1L, ts(1015), 101.0))
      .toDF("k", "ts", "v")
    val got = CoGroup.tumbling(a, b, "k", "ts", "v", "10 seconds")
      .collect().map(r => (r.getLong(0),
        r.getAs[java.sql.Timestamp]("window_start").getTime / 1000,
        r.getAs[scala.collection.Seq[Double]]("a_values").toSeq,
        r.getAs[scala.collection.Seq[Double]]("b_values").toSeq)).toSet
    assert(got == Set(
      (1L, 1000L, Seq(10.0, 11.0), Seq(100.0)),
      (2L, 1000L, Seq(20.0), Seq()),
      (3L, 1000L, Seq(), Seq(300.0)),
      (1L, 1010L, Seq(12.0), Seq(101.0))))
    // single-shuffle plan: one aggregate over the union, no join operator
    val plan = CoGroup.tumbling(a, b, "k", "ts", "v", "10 seconds")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "coGroup must not plan a join")
  }

  test("windowed coGroup emits append-only under streaming with watermark") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val inA = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val inB = MemoryStream[(Long, java.sql.Timestamp, Double)]
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .toDF("k", "ts", "v").withWatermark("ts", "2 seconds")
    val out = graft.operators.CoGroup.tumbling(
      shape(inA.toDF()), shape(inB.toDF()), "k", "ts", "v", "10 seconds")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("cogroup_stream").start()
    try {
      inA.addData((1L, ts(1001), 10.0)); inB.addData((1L, ts(1004), 100.0))
      q.processAllAvailable()
      inA.addData((9L, ts(1100), 0.0)); inB.addData((9L, ts(1100), 0.0)) // close window
      q.processAllAvailable()
      val rows = spark.table("cogroup_stream")
        .collect().map(r => (r.getLong(0),
          r.getAs[scala.collection.Seq[Double]]("a_values").toSeq,
          r.getAs[scala.collection.Seq[Double]]("b_values").toSeq)).toSet
      assert(rows.contains((1L, Seq(10.0), Seq(100.0))))
    } finally q.stop()
  }

  test("changelog materialize applies the log: last version per key, deletes drop") {
    import spark.implicits._
    val log = Seq(
      ("+I", 1L, 10.0, 1L), ("-U", 1L, 10.0, 2L), ("+U", 1L, 20.0, 3L),
      ("+I", 2L, 5.0, 4L), ("-D", 2L, 5.0, 5L),
      ("+I", 3L, 7.0, 6L))
      .toDF("row_kind", "id", "v", "seq")
    val cur = Changelog.materialize(log, Seq("id"), "seq")
      .select("id", "v").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(cur == Set((1L, 20.0), (3L, 7.0)))
  }

  test("side output splits rows exactly; late-data split honors watermark") {
    val events = Tables.events(spark, TestSpark.sfDir)
    val wm = lit("2024-01-15 00:00:00").cast("timestamp")
    val (onTime, late) = SideOutput.lateData(events, "ts", wm)
    val n = events.count()
    assert(onTime.count() + late.count() == n)
    assert(late.filter(col("ts") >= wm).count() == 0)
    assert(onTime.filter(col("ts") < wm).count() == 0)
    // a NULL rowtime must not vanish from BOTH outputs — it stays main
    import spark.implicits._
    val withNull = Seq((1L, Some(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))),
      (2L, None)).toDF("id", "ts")
    val (m2, s2) = SideOutput.lateData(withNull, "ts", wm)
    assert(m2.count() + s2.count() == 2)
    assert(m2.filter($"id" === 2L).count() == 1)
  }

  test("multimodal: image headers parse from real PNG/JPEG/GIF bytes into the meta struct") {
    import spark.implicits._
    val df = Seq(
      (1L, ImgFixtures.png(320, 240)),
      (2L, ImgFixtures.jpeg(640, 480)),
      (3L, ImgFixtures.gif(100, 50)),
      (4L, "not-an-image-payload".getBytes("UTF-8")))
      .toDF("id", "content")
    val decoded = Multimodal.decodeImageMeta(
      Multimodal.attachMeta(df, "content", "image", "unknown"), "content")
    val rows = decoded.select($"id", $"meta.format", $"meta.width", $"meta.height",
      $"meta.n_bytes", $"meta.sha1").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getString(1) == "png" && rows(1L).getInt(2) == 320 && rows(1L).getInt(3) == 240)
    assert(rows(2L).getString(1) == "jpeg" && rows(2L).getInt(2) == 640 && rows(2L).getInt(3) == 480)
    assert(rows(3L).getString(1) == "gif" && rows(3L).getInt(2) == 100 && rows(3L).getInt(3) == 50)
    // unrecognized payload: declared format kept, null dimensions
    assert(rows(4L).getString(1) == "unknown" && rows(4L).isNullAt(2) && rows(4L).isNullAt(3))
    rows.values.foreach { r => assert(r.getLong(4) > 0 && r.getString(5).length == 40) }
    val chunks = Multimodal.sampleChunks(df, "content", 4)
    assert(chunks.count() == 16)
    assert(chunks.groupBy("id").count().collect().forall(_.getLong(1) == 4))
    // full coverage: concatenating a payload's chunks in order yields the
    // whole payload (the last chunk runs to the end — no dropped tail)
    val rebuilt = chunks.orderBy($"id", $"chunk_id")
      .select($"id", $"chunk").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.flatMap(_.getAs[Array[Byte]](1)).toSeq)
    val originals = df.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    originals.foreach { case (id, bytes) =>
      assert(rebuilt(id) == bytes, s"payload $id not fully covered by its chunks")
    }
  }

  test("multimodal: WAV audio headers parse into typed metadata (RIFF walker)") {
    import spark.implicits._
    val df = Seq(
      (1L, ImgFixtures.wav(channels = 2, rate = 44100, bits = 16, frames = 44100)),
      (2L, ImgFixtures.wavWithListChunk(channels = 1, rate = 16000, bits = 8, frames = 8000)),
      (3L, "RIFFnope".getBytes("US-ASCII")),
      (4L, ImgFixtures.png(8, 8)))
      .toDF("id", "content")
    val rows = Multimodal.decodeAudioMeta(df, "content")
      .select($"id", $"audio.codec", $"audio.channels", $"audio.sample_rate",
        $"audio.bits", $"audio.n_frames", $"audio.duration_ms")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getString(1) == "pcm" && rows(1L).getInt(2) == 2 &&
      rows(1L).getInt(3) == 44100 && rows(1L).getInt(4) == 16 &&
      rows(1L).getLong(5) == 44100L && rows(1L).getDouble(6) == 1000.0)
    // a LIST chunk before data must be skipped by the walker
    assert(rows(2L).getString(1) == "pcm" && rows(2L).getInt(2) == 1 &&
      rows(2L).getInt(3) == 16000 && rows(2L).getLong(5) == 8000L &&
      rows(2L).getDouble(6) == 500.0)
    // truncated RIFF and non-audio payloads are null, not errors
    assert(rows(3L).isNullAt(1) && rows(4L).isNullAt(1))
    // SQL-callable and codegen-resident (parquet scan, so the projection
    // can't constant-fold into a LocalTableScan)
    graft.functions.GraftFunctions.register(spark)
    val dir = tempDir("wav_t")
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("wav_t")
    val plan = spark.sql(
      "SELECT graft_wav_header(content).duration_ms AS d FROM wav_t")
    assert(plan.queryExecution.executedPlan.toString.contains("*(1) Project"))
    assert(plan.collect().count(!_.isNullAt(0)) == 2)
  }

  test("multimodal: MP4 headers parse into typed metadata (ISO-BMFF box walker)") {
    import spark.implicits._
    val full = ImgFixtures.mp4("isom", timescale = 1000, duration = 5000, tracks = 2)
    val df = Seq(
      (1L, full),
      (2L, ImgFixtures.mp4("mp42", timescale = 600, duration = 1200, tracks = 1)),
      (3L, full.take(24)),                    // ftyp only — moov out of reach
      (4L, ImgFixtures.wav(1, 8000, 16, 80)), // not a video
      (5L, ImgFixtures.png(4, 4)))
      .toDF("id", "content")
    val rows = Multimodal.decodeVideoMeta(df, "content")
      .select($"id", $"video.major_brand", $"video.timescale",
        $"video.duration_ms", $"video.n_tracks")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getString(1) == "isom" && rows(1L).getInt(2) == 1000 &&
      rows(1L).getDouble(3) == 5000.0 && rows(1L).getInt(4) == 2)
    assert(rows(2L).getString(1) == "mp42" && rows(2L).getDouble(3) == 2000.0 &&
      rows(2L).getInt(4) == 1)
    // header-prefix sampling: brand survives, duration is null
    assert(rows(3L).getString(1) == "isom" && rows(3L).isNullAt(2) &&
      rows(3L).isNullAt(3) && rows(3L).getInt(4) == 0)
    assert(rows(4L).isNullAt(1) && rows(5L).isNullAt(1))
    // SQL-callable via the registered kernel
    graft.functions.GraftFunctions.register(spark)
    df.createOrReplaceTempView("mp4_t")
    assert(spark.sql("SELECT graft_mp4_header(content).duration_ms FROM mp4_t")
      .collect().count(!_.isNullAt(0)) == 2)
    // frame-sample plan: evenly spaced timestamps from the parsed
    // duration, only for payloads with one
    val frames = Multimodal.sampleFrameTimes(df, "content", 4)
      .select($"id", $"frame_idx", $"t_ms").collect()
    assert(frames.map(_.getLong(0)).distinct.sorted.toSeq == Seq(1L, 2L))
    val v1 = frames.filter(_.getLong(0) == 1L).sortBy(_.getInt(1))
    assert(v1.map(_.getDouble(2)).toSeq == Seq(0.0, 1250.0, 2500.0, 3750.0))
  }

  test("multimodal: WAV walker survives malformed chunk geometry (crawl-safety contract)") {
    def le32(v: Long) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val riff = "RIFF".getBytes("US-ASCII") ++ le32(1000) ++ "WAVE".getBytes("US-ASCII")
    // a chunk whose unsigned 32-bit size (0xFFFFFFF8) truncates to -8:
    // the pre-fix advance was body + (-8) = the same offset — a spin
    val spin = riff ++ "JUNK".getBytes("US-ASCII") ++ le32(0xFFFFFFF8L) ++
      Array.fill[Byte](32)(0)
    // a size that truncates to a larger negative: walks backwards pre-fix
    val backwards = riff ++ "JUNK".getBytes("US-ASCII") ++ le32(0x80000000L) ++
      Array.fill[Byte](32)(0)
    // declared sample rate beyond Int.MaxValue must not wrap negative
    val hugeRate = riff ++ "fmt ".getBytes("US-ASCII") ++ le32(16) ++
      Array[Byte](1, 0, 1, 0) ++ le32(0x90000000L) ++ le32(0) ++
      Array[Byte](2, 0, 16, 0) ++
      "data".getBytes("US-ASCII") ++ le32(4) ++ Array.fill[Byte](4)(0)
    for (payload <- Seq(spin, backwards, hugeRate)) {
      assert(graft.functions.WavHeaderKernel.parse(payload) == null,
        "malformed RIFF geometry parses to null, not a hang or crash")
    }
    // well-formed payloads still parse after the hardening
    val ok = graft.functions.WavHeaderKernel.parse(ImgFixtures.wav(2, 44100, 16, 441))
    assert(ok.getInt(2) == 44100 && ok.getLong(4) == 441L)
  }

  test("multimodal: MP4 walker survives malformed box geometry (crawl-safety contract)") {
    import java.nio.ByteBuffer
    def be32(v: Long) = ByteBuffer.allocate(4).putInt(v.toInt).array()
    def be64(v: Long) = ByteBuffer.allocate(8).putLong(v).array()
    val ftyp = be32(16) ++ "ftyp".getBytes("US-ASCII") ++
      "isom".getBytes("US-ASCII") ++ be32(0)
    // moov whose first child declares a 64-bit size of exactly 2^32: the
    // truncated-to-Int advance would be 0 (task spins forever pre-fix)
    def moovWithChildSize(csize: Long): Array[Byte] = {
      val child = be32(1) ++ "free".getBytes("US-ASCII") ++ be64(csize) ++
        Array.fill[Byte](8)(0)
      be32(8L + child.length) ++ "moov".getBytes("US-ASCII") ++ child
    }
    val spin = ftyp ++ moovWithChildSize(1L << 32)
    val wrapNeg = ftyp ++ moovWithChildSize((1L << 32) + 24L) // .toInt wraps to 24... craft truly negative below
    val negative = ftyp ++ moovWithChildSize(-64L)            // be64 high bit set
    // top-level 64-bit size near Long.MaxValue: i + size overflows Long
    val hugeTop = ftyp ++ (be32(1) ++ "mdat".getBytes("US-ASCII") ++
      be64(Long.MaxValue - 4) ++ Array.fill[Byte](8)(0))
    // top-level size that would push i past 2^31 when truncated to Int
    val bigTop = ftyp ++ (be32(1) ++ "mdat".getBytes("US-ASCII") ++
      be64((1L << 31) + 100) ++ Array.fill[Byte](8)(0))
    for (payload <- Seq(spin, wrapNeg, negative, hugeTop, bigTop)) {
      val row = graft.functions.Mp4HeaderKernel.parse(payload)
      assert(row != null && row.getUTF8String(0).toString == "isom",
        "malformed geometry yields the partial row, not a hang or throw")
    }
    // well-formed 64-bit (size32 == 1) top-level box still walks past
    val fixture = ImgFixtures.mp4("isom", 1000, 3000, 1)
    val moov = fixture.drop(44) // fixture layout: ftyp(20) + mdat(24) + moov
    val largeOk = ftyp ++ (be32(1) ++ "mdat".getBytes("US-ASCII") ++
      be64(24) ++ Array.fill[Byte](8)(0)) ++ moov
    val ok = graft.functions.Mp4HeaderKernel.parse(largeOk)
    assert(ok.getInt(1) == 1000 && ok.getDouble(2) == 3000.0 && ok.getInt(3) == 1)
  }

  test("byte-histogram embed: fixed dim, normalized, deterministic, content-sensitive") {
    import spark.implicits._
    val df = Seq((1L, "payload-a"), (2L, "PAYLOAD?9!"), (3L, "")).toDF("id", "s")
      .select($"id", $"s".cast("binary").as("content"))
    val out = df.select($"id", Multimodal.embed($"content", 16).as("emb"))
      .collect().map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Double]]("emb").toSeq).toMap
    assert(out(1L).length == 16)
    assert(out(1L) != out(2L))
    assert(math.abs(out(1L).sum - 1.0) < 1e-9, "histogram is normalized")
    assert(out(3L).forall(_ == 0.0), "empty payload embeds to zeros")
    // exact bucket check: 'a' = 0x61 → bucket (0x61*16)/256 = 6
    val single = Seq((9L, "a")).toDF("id", "s")
      .select($"id", $"s".cast("binary").as("content"))
      .select(Multimodal.embed($"content", 16).as("emb"))
      .collect().head.getAs[scala.collection.Seq[Double]]("emb")
    assert(single(6) == 1.0 && single.sum == 1.0)
  }
}

/** Minimal well-formed image headers built byte-by-byte (no image libs in
  * the container): enough of each format for header parsing.
  */
object ImgFixtures {
  private def be32(v: Int) =
    Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
  private def be16(v: Int) = Array[Byte]((v >> 8).toByte, v.toByte)
  private def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)

  def png(w: Int, h: Int): Array[Byte] =
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A) ++
      Array[Byte](0, 0, 0, 13) ++ "IHDR".getBytes("US-ASCII") ++
      be32(w) ++ be32(h) ++ Array[Byte](8, 2, 0, 0, 0)

  def jpeg(w: Int, h: Int): Array[Byte] =
    Array[Byte](0xFF.toByte, 0xD8.toByte) ++                       // SOI
      Array[Byte](0xFF.toByte, 0xE0.toByte, 0, 16) ++              // APP0, len 16
      "JFIF".getBytes("US-ASCII") ++ Array.fill[Byte](10)(0) ++    // APP0 payload
      Array[Byte](0xFF.toByte) ++                                  // fill byte (FF padding)
      Array[Byte](0xFF.toByte, 0xC0.toByte, 0, 17, 8) ++           // SOF0, len 17, precision
      be16(h) ++ be16(w) ++ Array.fill[Byte](10)(0) ++             // dims + components
      Array[Byte](0xFF.toByte, 0xD9.toByte)                        // EOI

  def gif(w: Int, h: Int): Array[Byte] =
    "GIF89a".getBytes("US-ASCII") ++ le16(w) ++ le16(h) ++ Array[Byte](0, 0, 0)

  private def le32(v: Int) =
    Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)

  /** Canonical 44-byte PCM WAV header + zeroed sample data. */
  def wav(channels: Int, rate: Int, bits: Int, frames: Int): Array[Byte] = {
    val blockAlign = channels * bits / 8
    val dataLen = frames * blockAlign
    "RIFF".getBytes("US-ASCII") ++ le32(36 + dataLen) ++ "WAVE".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++
      le16(1) ++ le16(channels) ++ le32(rate) ++ le32(rate * blockAlign) ++
      le16(blockAlign) ++ le16(bits) ++
      "data".getBytes("US-ASCII") ++ le32(dataLen) ++ Array.fill[Byte](dataLen)(0)
  }

  /** Same, with an odd-sized LIST metadata chunk between fmt and data —
    * exercises the word-aligned chunk walk.
    */
  def wavWithListChunk(channels: Int, rate: Int, bits: Int, frames: Int): Array[Byte] = {
    val base = wav(channels, rate, bits, frames)
    val (head, tail) = base.splitAt(36) // end of fmt chunk
    head ++ "LIST".getBytes("US-ASCII") ++ le32(5) ++
      "INFOx".getBytes("US-ASCII") ++ Array[Byte](0) ++ // pad to even
      tail
  }

  private def box(tpe: String, payload: Array[Byte]): Array[Byte] =
    be32(8 + payload.length) ++ tpe.getBytes("US-ASCII") ++ payload

  /** Minimal ISO-BMFF container: ftyp + mdat + moov(mvhd v0 + tracks). */
  def mp4(brand: String, timescale: Int, duration: Int, tracks: Int): Array[Byte] = {
    val ftyp = box("ftyp", brand.getBytes("US-ASCII") ++ be32(0) ++
      "isom".getBytes("US-ASCII"))
    val mvhd = box("mvhd", Array[Byte](0, 0, 0, 0) ++ // version 0 + flags
      be32(0) ++ be32(0) ++                           // creation, modification
      be32(timescale) ++ be32(duration) ++
      Array.fill[Byte](80)(0))                        // rate..next_track_ID
    val trak = box("trak", Array.fill[Byte](8)(0))
    val moov = box("moov", mvhd ++ Array.fill(tracks)(trak).flatten)
    val mdat = box("mdat", Array.fill[Byte](16)(0))
    ftyp ++ mdat ++ moov
  }
}
