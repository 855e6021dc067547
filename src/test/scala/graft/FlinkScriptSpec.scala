package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.FlinkSql
import org.apache.spark.sql.functions._

/** The migration promise end-to-end: a multi-statement Flink SQL script
  * (connector DDL, blackhole sink, INSERT INTO, legacy group window,
  * Flink-named functions) runs through `graft.FlinkSql.run` on a plain
  * session — no extensions, no per-feature API calls.
  */
class FlinkScriptSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  test("a whole Flink SQL script runs via FlinkSql.run on a plain session") {
    // stage a micros-timestamp events copy (the raw fixture is nanos)
    val dir = tempDir("flink_script")
    Tables.events(spark, TestSpark.sfDir)
      .select("event_id", "user_id", "event_type", "value", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val last = FlinkSql.run(spark,
      s"""
         |CREATE TABLE script_events (
         |  event_id BIGINT,
         |  user_id BIGINT,
         |  event_type STRING,
         |  value DOUBLE,
         |  ts TIMESTAMP(3),
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem',
         |        'path' = '$dir/events.parquet', 'format' = 'parquet');
         |
         |CREATE TABLE script_sink (k BIGINT, n BIGINT)
         |WITH ('connector' = 'blackhole');
         |
         |INSERT INTO script_sink
         |SELECT user_id AS k, count(*) AS n FROM script_events GROUP BY user_id;
         |
         |SELECT TUMBLE_START(ts, INTERVAL '10' MINUTE) AS ws,
         |       split_index(event_type, 'e', 0) AS head_seg,
         |       count(*) AS n
         |FROM script_events
         |GROUP BY TUMBLE(ts, INTERVAL '10' MINUTE), split_index(event_type, 'e', 0)
         |""".stripMargin)
    val got = last.collect()
      .map(r => (r.getAs[java.sql.Timestamp]("ws").getTime,
        r.getAs[String]("head_seg"), r.getAs[Long]("n"))).toSet
    val want = spark.read.parquet(s"$dir/events.parquet")
      .groupBy(window(col("ts"), "10 minutes").as("w"),
        expr("split_index(event_type, 'e', 0)").as("head_seg"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getAs[org.apache.spark.sql.Row]("w")
        .getAs[java.sql.Timestamp]("start").getTime,
        r.getAs[String]("head_seg"), r.getAs[Long]("n"))).toSet
    assert(got == want && got.nonEmpty)
    // the quote-aware splitter held the statements together correctly
    assert(FlinkSql.statements("SELECT ';'; SELECT 'a''b;c'").size == 2)
  }

  test("statements(): comments never open literals or split statements") {
    // an apostrophe in a -- comment must not flip quote state
    assert(FlinkSql.statements(
      "SELECT 1 -- don't trip\n; SELECT 2").size == 2)
    // a ; inside a -- comment is not a statement boundary
    assert(FlinkSql.statements(
      "SELECT 1 -- a;b\nFROM range(1); SELECT 2").size == 2)
    // a ; or ' inside a /* */ block is plain text, even spanning lines
    val block = FlinkSql.statements(
      "SELECT 1 /* don't; really\n don't */; SELECT 2 /* fin */")
    assert(block.size == 2 && block(0).contains("/* don't; really"))
    // unterminated block comment swallows the rest (no phantom split)
    assert(FlinkSql.statements("SELECT 1 /* open; forever").size == 1)
    // comments survive end-to-end through the SQL parser
    assert(FlinkSql.run(spark,
      "-- header; with 'quotes'\nSELECT 40 + 2 AS x /* don't split; */")
      .head().getInt(0) == 42)
  }

  test("SET/RESET and EXECUTE STATEMENT SET run as script statements") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      // SET with a mapped key lands on the Spark conf; RESET unsets
      assert(FlinkSql.sql(spark, "SET 'parallelism.default' = '7'")
        .head().getString(0) == "OK")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "7")
      // unknown Flink runtime keys are accepted and ignored
      FlinkSql.sql(spark, "SET 'table.exec.state.ttl' = '1 h'")
      // spark.* keys pass through verbatim
      FlinkSql.sql(spark, "SET 'spark.sql.shuffle.partitions' = '9'")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "9")
      // bare SET lists every session-set key (ignored ones too, like Flink)
      val listed = FlinkSql.sql(spark, "SET").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(listed("parallelism.default") == "7" &&
        listed("table.exec.state.ttl") == "1 h" &&
        listed("spark.sql.shuffle.partitions") == "9", listed.toString)
      // bare RESET reverts them all
      FlinkSql.sql(spark, "RESET")
      assert(FlinkSql.sql(spark, "SET").collect().isEmpty)
      assert(spark.conf.get("spark.sql.shuffle.partitions") != "9")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)

    // ADD JAR passes through to Spark (identical text in both dialects);
    // SHOW JARS answers from Spark's jar registry
    val jarPath = java.nio.file.Files.createTempFile("graft_dummy", ".jar")
    val zos = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(jarPath))
    zos.putNextEntry(new java.util.zip.ZipEntry("META-INF/MANIFEST.MF"))
    zos.write("Manifest-Version: 1.0\n".getBytes); zos.closeEntry(); zos.close()
    FlinkSql.sql(spark, s"ADD JAR '$jarPath'")
    val jars = FlinkSql.sql(spark, "SHOW JARS").collect().map(_.getString(0))
    assert(jars.exists(_.contains(jarPath.getFileName.toString)), jars.mkString(","))
    // REMOVE JAR drops it from the session's listing (Flink's client
    // semantics; the JVM keeps loaded classes — documented delta)
    FlinkSql.sql(spark, s"REMOVE JAR '$jarPath'")
    assert(!FlinkSql.sql(spark, "SHOW JARS").collect().map(_.getString(0))
      .exists(_.contains(jarPath.getFileName.toString)))
    intercept[IllegalArgumentException] {
      FlinkSql.sql(spark, s"REMOVE JAR '$jarPath'") // already removed
    }
    intercept[IllegalArgumentException] {
      FlinkSql.sql(spark, "REMOVE JAR '/no/such/thing.jar'")
    }
    // re-adding the removed jar lists it again (the removal clears)
    FlinkSql.sql(spark, s"ADD JAR '$jarPath'")
    assert(FlinkSql.sql(spark, "SHOW JARS").collect().map(_.getString(0))
      .exists(_.contains(jarPath.getFileName.toString)))
    FlinkSql.sql(spark, s"REMOVE JAR '$jarPath'")

    // a whole script: SET preamble, DDL, multi-sink statement set
    val dir = tempDir("flink_stmt_set")
    Tables.orders(spark, TestSpark.sfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val last = FlinkSql.run(spark,
      s"""
         |SET 'pipeline.name' = 'nightly sync';  -- ignored, doesn't fail
         |CREATE TABLE ss_orders (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/orders.parquet',
         |      'format' = 'parquet');
         |CREATE TABLE ss_sink_a (k BIGINT, n BIGINT) WITH ('connector' = 'blackhole');
         |CREATE TABLE ss_sink_b (k BIGINT, total DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/out_b', 'format' = 'parquet');
         |EXECUTE STATEMENT SET
         |BEGIN
         |INSERT INTO ss_sink_a SELECT o_custkey AS k, count(*) AS n
         |FROM ss_orders GROUP BY o_custkey;
         |INSERT INTO ss_sink_b SELECT o_custkey AS k, sum(o_totalprice) AS total
         |FROM ss_orders GROUP BY o_custkey;
         |END;
         |""".stripMargin)
    // one OK row per INSERT in the set; the filesystem sink has the rows
    assert(last.collect().map(_.getString(0)).toSeq == Seq("OK", "OK"))
    val custs = spark.table("ss_orders").select("o_custkey").distinct().count()
    assert(spark.read.parquet(s"$dir/out_b").count() == custs)
    // the legacy BEGIN STATEMENT SET; form regroups and runs too
    val legacy = FlinkSql.run(spark,
      """BEGIN STATEMENT SET;
        |INSERT INTO ss_sink_a SELECT o_custkey AS k, count(*) AS n
        |FROM ss_orders GROUP BY o_custkey;
        |END""".stripMargin)
    assert(legacy.head().getString(0) == "OK")
  }

  test("module statements: LOAD/UNLOAD/USE MODULES bookkeeping with Flink's validation") {
    val s2 = spark
      // shared session: other suites (the dispatcher fuzz) may have
      // loaded modules — restore the default state first
      FlinkSql.sql(s2, "SHOW FULL MODULES").collect().map(_.getString(0))
        .filter(_ != "core")
        .foreach(m => FlinkSql.sql(s2, s"UNLOAD MODULE $m"))
      FlinkSql.sql(s2, "USE MODULES core")
      assert(FlinkSql.sql(s2, "SHOW MODULES").collect().map(_.getString(0)).toSeq ==
        Seq("core"))
      FlinkSql.sql(s2, "LOAD MODULE hive WITH ('hive-version' = '2.3.9')")
      assert(FlinkSql.sql(s2, "SHOW MODULES").collect().map(_.getString(0)).toSeq ==
        Seq("core", "hive"))
      // USE MODULES reorders the used list; omitted loaded modules go unused
      FlinkSql.sql(s2, "USE MODULES hive")
      assert(FlinkSql.sql(s2, "SHOW MODULES").collect().map(_.getString(0)).toSeq ==
        Seq("hive"))
      assert(FlinkSql.sql(s2, "SHOW FULL MODULES").collect()
        .map(r => (r.getString(0), r.getBoolean(1))).toSeq ==
        Seq(("hive", true), ("core", false)))
      FlinkSql.sql(s2, "USE MODULES core, hive")
      assert(FlinkSql.sql(s2, "SHOW MODULES").collect().map(_.getString(0)).toSeq ==
        Seq("core", "hive"))
      FlinkSql.sql(s2, "UNLOAD MODULE hive")
      assert(FlinkSql.sql(s2, "SHOW FULL MODULES").collect()
        .map(r => (r.getString(0), r.getBoolean(1))).toSeq == Seq(("core", true)))
      // Flink's validation errors
      assert(intercept[IllegalArgumentException](
        FlinkSql.sql(s2, "LOAD MODULE core")).getMessage.contains("already loaded"))
      assert(intercept[IllegalArgumentException](
        FlinkSql.sql(s2, "UNLOAD MODULE hive")).getMessage.contains("not loaded"))
      assert(intercept[IllegalArgumentException](
        FlinkSql.sql(s2, "USE MODULES core, core")).getMessage.contains("duplicate"))
      assert(intercept[IllegalArgumentException](
        FlinkSql.sql(s2, "USE MODULES nope")).getMessage.contains("not loaded"))
      // ends at the default state (core loaded+used) for the shared session
  }

  test("catalog statements: SHOW TABLES / SHOW CREATE TABLE / DESCRIBE / SHOW FUNCTIONS") {
    val dir = tempDir("flink_catalog")
    Tables.events(spark, TestSpark.sfDir)
      .select("event_id", "user_id", "event_type", "value", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    FlinkSql.run(spark,
      s"""
         |CREATE TABLE cat_events (
         |  event_id BIGINT,
         |  event_type STRING,
         |  value DOUBLE,
         |  ts TIMESTAMP(3),
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) PARTITIONED BY (event_type)
         |  WITH ('connector' = 'filesystem',
         |        'path' = '$dir/events.parquet', 'format' = 'parquet')
         |""".stripMargin)
    val tables = FlinkSql.sql(spark, "SHOW TABLES")
      .collect().map(_.getString(0)).toSet
    assert(tables.contains("cat_events"))
    val ddl = FlinkSql.sql(spark, "SHOW CREATE TABLE cat_events").head().getString(0)
    assert(ddl.contains("CREATE TABLE `cat_events`"))
    assert(ddl.contains("`event_id` BIGINT"))
    assert(ddl.contains("`ts` TIMESTAMP(3)"))
    assert(ddl.contains("WATERMARK FOR `ts` AS `ts` - INTERVAL '5' SECOND"))
    assert(ddl.contains("PARTITIONED BY (`event_type`)"))
    assert(ddl.contains("'connector' = 'filesystem'") && ddl.contains("'format' = 'parquet'"))
    // the re-rendered DDL round-trips through the parser
    FlinkSql.run(spark, ddl.replace("`cat_events`", "cat_events_rt"))
    assert(FlinkSql.sql(spark, "SELECT count(*) AS n FROM cat_events_rt").head().getLong(0)
      == FlinkSql.sql(spark, "SELECT count(*) AS n FROM cat_events").head().getLong(0))
    val descDf = FlinkSql.sql(spark, "DESCRIBE cat_events")
    // output columns locked to Flink's DESCRIBE verbatim
    assert(descDf.columns.toSeq == Seq("name", "type", "null", "key", "extras", "watermark"))
    val desc = descDf.collect()
    assert(desc.map(_.getString(0)).toSeq == Seq("event_id", "event_type", "value", "ts"))
    assert(desc.find(_.getString(0) == "ts").get.getString(5)
      == "`ts` - INTERVAL '5' SECOND")
    val fns = FlinkSql.sql(spark, "SHOW FUNCTIONS").collect().map(_.getString(0)).toSet
    assert(fns.contains("graft_dot") && fns.contains("split_index"))
    assert(FlinkSql.sql(spark, "SHOW CATALOGS").head().getString(0) == "default_catalog")
    assert(FlinkSql.sql(spark, "USE CATALOG default_catalog").head().getString(0) == "OK")
  }

  test("script shape: DDL source + MATCH_RECOGNIZE MEASURES end-to-end") {
    val dir = tempDir("flink_mr_script")
    Tables.events(spark, TestSpark.sfDir)
      .selectExpr("user_id", "event_id", "substring(event_type, 1, 1) AS sym", "value")
      .write.mode("overwrite").parquet(s"$dir/ev.parquet")
    val got = FlinkSql.run(spark,
      s"""CREATE TABLE mr_script_ev (
         |  user_id BIGINT, event_id BIGINT, sym STRING, value DOUBLE
         |) WITH ('connector' = 'filesystem',
         |        'path' = '$dir/ev.parquet', 'format' = 'parquet');
         |
         |SELECT user_id, match_start, n_events, a_val
         |FROM mr_script_ev MATCH_RECOGNIZE (
         |  PARTITION BY user_id
         |  ORDER BY event_id
         |  MEASURES FIRST(A.value) AS a_val
         |  PATTERN (A C)
         |  DEFINE A AS sym = 'v', C AS sym = 'c'
         |) AS m""".stripMargin)
    // agrees with the declared q104 result restricted to these columns
    val want = SparkEntry.queries("q104_mr_measures")(spark, TestSpark.sfDir)
      .selectExpr("user_id", "match_start", "n_events", "a_val")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(got.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet == want)
    assert(want.nonEmpty)
  }

  test("streaming CEP deployment: INSERT INTO sink SELECT ... MATCH_RECOGNIZE") {
    import spark.implicits._
    val dir = tempDir("flink_cep_stream")
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val wave1 = Seq(
      (1L, t(1), "v"), (1L, t(2), "v"), (1L, t(3), "c"),
      (1L, t(100), "v"), (1L, t(101), "c"),
      (2L, t(1), "v"), (2L, t(2), "e"), (2L, t(3), "c"))
    wave1.toDF("user_id", "ts", "sym").write.mode("append").parquet(s"$dir/src")
    val body =
      """PARTITION BY user_id
        |ORDER BY ts
        |PATTERN (V{1,2} C)
        |DEFINE V AS sym = 'v', C AS sym = 'c'""".stripMargin
    val q = FlinkSql.runStream(spark,
      s"""CREATE TABLE cep_stream_src (
         |  user_id BIGINT, ts TIMESTAMP(3), sym STRING,
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem', 'path' = '$dir/src',
         |        'format' = 'parquet');
         |CREATE TABLE cep_stream_sink (
         |  user_id BIGINT, match_start BIGINT, match_end BIGINT, n_events INT
         |) WITH ('connector' = 'filesystem', 'path' = '$dir/sink',
         |        'format' = 'parquet');
         |INSERT INTO cep_stream_sink
         |SELECT user_id, match_start, match_end, n_events
         |FROM cep_stream_src MATCH_RECOGNIZE (
         |$body
         |) AS m""".stripMargin,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      // far-future rows push the watermark past every real match
      Seq((99L, t(90000), "x")).toDF("user_id", "ts", "sym")
        .write.mode("append").parquet(s"$dir/src")
      q.processAllAvailable()
      Seq((99L, t(90100), "x")).toDF("user_id", "ts", "sym")
        .write.mode("append").parquet(s"$dir/src")
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(s"$dir/sink")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    spark.read.parquet(s"$dir/src").createOrReplaceTempView("cep_stream_batch")
    val want = FlinkSql.sql(spark,
      s"SELECT * FROM cep_stream_batch MATCH_RECOGNIZE (\n$body\n)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(got == want, s"streaming $got vs batch $want")
    assert(got.nonEmpty && got.map(_._1) == Set(1L))
  }

  test("streaming ALL ROWS PER MATCH deployment through INSERT INTO") {
    import spark.implicits._
    val dir = tempDir("flink_cep_allrows")
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    Seq((1L, t(1), "v", 2.0), (1L, t(2), "v", 3.0), (1L, t(3), "c", 9.0),
        (2L, t(1), "e", 0.0), (2L, t(2), "v", 4.0), (2L, t(3), "c", 1.0))
      .toDF("user_id", "ts", "sym", "value")
      .write.mode("append").parquet(s"$dir/src")
    val body =
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES SUM(V.value) AS v_run
        |ALL ROWS PER MATCH
        |PATTERN (V{1,2} C)
        |DEFINE V AS sym = 'v', C AS sym = 'c'""".stripMargin
    val q = FlinkSql.runStream(spark,
      s"""CREATE TABLE ar_stream_src (
         |  user_id BIGINT, ts TIMESTAMP(3), sym STRING, `value` DOUBLE,
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem', 'path' = '$dir/src',
         |        'format' = 'parquet');
         |CREATE TABLE ar_stream_sink (
         |  user_id BIGINT, match_seq BIGINT, classifier STRING, v_run DOUBLE
         |) WITH ('connector' = 'filesystem', 'path' = '$dir/sink',
         |        'format' = 'parquet');
         |INSERT INTO ar_stream_sink
         |SELECT user_id, match_seq, classifier, v_run
         |FROM ar_stream_src MATCH_RECOGNIZE (
         |$body
         |) AS m""".stripMargin,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      Seq((99L, t(90000), "x", 0.0)).toDF("user_id", "ts", "sym", "value")
        .write.mode("append").parquet(s"$dir/src")
      q.processAllAvailable()
      Seq((99L, t(90100), "x", 0.0)).toDF("user_id", "ts", "sym", "value")
        .write.mode("append").parquet(s"$dir/src")
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(s"$dir/sink").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .filter(_._1 != 99L).toSet
    // user 1: V(2.0) V(5.0) C(5.0); user 2: V(4.0) C(4.0)
    assert(got == Set(
      (1L, 1L, "V", 2.0), (1L, 1L, "V", 5.0), (1L, 1L, "C", 5.0),
      (2L, 1L, "V", 4.0), (2L, 1L, "C", 4.0)), s"got $got")
  }

  test("streaming INSERT parses the full dialect; TVF window aggs keep their documented delta") {
    import spark.implicits._
    val dir = tempDir("flink_dialect_stream")
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    Seq((1L, t(10), "alpha_beta"), (2L, t(20), "gamma_delta"))
      .toDF("user_id", "ts", "s").write.mode("append").parquet(s"$dir/src")
    // Flink-named scalar functions + bracket constructors in a
    // STREAMING INSERT — the dialect chain, not plain spark.sql
    val q = FlinkSql.runStream(spark,
      s"""CREATE TABLE dial_stream_src (
         |  user_id BIGINT, ts TIMESTAMP(3), s STRING,
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem', 'path' = '$dir/src',
         |        'format' = 'parquet');
         |CREATE TABLE dial_stream_sink (
         |  user_id BIGINT, part STRING, arr_len INT
         |) WITH ('connector' = 'filesystem', 'path' = '$dir/sink',
         |        'format' = 'parquet');
         |INSERT INTO dial_stream_sink
         |SELECT user_id, SPLIT_INDEX(s, '_', 1) AS part,
         |       CAST(cardinality(ARRAY[user_id, 9]) AS INT) AS arr_len
         |FROM dial_stream_src""".stripMargin,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination()
    val got = spark.read.parquet(s"$dir/sink").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(got == Set((1L, "beta", 2), (2L, "delta", 2)), s"got $got")
    // a TVF window AGGREGATE in a streaming INSERT deploys on the NATIVE
    // window() grouping (WindowTvf.rewriteStreaming): closed windows land
    // in the file sink as appends. A sentinel row far in the future
    // closes the first window; the sentinel's own window stays open (the
    // append contract — Flink's file sink behaves identically).
    Seq((9L, t(600), "omega_end"))
      .toDF("user_id", "ts", "s").write.mode("append").parquet(s"$dir/src")
    val q2 = FlinkSql.runStream(spark,
      s"""CREATE TABLE dial_stream_sink2 (window_start TIMESTAMP(3), n BIGINT)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/sink2',
         |      'format' = 'parquet');
         |INSERT INTO dial_stream_sink2
         |SELECT window_start, count(*) AS n
         |FROM TABLE(TUMBLE(TABLE dial_stream_src, DESCRIPTOR(ts), INTERVAL '1' MINUTE))
         |GROUP BY window_start, window_end""".stripMargin,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q2.awaitTermination()
    val win = spark.read.parquet(s"$dir/sink2").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toSet
    assert(win == Set((0L, 2L)), s"closed window [0,60) with both rows; got $win")
    // a PRE-TVF Flink streaming job (legacy GROUP BY TUMBLE + selector
    // functions) lowers onto the TVF text and rides the same native path
    val q3 = FlinkSql.runStream(spark,
      s"""CREATE TABLE dial_stream_sink3 (ws TIMESTAMP(3), n BIGINT)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/sink3',
         |      'format' = 'parquet');
         |INSERT INTO dial_stream_sink3
         |SELECT TUMBLE_START(ts, INTERVAL '1' MINUTE) AS ws, count(*) AS n
         |FROM dial_stream_src
         |GROUP BY TUMBLE(ts, INTERVAL '1' MINUTE)""".stripMargin,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q3.awaitTermination()
    val win3 = spark.read.parquet(s"$dir/sink3").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toSet
    assert(win3 == Set((0L, 2L)), s"legacy streaming group window; got $win3")
    // Flink's INSERT maps positionally: the sink's DECLARED names win
    // over the SELECT aliases (same contract as the batch path)
    val q4 = FlinkSql.runStream(spark,
      s"""CREATE TABLE dial_stream_sink4 (w_start TIMESTAMP(3), cnt BIGINT)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/sink4',
         |      'format' = 'parquet');
         |INSERT INTO dial_stream_sink4
         |SELECT window_start, count(*) AS n
         |FROM TABLE(TUMBLE(TABLE dial_stream_src, DESCRIPTOR(ts), INTERVAL '1' MINUTE))
         |GROUP BY window_start, window_end""".stripMargin,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q4.awaitTermination()
    val f4 = spark.read.parquet(s"$dir/sink4")
    assert(f4.columns.toSeq == Seq("w_start", "cnt"), f4.columns.mkString(","))
    assert(f4.collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toSet ==
      Set((0L, 2L)))
    // a VIEW CHAIN between source and INSERT re-binds onto the streaming
    // sources (Flink jobs routinely layer views over connectors)
    val q5 = FlinkSql.runStream(spark,
      s"""CREATE VIEW dial_stream_v1 AS
         |  SELECT user_id, ts, SPLIT_INDEX(s, '_', 0) AS head FROM dial_stream_src;
         |CREATE VIEW dial_stream_v2 AS
         |  SELECT user_id, head FROM dial_stream_v1 WHERE head <> 'omega';
         |CREATE TABLE dial_stream_sink5 (user_id BIGINT, head STRING)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/sink5',
         |      'format' = 'parquet');
         |INSERT INTO dial_stream_sink5 SELECT user_id, head FROM dial_stream_v2""".stripMargin,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q5.awaitTermination()
    val got5 = spark.read.parquet(s"$dir/sink5").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got5 == Set((1L, "alpha"), (2L, "gamma")), s"got $got5")
    // a streaming INSERT casts to the DECLARED sink types like the batch
    // path: an INT expression into a BIGINT column must write int64 files
    // that the registered BIGINT read schema can read back
    val q5b = FlinkSql.runStream(spark,
      s"""CREATE TABLE dial_stream_sink5b (user_id BIGINT, tag STRING)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/sink5b',
         |      'format' = 'parquet');
         |INSERT INTO dial_stream_sink5b
         |SELECT CAST(user_id AS INT) + 10, head FROM dial_stream_v2""".stripMargin,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q5b.awaitTermination()
    val sink5b = spark.read.parquet(s"$dir/sink5b")
    assert(sink5b.schema("user_id").dataType ==
      org.apache.spark.sql.types.LongType, sink5b.schema.treeString)
    val got5b = sink5b.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got5b == Set((11L, "alpha"), (12L, "gamma")), s"got $got5b")
    // after the INSERT the views are re-bound to BATCH sources for
    // subsequent script statements
    val batchV = spark.sql("SELECT count(*) FROM dial_stream_v2").head().getLong(0)
    assert(batchV == 2L)
    // SHOW CREATE VIEW re-renders the recorded definition
    val scv = FlinkSql.run(spark, "SHOW CREATE VIEW dial_stream_v2")
      .head().getString(0)
    assert(scv.startsWith("CREATE VIEW dial_stream_v2 AS") && scv.contains("dial_stream_v1"), scv)
    // Flink's WINDOWED TOP-N statement deploys: the inner TVF aggregate
    // streams on native windows; the rank runs per micro-batch (all rows
    // of a closed window emit together, so the batch rank IS the window
    // rank); only closed windows reach the file sink
    Seq((1L, t(5), "a"), (2L, t(10), "a"), (3L, t(15), "a"),
      (4L, t(20), "b"), (5L, t(25), "b"), (6L, t(30), "c"),
      (9L, t(600), "zz"))
      .toDF("user_id", "ts", "s").write.mode("overwrite").parquet(s"$dir/topn_src")
    val q6 = FlinkSql.runStream(spark,
      s"""CREATE TABLE topn_src (
         |  user_id BIGINT, ts TIMESTAMP(3), s STRING,
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem', 'path' = '$dir/topn_src',
         |        'format' = 'parquet');
         |CREATE TABLE topn_sink (ws TIMESTAMP(3), s STRING, cnt BIGINT, rn BIGINT)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/topn_sink',
         |      'format' = 'parquet');
         |INSERT INTO topn_sink
         |SELECT window_start, s, cnt, rn FROM (
         |  SELECT window_start, window_end, s, cnt,
         |         ROW_NUMBER() OVER (PARTITION BY window_start, window_end
         |                            ORDER BY cnt DESC, s) AS rn
         |  FROM (
         |    SELECT window_start, window_end, s, count(*) AS cnt
         |    FROM TABLE(TUMBLE(TABLE topn_src, DESCRIPTOR(ts), INTERVAL '1' MINUTE))
         |    GROUP BY window_start, window_end, s))
         |WHERE rn <= 2""".stripMargin,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q6.awaitTermination()
    val topn = spark.read.parquet(s"$dir/topn_sink").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(topn == Set((0L, "a", 3L, 1L), (0L, "b", 2L, 2L)),
      s"top-2 of the closed window only; got $topn")
    // the same routing covers Flink's WINDOW DEDUPLICATION statement
    // (rn = 1 ordered by rowtime inside the window)
    val q7 = FlinkSql.runStream(spark,
      s"""CREATE TABLE dedup_sink (ws TIMESTAMP(3), s STRING, first_user BIGINT)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/dedup_sink',
         |      'format' = 'parquet');
         |INSERT INTO dedup_sink
         |SELECT window_start, s, user_id FROM (
         |  SELECT window_start, window_end, s, user_id,
         |         ROW_NUMBER() OVER (PARTITION BY window_start, window_end, s
         |                            ORDER BY min_ts, user_id) AS rn
         |  FROM (
         |    SELECT window_start, window_end, s, user_id, min(ts) AS min_ts
         |    FROM TABLE(TUMBLE(TABLE topn_src, DESCRIPTOR(ts), INTERVAL '1' MINUTE))
         |    GROUP BY window_start, window_end, s, user_id))
         |WHERE rn = 1""".stripMargin,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q7.awaitTermination()
    val dedup = spark.read.parquet(s"$dir/dedup_sink").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2))).toSet
    assert(dedup == Set((0L, "a", 1L), (0L, "b", 4L), (0L, "c", 6L)),
      s"first user per (window, s); got $dedup")
    // streaming SESSION TVF deploys on native session_window grouping
    // (the positional sink mapping restores Flink's column names)
    val q8 = FlinkSql.runStream(spark,
      s"""CREATE TABLE sess_sink (ws TIMESTAMP(3), we TIMESTAMP(3), s STRING, n BIGINT)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/sess_sink',
         |      'format' = 'parquet');
         |INSERT INTO sess_sink
         |SELECT window_start, window_end, s, count(*) AS n
         |FROM TABLE(SESSION(TABLE topn_src PARTITION BY s, DESCRIPTOR(ts), INTERVAL '1' MINUTE))
         |GROUP BY window_start, window_end, s""".stripMargin,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q8.awaitTermination()
    val sess = spark.read.parquet(s"$dir/sess_sink").collect()
      .map(r => (r.getTimestamp(0).getTime / 1000, r.getTimestamp(1).getTime / 1000,
        r.getString(2), r.getLong(3))).toSet
    // 1-min gap sessions per s closed by the zz sentinel; zz's own stays open
    assert(sess == Set((5L, 75L, "a", 3L), (20L, 85L, "b", 2L), (30L, 90L, "c", 1L)),
      s"closed sessions only; got $sess")
    // streaming CUMULATE deploys too — covered by its own two tests below
  }

  test("DESCRIBE parity: key and extras columns carry PRIMARY KEY and computed columns") {
    val dir = tempDir("flink_desc")
    Tables.orders(spark, TestSpark.sfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    FlinkSql.run(spark,
      s"""CREATE TABLE desc_orders (
         |  o_orderkey BIGINT NOT NULL,
         |  o_custkey BIGINT,
         |  o_totalprice DOUBLE,
         |  total_cents AS CAST(round(o_totalprice * 100, 0) AS BIGINT),
         |  PRIMARY KEY (o_orderkey) NOT ENFORCED
         |) WITH ('connector' = 'filesystem',
         |        'path' = '$dir/orders.parquet', 'format' = 'parquet')""".stripMargin)
    val desc = FlinkSql.sql(spark, "DESCRIBE desc_orders")
    assert(desc.columns.toSeq == Seq("name", "type", "null", "key", "extras", "watermark"))
    val rows = desc.collect().map(r => r.getString(0) ->
      (r.getString(1), if (r.isNullAt(3)) null else r.getString(3),
        if (r.isNullAt(4)) null else r.getString(4))).toMap
    // key column: PRI(...) on the PK member row, null elsewhere
    assert(rows("o_orderkey")._2 == "PRI(o_orderkey)")
    assert(rows("o_custkey")._2 == null)
    // extras: the computed column renders AS <expr>, typed from the view
    assert(rows("total_cents")._1 == "BIGINT")
    assert(rows("total_cents")._3 == "AS CAST(round(o_totalprice * 100, 0) AS BIGINT)")
    assert(rows("o_totalprice")._3 == null)
    // declaration order: physical columns then computed
    assert(desc.collect().map(_.getString(0)).toSeq ==
      Seq("o_orderkey", "o_custkey", "o_totalprice", "total_cents"))
    // re-registering WITHOUT the key/computed drops the stale metadata
    FlinkSql.run(spark,
      s"""CREATE TABLE desc_orders (o_orderkey BIGINT)
         |WITH ('connector' = 'filesystem',
         |      'path' = '$dir/orders.parquet', 'format' = 'parquet')""".stripMargin)
    val again = FlinkSql.sql(spark, "DESCRIBE desc_orders").collect()
    assert(again.map(_.getString(0)).toSeq == Seq("o_orderkey"))
    assert(again.head.isNullAt(3) && again.head.isNullAt(4))
  }

  test("EXPLAIN PLAN FOR plans dialect statements without executing them") {
    import spark.implicits._
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0))
      .toDF("k", "ts", "v").createOrReplaceTempView("ex_src")
    // a TVF query plans (physical plan text), nothing runs
    val planned = FlinkSql.sql(spark,
      """EXPLAIN PLAN FOR
        |SELECT window_start, count(*) AS n
        |FROM TABLE(TUMBLE(TABLE ex_src, DESCRIPTOR(ts), INTERVAL '5' MINUTE))
        |GROUP BY window_start""".stripMargin).head().getString(1)
    assert(planned.contains("Physical Plan"))
    // an INSERT plans as a deferred command — and the write does NOT happen
    val out = tempDir("ex_sink")
    FlinkSql.sql(spark,
      s"""CREATE TABLE ex_sink (k BIGINT, v DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$out/t', 'format' = 'parquet')""".stripMargin)
    val cmd = FlinkSql.sql(spark,
      "EXPLAIN PLAN FOR INSERT INTO ex_sink SELECT k, v FROM ex_src")
      .head().getString(1)
    assert(cmd.contains("FlinkInsertCommand"))
    assert(!new java.io.File(s"$out/t").exists())
  }

  test("bare EXPLAIN and ExplainDetails variants plan without executing") {
    import spark.implicits._
    Seq((1L, 2.0)).toDF("k", "v").createOrReplaceTempView("exd_src")
    // bare EXPLAIN <query> (Flink form, no PLAN FOR)
    val bare = FlinkSql.sql(spark, "EXPLAIN SELECT k, sum(v) AS s FROM exd_src GROUP BY k")
      .head().getString(1)
    assert(bare.contains("Physical Plan"))
    // ESTIMATED_COST carries stats annotations
    val cost = FlinkSql.sql(spark,
      "EXPLAIN ESTIMATED_COST SELECT k FROM exd_src").head().getString(1)
    assert(cost.contains("Statistics") || cost.contains("sizeInBytes"))
    // JSON_EXECUTION_PLAN renders the optimized plan as JSON
    val json = FlinkSql.sql(spark,
      "EXPLAIN JSON_EXECUTION_PLAN SELECT k FROM exd_src").head().getString(1)
    assert(json.trim.startsWith("["))
    // CHANGELOG_MODE, PLAN_ADVICE append their documented-delta notes
    val multi = FlinkSql.sql(spark,
      "EXPLAIN CHANGELOG_MODE, PLAN_ADVICE SELECT k FROM exd_src").head().getString(1)
    assert(multi.contains("CHANGELOG_MODE:") && multi.contains("PLAN_ADVICE:"))
    // Spark's own EXPLAIN modes still fall through to Spark
    val sparkMode = FlinkSql.sql(spark, "EXPLAIN FORMATTED SELECT k FROM exd_src")
    assert(sparkMode.columns.sameElements(Array("plan")))
  }

  test("CREATE FUNCTION aliases resolvable functions; unresolvable classes error with guidance") {
    // alias a builtin under a Flink-script name
    FlinkSql.sql(spark, "CREATE TEMPORARY FUNCTION my_upper AS 'upper'")
    assert(FlinkSql.sql(spark, "SELECT my_upper('ab') AS u").head().getString(0) == "AB")
    // a dotted implementation resolves via its simple name too
    FlinkSql.sql(spark, "CREATE FUNCTION my_split AS 'com.example.udfs.SPLIT_INDEX'")
    assert(FlinkSql.sql(spark, "SELECT my_split('a-b', '-', 1) AS s").head().getString(0) == "b")
    // IF NOT EXISTS keeps the first registration
    FlinkSql.sql(spark, "CREATE FUNCTION IF NOT EXISTS my_upper AS 'lower'")
    assert(FlinkSql.sql(spark, "SELECT my_upper('ab') AS u").head().getString(0) == "AB")
    // ALTER FUNCTION re-points an existing alias
    FlinkSql.sql(spark, "ALTER FUNCTION my_upper AS 'lower'")
    assert(FlinkSql.sql(spark, "SELECT my_upper('AB') AS u").head().getString(0) == "ab")
    // an unresolvable new implementation leaves the old alias intact
    intercept[IllegalArgumentException] {
      FlinkSql.sql(spark, "ALTER FUNCTION my_upper AS 'com.example.NoSuch'")
    }
    assert(FlinkSql.sql(spark, "SELECT my_upper('AB') AS u").head().getString(0) == "ab")
    // altering an absent (or builtin) name errors; IF EXISTS tolerates —
    // even with an unresolvable implementation (Flink's full no-op)
    intercept[IllegalArgumentException] {
      FlinkSql.sql(spark, "ALTER FUNCTION no_such_fn AS 'upper'")
    }
    FlinkSql.sql(spark, "ALTER FUNCTION IF EXISTS no_such_fn AS 'upper'")
    FlinkSql.sql(spark, "ALTER FUNCTION IF EXISTS no_such_fn AS 'com.x.NoSuch'")
    // a BUILTIN is not alterable or droppable — the registry holds it,
    // but hijacking `upper` session-wide must be impossible
    intercept[IllegalArgumentException] {
      FlinkSql.sql(spark, "ALTER FUNCTION upper AS 'lower'")
    }
    intercept[IllegalArgumentException] {
      FlinkSql.sql(spark, "DROP FUNCTION upper")
    }
    assert(FlinkSql.sql(spark, "SELECT upper('ab') AS u").head().getString(0) == "AB")
    // a self-referencing implementation cannot destroy the alias
    intercept[IllegalArgumentException] {
      FlinkSql.sql(spark, "ALTER FUNCTION my_upper AS 'my_upper'")
    }
    assert(FlinkSql.sql(spark, "SELECT my_upper('AB') AS u").head().getString(0) == "ab")
    // unresolvable Flink UDF class → migration-guidance error
    val e = intercept[IllegalArgumentException] {
      FlinkSql.sql(spark, "CREATE FUNCTION f AS 'com.example.udfs.NoSuchUdf'")
    }
    assert(e.getMessage.contains("spark.udf.register"))
    // LANGUAGE PYTHON is rejected clearly
    intercept[IllegalArgumentException] {
      FlinkSql.sql(spark, "CREATE FUNCTION g AS 'upper' LANGUAGE PYTHON")
    }
    // DROP FUNCTION unregisters; IF EXISTS tolerates absence
    FlinkSql.sql(spark, "DROP FUNCTION my_upper")
    intercept[Exception] { spark.sql("SELECT my_upper('ab')").collect() }
    FlinkSql.sql(spark, "DROP FUNCTION IF EXISTS my_upper")
    intercept[IllegalArgumentException] {
      FlinkSql.sql(spark, "DROP FUNCTION my_upper")
    }
  }

  test("CREATE FUNCTION over an ADD JAR'd class registers via the reflective eval bridge") {
    // compile a ScalarFunction-shaped class at test time (javac is in the
    // JDK image), jar it, ADD JAR, register, and call it through SQL
    val dir = java.nio.file.Paths.get(TestSpark.exitTempDir("graft_udf_jar"))
    val src = dir.resolve("GraftSuffixUdf.java")
    java.nio.file.Files.writeString(src,
      """public class GraftSuffixUdf {
        |  public String eval(String s, long n) { return s + ":" + n; }
        |}
        |""".stripMargin)
    val src2 = dir.resolve("GraftTwoEvalsUdf.java")
    java.nio.file.Files.writeString(src2,
      """public class GraftTwoEvalsUdf {
        |  public String eval(String s) { return s; }
        |  public String eval(long n) { return "" + n; }
        |}
        |""".stripMargin)
    val javac = javax.tools.ToolProvider.getSystemJavaCompiler
    assert(javac.run(null, null, null, src.toString, src2.toString) == 0, "javac failed")
    val jar = dir.resolve("graft-test-udf.jar")
    val jos = new java.util.jar.JarOutputStream(
      java.nio.file.Files.newOutputStream(jar))
    Seq("GraftSuffixUdf.class", "GraftTwoEvalsUdf.class").foreach { n =>
      jos.putNextEntry(new java.util.zip.ZipEntry(n))
      jos.write(java.nio.file.Files.readAllBytes(dir.resolve(n)))
      jos.closeEntry()
    }
    jos.close()
    FlinkSql.sql(spark, s"ADD JAR '$jar'")
    // Flink's shape: CREATE FUNCTION name AS 'class' → reflective eval
    FlinkSql.sql(spark, "CREATE FUNCTION suffix_udf AS 'GraftSuffixUdf'")
    assert(FlinkSql.sql(spark, "SELECT suffix_udf('a', 3) AS r")
      .head().getString(0) == "a:3")
    // runs over table data (executor-side invocation), with widening
    import spark.implicits._
    val got = Seq(("x", 1), ("y", 2)).toDF("s", "n")
      .selectExpr("suffix_udf(s, n) AS r").collect().map(_.getString(0)).toSet
    assert(got == Set("x:1", "y:2"))
    // ALTER FUNCTION re-points an alias onto a bridged class too
    FlinkSql.sql(spark, "CREATE FUNCTION alter_target AS 'upper'")
    FlinkSql.sql(spark, "ALTER FUNCTION alter_target AS 'GraftSuffixUdf'")
    assert(FlinkSql.sql(spark, "SELECT alter_target('b', 9) AS r")
      .head().getString(0) == "b:9")
    // overloaded eval is outside the declared subset — typed error
    val e = intercept[IllegalArgumentException] {
      FlinkSql.sql(spark, "CREATE FUNCTION two_evals AS 'GraftTwoEvalsUdf'")
    }
    assert(e.getMessage.contains("one public eval"), e.getMessage)
    // ALTER onto an overloaded-eval class: the bridge probe registers
    // under an internal name, but the surfaced error must name the
    // user's statement — neither the probe alias nor CREATE wording
    FlinkSql.sql(spark, "CREATE FUNCTION alter_ovl AS 'upper'")
    val e2 = intercept[IllegalArgumentException] {
      FlinkSql.sql(spark, "ALTER FUNCTION alter_ovl AS 'GraftTwoEvalsUdf'")
    }
    assert(e2.getMessage.contains("ALTER FUNCTION alter_ovl"), e2.getMessage)
    assert(!e2.getMessage.contains("__graft_probe"), e2.getMessage)
    // and the failing ALTER left the old alias intact
    assert(FlinkSql.sql(spark, "SELECT alter_ovl('ab') AS u").head().getString(0) == "AB")
    FlinkSql.sql(spark, "DROP FUNCTION alter_ovl")
    // DROP unregisters the bridged function like any session alias
    FlinkSql.sql(spark, "DROP FUNCTION suffix_udf")
    intercept[Exception] { spark.sql("SELECT suffix_udf('a', 1)").collect() }
    FlinkSql.sql(spark, "DROP FUNCTION alter_target")
  }

  test("CREATE FUNCTION invocations take FLIP-387 named arguments (scalar + table)") {
    val dir = java.nio.file.Paths.get(TestSpark.exitTempDir("graft_udf_named"))
    java.nio.file.Files.writeString(dir.resolve("GraftPadUdf.java"),
      """public class GraftPadUdf {
        |  public String eval(String text, long width) {
        |    StringBuilder b = new StringBuilder(text);
        |    while (b.length() < width) b.append('.');
        |    return b.toString();
        |  }
        |}
        |""".stripMargin)
    java.nio.file.Files.writeString(dir.resolve("GraftRepeatUdtf.java"),
      """public class GraftRepeatUdtf {
        |  public java.util.List<String> eval(String item, long times) {
        |    java.util.ArrayList<String> out = new java.util.ArrayList<>();
        |    for (long i = 0; i < times; i++) out.add(item);
        |    return out;
        |  }
        |}
        |""".stripMargin)
    // a class compiled WITHOUT -parameters has no names to map
    java.nio.file.Files.writeString(dir.resolve("GraftNoNamesUdf.java"),
      """public class GraftNoNamesUdf {
        |  public String eval(String a) { return a; }
        |}
        |""".stripMargin)
    val javac = javax.tools.ToolProvider.getSystemJavaCompiler
    assert(javac.run(null, null, null, "-parameters",
      dir.resolve("GraftPadUdf.java").toString,
      dir.resolve("GraftRepeatUdtf.java").toString) == 0, "javac failed")
    assert(javac.run(null, null, null,
      dir.resolve("GraftNoNamesUdf.java").toString) == 0, "javac failed")
    val jar = dir.resolve("graft-test-udf-named.jar")
    val jos = new java.util.jar.JarOutputStream(
      java.nio.file.Files.newOutputStream(jar))
    Seq("GraftPadUdf.class", "GraftRepeatUdtf.class", "GraftNoNamesUdf.class")
      .foreach { n =>
        jos.putNextEntry(new java.util.zip.ZipEntry(n))
        jos.write(java.nio.file.Files.readAllBytes(dir.resolve(n)))
        jos.closeEntry()
      }
    jos.close()
    FlinkSql.sql(spark, s"ADD JAR '$jar'")
    FlinkSql.sql(spark, "CREATE FUNCTION pad AS 'GraftPadUdf'")
    FlinkSql.sql(spark, "CREATE FUNCTION rep AS 'GraftRepeatUdtf'")
    FlinkSql.sql(spark, "CREATE FUNCTION nonames AS 'GraftNoNamesUdf'")
    // scalar: out-of-order named args, expressions as values, nested in
    // a larger statement; positional still works
    assert(FlinkSql.sql(spark,
      "SELECT upper(pad(width => 2 + 3, text => 'ab')) AS r")
      .head().getString(0) == "AB...")
    assert(FlinkSql.sql(spark, "SELECT pad('ab', 4) AS r")
      .head().getString(0) == "ab..")
    // table function through LATERAL TABLE with named args
    val rows = FlinkSql.sql(spark,
      """SELECT t.x FROM (SELECT 1 AS one)
        |LATERAL VIEW explode(rep(times => 3, item => 'z')) t AS x""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(rows == Seq("z", "z", "z"), rows.toString)
    // typed failures: mixing, unknown name, class without -parameters
    val eMix = intercept[IllegalArgumentException] {
      FlinkSql.sql(spark, "SELECT pad('ab', width => 4)")
    }
    assert(eMix.getMessage.contains("all positional or all named"), eMix.getMessage)
    val eName = intercept[IllegalArgumentException] {
      FlinkSql.sql(spark, "SELECT pad(text => 'ab', nosuch => 4)")
    }
    assert(eName.getMessage.contains("width"), eName.getMessage)
    val eNoP = intercept[IllegalArgumentException] {
      FlinkSql.sql(spark, "SELECT nonames(a => 'x')")
    }
    assert(eNoP.getMessage.contains("-parameters"), eNoP.getMessage)
    // a string literal containing => is never mistaken for a named arg
    assert(FlinkSql.sql(spark, "SELECT pad('a => b', 8) AS r")
      .head().getString(0) == "a => b..")
    FlinkSql.run(spark,
      "DROP FUNCTION pad; DROP FUNCTION rep; DROP FUNCTION nonames")
  }

  test("FLIP-387 optional named arguments via @ArgumentHint (scalar + procedure, javac-jar e2e)") {
    val dir = java.nio.file.Paths.get(TestSpark.exitTempDir("graft_udf_opt"))
    // the user jar carries its OWN ArgumentHint annotation (Flink's
    // lives in flink-table-common, absent here) — the bridge duck-types
    // it by simple name + name()/isOptional() members
    java.nio.file.Files.writeString(dir.resolve("ArgumentHint.java"),
      """import java.lang.annotation.*;
        |@Retention(RetentionPolicy.RUNTIME)
        |@Target(ElementType.PARAMETER)
        |public @interface ArgumentHint {
        |  String name() default "";
        |  boolean isOptional() default false;
        |}
        |""".stripMargin)
    // compiled WITHOUT -parameters: names come from the hints alone
    // (Flink reads hint names first too), and `suffix` is optional
    java.nio.file.Files.writeString(dir.resolve("GraftTrimUdf.java"),
      """public class GraftTrimUdf {
        |  public String eval(@ArgumentHint(name = "text") String a,
        |      @ArgumentHint(name = "suffix", isOptional = true) String b) {
        |    return b == null ? a : a + b;
        |  }
        |}
        |""".stripMargin)
    // procedure: first arg named by -parameters, second hinted optional
    java.nio.file.Files.writeString(dir.resolve("GraftGreetProc.java"),
      """public class GraftGreetProc {
        |  public String[] call(Object ctx, String who,
        |      @ArgumentHint(name = "greeting", isOptional = true) String greeting) {
        |    return new String[] {
        |      (greeting == null ? "hello" : greeting) + " " + who };
        |  }
        |}
        |""".stripMargin)
    val javac = javax.tools.ToolProvider.getSystemJavaCompiler
    assert(javac.run(null, null, null,
      dir.resolve("ArgumentHint.java").toString,
      dir.resolve("GraftTrimUdf.java").toString) == 0, "javac failed")
    assert(javac.run(null, null, null, "-parameters", "-cp", dir.toString,
      dir.resolve("GraftGreetProc.java").toString) == 0, "javac failed")
    val jar = dir.resolve("graft-test-udf-opt.jar")
    val jos = new java.util.jar.JarOutputStream(
      java.nio.file.Files.newOutputStream(jar))
    Seq("ArgumentHint.class", "GraftTrimUdf.class", "GraftGreetProc.class")
      .foreach { n =>
        jos.putNextEntry(new java.util.zip.ZipEntry(n))
        jos.write(java.nio.file.Files.readAllBytes(dir.resolve(n)))
        jos.closeEntry()
      }
    jos.close()
    FlinkSql.sql(spark, s"ADD JAR '$jar'")
    FlinkSql.sql(spark, "CREATE FUNCTION trimf AS 'GraftTrimUdf'")
    FlinkSql.sql(spark, "CREATE PROCEDURE greetp AS 'GraftGreetProc'")
    // scalar: optional omitted → NULL-filled; supplied (out of order) →
    // used; positional path byte-unchanged
    assert(FlinkSql.sql(spark, "SELECT trimf(text => 'x') AS r")
      .head().getString(0) == "x")
    assert(FlinkSql.sql(spark, "SELECT trimf(suffix => '!', text => 'x') AS r")
      .head().getString(0) == "x!")
    assert(FlinkSql.sql(spark, "SELECT trimf('x', '!') AS r")
      .head().getString(0) == "x!")
    // omitting a REQUIRED parameter stays a typed failure
    val eReq = intercept[IllegalArgumentException] {
      FlinkSql.sql(spark, "SELECT trimf(suffix => '!')")
    }
    assert(eReq.getMessage.contains("text"), eReq.getMessage)
    // procedure: with and without the optional; positional unchanged
    assert(FlinkSql.sql(spark, "CALL greetp(who => 'ada')")
      .head().getString(0) == "hello ada")
    assert(FlinkSql.sql(spark, "CALL greetp(greeting => 'yo', who => 'ada')")
      .head().getString(0) == "yo ada")
    assert(FlinkSql.sql(spark, "CALL greetp('ada', 'hej')")
      .head().getString(0) == "hej ada")
    FlinkSql.run(spark, "DROP FUNCTION trimf; DROP PROCEDURE greetp")
  }

  test("FLIP-311 procedures: CREATE PROCEDURE + CALL + SHOW PROCEDURES, javac-jar e2e") {
    import spark.implicits._
    // a Procedure-shaped class ([U] flink-table-common procedures/
    // Procedure.java: public T[] call(ProcedureContext, args...)) —
    // compiled WITHOUT flink on the classpath, so the context slot is
    // Object on one overload and a user-defined interface on the other
    // (the bridge hands the interface a failing proxy)
    val dir = java.nio.file.Paths.get(TestSpark.exitTempDir("graft_proc_jar"))
    java.nio.file.Files.writeString(dir.resolve("GraftCtx.java"),
      "public interface GraftCtx { Object getExecutionEnvironment(); }\n")
    java.nio.file.Files.writeString(dir.resolve("GraftCompactProc.java"),
      """public class GraftCompactProc {
        |  public String[] call(Object ctx, String table, Integer n) {
        |    String[] out = new String[n];
        |    for (int i = 0; i < n; i++) out[i] = table + "#part-" + i;
        |    return out;
        |  }
        |  public Long[] call(GraftCtx ctx, Long upTo) {
        |    // touching the context must fail typed, not NPE
        |    if (upTo < 0) { ctx.getExecutionEnvironment(); }
        |    Long[] out = new Long[upTo.intValue()];
        |    for (int i = 0; i < upTo; i++) out[i] = (long) (i * i);
        |    return out;
        |  }
        |}
        |""".stripMargin)
    val javac = javax.tools.ToolProvider.getSystemJavaCompiler
    assert(javac.run(null, null, null, dir.resolve("GraftCtx.java").toString,
      dir.resolve("GraftCompactProc.java").toString) == 0, "javac failed")
    val jar = dir.resolve("graft-test-proc.jar")
    val jos = new java.util.jar.JarOutputStream(
      java.nio.file.Files.newOutputStream(jar))
    Seq("GraftCtx.class", "GraftCompactProc.class").foreach { n =>
      jos.putNextEntry(new java.util.zip.ZipEntry(n))
      jos.write(java.nio.file.Files.readAllBytes(dir.resolve(n)))
      jos.closeEntry()
    }
    jos.close()
    FlinkSql.sql(spark, s"ADD JAR '$jar'")
    // an unregistered CALL fails typed with the porting guidance
    val e0 = intercept[IllegalArgumentException] {
      FlinkSql.sql(spark, "CALL sys.compact('t', 2)")
    }
    assert(e0.getMessage.contains("FLIP-311") &&
      e0.getMessage.contains("CREATE PROCEDURE"), e0.getMessage)
    FlinkSql.sql(spark, "CREATE PROCEDURE compact AS 'GraftCompactProc'")
    // positional args evaluate through Spark SQL (casts/functions work);
    // catalog/db qualifiers strip; arity picks the overload
    val got = FlinkSql.sql(spark, "CALL cat1.db1.compact('events', 1 + 2)")
      .as[String].collect().toSeq
    assert(got == Seq("events#part-0", "events#part-1", "events#part-2"), got)
    val sq = FlinkSql.sql(spark, "CALL compact(4)")
      .as[Long].collect().toSeq
    assert(sq == Seq(0L, 1L, 4L, 9L), sq)
    // a procedure that touches its context gets the typed proxy failure
    val e1 = intercept[UnsupportedOperationException] {
      FlinkSql.sql(spark, "CALL compact(-1)")
    }
    assert(e1.getMessage.contains("getExecutionEnvironment"), e1.getMessage)
    // wrong arity names the available ones
    val e2 = intercept[IllegalArgumentException] {
      FlinkSql.sql(spark, "CALL compact('a', 'b', 'c')")
    }
    assert(e2.getMessage.contains("available arities"), e2.getMessage)
    // SHOW PROCEDURES lists it (Flink's own statement), LIKE filters
    assert(FlinkSql.sql(spark, "SHOW PROCEDURES").as[String].collect().toSeq
      .contains("compact"))
    assert(FlinkSql.sql(spark, "SHOW PROCEDURES LIKE 'comp%'")
      .as[String].collect().toSeq == Seq("compact"))
    assert(FlinkSql.sql(spark, "SHOW PROCEDURES LIKE 'zzz%'").count() == 0)
    // DROP removes it; IF EXISTS tolerates the gone state
    FlinkSql.sql(spark, "DROP PROCEDURE compact")
    intercept[IllegalArgumentException] { FlinkSql.sql(spark, "CALL compact(1)") }
    FlinkSql.sql(spark, "DROP PROCEDURE IF EXISTS compact")
    intercept[IllegalArgumentException] {
      FlinkSql.sql(spark, "DROP PROCEDURE compact")
    }
    // a class with no call shape fails at CREATE, not at CALL time
    val e3 = intercept[IllegalArgumentException] {
      FlinkSql.sql(spark, "CREATE PROCEDURE nope AS 'GraftCtx'")
    }
    assert(e3.getMessage.contains("public call method"), e3.getMessage)
  }

  test("FLIP-311 procedures: named arguments, typed overload ranking, heterogeneous results") {
    import spark.implicits._
    val dir = java.nio.file.Paths.get(TestSpark.exitTempDir("graft_proc_named"))
    java.nio.file.Files.writeString(dir.resolve("GraftNamedProc.java"),
      """public class GraftNamedProc {
        |  // same arity, different types: first-match would pick wrong
        |  public String[] call(Object ctx, String table, Long retain) {
        |    return new String[] { "str:" + table + ":" + retain };
        |  }
        |  public String[] call(Object ctx, Long parallelism, Long retain) {
        |    return new String[] { "num:" + parallelism + ":" + retain };
        |  }
        |  public Object[] call(Object ctx, String mixed) {
        |    return new Object[] { "a", Long.valueOf(7), Double.valueOf(1.5) };
        |  }
        |}
        |""".stripMargin)
    val javac = javax.tools.ToolProvider.getSystemJavaCompiler
    // -parameters records parameter names — the named-argument mapping
    assert(javac.run(null, null, null, "-parameters",
      dir.resolve("GraftNamedProc.java").toString) == 0, "javac failed")
    val jar = dir.resolve("graft-test-proc-named.jar")
    val jos = new java.util.jar.JarOutputStream(
      java.nio.file.Files.newOutputStream(jar))
    jos.putNextEntry(new java.util.zip.ZipEntry("GraftNamedProc.class"))
    jos.write(java.nio.file.Files.readAllBytes(dir.resolve("GraftNamedProc.class")))
    jos.closeEntry()
    jos.close()
    FlinkSql.sql(spark, s"ADD JAR '$jar'")
    FlinkSql.sql(spark, "CREATE PROCEDURE nmd AS 'GraftNamedProc'")
    // typed overload ranking: a STRING first arg picks the (String, Long)
    // overload, a numeric first arg the (Long, Long) one — same arity
    assert(FlinkSql.sql(spark, "CALL nmd('events', 3)")
      .as[String].head() == "str:events:3")
    assert(FlinkSql.sql(spark, "CALL nmd(8, 3)")
      .as[String].head() == "num:8:3")
    // named arguments, out of order, FLIP-387 style
    assert(FlinkSql.sql(spark, "CALL nmd(retain => 5, table => 'logs')")
      .as[String].head() == "str:logs:5")
    assert(FlinkSql.sql(spark, "CALL nmd(retain => 5, parallelism => 2 * 2)")
      .as[String].head() == "num:4:5")
    // all-or-nothing: mixing named and positional fails typed
    val eMix = intercept[IllegalArgumentException] {
      FlinkSql.sql(spark, "CALL nmd('events', retain => 5)")
    }
    assert(eMix.getMessage.contains("all positional or all named"), eMix.getMessage)
    // an unknown name lists the candidates' parameter names
    val eName = intercept[IllegalArgumentException] {
      FlinkSql.sql(spark, "CALL nmd(retain => 5, nosuch => 1)")
    }
    assert(eName.getMessage.contains("table") ||
      eName.getMessage.contains("parallelism"), eName.getMessage)
    // a heterogeneous result array renders via String.valueOf per element
    assert(FlinkSql.sql(spark, "CALL nmd('x')").as[String].collect().toSeq ==
      Seq("a", "7", "1.5"))
    // CREATE on an existing name errors unless IF NOT EXISTS
    val eDup = intercept[IllegalArgumentException] {
      FlinkSql.sql(spark, "CREATE PROCEDURE nmd AS 'GraftNamedProc'")
    }
    assert(eDup.getMessage.contains("already"), eDup.getMessage)
    FlinkSql.sql(spark, "CREATE PROCEDURE IF NOT EXISTS nmd AS 'GraftNamedProc'")
    FlinkSql.sql(spark, "DROP PROCEDURE nmd")
  }

  test("CREATE FUNCTION over a TableFunction-shaped class bridges LATERAL TABLE onto explode") {
    import spark.implicits._
    val dir = java.nio.file.Paths.get(TestSpark.exitTempDir("graft_udtf_jar"))
    // returning shape: the zero-dependency POJO port (rows = Iterable<T>)
    val src1 = dir.resolve("GraftSplitUdtf.java")
    java.nio.file.Files.writeString(src1,
      """import java.util.*;
        |public class GraftSplitUdtf {
        |  public List<String> eval(String s, String sep) {
        |    return Arrays.asList(s.split(sep));
        |  }
        |}
        |""".stripMargin)
    // collect shape: void eval + public Consumer field — the mechanical
    // port of Flink's TableFunction (collect(x) → collector.accept(x))
    val src2 = dir.resolve("GraftDupUdtf.java")
    java.nio.file.Files.writeString(src2,
      """public class GraftDupUdtf {
        |  public java.util.function.Consumer<Long> collector;
        |  public void eval(long n) {
        |    for (long i = 0; i < n; i++) collector.accept(i);
        |  }
        |}
        |""".stripMargin)
    val javac = javax.tools.ToolProvider.getSystemJavaCompiler
    assert(javac.run(null, null, null, src1.toString, src2.toString) == 0, "javac failed")
    val jar = dir.resolve("graft-test-udtf.jar")
    val jos = new java.util.jar.JarOutputStream(
      java.nio.file.Files.newOutputStream(jar))
    Seq("GraftSplitUdtf.class", "GraftDupUdtf.class").foreach { n =>
      jos.putNextEntry(new java.util.zip.ZipEntry(n))
      jos.write(java.nio.file.Files.readAllBytes(dir.resolve(n)))
      jos.closeEntry()
    }
    jos.close()
    FlinkSql.sql(spark, s"ADD JAR '$jar'")
    FlinkSql.sql(spark, "CREATE FUNCTION split_udtf AS 'GraftSplitUdtf'")
    FlinkSql.sql(spark, "CREATE FUNCTION dup_udtf AS 'GraftDupUdtf'")
    Seq(("a-b-c", 1L), ("x", 2L), ("y", 0L)).toDF("s", "n")
      .createOrReplaceTempView("udtf_src")
    // Flink's shape end-to-end: comma-join LATERAL TABLE with a column
    // list, lowered onto LATERAL VIEW explode over the bridged array UDF
    val got = FlinkSql.sql(spark,
      "SELECT s, w FROM udtf_src, LATERAL TABLE(split_udtf(s, '-')) AS T(w)")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("a-b-c", "a"), ("a-b-c", "b"), ("a-b-c", "c"),
      ("x", "x"), ("y", "y")), got.toString)
    // collect-style: per-row fan-out 0..n−1; n = 0 emits NOTHING (the
    // comma join is CROSS APPLY — the zero-emission row disappears)
    val got2 = FlinkSql.sql(spark,
      "SELECT n, i FROM udtf_src, LATERAL TABLE(dup_udtf(n)) AS T(i)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 == Set((1L, 0L), (2L, 0L), (2L, 1L)), got2.toString)
    // the column list is required (one named output column)
    val e = intercept[IllegalArgumentException] {
      FlinkSql.sql(spark,
        "SELECT s FROM udtf_src, LATERAL TABLE(split_udtf(s, '-'))")
    }
    assert(e.getMessage.contains("AS alias(col"), e.getMessage)
    // multi-column rows: a result POJO's public fields become a STRUCT
    // (declaration order), and a >1-column list lowers onto inline
    val src3 = dir.resolve("GraftPairUdtf.java")
    java.nio.file.Files.writeString(src3,
      """import java.util.*;
        |public class GraftPairUdtf {
        |  public static class Pair { public String word; public long len; }
        |  public List<Pair> eval(String s) {
        |    List<Pair> out = new ArrayList<>();
        |    for (String w : s.split("-")) {
        |      Pair p = new Pair(); p.word = w; p.len = w.length(); out.add(p);
        |    }
        |    return out;
        |  }
        |}
        |""".stripMargin)
    assert(javac.run(null, null, null, src3.toString) == 0, "javac failed")
    val jar2 = dir.resolve("graft-test-udtf2.jar")
    val jos2 = new java.util.jar.JarOutputStream(
      java.nio.file.Files.newOutputStream(jar2))
    Seq("GraftPairUdtf.class", "GraftPairUdtf$Pair.class").foreach { n =>
      jos2.putNextEntry(new java.util.zip.ZipEntry(n))
      jos2.write(java.nio.file.Files.readAllBytes(dir.resolve(n)))
      jos2.closeEntry()
    }
    jos2.close()
    FlinkSql.sql(spark, s"ADD JAR '$jar2'")
    FlinkSql.sql(spark, "CREATE FUNCTION pair_udtf AS 'GraftPairUdtf'")
    val gotP = FlinkSql.sql(spark,
      "SELECT s, w, l FROM udtf_src, LATERAL TABLE(pair_udtf(s)) AS T(w, l)")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(gotP == Set(("a-b-c", "a", 1L), ("a-b-c", "b", 1L), ("a-b-c", "c", 1L),
      ("x", "x", 1L), ("y", "y", 1L)), gotP.toString)
    FlinkSql.sql(spark, "DROP FUNCTION pair_udtf")
    // Flink's LEFT JOIN ... ON TRUE form: the zero-emission row SURVIVES
    // with a NULL output column (LATERAL VIEW OUTER explode)
    val got3 = FlinkSql.sql(spark,
      "SELECT n, i FROM udtf_src LEFT JOIN LATERAL TABLE(dup_udtf(n)) AS T(i) ON TRUE")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(got3 == Set((1L, 0L), (2L, 0L), (2L, 1L), (0L, -1L)), got3.toString)
    // ...and it requires the literal ON TRUE
    val e3 = intercept[IllegalArgumentException] {
      FlinkSql.sql(spark,
        "SELECT n, i FROM udtf_src LEFT JOIN LATERAL TABLE(dup_udtf(n)) AS T(i)")
    }
    assert(e3.getMessage.contains("ON TRUE"), e3.getMessage)
    // a STATIC collect-style eval can't reach the instance collector
    // field — fail at CREATE FUNCTION, not with a task-time NPE
    val src4 = dir.resolve("GraftStaticUdtf.java")
    java.nio.file.Files.writeString(src4,
      """public class GraftStaticUdtf {
        |  public java.util.function.Consumer<Long> collector;
        |  public static void eval(long n) { }
        |}
        |""".stripMargin)
    assert(javac.run(null, null, null, src4.toString) == 0, "javac failed")
    val jar3 = dir.resolve("graft-test-udtf3.jar")
    val jos3 = new java.util.jar.JarOutputStream(
      java.nio.file.Files.newOutputStream(jar3))
    jos3.putNextEntry(new java.util.zip.ZipEntry("GraftStaticUdtf.class"))
    jos3.write(java.nio.file.Files.readAllBytes(dir.resolve("GraftStaticUdtf.class")))
    jos3.closeEntry()
    jos3.close()
    FlinkSql.sql(spark, s"ADD JAR '$jar3'")
    val eStatic = intercept[IllegalArgumentException] {
      FlinkSql.sql(spark, "CREATE FUNCTION static_udtf AS 'GraftStaticUdtf'")
    }
    assert(eStatic.getMessage.contains("instance method"), eStatic.getMessage)
    // ALTER FUNCTION re-points an alias onto a table-function class too,
    // routing LATERAL TABLE; re-pointing away unroutes it
    FlinkSql.sql(spark, "CREATE FUNCTION alter_udtf AS 'upper'")
    FlinkSql.sql(spark, "ALTER FUNCTION alter_udtf AS 'GraftDupUdtf'")
    val got4 = FlinkSql.sql(spark,
      "SELECT n, i FROM udtf_src, LATERAL TABLE(alter_udtf(n)) AS T(i)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got4 == Set((1L, 0L), (2L, 0L), (2L, 1L)), got4.toString)
    FlinkSql.sql(spark, "ALTER FUNCTION alter_udtf AS 'upper'")
    intercept[IllegalArgumentException] {
      FlinkSql.sql(spark,
        "SELECT n, i FROM udtf_src, LATERAL TABLE(alter_udtf(n)) AS T(i)")
    }
    assert(FlinkSql.sql(spark, "SELECT alter_udtf('ab') AS u").head().getString(0) == "AB")
    FlinkSql.sql(spark, "DROP FUNCTION alter_udtf")
    // DROP unregisters the bridge and the LATERAL TABLE routing with it
    FlinkSql.sql(spark, "DROP FUNCTION split_udtf")
    val e2 = intercept[IllegalArgumentException] {
      FlinkSql.sql(spark,
        "SELECT s, w FROM udtf_src, LATERAL TABLE(split_udtf(s, '-')) AS T(w)")
    }
    assert(e2.getMessage.contains("no temporal table function"), e2.getMessage)
    FlinkSql.sql(spark, "DROP FUNCTION dup_udtf")
    spark.catalog.dropTempView("udtf_src")
  }

  test("a bridged UDTF deploys in a STREAMING INSERT (LATERAL TABLE over a watermarked source)") {
    import spark.implicits._
    val dir = java.nio.file.Paths.get(TestSpark.exitTempDir("graft_udtf_stream"))
    val src = dir.resolve("GraftCsvUdtf.java")
    java.nio.file.Files.writeString(src,
      """import java.util.*;
        |public class GraftCsvUdtf {
        |  public List<String> eval(String s) { return Arrays.asList(s.split(",")); }
        |}
        |""".stripMargin)
    val javac = javax.tools.ToolProvider.getSystemJavaCompiler
    assert(javac.run(null, null, null, src.toString) == 0, "javac failed")
    val jar = dir.resolve("graft-test-udtf-s.jar")
    val jos = new java.util.jar.JarOutputStream(
      java.nio.file.Files.newOutputStream(jar))
    jos.putNextEntry(new java.util.zip.ZipEntry("GraftCsvUdtf.class"))
    jos.write(java.nio.file.Files.readAllBytes(dir.resolve("GraftCsvUdtf.class")))
    jos.closeEntry(); jos.close()
    FlinkSql.sql(spark, s"ADD JAR '$jar'")
    FlinkSql.sql(spark, "CREATE FUNCTION csv_udtf AS 'GraftCsvUdtf'")
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    Seq((1L, t(10), "a,b"), (2L, t(20), "c"))
      .toDF("event_id", "ts", "tags")
      .write.mode("append").parquet(s"$dir/us_src")
    FlinkSql.run(spark,
      s"""CREATE TABLE us_src (
         |  event_id BIGINT, ts TIMESTAMP(3), tags STRING,
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem', 'path' = '$dir/us_src',
         |        'format' = 'parquet');
         |CREATE TABLE us_sink (event_id BIGINT, tag STRING)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/us_sink',
         |      'format' = 'parquet')""".stripMargin)
    // the UDTF fan-out is a stateless Generate — stream-safe, so the
    // statement rides the generic streaming path untouched
    val q = FlinkSql.runStream(spark,
      """INSERT INTO us_sink
        |SELECT event_id, tag FROM us_src, LATERAL TABLE(csv_udtf(tags)) AS T(tag)""".stripMargin,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination()
    val got = spark.read.parquet(s"$dir/us_sink").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (1L, "b"), (2L, "c")), got.toString)
    FlinkSql.run(spark, "DROP TABLE us_src; DROP TABLE us_sink; DROP FUNCTION csv_udtf")
  }

  test("CREATE FUNCTION over an AggregateFunction-shaped class bridges onto a typed Aggregator") {
    import spark.implicits._
    val dir = java.nio.file.Paths.get(TestSpark.exitTempDir("graft_udaf_jar"))
    // Flink's AggregateFunction shape as a plain POJO: weighted average
    // with an in-place accumulator and the REQUIRED two-phase merge
    val src = dir.resolve("GraftWAvgUdaf.java")
    java.nio.file.Files.writeString(src,
      """public class GraftWAvgUdaf {
        |  public static class Acc { public double s; public double w; }
        |  public Acc createAccumulator() { return new Acc(); }
        |  public void accumulate(Acc a, double v, double w) { a.s += v * w; a.w += w; }
        |  public void merge(Acc a, java.lang.Iterable<Acc> os) {
        |    for (Acc o : os) { a.s += o.s; a.w += o.w; }
        |  }
        |  public Double getValue(Acc a) { return a.w == 0 ? null : a.s / a.w; }
        |}
        |""".stripMargin)
    // the no-merge shape must fail typed (cannot run two-phase)
    val src2 = dir.resolve("GraftNoMergeUdaf.java")
    java.nio.file.Files.writeString(src2,
      """public class GraftNoMergeUdaf {
        |  public static class Acc { public long n; }
        |  public Acc createAccumulator() { return new Acc(); }
        |  public void accumulate(Acc a, long v) { a.n += v; }
        |  public Long getValue(Acc a) { return a.n; }
        |}
        |""".stripMargin)
    val javac = javax.tools.ToolProvider.getSystemJavaCompiler
    assert(javac.run(null, null, null, src.toString, src2.toString) == 0, "javac failed")
    val jar = dir.resolve("graft-test-udaf.jar")
    val jos = new java.util.jar.JarOutputStream(
      java.nio.file.Files.newOutputStream(jar))
    Seq("GraftWAvgUdaf.class", "GraftWAvgUdaf$Acc.class",
        "GraftNoMergeUdaf.class", "GraftNoMergeUdaf$Acc.class").foreach { n =>
      jos.putNextEntry(new java.util.zip.ZipEntry(n))
      jos.write(java.nio.file.Files.readAllBytes(dir.resolve(n)))
      jos.closeEntry()
    }
    jos.close()
    FlinkSql.sql(spark, s"ADD JAR '$jar'")
    FlinkSql.sql(spark, "CREATE FUNCTION wavg AS 'GraftWAvgUdaf'")
    Seq(("a", 1.0, 1.0), ("a", 4.0, 3.0), ("b", 10.0, 2.0), ("b", 20.0, 2.0))
      .toDF("g", "v", "w").createOrReplaceTempView("udaf_src")
    // grouped aggregation: the two-phase path (partial accumulate per
    // partition, merge at final) must equal the SQL expansion
    val got = FlinkSql.sql(spark,
      "SELECT g, wavg(v, w) AS wa FROM udaf_src GROUP BY g ORDER BY g")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got == Seq(("a", 3.25), ("b", 15.0)), got.toString)
    // global aggregate
    assert(FlinkSql.sql(spark, "SELECT wavg(v, w) AS wa FROM udaf_src")
      .head().getDouble(0) == 9.125)
    // no-merge shape: typed porting error, nothing registered
    val e = intercept[IllegalArgumentException] {
      FlinkSql.sql(spark, "CREATE FUNCTION bad_agg AS 'GraftNoMergeUdaf'")
    }
    assert(e.getMessage.contains("merge"), e.getMessage)
    // ALTER re-points onto an aggregate class too, and DROP unregisters
    FlinkSql.sql(spark, "CREATE FUNCTION alter_agg AS 'upper'")
    FlinkSql.sql(spark, "ALTER FUNCTION alter_agg AS 'GraftWAvgUdaf'")
    assert(FlinkSql.sql(spark,
      "SELECT alter_agg(v, w) AS wa FROM udaf_src WHERE g = 'b'")
      .head().getDouble(0) == 15.0)
    FlinkSql.sql(spark, "DROP FUNCTION alter_agg")
    FlinkSql.sql(spark, "DROP FUNCTION wavg")
    intercept[Exception] {
      spark.sql("SELECT wavg(v, w) FROM udaf_src").collect()
    }
    spark.catalog.dropTempView("udaf_src")
  }

  test("CREATE FUNCTION over a TableAggregateFunction-shaped class: Top2 emits multi-row groups") {
    import spark.implicits._
    val dir = java.nio.file.Paths.get(TestSpark.exitTempDir("graft_udtagg_jar"))
    // the Flink documentation's canonical table aggregate (Top2), duck-
    // typed: emitValue(acc, Collector<T>) ports to Consumer<T> like the
    // table bridge's collector convention; rows are a result POJO
    val src = dir.resolve("GraftTop2Udtagg.java")
    java.nio.file.Files.writeString(src,
      """public class GraftTop2Udtagg {
        |  public static class Acc {
        |    public long id1 = -1; public double v1 = Double.NEGATIVE_INFINITY;
        |    public long id2 = -1; public double v2 = Double.NEGATIVE_INFINITY;
        |  }
        |  public static class R { public long id; public double v; public int rnk; }
        |  public Acc createAccumulator() { return new Acc(); }
        |  public void accumulate(Acc a, long id, double v) {
        |    if (v > a.v1 || (v == a.v1 && id < a.id1)) {
        |      a.id2 = a.id1; a.v2 = a.v1; a.id1 = id; a.v1 = v;
        |    } else if (v > a.v2 || (v == a.v2 && id < a.id2)) {
        |      a.id2 = id; a.v2 = v;
        |    }
        |  }
        |  public void merge(Acc a, java.lang.Iterable<Acc> os) {
        |    for (Acc o : os) {
        |      if (o.id1 >= 0) accumulate(a, o.id1, o.v1);
        |      if (o.id2 >= 0) accumulate(a, o.id2, o.v2);
        |    }
        |  }
        |  public void emitValue(Acc a, java.util.function.Consumer<R> out) {
        |    if (a.id1 >= 0) { R r = new R(); r.id = a.id1; r.v = a.v1; r.rnk = 1; out.accept(r); }
        |    if (a.id2 >= 0) { R r = new R(); r.id = a.id2; r.v = a.v2; r.rnk = 2; out.accept(r); }
        |  }
        |}
        |""".stripMargin)
    // FLIP-400 async shape: targeted guidance, not the generic eval error
    val src2 = dir.resolve("GraftAsyncUdf.java")
    java.nio.file.Files.writeString(src2,
      """public class GraftAsyncUdf {
        |  public void eval(java.util.concurrent.CompletableFuture<String> result, String x) {
        |    java.util.concurrent.CompletableFuture.runAsync(
        |        () -> result.complete(x.toUpperCase()));
        |  }
        |}
        |""".stripMargin)
    // eval RETURNING a future is NOT the FLIP-400 shape — must fail typed
    val srcBad = dir.resolve("GraftBadAsync.java")
    java.nio.file.Files.writeString(srcBad,
      """public class GraftBadAsync {
        |  public java.util.concurrent.CompletableFuture<String> eval(String x) {
        |    return java.util.concurrent.CompletableFuture.completedFuture(x);
        |  }
        |}
        |""".stripMargin)
    // scalar-emitting shape: Consumer<Long> rows → ARRAY<BIGINT> + explode
    val src3 = dir.resolve("GraftEvensUdtagg.java")
    java.nio.file.Files.writeString(src3,
      """import java.util.*;
        |public class GraftEvensUdtagg {
        |  public ArrayList<Long> createAccumulator() { return new ArrayList<>(); }
        |  public void accumulate(ArrayList<Long> a, long v) { if (v % 2 == 0) a.add(v); }
        |  public void merge(ArrayList<Long> a, java.lang.Iterable<ArrayList<Long>> os) {
        |    for (ArrayList<Long> o : os) a.addAll(o);
        |  }
        |  public void emitValue(ArrayList<Long> a, java.util.function.Consumer<Long> out) {
        |    ArrayList<Long> s = new ArrayList<>(a); Collections.sort(s);
        |    for (Long v : s) out.accept(v);
        |  }
        |}
        |""".stripMargin)
    val javac = javax.tools.ToolProvider.getSystemJavaCompiler
    assert(javac.run(null, null, null, src.toString, src2.toString, src3.toString,
      srcBad.toString) == 0, "javac failed")
    val jar = dir.resolve("graft-test-udtagg.jar")
    val jos = new java.util.jar.JarOutputStream(
      java.nio.file.Files.newOutputStream(jar))
    Seq("GraftTop2Udtagg.class", "GraftTop2Udtagg$Acc.class",
        "GraftTop2Udtagg$R.class", "GraftAsyncUdf.class",
        "GraftEvensUdtagg.class", "GraftBadAsync.class").foreach { n =>
      jos.putNextEntry(new java.util.zip.ZipEntry(n))
      jos.write(java.nio.file.Files.readAllBytes(dir.resolve(n)))
      jos.closeEntry()
    }
    jos.close()
    FlinkSql.sql(spark, s"ADD JAR '$jar'")
    FlinkSql.sql(spark, "CREATE FUNCTION top2 AS 'GraftTop2Udtagg'")
    Seq(("a", 1L, 5.0), ("a", 2L, 9.0), ("a", 3L, 7.0),
        ("b", 4L, 2.0), ("c", 5L, 1.0))
      .toDF("g", "id", "v").createOrReplaceTempView("udtagg_src")
    // the declared SQL surface: aggregate call → ARRAY<STRUCT>, fanned
    // out with the UDTF bridge's generator lowering (inline)
    val got = FlinkSql.sql(spark,
      """SELECT g, T.id, T.v, T.rnk
        |FROM (SELECT g, top2(id, v) AS rows FROM udtagg_src GROUP BY g) x
        |LATERAL VIEW inline(rows) T AS id, v, rnk""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got == Set(("a", 2L, 9.0, 1), ("a", 3L, 7.0, 2),
      ("b", 4L, 2.0, 1), ("c", 5L, 1.0, 1)), got.toString)
    // the two-phase path must survive a real shuffle: repartitioned input
    val got2 = FlinkSql.sql(spark,
      """SELECT g, size(top2(id, v)) AS n FROM udtagg_src GROUP BY g""".stripMargin)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(got2 == Set(("a", 2), ("b", 1), ("c", 1)), got2.toString)
    // scalar-emitting rows: ARRAY<BIGINT> + explode fan-out
    FlinkSql.sql(spark, "CREATE FUNCTION evens AS 'GraftEvensUdtagg'")
    val gotE = FlinkSql.sql(spark,
      """SELECT g, T.e
        |FROM (SELECT g, evens(id) AS es FROM udtagg_src GROUP BY g) x
        |LATERAL VIEW explode(es) T AS e""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(gotE == Set(("a", 2L), ("b", 4L)), gotE.toString)
    FlinkSql.sql(spark, "DROP FUNCTION evens")
    // async scalar shape (FLIP-400): bridged — eval gets a fresh future
    // per row, the call awaits it; values ≡ Flink's ORDERED output mode
    FlinkSql.sql(spark, "CREATE FUNCTION async_up AS 'GraftAsyncUdf'")
    val gotA = FlinkSql.sql(spark, "SELECT g, async_up(g) AS u FROM udtagg_src")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(gotA == Set(("a", "A"), ("b", "B"), ("c", "C")), gotA.toString)
    FlinkSql.sql(spark, "DROP FUNCTION async_up")
    // an eval RETURNING the future is not FLIP-400 — typed, names the shape
    val eBad = intercept[IllegalArgumentException] {
      FlinkSql.sql(spark, "CREATE FUNCTION bad_async AS 'GraftBadAsync'")
    }
    assert(eBad.getMessage.contains("FIRST PARAMETER"), eBad.getMessage)
    FlinkSql.sql(spark, "DROP FUNCTION top2")
    intercept[Exception] {
      spark.sql("SELECT g, top2(id, v) FROM udtagg_src GROUP BY g").collect()
    }
    spark.catalog.dropTempView("udtagg_src")
  }

  test("CALL of an UNREGISTERED procedure fails typed with registration guidance") {
    // Flink stored procedures (FLIP-311) are catalog-provided code; no
    // catalog here ships procedures, so an unregistered CALL must fail
    // typed pointing at the CREATE PROCEDURE porting seam — never a raw
    // Spark parse error (the registered path is the javac-jar e2e above)
    val e = intercept[IllegalArgumentException] {
      FlinkSql.sql(spark, "CALL compact_table('t1')")
    }
    assert(e.getMessage.contains("no such procedure"), e.getMessage)
    assert(e.getMessage.contains("FLIP-311") &&
      e.getMessage.contains("CREATE PROCEDURE"), e.getMessage)
    // dotted procedure names route identically
    val e2 = intercept[IllegalArgumentException] {
      FlinkSql.sql(spark, "CALL sys.rewrite_data_files('db.t')")
    }
    assert(e2.getMessage.contains("no such procedure"), e2.getMessage)
  }

  test("SHOW JOBS lists active streaming queries; STOP JOB stops by id or name") {
    val q = spark.readStream.format("rate").option("rowsPerSecond", "1").load()
      .writeStream.format("noop").queryName("graft_job_spec")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
      .start()
    try {
      val jobs = FlinkSql.sql(spark, "SHOW JOBS").collect()
      assert(jobs.exists(r => r.getString(1) == "graft_job_spec" &&
        r.getString(2) == "RUNNING"),
        s"expected graft_job_spec RUNNING in ${jobs.mkString(";")}")
      // Flink column names verbatim
      assert(FlinkSql.sql(spark, "SHOW JOBS").columns
        .sameElements(Array("job id", "job name", "status", "start time")))
      // DESCRIBE JOB: the one job's row, by name or id, same columns
      val one = FlinkSql.sql(spark, "DESCRIBE JOB 'graft_job_spec'").collect()
      assert(one.length == 1 && one(0).getString(2) == "RUNNING")
      assert(FlinkSql.sql(spark, s"DESCRIBE JOB '${one(0).getString(0)}'")
        .collect().length == 1)
      intercept[IllegalArgumentException] {
        FlinkSql.sql(spark, "DESCRIBE JOB 'no_such_job'")
      }
      FlinkSql.sql(spark, "STOP JOB 'graft_job_spec' WITH SAVEPOINT")
      q.awaitTermination(30000)
      assert(!q.isActive)
      assert(!FlinkSql.sql(spark, "SHOW JOBS").collect()
        .exists(_.getString(1) == "graft_job_spec"))
      intercept[IllegalArgumentException] {
        FlinkSql.sql(spark, "STOP JOB 'graft_job_spec'")
      }
    } finally if (q.isActive) q.stop()
  }

  test("ANALYZE / TRUNCATE TABLE and catalog-preamble statements") {
    val dir = tempDir("flink_trunc")
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").write.mode("overwrite")
      .parquet(s"$dir/t")
    FlinkSql.sql(spark,
      s"""CREATE TABLE trunc_t (k BIGINT, s STRING)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/t',
         |      'format' = 'parquet')""".stripMargin)
    // ANALYZE returns the computed row count
    val stats = FlinkSql.sql(spark, "ANALYZE TABLE trunc_t COMPUTE STATISTICS").head()
    assert(stats.getString(0) == "trunc_t" && stats.getLong(1) == 2L)
    // TRUNCATE empties the filesystem table; the view re-reads as 0 rows
    FlinkSql.sql(spark, "TRUNCATE TABLE trunc_t")
    assert(spark.table("trunc_t").count() == 0L)
    // a non-connector name rejects
    intercept[IllegalArgumentException] {
      FlinkSql.sql(spark, "TRUNCATE TABLE no_such_connector_table")
    }
    // catalog/database preamble statements register real namespaces now
    FlinkSql.sql(spark, "CREATE CATALOG my_cat WITH ('type' = 'generic_in_memory')")
    FlinkSql.sql(spark, "CREATE DATABASE IF NOT EXISTS my_db")
    // ALTER DATABASE validates existence; properties are accepted
    FlinkSql.sql(spark, "ALTER DATABASE my_db SET ('k' = 'v')")
    intercept[IllegalArgumentException] {
      FlinkSql.sql(spark, "ALTER DATABASE ghost_db SET ('k' = 'v')")
    }
    FlinkSql.sql(spark, "USE CATALOG my_cat")
    // qualified form names another catalog's database explicitly
    FlinkSql.sql(spark, "ALTER DATABASE default_catalog.my_db SET ('x' = 'y')")
    intercept[IllegalArgumentException] {
      FlinkSql.sql(spark, "ALTER DATABASE my_db SET ('k' = 'v')") // not in my_cat
    }
    FlinkSql.sql(spark, "USE CATALOG default_catalog")
    FlinkSql.sql(spark, "DROP DATABASE IF EXISTS my_db")
  }

  test("runStream: INSERT INTO runs as a streaming job (source → file sink)") {
    val dir = tempDir("flink_stream_ins")
    Tables.events(spark, TestSpark.sfDir)
      .select("event_id", "user_id", "event_type", "value", "ts")
      .write.mode("overwrite").parquet(s"$dir/src.parquet")
    val q = FlinkSql.runStream(spark,
      s"""
         |CREATE TABLE ins_src (
         |  event_id BIGINT, user_id BIGINT, event_type STRING,
         |  value DOUBLE, ts TIMESTAMP(3),
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem',
         |        'path' = '$dir/src.parquet', 'format' = 'parquet');
         |
         |CREATE TABLE ins_sink (event_id BIGINT, user_id BIGINT, v2 DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/out', 'format' = 'parquet');
         |
         |INSERT INTO ins_sink
         |SELECT event_id, user_id, value * 2 AS v2 FROM ins_src WHERE user_id % 2 = 0
         |""".stripMargin)
    q.awaitTermination(120000)
    val want = spark.read.parquet(s"$dir/src.parquet")
      .filter(expr("user_id % 2 = 0")).count()
    assert(want > 0 && spark.read.parquet(s"$dir/out").count() == want)
    // the source view reverted to batch for subsequent statements
    assert(!spark.table("ins_src").isStreaming)
    // a refining aggregate streams to blackhole in update mode
    val q2 = FlinkSql.runStream(spark,
      s"""CREATE TABLE ins_bh (user_id BIGINT, n BIGINT)
         |WITH ('connector' = 'blackhole');
         |INSERT INTO ins_bh SELECT user_id, count(*) AS n FROM ins_src GROUP BY user_id
         |""".stripMargin)
    q2.awaitTermination(120000)
    assert(q2.lastProgress != null)
  }

  test("streaming INSERT maps column lists and static PARTITION pins; partitioned sink writes dirs") {
    val dir = tempDir("flink_stream_collist")
    Tables.events(spark, TestSpark.sfDir)
      .select("event_id", "user_id", "value", "ts").limit(500)
      .write.mode("overwrite").parquet(s"$dir/src.parquet")
    val q = FlinkSql.runStream(spark,
      s"""
         |CREATE TABLE cl_src (
         |  event_id BIGINT, user_id BIGINT, value DOUBLE, ts TIMESTAMP(3),
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem',
         |        'path' = '$dir/src.parquet', 'format' = 'parquet');
         |
         |CREATE TABLE cl_sink (id BIGINT, v DOUBLE, note STRING, dt STRING)
         |PARTITIONED BY (dt)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/out', 'format' = 'parquet');
         |
         |INSERT INTO cl_sink PARTITION (dt='2024-06-01') (v, id)
         |SELECT value, event_id FROM cl_src WHERE user_id % 2 = 0
         |""".stripMargin)
    q.awaitTermination(120000)
    val want = spark.read.parquet(s"$dir/src.parquet")
      .filter(expr("user_id % 2 = 0")).count()
    // partition directory written (pruning layout identical to batch)
    assert(new java.io.File(s"$dir/out/dt=2024-06-01").isDirectory)
    val got = spark.read.schema("id BIGINT, v DOUBLE, note STRING, dt STRING")
      .parquet(s"$dir/out")
    assert(got.count() == want && want > 0)
    val r = got.orderBy("id").head()
    // column list mapped by name (v, id swapped), unlisted note = NULL,
    // static dt pinned, declared types cast (id BIGINT)
    assert(r.getAs[String]("dt") == "2024-06-01" && r.isNullAt(got.schema.fieldIndex("note")))
    val src0 = spark.read.parquet(s"$dir/src.parquet")
      .filter(expr("user_id % 2 = 0")).orderBy("event_id").head()
    assert(r.getAs[Long]("id") == src0.getAs[Long]("event_id"))
    // the sink's BATCH view rebinds once the job terminates (async
    // listener — poll briefly), so the script's natural follow-up
    // `SELECT ... FROM cl_sink` sees the written rows
    val deadline = System.currentTimeMillis() + 15000
    while (spark.table("cl_sink").count() != want &&
        System.currentTimeMillis() < deadline) Thread.sleep(200)
    assert(spark.table("cl_sink").count() == want)
    assert(spark.table("cl_sink").schema("dt").dataType ==
      org.apache.spark.sql.types.StringType)
    // a non-partition static key fails clearly
    val bad = intercept[IllegalArgumentException](FlinkSql.runStream(spark,
      "INSERT INTO cl_sink PARTITION (note='x') SELECT event_id, value, 's' FROM cl_src"))
    assert(bad.getMessage.contains("not a partition column"))
    // the windowed deployment shapes reject pins/lists BEFORE any source
    // view is stream-bound — the session must stay batch after the error
    val badW = intercept[IllegalArgumentException](FlinkSql.runStream(spark,
      """INSERT INTO cl_sink PARTITION (dt='x')
        |SELECT window_start, COUNT(*), 's'
        |FROM TABLE(CUMULATE(TABLE cl_src, DESCRIPTOR(ts), INTERVAL '30' MINUTE, INTERVAL '2' HOUR))
        |GROUP BY window_start""".stripMargin))
    assert(badW.getMessage.contains("windowed streaming deployment"))
    assert(!spark.table("cl_src").isStreaming,
      "guard fired after the source view was stream-bound")
  }

  test("runStreamSet: a statement set starts one streaming query per sink") {
    val dir = tempDir("flink_stream_set")
    Tables.events(spark, TestSpark.sfDir)
      .select("event_id", "user_id", "value", "ts")
      .write.mode("overwrite").parquet(s"$dir/src.parquet")
    val qs = FlinkSql.runStreamSet(spark,
      s"""
         |CREATE TABLE sset_src (
         |  event_id BIGINT, user_id BIGINT, value DOUBLE, ts TIMESTAMP(3),
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem',
         |        'path' = '$dir/src.parquet', 'format' = 'parquet');
         |CREATE TABLE sset_a (event_id BIGINT, v2 DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/a', 'format' = 'parquet');
         |CREATE TABLE sset_b (user_id BIGINT, n BIGINT)
         |WITH ('connector' = 'blackhole');
         |EXECUTE STATEMENT SET
         |BEGIN
         |INSERT INTO sset_a SELECT event_id, value * 2 AS v2 FROM sset_src;
         |INSERT INTO sset_b SELECT user_id, count(*) AS n FROM sset_src GROUP BY user_id;
         |END
         |""".stripMargin)
    assert(qs.size == 2)
    try qs.foreach(_.awaitTermination(120000)) finally qs.foreach(_.stop())
    val want = spark.read.parquet(s"$dir/src.parquet").count()
    assert(want > 0 && spark.read.parquet(s"$dir/a").count() == want)
  }

  test("Flink join hints translate to Spark's join strategy hints") {
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").createOrReplaceTempView("jh_a")
    Seq((1L, 1.5), (2L, 2.5)).toDF("id", "v").createOrReplaceTempView("jh_b")
    def planOf(q: String): String =
      FlinkSql.sql(spark, q).queryExecution.executedPlan.toString
    // SHUFFLE_MERGE → MERGE: forces a sort-merge join where tiny tables
    // would otherwise broadcast
    val merge = planOf("""SELECT /*+ SHUFFLE_MERGE(a) */ a.id, b.v
      |FROM jh_a a JOIN jh_b b ON a.id = b.id""".stripMargin)
    assert(merge.contains("SortMergeJoin"))
    // NEST_LOOP → SHUFFLE_REPLICATE_NL (equi-condition still honored as
    // a nested-loop predicate under the cartesian strategy)
    val nl = planOf("""SELECT /*+ NEST_LOOP(a) */ a.id, b.v
      |FROM jh_a a JOIN jh_b b ON a.id = b.id""".stripMargin)
    assert(nl.contains("CartesianProduct") || nl.contains("BroadcastNestedLoop"))
    // BROADCAST is Spark's own name — passes through
    val bc = planOf("""SELECT /*+ BROADCAST(b) */ a.id, b.v
      |FROM jh_a a JOIN jh_b b ON a.id = b.id""".stripMargin)
    assert(bc.contains("BroadcastHashJoin"))
    // results unaffected by strategy
    assert(FlinkSql.sql(spark, """SELECT /*+ SHUFFLE_MERGE(a) */ count(*) AS n
      |FROM jh_a a JOIN jh_b b ON a.id = b.id""".stripMargin).head().getLong(0) == 2L)
  }

  test("OPTIONS hints strip; PROCTIME() computed columns resolve") {
    // Flink's dynamic table-options hint must not reach Spark's parser
    assert(FlinkSql.sql(spark,
      "SELECT /*+ OPTIONS('scan.startup.mode'='earliest-offset') */ 40 + 2 AS x")
      .head().getInt(0) == 42)
    // Spark's own hints still pass through the same path
    assert(FlinkSql.sql(spark,
      "SELECT /*+ REPARTITION(2) */ 40 + 2 AS x").head().getInt(0) == 42)
    // a proctime attribute column in DDL resolves (processing time ≈
    // query time, the documented delta)
    val dir = tempDir("flink_proctime")
    Tables.orders(spark, TestSpark.sfDir).select("o_orderkey")
      .limit(10).write.mode("overwrite").parquet(s"$dir/o.parquet")
    FlinkSql.sql(spark,
      s"""CREATE TABLE pt_orders (
         |  o_orderkey BIGINT,
         |  p AS PROCTIME()
         |) WITH ('connector' = 'filesystem', 'path' = '$dir/o.parquet',
         |        'format' = 'parquet')""".stripMargin)
    val rows = spark.table("pt_orders").collect()
    assert(rows.length == 10 && rows.forall(!_.isNullAt(1)))
  }

  test("acceptance: one realistic script composes the whole dialect surface") {
    val dir = tempDir("flink_accept")
    Tables.events(spark, TestSpark.sfDir)
      .select("event_id", "user_id", "event_type", "value", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val last = FlinkSql.run(spark,
      s"""
         |-- conf preamble (unknown keys must not fail; ';' in comment ok)
         |SET 'pipeline.name' = 'acceptance';
         |SET 'table.exec.state.ttl' = '1 h';
         |
         |CREATE TABLE acc_events (
         |  event_id BIGINT,
         |  user_id BIGINT,
         |  event_type STRING,
         |  value DOUBLE,
         |  ts TIMESTAMP(3),
         |  seen AS PROCTIME(),
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem',
         |        'path' = '$dir/events.parquet', 'format' = 'parquet');
         |
         |/* CTAS snapshot of per-user view counts */
         |CREATE TABLE acc_user_views
         |WITH ('connector' = 'filesystem', 'path' = '$dir/uv', 'format' = 'parquet')
         |AS SELECT user_id, count(*) AS n_views
         |   FROM acc_events WHERE event_type = 'view' GROUP BY user_id;
         |
         |CREATE TABLE acc_sink (bucket STRING, k BIGINT, n BIGINT)
         |PARTITIONED BY (bucket)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/sink', 'format' = 'parquet');
         |
         |EXECUTE STATEMENT SET
         |BEGIN
         |INSERT INTO acc_sink
         |SELECT CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS bucket,
         |       user_id AS k, n_views AS n
         |FROM acc_user_views;
         |INSERT INTO acc_sink (k, n, bucket)
         |SELECT /*+ OPTIONS('scan.startup.mode'='earliest') */
         |       user_id, count(*), 'click'
         |FROM acc_events WHERE event_type = 'click' GROUP BY user_id;
         |END;
         |
         |-- legacy group window over the watermarked source
         |SELECT TUMBLE_START(ts, INTERVAL '10' MINUTE) AS ws, count(*) AS n
         |FROM acc_events GROUP BY TUMBLE(ts, INTERVAL '10' MINUTE)
         |""".stripMargin)
    assert(last.count() > 0) // window rows
    // both statement-set inserts landed in the partitioned sink
    val sink = spark.table("acc_sink")
    assert(sink.filter(col("bucket") === "click").count() > 0)
    assert(sink.filter(col("bucket").isin("even", "odd")).count() > 0)
    // TRUNCATE empties the table but keeps it insertable; DROP removes it
    FlinkSql.run(spark, "TRUNCATE TABLE acc_sink")
    assert(spark.table("acc_sink").count() == 0)
    FlinkSql.run(spark, "INSERT INTO acc_sink SELECT 'x', 1, 1")
    assert(spark.table("acc_sink").count() == 1)
    FlinkSql.run(spark, "DROP TABLE acc_sink")
    assert(!spark.catalog.tableExists("acc_sink"))
  }

  test("MATCH_RECOGNIZE and FOR SYSTEM_TIME AS OF route through FlinkSql too") {
    import spark.implicits._
    Seq((1L, 1L, "v"), (1L, 2L, "v"), (1L, 3L, "c"), (2L, 4L, "v"))
      .toDF("user_id", "event_id", "sym").createOrReplaceTempView("fs_cep")
    val cep = FlinkSql.sql(spark,
      """SELECT user_id, count(*) AS n
        |FROM fs_cep MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY event_id
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (V V C)
        |  DEFINE V AS sym = 'v', C AS sym = 'c'
        |) AS m
        |GROUP BY user_id""".stripMargin).collect()
    assert(cep.length == 1 && cep(0).getLong(0) == 1L)
    Seq(("A", java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.5))
      .toDF("ccy", "ots", "rate").createOrReplaceTempView("fs_rates")
    Seq((7L, "A", java.sql.Timestamp.valueOf("2024-01-01 12:00:00")))
      .toDF("oid", "ccy", "ots").createOrReplaceTempView("fs_orders")
    val asof = FlinkSql.sql(spark,
      """SELECT o.oid, r.rate FROM fs_orders AS o
        |JOIN fs_rates FOR SYSTEM_TIME AS OF o.ots AS r ON r.ccy = o.ccy""".stripMargin)
      .collect()
    assert(asof.length == 1 && asof(0).getLong(0) == 7L && asof(0).getDouble(1) == 1.5)
  }

  test("CREATE VIEW maps onto session temp views; IF NOT EXISTS keeps the first") {
    import spark.implicits._
    Seq((1L, "a", 2.0), (2L, "b", 4.0), (3L, "a", 6.0))
      .toDF("id", "g", "v").createOrReplaceTempView("cv_src")
    val r = FlinkSql.run(spark,
      """CREATE VIEW cv_agg AS SELECT g, sum(v) AS s FROM cv_src GROUP BY g;
        |SELECT * FROM cv_agg""".stripMargin)
    assert(r.collect().map(x => (x.getString(0), x.getDouble(1))).toSet ==
      Set(("a", 8.0), ("b", 4.0)))
    // OR REPLACE swaps the definition
    FlinkSql.sql(spark, "CREATE OR REPLACE VIEW cv_agg AS SELECT g FROM cv_src")
    assert(spark.table("cv_agg").columns.toSeq == Seq("g"))
    // IF NOT EXISTS keeps the existing definition
    FlinkSql.sql(spark,
      "CREATE VIEW IF NOT EXISTS cv_agg AS SELECT id FROM cv_src")
    assert(spark.table("cv_agg").columns.toSeq == Seq("g"))
    // views drop like temp views
    FlinkSql.sql(spark, "DROP VIEW cv_agg")
    assert(!spark.catalog.tableExists("cv_agg"))
  }

  test("streaming CUMULATE TVF INSERT: per-step emissions equal the batch rewrite") {
    import spark.implicits._
    val dir = tempDir("flink_cum_stream")
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    // span [0,240): rows across three steps; sentinel at 900 drives the
    // final watermark to 895 so every span-0 step closes
    Seq((1L, t(10), "a"), (2L, t(70), "a"), (3L, t(130), "b"),
      (4L, t(150), "a"), (9L, t(900), "zz"))
      .toDF("user_id", "ts", "s").write.mode("append").parquet(s"$dir/cum_src")
    val stmt =
      s"""CREATE TABLE cum_src (
         |  user_id BIGINT, ts TIMESTAMP(3), s STRING,
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem', 'path' = '$dir/cum_src',
         |        'format' = 'parquet');
         |CREATE TABLE cum_sink (ws TIMESTAMP(3), we TIMESTAMP(3), s STRING, n BIGINT)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/cum_sink',
         |      'format' = 'parquet');
         |INSERT INTO cum_sink
         |SELECT window_start, window_end, s, count(*) AS n
         |FROM TABLE(CUMULATE(TABLE cum_src, DESCRIPTOR(ts), INTERVAL '1' MINUTE, INTERVAL '4' MINUTE))
         |GROUP BY window_start, window_end, s""".stripMargin
    val q = FlinkSql.runStream(spark, stmt,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination()
    val got = spark.read.parquet(s"$dir/cum_sink").collect()
      .map(r => (r.getTimestamp(0).getTime / 1000, r.getTimestamp(1).getTime / 1000,
        r.getString(2), r.getLong(3))).toSet
    // batch parity: the same statement's batch rewrite, filtered to the
    // windows the final watermark (max ts - 5s = 895) closed
    val batch = FlinkSql.sql(spark,
      """SELECT window_start, window_end, s, count(*) AS n
        |FROM TABLE(CUMULATE(TABLE cum_src, DESCRIPTOR(ts), INTERVAL '1' MINUTE, INTERVAL '4' MINUTE))
        |GROUP BY window_start, window_end, s""".stripMargin)
      .collect()
      .map(r => (r.getTimestamp(0).getTime / 1000, r.getTimestamp(1).getTime / 1000,
        r.getString(2), r.getLong(3)))
      .filter(_._2 <= 895).toSet
    assert(got == batch && got.nonEmpty, s"streaming $got vs batch $batch")
    // the per-step shape explicitly: expanding windows from the span start
    assert(got == Set(
      (0L, 60L, "a", 1L), (0L, 120L, "a", 2L),
      (0L, 180L, "a", 3L), (0L, 180L, "b", 1L),
      (0L, 240L, "a", 3L), (0L, 240L, "b", 1L)), s"got $got")
  }

  test("streaming CUMULATE INSERT resumes from its checkpoint without duplicate emissions") {
    import spark.implicits._
    val dir = tempDir("flink_cum_resume")
    val ckpt = s"$dir/ckpt"
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    FlinkSql.run(spark,
      s"""CREATE TABLE cumr_src (
         |  user_id BIGINT, ts TIMESTAMP(3), s STRING,
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem', 'path' = '$dir/cumr_src',
         |        'format' = 'parquet');
         |CREATE TABLE cumr_sink (ws TIMESTAMP(3), we TIMESTAMP(3), s STRING, n BIGINT)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/cumr_sink',
         |      'format' = 'parquet')""".stripMargin)
    val ins =
      """INSERT INTO cumr_sink
        |SELECT window_start, window_end, s, count(*) AS n
        |FROM TABLE(CUMULATE(TABLE cumr_src, DESCRIPTOR(ts), INTERVAL '1' MINUTE, INTERVAL '4' MINUTE))
        |GROUP BY window_start, window_end, s""".stripMargin
    // phase A: span-0 rows + a row at 250 (wm 245 closes all of span 0)
    Seq((1L, t(10), "a"), (2L, t(70), "a"), (3L, t(130), "b"),
      (4L, t(150), "a"), (5L, t(250), "c"))
      .toDF("user_id", "ts", "s").write.mode("append").parquet(s"$dir/cumr_src")
    val qa = graft.plans.FlinkDdl.executeInsertStream(spark, ins,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      checkpointDir = Some(ckpt))
    qa.awaitTermination()
    val gotA = spark.read.parquet(s"$dir/cumr_sink").collect()
      .map(r => (r.getTimestamp(0).getTime / 1000, r.getTimestamp(1).getTime / 1000,
        r.getString(2), r.getLong(3))).toSet
    assert(gotA == Set(
      (0L, 60L, "a", 1L), (0L, 120L, "a", 2L),
      (0L, 180L, "a", 3L), (0L, 180L, "b", 1L),
      (0L, 240L, "a", 3L), (0L, 240L, "b", 1L)), s"phase A got $gotA")
    // phase B: new file advances the watermark to 495 — the c-span's four
    // steps close, using the phase-A row from the persisted store; span-0
    // emissions must NOT repeat
    Seq((6L, t(500), "d"))
      .toDF("user_id", "ts", "s").write.mode("append").parquet(s"$dir/cumr_src")
    val qb = graft.plans.FlinkDdl.executeInsertStream(spark, ins,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      checkpointDir = Some(ckpt))
    qb.awaitTermination()
    val all = spark.read.parquet(s"$dir/cumr_sink").collect()
      .map(r => (r.getTimestamp(0).getTime / 1000, r.getTimestamp(1).getTime / 1000,
        r.getString(2), r.getLong(3)))
    assert(all.length == all.toSet.size, s"duplicate emissions: ${all.toSeq.sorted}")
    assert(all.toSet == gotA ++ Set(
      (240L, 300L, "c", 1L), (240L, 360L, "c", 1L),
      (240L, 420L, "c", 1L), (240L, 480L, "c", 1L)), s"got ${all.toSet}")
  }

  test("three-part names: USE CATALOG/DATABASE switch the prefix; qualified refs resolve e2e") {
    val dir = tempDir("flink_ns")
    val last = FlinkSql.run(spark,
      s"""CREATE CATALOG prod WITH ('type' = 'generic_in_memory');
         |CREATE DATABASE prod.sales;
         |USE CATALOG prod;
         |USE sales;
         |CREATE TABLE prod.sales.ns_orders (id BIGINT, amt DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/ns_orders',
         |      'format' = 'parquet');
         |INSERT INTO ns_orders VALUES (1, 10.0), (2, 20.5);
         |SELECT o.id, o.amt FROM prod.sales.ns_orders AS o WHERE o.amt > 15""".stripMargin)
    assert(last.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((2L, 20.5)))
    // two-part reference within the current catalog
    assert(FlinkSql.sql(spark, "SELECT count(*) AS n FROM sales.ns_orders")
      .head().getLong(0) == 2L)
    assert(FlinkSql.sql(spark, "SHOW CURRENT CATALOG").head().getString(0) == "prod")
    assert(FlinkSql.sql(spark, "SHOW CURRENT DATABASE").head().getString(0) == "sales")
    assert(FlinkSql.sql(spark, "SHOW DATABASES").collect().map(_.getString(0)).toSet ==
      Set("default_database", "sales"))
    // SHOW TABLES FROM/IN answers from the namespace bookkeeping; LIKE filters
    assert(FlinkSql.sql(spark, "SHOW TABLES IN sales").collect()
      .map(_.getString(0)).toSeq == Seq("ns_orders"))
    assert(FlinkSql.sql(spark, "SHOW TABLES IN prod.sales LIKE 'ns%'").collect()
      .map(_.getString(0)).toSeq == Seq("ns_orders"))
    assert(FlinkSql.sql(spark, "SHOW TABLES IN sales NOT LIKE 'ns%'").collect().isEmpty)
    assert(FlinkSql.sql(spark, "SHOW TABLES IN default_database").collect()
      .map(_.getString(0)).isEmpty)
    // resolveNames leaves non-namespace dotted chains alone: quoted
    // literals, struct-ish accesses, aliases that are not declared dbs
    val rn = graft.plans.FlinkDdl.resolveNames(spark,
      "SELECT o.amt, 'sales.ns_orders', x.y.z FROM prod.sales.ns_orders AS o")
    assert(rn == "SELECT o.amt, 'sales.ns_orders', x.y.z FROM ns_orders AS o", rn)
    // double-quoted literals are protected too (Spark reads "..." as a string)
    val rn2 = graft.plans.FlinkDdl.resolveNames(spark,
      """SELECT "sales.ns_orders", amt FROM sales.ns_orders""")
    assert(rn2 == """SELECT "sales.ns_orders", amt FROM ns_orders""", rn2)
    // db.tbl.col strips just the declared db
    assert(graft.plans.FlinkDdl.resolveNames(spark,
      "SELECT sales.ns_orders.amt FROM sales.ns_orders")
      == "SELECT ns_orders.amt FROM ns_orders")
    // from another catalog only the full three-part form resolves
    FlinkSql.sql(spark, "USE CATALOG default_catalog")
    assert(FlinkSql.sql(spark, "SELECT sum(amt) AS s FROM prod.sales.ns_orders")
      .head().getDouble(0) == 30.5)
    val eTwo = intercept[Exception](
      FlinkSql.sql(spark, "SELECT 1 FROM sales.ns_orders"))
    assert(eTwo.getMessage.toLowerCase.contains("sales"), eTwo.getMessage)
    // USE of an undeclared namespace fails like Flink
    val eUse = intercept[IllegalArgumentException](FlinkSql.sql(spark, "USE ghost_db"))
    assert(eUse.getMessage.contains("ghost_db"))
    // DROP DATABASE: RESTRICT refuses a non-empty database, CASCADE drops
    FlinkSql.sql(spark, "USE CATALOG prod")
    FlinkSql.sql(spark, "USE default_database")
    val eDrop = intercept[IllegalArgumentException](
      FlinkSql.sql(spark, "DROP DATABASE sales"))
    assert(eDrop.getMessage.contains("ns_orders"), eDrop.getMessage)
    FlinkSql.sql(spark, "DROP DATABASE sales CASCADE")
    assert(graft.plans.FlinkDdl.registered(spark, "ns_orders").isEmpty)
    FlinkSql.sql(spark, "USE CATALOG default_catalog")
    FlinkSql.sql(spark, "DROP CATALOG prod")
    // (other suite tests may have declared their own catalogs in the
    // shared session — assert on ours only)
    val cats = FlinkSql.sql(spark, "SHOW CATALOGS").collect().map(_.getString(0)).toSeq
    assert(cats.head == "default_catalog" && !cats.contains("prod"), cats)
  }

  test("namespace bookkeeping survives the review's failure scenarios") {
    val dir = tempDir("flink_ns2")
    // -- a failed USE cat.db must not half-switch the session
    FlinkSql.run(spark,
      "CREATE CATALOG nsr_cat; CREATE DATABASE nsr_cat.nsr_db")
    val before = graft.plans.FlinkDdl.currentNamespace(spark)
    intercept[IllegalArgumentException](FlinkSql.sql(spark, "USE nsr_cat.ghost"))
    assert(graft.plans.FlinkDdl.currentNamespace(spark) == before)
    // -- a qualified CREATE TABLE books the table under the NAMED db,
    //    not the current one
    FlinkSql.sql(spark,
      s"""CREATE TABLE nsr_cat.nsr_db.nsr_t (id BIGINT)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/t',
         |      'format' = 'parquet')""".stripMargin)
    assert(FlinkSql.sql(spark, "SHOW TABLES IN nsr_cat.nsr_db").collect()
      .map(_.getString(0)).toSeq == Seq("nsr_t"))
    // -- DROP TABLE clears the bookkeeping: RESTRICT drop then succeeds
    FlinkSql.sql(spark, "DROP TABLE nsr_t")
    FlinkSql.sql(spark, "DROP DATABASE nsr_cat.nsr_db") // RESTRICT default
    // -- dropping default_catalog must not brick name resolution
    FlinkSql.sql(spark, "USE CATALOG nsr_cat")
    FlinkSql.sql(spark, "DROP CATALOG default_catalog")
    assert(FlinkSql.sql(spark, "SELECT 1 AS one").head().getInt(0) == 1)
    // restore the shared session's default state
    FlinkSql.sql(spark, "CREATE CATALOG default_catalog")
    FlinkSql.sql(spark, "USE CATALOG default_catalog")
    FlinkSql.sql(spark, "USE default_database")
    FlinkSql.sql(spark, "DROP CATALOG nsr_cat")
  }

  test("ALTER TABLE keeps the full option map (csv delimiter survives ADD COLUMN)") {
    val dir = tempDir("flink_altopt")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/d.csv"), "1|a\n2|b\n")
    FlinkSql.run(spark,
      s"""CREATE TABLE altopt_t (id BIGINT, s STRING)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/d.csv',
         |      'format' = 'csv', 'csv.field-delimiter' = '|')""".stripMargin)
    assert(spark.table("altopt_t").count() == 2)
    FlinkSql.sql(spark, "ALTER TABLE altopt_t ADD extra STRING")
    // the delimiter survived the re-registration: rows still parse as 2 cols
    val got = spark.table("altopt_t").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "b")), got.toString)
    // and a DROP of a column whose NAME is a substring of an expression
    // identifier is not falsely blocked
    FlinkSql.sql(spark, "ALTER TABLE altopt_t ADD (price DOUBLE, i INT)")
    FlinkSql.sql(spark, "ALTER TABLE altopt_t ADD total AS price * 2")
    FlinkSql.sql(spark, "ALTER TABLE altopt_t DROP i") // 'price' contains 'i'
    assert(!spark.table("altopt_t").schema.fieldNames.contains("i"))
    val e = intercept[IllegalArgumentException](
      FlinkSql.sql(spark, "ALTER TABLE altopt_t DROP price"))
    assert(e.getMessage.contains("computed"), e.getMessage)
  }

  test("DROP TEMPORARY VIEW pairs with CREATE TEMPORARY VIEW; IF EXISTS tolerated") {
    import spark.implicits._
    Seq((1L, 2.0)).toDF("id", "v").createOrReplaceTempView("dtv_src")
    // Flink's natural create/drop TEMPORARY pair must survive even though
    // Spark's own grammar has no TEMPORARY in DROP VIEW
    FlinkSql.run(spark,
      """CREATE TEMPORARY VIEW dtv_v AS SELECT id FROM dtv_src;
        |DROP TEMPORARY VIEW dtv_v""".stripMargin)
    assert(!spark.catalog.tableExists("dtv_v"))
    // IF EXISTS on an absent view is a no-op, not an error
    FlinkSql.sql(spark, "DROP TEMPORARY VIEW IF EXISTS dtv_v")
    FlinkSql.sql(spark, "DROP VIEW IF EXISTS dtv_v")
  }

  test("ALTER VIEW: AS replaces the body in place; RENAME TO moves the definition") {
    import spark.implicits._
    Seq(1L, 2L, 3L).toDF("k").createOrReplaceTempView("av_src")
    FlinkSql.run(spark,
      """CREATE VIEW av_v AS SELECT k FROM av_src WHERE k > 1;
        |CREATE VIEW av_dep AS SELECT COUNT(*) AS c FROM av_v""".stripMargin)
    assert(spark.table("av_dep").head().getLong(0) == 2L)
    // AS replaces the body; the dependent view sees the new definition
    FlinkSql.sql(spark, "ALTER VIEW av_v AS SELECT k FROM av_src")
    assert(spark.table("av_v").count() == 3)
    assert(spark.table("av_dep").head().getLong(0) == 3L)
    // in place: registration order (the streaming re-bind order) kept
    val order = graft.plans.FlinkDdl.viewDefs(spark).map(_._1)
      .filter(Set("av_v", "av_dep"))
    assert(order == Seq("av_v", "av_dep"), order.toString)
    // a bad new body leaves the old definition fully intact
    intercept[Exception](FlinkSql.sql(spark, "ALTER VIEW av_v AS SELECT ghost FROM av_src"))
    assert(spark.table("av_v").count() == 3)
    // RENAME TO moves the definition; an alias list survives the move
    FlinkSql.sql(spark, "ALTER VIEW av_v RENAME TO av_v2")
    assert(spark.table("av_v2").count() == 3)
    assert(!spark.catalog.tableExists("av_v"))
    assert(FlinkSql.sql(spark, "SHOW CREATE VIEW av_v2").collect()(0)
      .getString(0).contains("av_v2"))
    FlinkSql.sql(spark, "CREATE VIEW av_al (a) AS SELECT k FROM av_src")
    FlinkSql.sql(spark, "ALTER VIEW av_al RENAME TO av_al2")
    assert(spark.table("av_al2").columns.toSeq == Seq("a"))
    // contract errors: absent view, occupied target
    intercept[IllegalArgumentException](FlinkSql.sql(spark, "ALTER VIEW nope AS SELECT 1"))
    intercept[IllegalArgumentException](
      FlinkSql.sql(spark, "ALTER VIEW nope RENAME TO nope2"))
    intercept[IllegalArgumentException](
      FlinkSql.sql(spark, "ALTER VIEW av_v2 RENAME TO av_al2"))
    FlinkSql.run(spark, "DROP VIEW av_v2; DROP VIEW av_al2; DROP VIEW av_dep")
  }

  test("CREATE VIEW with a column alias list records the bare body") {
    import spark.implicits._
    Seq((1L, 2.0), (2L, 4.0)).toDF("id", "v").createOrReplaceTempView("cvl_src")
    FlinkSql.sql(spark,
      "CREATE VIEW cvl_v (a, b) AS SELECT id, v FROM cvl_src")
    assert(spark.table("cvl_v").columns.toSeq == Seq("a", "b"))
    // the recorded body is the bare SELECT (no leaked "(a, b) AS" prefix)
    val body = graft.plans.FlinkDdl.viewDefs(spark)
      .find(_._1 == "cvl_v").get._3
    assert(body.trim.toUpperCase.startsWith("SELECT"), body)
    // SHOW CREATE VIEW renders valid DDL retaining the alias list
    val ddl = FlinkSql.sql(spark, "SHOW CREATE VIEW cvl_v")
      .collect()(0).getString(0)
    assert(ddl.matches("(?s)CREATE VIEW cvl_v\\s*\\(a,\\s*b\\)\\s*AS\\s+SELECT.*"), ddl)
    // and the rendered DDL round-trips through the dialect
    FlinkSql.sql(spark, "DROP VIEW cvl_v")
    FlinkSql.sql(spark, ddl)
    assert(spark.table("cvl_v").columns.toSeq == Seq("a", "b"))
    FlinkSql.sql(spark, "DROP VIEW cvl_v")
  }

  test("streaming row-time OVER INSERT lowers onto OverOps: stream equals batch") {
    import spark.implicits._
    val dir = tempDir("flink_over_stream")
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    // two keys, out-of-order within the file; sentinel user 9 at 900
    // drives the final watermark to 895 so every real row's timer fires
    Seq((3L, 1L, t(130), 3.0), (1L, 1L, t(10), 1.0), (2L, 1L, t(70), 2.0),
      (4L, 2L, t(40), 10.0), (5L, 2L, t(95), 20.0), (9L, 9L, t(900), 0.0))
      .toDF("event_id", "user_id", "ts", "v")
      .write.mode("append").parquet(s"$dir/over_src")
    val stmt =
      s"""CREATE TABLE over_src (
         |  event_id BIGINT, user_id BIGINT, ts TIMESTAMP(3), v DOUBLE,
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem', 'path' = '$dir/over_src',
         |        'format' = 'parquet');
         |CREATE TABLE over_sink (event_id BIGINT, user_id BIGINT,
         |                        sum_1m DOUBLE, n_1m BIGINT, sd_1m DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/over_sink',
         |      'format' = 'parquet');
         |INSERT INTO over_sink
         |SELECT event_id, user_id, round(sum(v) OVER w, 2) AS sum_1m,
         |       count(*) OVER w AS n_1m,
         |       round(stddev_pop(v) OVER w, 4) AS sd_1m
         |FROM over_src
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts
         |             RANGE BETWEEN INTERVAL '1' MINUTE PRECEDING AND CURRENT ROW)""".stripMargin
    val q = FlinkSql.runStream(spark, stmt,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination()
    val got = spark.read.parquet(s"$dir/over_sink").collect()
      .filter(_.getLong(1) != 9L)
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4))).toSet
    // batch oracle: the SAME statement text over the batch read (q83's
    // class); the sentinel key is excluded on both sides
    val batch = FlinkSql.sql(spark,
      """SELECT event_id, user_id, round(sum(v) OVER w, 2) AS sum_1m,
        |       count(*) OVER w AS n_1m,
        |       round(stddev_pop(v) OVER w, 4) AS sd_1m
        |FROM over_src
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             RANGE BETWEEN INTERVAL '1' MINUTE PRECEDING AND CURRENT ROW)""".stripMargin)
      .collect().filter(_.getLong(1) != 9L)
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4))).toSet
    assert(got == batch && got.nonEmpty, s"stream $got vs batch $batch")
    // pin the frame shape: user 1 @130 sees 70+130 (10 fell out of the 1m
    // range), user 2 @95 sees 40+95 — stddev_pop of {2,3} = 0.5, {10,20} = 5
    assert(got.contains((3L, 1L, 5.0, 2L, 0.5)) &&
      got.contains((5L, 2L, 30.0, 2L, 5.0)), got.toString)
    FlinkSql.run(spark, "DROP TABLE over_src; DROP TABLE over_sink")
  }

  test("streaming ROWS-bounded OVER INSERT resumes from its checkpoint without duplicates") {
    import spark.implicits._
    val dir = tempDir("flink_over_resume")
    val ckpt = s"$dir/ckpt"
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    FlinkSql.run(spark,
      s"""CREATE TABLE ovr_src (
         |  event_id BIGINT, user_id BIGINT, ts TIMESTAMP(3), v DOUBLE,
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem', 'path' = '$dir/ovr_src',
         |        'format' = 'parquet');
         |CREATE TABLE ovr_sink (event_id BIGINT, user_id BIGINT,
         |                       sum_2r DOUBLE, n_2r BIGINT)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/ovr_sink',
         |      'format' = 'parquet')""".stripMargin)
    val ins =
      """INSERT INTO ovr_sink
        |SELECT event_id, user_id,
        |  sum(v) OVER (PARTITION BY user_id ORDER BY ts
        |               ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS sum_2r,
        |  count(*) OVER (PARTITION BY user_id ORDER BY ts
        |                 ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS n_2r
        |FROM ovr_src""".stripMargin
    // phase A: two rows + a row at 100 (wm 95 emits both)
    Seq((1L, 1L, t(10), 1.0), (2L, 1L, t(30), 2.0), (3L, 1L, t(100), 4.0))
      .toDF("event_id", "user_id", "ts", "v")
      .write.mode("append").parquet(s"$dir/ovr_src")
    val qa = graft.plans.FlinkDdl.executeInsertStream(spark, ins,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      checkpointDir = Some(ckpt))
    qa.awaitTermination()
    val gotA = spark.read.parquet(s"$dir/ovr_sink").collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getLong(3))).toSet
    assert(gotA == Set((1L, 1.0, 1L), (2L, 3.0, 2L)), s"phase A got $gotA")
    // phase B: a later file advances the watermark past 100; the trailing
    // ROWS frame must span the RESTART (row 3's frame holds phase-A row 2
    // from the persisted store) and phase-A emissions must not repeat
    Seq((6L, 1L, t(500), 8.0))
      .toDF("event_id", "user_id", "ts", "v")
      .write.mode("append").parquet(s"$dir/ovr_src")
    val qb = graft.plans.FlinkDdl.executeInsertStream(spark, ins,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      checkpointDir = Some(ckpt))
    qb.awaitTermination()
    val all = spark.read.parquet(s"$dir/ovr_sink").collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getLong(3)))
    assert(all.length == all.toSet.size, s"duplicate emissions: ${all.toSeq.sorted}")
    assert(all.toSet == gotA + ((3L, 6.0, 2L)), s"got ${all.toSet}")
    FlinkSql.run(spark, "DROP TABLE ovr_src; DROP TABLE ovr_sink")
  }

  test("streaming unbounded-rows OVER INSERT: AVG + ROW_NUMBER running frame") {
    import spark.implicits._
    val dir = tempDir("flink_over_run")
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    Seq((2L, 1L, t(30), 4.0), (1L, 1L, t(10), 2.0), (3L, 1L, t(60), 6.0),
      (9L, 9L, t(900), 0.0))
      .toDF("event_id", "user_id", "ts", "v")
      .write.mode("append").parquet(s"$dir/orun_src")
    FlinkSql.run(spark,
      s"""CREATE TABLE orun_src (
         |  event_id BIGINT, user_id BIGINT, ts TIMESTAMP(3), v DOUBLE,
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem', 'path' = '$dir/orun_src',
         |        'format' = 'parquet');
         |CREATE TABLE orun_sink (event_id BIGINT, avg_v DOUBLE, rn BIGINT)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/orun_sink',
         |      'format' = 'parquet')""".stripMargin)
    val q = graft.plans.FlinkDdl.executeInsertStream(spark,
      """INSERT INTO orun_sink
        |SELECT event_id,
        |  avg(v) OVER (PARTITION BY user_id ORDER BY ts
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_v,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rn
        |FROM orun_src""".stripMargin,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination()
    val got = spark.read.parquet(s"$dir/orun_sink").collect()
      .filter(_.getLong(0) != 9L)
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2.0, 1L), (2L, 3.0, 2L), (3L, 4.0, 3L)), got.toString)
    FlinkSql.run(spark, "DROP TABLE orun_src; DROP TABLE orun_sink")
  }

  test("streaming OVER MIN/MAX/FIRST/LAST with a composite string+bigint partition key: stream equals batch") {
    import spark.implicits._
    val dir = tempDir("flink_over_mm")
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    Seq(
      ("a", 1L, 1L, t(10), 5.0),
      ("a", 1L, 2L, t(30), 1.0),
      ("a", 1L, 3L, t(50), 3.0),
      ("b", 1L, 4L, t(20), 7.0), // same user, different group → own frames
      ("a", 2L, 5L, t(40), 2.0),
      ("z", 9L, 9L, t(900), 0.0)) // sentinel advances the watermark
      .toDF("grp", "user_id", "event_id", "ts", "v")
      .write.mode("append").parquet(s"$dir/omm_src")
    FlinkSql.run(spark,
      s"""CREATE TABLE omm_src (
         |  grp STRING, user_id BIGINT, event_id BIGINT, ts TIMESTAMP(3), v DOUBLE,
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem', 'path' = '$dir/omm_src',
         |        'format' = 'parquet');
         |CREATE TABLE omm_sink (grp STRING, user_id BIGINT, event_id BIGINT,
         |                       mn DOUBLE, mx DOUBLE, fv DOUBLE, lv DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/omm_sink',
         |      'format' = 'parquet')""".stripMargin)
    val sel =
      """SELECT grp, user_id, event_id,
        |  min(v) OVER w AS mn, max(v) OVER w AS mx,
        |  first_value(v) OVER w AS fv, last_value(v) OVER w AS lv
        |FROM omm_src
        |WINDOW w AS (PARTITION BY grp, user_id ORDER BY ts
        |             ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)""".stripMargin
    val q = FlinkSql.runStream(spark, s"INSERT INTO omm_sink $sel",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination()
    def tup(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1),
      r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))
    val got = spark.read.parquet(s"$dir/omm_sink").collect()
      .filter(_.getString(0) != "z").map(tup).toSet
    val batch = FlinkSql.sql(spark, sel).collect()
      .filter(_.getString(0) != "z").map(tup).toSet
    assert(got == batch && got.nonEmpty, s"stream $got vs batch $batch")
    // pin a frame: (a,1) event 3's trailing-2 frame is {1.0, 3.0} →
    // mn 1, mx 3, first 1, last 3; group b is untouched by user 1's rows
    assert(got.contains(("a", 1L, 3L, 1.0, 3.0, 1.0, 3.0)), got.toString)
    assert(got.contains(("b", 1L, 4L, 7.0, 7.0, 7.0, 7.0)), got.toString)
    FlinkSql.run(spark, "DROP TABLE omm_src; DROP TABLE omm_sink")
  }

  test("streaming OVER with per-aggregate value columns: stream equals batch") {
    import spark.implicits._
    val dir = tempDir("flink_over_mv")
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    Seq(
      (1L, 1L, t(10), 2.0, 50.0),
      (2L, 1L, t(30), 6.0, 10.0),
      (3L, 1L, t(50), 4.0, 30.0),
      (9L, 9L, t(900), 0.0, 0.0)) // sentinel
      .toDF("event_id", "user_id", "ts", "v", "w")
      .write.mode("append").parquet(s"$dir/omv_src")
    FlinkSql.run(spark,
      s"""CREATE TABLE omv_src (
         |  event_id BIGINT, user_id BIGINT, ts TIMESTAMP(3), v DOUBLE, w DOUBLE,
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem', 'path' = '$dir/omv_src',
         |        'format' = 'parquet');
         |CREATE TABLE omv_sink (event_id BIGINT, sum_v DOUBLE, max_w DOUBLE,
         |                       first_w DOUBLE, avg_v DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/omv_sink',
         |      'format' = 'parquet')""".stripMargin)
    // Flink's real generality: each aggregate names its OWN column
    val sel =
      """SELECT event_id,
        |  sum(v) OVER wd AS sum_v, max(w) OVER wd AS max_w,
        |  first_value(w) OVER wd AS first_w, avg(v) OVER wd AS avg_v
        |FROM omv_src
        |WINDOW wd AS (PARTITION BY user_id ORDER BY ts
        |              ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)""".stripMargin
    val q = FlinkSql.runStream(spark, s"INSERT INTO omv_sink $sel",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination()
    def tup(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getDouble(1),
      r.getDouble(2), r.getDouble(3), r.getDouble(4))
    val got = spark.read.parquet(s"$dir/omv_sink").collect()
      .filter(_.getLong(0) != 9L).map(tup).toSet
    val batch = FlinkSql.sql(spark, sel).collect()
      .filter(_.getLong(0) != 9L).map(tup).toSet
    assert(got == batch && got.nonEmpty, s"stream $got vs batch $batch")
    // event 3's trailing-2 frame is rows {2, 3}: sum_v 10, max_w 30,
    // first_w 10 (row 2 is the frame's first), avg_v 5
    assert(got.contains((3L, 10.0, 30.0, 10.0, 5.0)), got.toString)
    FlinkSql.run(spark, "DROP TABLE omv_src; DROP TABLE omv_sink")
  }

  test("streaming OVER: LAG + RANGE-UNBOUNDED peer frames with tied rowtimes, stream equals batch") {
    import spark.implicits._
    val dir = tempDir("flink_over_lag")
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    // user 1 has TIED rowtimes at t=20 (events 2 and 3): under RANGE
    // UNBOUNDED both are peers and share one frame that includes both
    Seq((1L, 1L, t(10), 1.0), (2L, 1L, t(20), 2.0), (3L, 1L, t(20), 4.0),
      (4L, 1L, t(30), 8.0), (5L, 2L, t(15), 10.0), (6L, 2L, t(25), 20.0),
      (9L, 9L, t(900), 0.0))
      .toDF("event_id", "user_id", "ts", "v")
      .write.mode("append").parquet(s"$dir/lag_src")
    val sel =
      """SELECT event_id, user_id, round(sum(v) OVER w, 2) AS run_sum,
        |       lag(v) OVER w AS prev_v, lag(v, 2) OVER w AS prev2_v
        |FROM lag_src
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin
    val stmt =
      s"""CREATE TABLE lag_src (
         |  event_id BIGINT, user_id BIGINT, ts TIMESTAMP(3), v DOUBLE,
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem', 'path' = '$dir/lag_src',
         |        'format' = 'parquet');
         |CREATE TABLE lag_sink (event_id BIGINT, user_id BIGINT,
         |                       run_sum DOUBLE, prev_v DOUBLE, prev2_v DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/lag_sink',
         |      'format' = 'parquet');
         |INSERT INTO lag_sink
         |$sel""".stripMargin
    val q = FlinkSql.runStream(spark, stmt,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination()
    def row(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) null else r.getDouble(3),
        if (r.isNullAt(4)) null else r.getDouble(4))
    val got = spark.read.parquet(s"$dir/lag_sink").collect()
      .filter(_.getLong(1) != 9L).map(row).toSet
    // batch oracle: SAME statement text over the batch read — Spark's
    // batch lag with the (ts, id) tie order the kernel uses; the batch
    // window must spell the id tiebreak to be deterministic on the tie,
    // so the comparison uses ORDER BY ts, event_id for lag and the RANGE
    // peer frame for the running sum (Flink's own tie rule: input order)
    val batch = FlinkSql.sql(spark,
      """SELECT event_id, user_id, round(sum(v) OVER w, 2) AS run_sum,
        |       lag(v) OVER w2 AS prev_v, lag(v, 2) OVER w2 AS prev2_v
        |FROM lag_src
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |       w2 AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin)
      .collect().filter(_.getLong(1) != 9L).map(row).toSet
    assert(got == batch && got.nonEmpty, s"stream $got vs batch $batch")
    // pin the peer semantics: tied events 2 and 3 SHARE run_sum = 1+2+4,
    // while LAG stays row-based across the tie (3 sees 2's value)
    assert(got.contains((2L, 1L, 7.0, 1.0, null)), got.toString)
    assert(got.contains((3L, 1L, 7.0, 2.0, 1.0)), got.toString)
    assert(got.contains((4L, 1L, 15.0, 4.0, 2.0)), got.toString)
    // LAG also rides the BOUNDED kernels (offset functions ignore the
    // frame): ROWS 1 PRECEDING sum alongside lag(v) — stream ≡ batch
    FlinkSql.run(spark,
      s"""CREATE TABLE lagb_sink (event_id BIGINT, user_id BIGINT,
         |                        s2 DOUBLE, prev_v DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/lagb_sink',
         |      'format' = 'parquet')""".stripMargin)
    FlinkSql.runStream(spark,
      """INSERT INTO lagb_sink
        |SELECT event_id, user_id, sum(v) OVER w AS s2, lag(v) OVER w AS prev_v
        |FROM lag_src
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)""".stripMargin,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .awaitTermination()
    val gotB = spark.read.parquet(s"$dir/lagb_sink").collect()
      .filter(_.getLong(1) != 9L)
      .map(r => (r.getLong(0), r.getDouble(2),
        if (r.isNullAt(3)) null else r.getDouble(3))).toSet
    val batchB = FlinkSql.sql(spark,
      """SELECT event_id, round(sum(v) OVER w, 2) AS s2, lag(v) OVER w2 AS prev_v
        |FROM lag_src
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 1 PRECEDING AND CURRENT ROW),
        |       w2 AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin)
      .collect().filter(_.getLong(0) != 9L)
      .map(r => (r.getLong(0), r.getDouble(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    assert(gotB == batchB && gotB.nonEmpty, s"stream $gotB vs batch $batchB")
    FlinkSql.run(spark,
      "DROP TABLE lag_src; DROP TABLE lag_sink; DROP TABLE lagb_sink")
  }

  test("streaming OVER: SUM/COUNT/AVG DISTINCT running aggregates over the unbounded frame") {
    import spark.implicits._
    val dir = tempDir("flink_over_dist")
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    // user 1 sees v = 2, 2, 5, 2 — distinct state must count 2 once
    Seq((1L, 1L, t(10), 2.0), (2L, 1L, t(20), 2.0), (3L, 1L, t(30), 5.0),
      (4L, 1L, t(40), 2.0), (9L, 9L, t(900), 0.0))
      .toDF("event_id", "user_id", "ts", "v")
      .write.mode("append").parquet(s"$dir/dist_src")
    FlinkSql.runStream(spark,
      s"""CREATE TABLE dist_src (
         |  event_id BIGINT, user_id BIGINT, ts TIMESTAMP(3), v DOUBLE,
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem', 'path' = '$dir/dist_src',
         |        'format' = 'parquet');
         |CREATE TABLE dist_sink (event_id BIGINT, ds DOUBLE, dc BIGINT,
         |                        da DOUBLE, s DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/dist_sink',
         |      'format' = 'parquet');
         |INSERT INTO dist_sink
         |SELECT event_id, sum(DISTINCT v) OVER w AS ds,
         |       count(DISTINCT v) OVER w AS dc, avg(DISTINCT v) OVER w AS da,
         |       sum(v) OVER w AS s
         |FROM dist_src
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .awaitTermination()
    val got = spark.read.parquet(s"$dir/dist_sink").collect()
      .filter(_.getLong(0) != 9L)
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toSet
    // Spark's BATCH planner rejects DISTINCT window aggregates, so the
    // oracle is the hand expansion: distinct-sum/count/avg vs plain sum
    assert(got == Set(
      (1L, 2.0, 1L, 2.0, 2.0),
      (2L, 2.0, 1L, 2.0, 4.0),   // duplicate 2.0: distinct state unchanged
      (3L, 7.0, 2L, 3.5, 9.0),
      (4L, 7.0, 2L, 3.5, 11.0)), got.toString)
    // bounded frames: DISTINCT folds over the retained frame rows (the
    // kernels' state shape already), so v = 2,2,5,2 with a 3-row frame
    // counts the duplicate 2.0 once per frame
    FlinkSql.runStream(spark,
      s"""CREATE TABLE distb_sink (event_id BIGINT, ds DOUBLE, dc BIGINT,
         |                         da DOUBLE, s DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/distb_sink',
         |      'format' = 'parquet');
         |INSERT INTO distb_sink
         |SELECT event_id, sum(DISTINCT v) OVER w AS ds,
         |       count(DISTINCT v) OVER w AS dc, avg(DISTINCT v) OVER w AS da,
         |       sum(v) OVER w AS s
         |FROM dist_src
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts
         |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .awaitTermination()
    val gotB = spark.read.parquet(s"$dir/distb_sink").collect()
      .filter(_.getLong(0) != 9L)
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toSet
    assert(gotB == Set(
      (1L, 2.0, 1L, 2.0, 2.0),   // frame {2}
      (2L, 2.0, 1L, 2.0, 4.0),   // frame {2,2}: duplicate counted once
      (3L, 7.0, 2L, 3.5, 9.0),   // frame {2,2,5}
      (4L, 7.0, 2L, 3.5, 9.0)),  // frame {2,5,2}: the first 2 evicted, later 2 remains
      gotB.toString)
    // variance-family DISTINCT on a RANGE-bounded frame with an
    // evicted-then-repeated value (rows at 10/20/30/40s, 15s range):
    // event 4's frame is {30s:5, 40s:2} — the 10s duplicate 2 was
    // EVICTED, so the later 2 must re-enter the distinct fold exactly
    // once (the live-frame fold, not a first-sight-only seen set)
    FlinkSql.runStream(spark,
      s"""CREATE TABLE distv_sink (event_id BIGINT, dv DOUBLE, dsd DOUBLE,
         |                         ds DOUBLE, dc BIGINT)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/distv_sink',
         |      'format' = 'parquet');
         |INSERT INTO distv_sink
         |SELECT event_id, var_pop(DISTINCT v) OVER w AS dv,
         |       stddev_pop(DISTINCT v) OVER w AS dsd,
         |       sum(DISTINCT v) OVER w AS ds, count(DISTINCT v) OVER w AS dc
         |FROM dist_src
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts
         |             RANGE BETWEEN INTERVAL '15' SECOND PRECEDING AND CURRENT ROW)""".stripMargin,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .awaitTermination()
    val gotV = spark.read.parquet(s"$dir/distv_sink").collect()
      .filter(_.getLong(0) != 9L)
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4))).toSet
    assert(gotV == Set(
      (1L, 0.0, 0.0, 2.0, 1L),      // frame {2}
      (2L, 0.0, 0.0, 2.0, 1L),      // frame {2,2}: distinct {2}
      (3L, 2.25, 1.5, 7.0, 2L),     // frame {2,5}: var_pop = ((2-3.5)²+(5-3.5)²)/2
      (4L, 2.25, 1.5, 7.0, 2L)),    // frame {5,2}: first 2 evicted, repeat re-counted
      gotV.toString)
    // and on the UNBOUNDED frame (per-key distinct-value state): event
    // 4's duplicate 2 does NOT change the distinct variance
    FlinkSql.runStream(spark,
      s"""CREATE TABLE distu_sink (event_id BIGINT, dv DOUBLE, dvs DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/distu_sink',
         |      'format' = 'parquet');
         |INSERT INTO distu_sink
         |SELECT event_id, var_pop(DISTINCT v) OVER w AS dv,
         |       variance(DISTINCT v) OVER w AS dvs
         |FROM dist_src
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .awaitTermination()
    val gotU = spark.read.parquet(s"$dir/distu_sink").collect()
      .filter(_.getLong(0) != 9L)
      .map(r => (r.getLong(0), r.getDouble(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toSet
    assert(gotU == Set(
      (1L, 0.0, -1.0),              // {2}: VAR_SAMP of 1 distinct value is NULL
      (2L, 0.0, -1.0),              // {2,2}: distinct {2} — still 1 value
      (3L, 2.25, 4.5),              // {2,5}: var_samp = 2·var_pop for n=2
      (4L, 2.25, 4.5)),             // duplicate 2: distinct set unchanged
      gotU.toString)
    FlinkSql.run(spark, "DROP TABLE dist_src; DROP TABLE dist_sink; " +
      "DROP TABLE distb_sink; DROP TABLE distv_sink; DROP TABLE distu_sink")
  }

  test("streaming OVER: SQL NULL semantics — null values skip aggregates, stream equals batch") {
    import spark.implicits._
    // a NULL in a value column used to kill the query with the
    // encoder's NOT_NULL assert; now nulls ride a parallel mask and the
    // kernels implement exact SQL semantics: SUM/AVG/MIN/MAX/variance
    // skip them (NULL over an all-null frame), COUNT(col) counts
    // non-null, FIRST/LAST_VALUE and LAG are RESPECT NULLS
    val dir = tempDir("flink_over_null")
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    // user 1: v = 2, NULL, 5, NULL, 2 — first row non-null, later nulls
    // interleave; user 2 starts WITH a null (first_value must be NULL)
    Seq((1L, 1L, t(10), Some(2.0)), (2L, 1L, t(20), None),
      (3L, 1L, t(30), Some(5.0)), (4L, 1L, t(40), None),
      (5L, 1L, t(50), Some(2.0)),
      (6L, 2L, t(10), None), (7L, 2L, t(20), Some(7.0)),
      (9L, 9L, t(900), Some(0.0)))
      .toDF("event_id", "user_id", "ts", "v")
      .write.mode("append").parquet(s"$dir/nul_src")
    FlinkSql.run(spark,
      s"""CREATE TABLE nul_src (
         |  event_id BIGINT, user_id BIGINT, ts TIMESTAMP(3), v DOUBLE,
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem', 'path' = '$dir/nul_src',
         |        'format' = 'parquet');
         |CREATE TABLE nul_sink (event_id BIGINT, s DOUBLE, a DOUBLE,
         |  cs BIGINT, c BIGINT, mn DOUBLE, mx DOUBLE, fv DOUBLE, lv DOUBLE,
         |  lg DOUBLE, sd DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/nul_sink',
         |      'format' = 'parquet')""".stripMargin)
    val sel =
      """SELECT event_id, sum(v) OVER w AS s, avg(v) OVER w AS a,
        |  count(v) OVER w AS cs, count(*) OVER w AS c,
        |  min(v) OVER w AS mn, max(v) OVER w AS mx,
        |  first_value(v) OVER w AS fv, last_value(v) OVER w AS lv,
        |  lag(v) OVER w AS lg, stddev_pop(v) OVER w AS sd
        |FROM nul_src
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin
    FlinkSql.runStream(spark, s"INSERT INTO nul_sink $sel",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .awaitTermination()
    def shape(df: org.apache.spark.sql.DataFrame) = df.collect()
      .filter(r => r.getLong(0) != 9L)
      .map { r =>
        def d(i: Int) = if (r.isNullAt(i)) None
          else Some(BigDecimal(r.getDouble(i)).setScale(6, BigDecimal.RoundingMode.HALF_UP))
        (r.getLong(0), d(1), d(2), r.getLong(3), r.getLong(4), d(5), d(6),
          d(7), d(8), d(9), d(10))
      }.toSet
    val got = shape(spark.read.parquet(s"$dir/nul_sink"))
    // batch Spark implements exact SQL null semantics — the oracle.
    // Batch-side syntactic delta: Spark's batch planner rejects LAG
    // with an explicit frame (offset functions are frameless there),
    // so the oracle text gives LAG its own frameless window
    val want = shape(FlinkSql.sql(spark, sel.replace("lag(v) OVER w",
      "lag(v) OVER (PARTITION BY user_id ORDER BY ts, event_id)")))
    assert(got == want && got.nonEmpty,
      s"null semantics stream vs batch:\n  stream-only=${(got -- want).take(3)}" +
        s"\n  batch-only=${(want -- got).take(3)}")
    // pin the load-bearing rows: user 2's first row is NULL — FIRST_VALUE
    // NULL forever (RESPECT NULLS), COUNT(v)=0 vs COUNT(*)=1, SUM NULL;
    // user 1 event 2: LAG(v) = 2.0, LAST_VALUE = NULL
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(6L)._2.isEmpty && byId(6L)._4 == 0L && byId(6L)._5 == 1L &&
      byId(6L)._8.isEmpty, s"all-null frame row: ${byId(6L)}")
    assert(byId(7L)._8.isEmpty && byId(7L)._2.contains(BigDecimal(7.0).setScale(6)),
      s"user 2 keeps the NULL first_value: ${byId(7L)}")
    assert(byId(2L)._9.isEmpty && byId(2L)._10.contains(BigDecimal(2.0).setScale(6)),
      s"event 2: last_value NULL, lag 2.0: ${byId(2L)}")
    assert(byId(3L)._10.isEmpty, s"event 3's lag is the NULL row: ${byId(3L)}")
    // bounded ROWS frame: same statement, 1 PRECEDING — eviction of a
    // null and an all-null frame are both exercised
    FlinkSql.run(spark,
      s"""CREATE TABLE nul_sink2 (event_id BIGINT, s DOUBLE, cs BIGINT,
         |  mn DOUBLE, sd DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/nul_sink2',
         |      'format' = 'parquet')""".stripMargin)
    val sel2 =
      """SELECT event_id, sum(v) OVER w AS s, count(v) OVER w AS cs,
        |  min(v) OVER w AS mn, stddev_pop(v) OVER w AS sd
        |FROM nul_src
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)""".stripMargin
    FlinkSql.runStream(spark, s"INSERT INTO nul_sink2 $sel2",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .awaitTermination()
    def shape2(df: org.apache.spark.sql.DataFrame) = df.collect()
      .filter(r => r.getLong(0) != 9L)
      .map { r =>
        def d(i: Int) = if (r.isNullAt(i)) None
          else Some(BigDecimal(r.getDouble(i)).setScale(6, BigDecimal.RoundingMode.HALF_UP))
        (r.getLong(0), d(1), r.getLong(2), d(3), d(4))
      }.toSet
    val got2 = shape2(spark.read.parquet(s"$dir/nul_sink2"))
    val want2 = shape2(FlinkSql.sql(spark, sel2))
    assert(got2 == want2 && got2.nonEmpty,
      s"bounded null semantics stream vs batch:\n  stream-only=${(got2 -- want2).take(3)}" +
        s"\n  batch-only=${(want2 -- got2).take(3)}")
    // event 4's frame is {NULL(3? no: 3=5.0), NULL} — frame {5.0, NULL}:
    // cs=1; event 6's frame is {NULL}: SUM/MIN/SD all NULL, cs=0
    val byId2 = got2.map(r => r._1 -> r).toMap
    assert(byId2(6L)._2.isEmpty && byId2(6L)._3 == 0L && byId2(6L)._4.isEmpty,
      s"all-null bounded frame: ${byId2(6L)}")
    // DISTINCT with nulls: batch Spark rejects DISTINCT window aggs, so
    // hand oracle — user 1 values 2, NULL, 5, NULL, 2 → distinct {2, 5}
    FlinkSql.runStream(spark,
      s"""CREATE TABLE nul_sink3 (event_id BIGINT, ds DOUBLE, dc BIGINT)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/nul_sink3',
         |      'format' = 'parquet');
         |INSERT INTO nul_sink3
         |SELECT event_id, sum(DISTINCT v) OVER w AS ds,
         |       count(DISTINCT v) OVER w AS dc
         |FROM nul_src
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .awaitTermination()
    val got3 = spark.read.parquet(s"$dir/nul_sink3").collect()
      .filter(_.getLong(0) != 9L)
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1.0 else r.getDouble(1), r.getLong(2))).toSet
    assert(got3 == Set(
      (1L, 2.0, 1L), (2L, 2.0, 1L),   // the NULL joins no distinct set
      (3L, 7.0, 2L), (4L, 7.0, 2L), (5L, 7.0, 2L),
      (6L, -1.0, 0L),                  // all-null: SUM DISTINCT is NULL
      (7L, 7.0, 1L)), got3.toString)
    FlinkSql.run(spark, "DROP TABLE nul_src; DROP TABLE nul_sink; " +
      "DROP TABLE nul_sink2; DROP TABLE nul_sink3")
  }

  test("streaming OVER: string FIRST_VALUE/LAST_VALUE/LAG ride the string slot vector, stream equals batch") {
    import spark.implicits._
    // strings were a typed rejection ("keep the batch path"); they now
    // ride a separate native-null string vector next to the numeric
    // slots, so mixed statements (SUM over a double + LAG over a
    // status string) deploy in one window
    val dir = tempDir("flink_over_str")
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    Seq((1L, 1L, t(10), Some("new"), 1.0), (2L, 1L, t(20), None, 2.0),
      (3L, 1L, t(30), Some("paid"), 4.0), (4L, 1L, t(40), Some("shipped"), 8.0),
      (9L, 9L, t(900), Some("x"), 0.0))
      .toDF("event_id", "user_id", "ts", "status", "v")
      .write.mode("append").parquet(s"$dir/str_src")
    FlinkSql.run(spark,
      s"""CREATE TABLE str_src (
         |  event_id BIGINT, user_id BIGINT, ts TIMESTAMP(3),
         |  status STRING, v DOUBLE,
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem', 'path' = '$dir/str_src',
         |        'format' = 'parquet');
         |CREATE TABLE str_sink (event_id BIGINT, fs STRING, ls STRING,
         |  pg STRING, mns STRING, mxs STRING, s DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/str_sink',
         |      'format' = 'parquet')""".stripMargin)
    val sel =
      """SELECT event_id, first_value(status) OVER w AS fs,
        |  last_value(status) OVER w AS ls, lag(status) OVER w AS pg,
        |  min(status) OVER w AS mns, max(status) OVER w AS mxs,
        |  sum(v) OVER w AS s
        |FROM str_src
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)""".stripMargin
    FlinkSql.runStream(spark, s"INSERT INTO str_sink $sel",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .awaitTermination()
    def shape(df: org.apache.spark.sql.DataFrame) = df.collect()
      .filter(_.getLong(0) != 9L)
      .map(r => (r.getLong(0), Option(r.getString(1)), Option(r.getString(2)),
        Option(r.getString(3)), Option(r.getString(4)), Option(r.getString(5)),
        r.getDouble(6))).toSet
    val got = shape(spark.read.parquet(s"$dir/str_sink"))
    val want = shape(FlinkSql.sql(spark, sel.replace("lag(status) OVER w",
      "lag(status) OVER (PARTITION BY user_id ORDER BY ts, event_id)")))
    assert(got == want && got.nonEmpty,
      s"string slots stream vs batch: stream-only=${(got -- want).take(3)} " +
        s"batch-only=${(want -- got).take(3)}")
    // RESPECT NULLS through the string slot: event 2's status is NULL —
    // its last_value is NULL, event 3's lag is NULL, and event 2's
    // frame-first is "new" while its lag reads event 1's "new".
    // MIN/MAX(string) skip the NULL: event 2's frame {new, NULL} reads
    // min=max="new"; event 4's frame {paid, shipped} orders by UTF-8
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(2L)._3.isEmpty && byId(2L)._2.contains("new") &&
      byId(2L)._4.contains("new"), byId(2L).toString)
    assert(byId(2L)._5.contains("new") && byId(2L)._6.contains("new"),
      byId(2L).toString)
    assert(byId(3L)._4.isEmpty && byId(3L)._3.contains("paid"), byId(3L).toString)
    assert(byId(3L)._5.contains("paid") && byId(3L)._6.contains("paid"),
      s"event 3's frame {NULL, paid}: ${byId(3L)}")
    assert(byId(4L)._2.contains("paid") && byId(4L)._4.contains("paid"),
      byId(4L).toString)
    assert(byId(4L)._5.contains("paid") && byId(4L)._6.contains("shipped"),
      byId(4L).toString)
    FlinkSql.run(spark, "DROP TABLE str_src; DROP TABLE str_sink")
  }

  test("streaming OVER: COUNT over a STRING column counts non-nulls, stream equals batch") {
    import spark.implicits._
    // COUNT(string_col) never decodes the value — the string rides the
    // numeric slot's NULL MASK with value 0.0; arithmetic aggregates
    // over strings and COUNT(DISTINCT string) stay typed rejections
    val dir = tempDir("flink_over_cnts")
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    Seq((1L, 1L, t(10), Some("new"), 1.0), (2L, 1L, t(20), None, 2.0),
      (3L, 1L, t(30), Some("paid"), 4.0), (4L, 1L, t(40), None, 8.0),
      (9L, 9L, t(900), Some("x"), 0.0))
      .toDF("event_id", "user_id", "ts", "status", "v")
      .write.mode("append").parquet(s"$dir/cnt_src")
    FlinkSql.run(spark,
      s"""CREATE TABLE cnt_src (
         |  event_id BIGINT, user_id BIGINT, ts TIMESTAMP(3),
         |  status STRING, v DOUBLE,
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem', 'path' = '$dir/cnt_src',
         |        'format' = 'parquet');
         |CREATE TABLE cnt_sink (event_id BIGINT, cs BIGINT, cq BIGINT,
         |  s DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/cnt_sink',
         |      'format' = 'parquet')""".stripMargin)
    val sel =
      """SELECT event_id, count(status) OVER w AS cs,
        |  count(*) OVER w AS cq, sum(v) OVER w AS s
        |FROM cnt_src
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin
    FlinkSql.runStream(spark, s"INSERT INTO cnt_sink $sel",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .awaitTermination()
    def shape(df: org.apache.spark.sql.DataFrame) = df.collect()
      .filter(_.getLong(0) != 9L) // the watermark-frontier sentinel row
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val got = shape(spark.read.parquet(s"$dir/cnt_sink"))
    val want = shape(FlinkSql.sql(spark, sel))
    assert(got == want && got.nonEmpty,
      s"COUNT(string) stream vs batch: stream-only=${(got -- want).take(3)} " +
        s"batch-only=${(want -- got).take(3)}")
    // the running non-null count skips events 2 and 4 (NULL status)
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(2L)._2 == 1L && byId(2L)._3 == 2L, byId(2L).toString)
    assert(byId(4L)._2 == 2L && byId(4L)._3 == 4L, byId(4L).toString)
    // COUNT(DISTINCT string_col): exact seen-string state, stream == batch
    FlinkSql.run(spark,
      s"""CREATE TABLE cntd_sink (event_id BIGINT, cd BIGINT)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/cntd_sink',
         |      'format' = 'parquet')""".stripMargin)
    val selD =
      """SELECT event_id, count(DISTINCT status) OVER w AS cd
        |FROM cnt_src
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin
    FlinkSql.runStream(spark, s"INSERT INTO cntd_sink $selD",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .awaitTermination()
    def shapeD(df: org.apache.spark.sql.DataFrame) = df.collect()
      .filter(_.getLong(0) != 9L)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotD = shapeD(spark.read.parquet(s"$dir/cntd_sink"))
    // oracle is the hand expansion (Spark batch has no DISTINCT window
    // aggregates, like the numeric DISTINCT spec above): duplicates and
    // NULLs never inflate — statuses (new, NULL, paid, NULL) give
    // running distinct counts 1, 1, 2, 2
    assert(gotD == Set((1L, 1L), (2L, 1L), (3L, 2L), (4L, 2L)), gotD.toString)
    FlinkSql.run(spark, "DROP TABLE cntd_sink")
    // and on a BOUNDED frame (the retained-window fold path): frames
    // {1}, {1,2}, {1,2,3}, {2,3,4} over statuses (new, NULL, paid, NULL)
    // give distinct counts 1, 1, 2, 1
    FlinkSql.run(spark,
      s"""CREATE TABLE cntd_sink2 (event_id BIGINT, cd BIGINT)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/cntd_sink2',
         |      'format' = 'parquet')""".stripMargin)
    val selB =
      """SELECT event_id, count(DISTINCT status) OVER w AS cd
        |FROM cnt_src
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin
    FlinkSql.runStream(spark, s"INSERT INTO cntd_sink2 $selB",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .awaitTermination()
    val gotB = shapeD(spark.read.parquet(s"$dir/cntd_sink2"))
    assert(gotB == Set((1L, 1L), (2L, 1L), (3L, 2L), (4L, 1L)), gotB.toString)
    FlinkSql.run(spark, "DROP TABLE cntd_sink2")
    // arithmetic aggregates over strings fail typed
    Seq("sum(status) OVER w AS x", "avg(status) OVER w AS x",
        "stddev(status) OVER w AS x")
      .foreach { agg =>
        val e = intercept[IllegalArgumentException] {
          FlinkSql.runStream(spark,
            s"""INSERT INTO cnt_sink SELECT event_id, $agg, count(*) OVER w,
               |sum(v) OVER w FROM cnt_src
               |WINDOW w AS (PARTITION BY user_id ORDER BY ts
               |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
            trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
        }
        assert(e.getMessage.toLowerCase.contains("string"), s"$agg: ${e.getMessage}")
      }
    FlinkSql.run(spark, "DROP TABLE cnt_src; DROP TABLE cnt_sink")
  }

  test("streaming OVER: TIMESTAMP value columns for MIN/MAX/FIRST/LAG via exact unix-millis slots") {
    import spark.implicits._
    // timestamps were porting guidance ("numeric surrogate"); they now
    // encode as exact unix millis on the double vector and cast back at
    // the splice — MIN/MAX order chronologically, FIRST/LAG return
    // TIMESTAMP, SUM over a timestamp still fails typed
    val dir = tempDir("flink_over_ts")
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    Seq((1L, 1L, t(10), Some(t(500))), (2L, 1L, t(20), None),
      (3L, 1L, t(30), Some(t(100))), (9L, 9L, t(900), Some(t(0))))
      .toDF("event_id", "user_id", "ts", "seen_at")
      .write.mode("append").parquet(s"$dir/ts_src")
    FlinkSql.run(spark,
      s"""CREATE TABLE ts_src (
         |  event_id BIGINT, user_id BIGINT, ts TIMESTAMP(3),
         |  seen_at TIMESTAMP(3),
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem', 'path' = '$dir/ts_src',
         |        'format' = 'parquet');
         |CREATE TABLE ts_sink (event_id BIGINT, mn TIMESTAMP(3),
         |  mx TIMESTAMP(3), fv TIMESTAMP(3), pg TIMESTAMP(3), cs BIGINT)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/ts_sink',
         |      'format' = 'parquet')""".stripMargin)
    val sel =
      """SELECT event_id, min(seen_at) OVER w AS mn, max(seen_at) OVER w AS mx,
        |  first_value(seen_at) OVER w AS fv, lag(seen_at) OVER w AS pg,
        |  count(seen_at) OVER w AS cs
        |FROM ts_src
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin
    FlinkSql.runStream(spark, s"INSERT INTO ts_sink $sel",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .awaitTermination()
    def shape(df: org.apache.spark.sql.DataFrame) = df.collect()
      .filter(_.getLong(0) != 9L)
      .map { r =>
        def ms(i: Int) = if (r.isNullAt(i)) -1L else r.getTimestamp(i).getTime
        (r.getLong(0), ms(1), ms(2), ms(3), ms(4), r.getLong(5))
      }.toSet
    val got = shape(spark.read.parquet(s"$dir/ts_sink"))
    val want = shape(FlinkSql.sql(spark, sel.replace("lag(seen_at) OVER w",
      "lag(seen_at) OVER (PARTITION BY user_id ORDER BY ts, event_id)")))
    assert(got == want && got.nonEmpty,
      s"timestamp slots stream vs batch: stream-only=${(got -- want).take(3)} " +
        s"batch-only=${(want -- got).take(3)}")
    // chronological min/max with a NULL in between; RESPECT-NULLS lag
    assert(got.contains((3L, 100000L, 500000L, 500000L, -1L, 2L)), got.toString)
    assert(got.contains((2L, 500000L, 500000L, 500000L, 500000L, 1L)), got.toString)
    // arithmetic over a timestamp still fails typed
    val e = intercept[IllegalArgumentException] {
      graft.plans.FlinkDdl.executeInsertStream(spark,
        """INSERT INTO ts_sink
          |SELECT event_id, sum(seen_at) OVER (PARTITION BY user_id ORDER BY ts
          |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) FROM ts_src""".stripMargin)
    }
    assert(e.getMessage.contains("not SQL arithmetic"), e.getMessage)
    // DATE columns ride as exact epoch days the same way
    Seq((1L, 1L, t(10), java.sql.Date.valueOf("2024-03-01")),
      (2L, 1L, t(20), java.sql.Date.valueOf("2024-01-15")),
      (9L, 9L, t(900), java.sql.Date.valueOf("2024-06-01")))
      .toDF("event_id", "user_id", "ts", "d")
      .write.mode("append").parquet(s"$dir/dt_src")
    FlinkSql.run(spark,
      s"""CREATE TABLE dt_src (
         |  event_id BIGINT, user_id BIGINT, ts TIMESTAMP(3), d DATE,
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem', 'path' = '$dir/dt_src',
         |        'format' = 'parquet');
         |CREATE TABLE dt_sink (event_id BIGINT, mn DATE, lg DATE)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/dt_sink',
         |      'format' = 'parquet')""".stripMargin)
    FlinkSql.runStream(spark,
      """INSERT INTO dt_sink
        |SELECT event_id, min(d) OVER w AS mn, lag(d) OVER w AS lg
        |FROM dt_src
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .awaitTermination()
    val gotD = spark.read.parquet(s"$dir/dt_sink").collect()
      .filter(_.getLong(0) != 9L)
      .map(r => (r.getLong(0), r.getDate(1).toString,
        Option(r.getDate(2)).map(_.toString))).toSet
    assert(gotD == Set(
      (1L, "2024-03-01", None),
      (2L, "2024-01-15", Some("2024-03-01"))), gotD.toString)
    FlinkSql.run(spark,
      "DROP TABLE ts_src; DROP TABLE ts_sink; DROP TABLE dt_src; DROP TABLE dt_sink")
  }

  test("streaming proc-time OVER INSERT: running agg + ROWS n PRECEDING on a PROCTIME() column") {
    import spark.implicits._
    // [U] flink-table-runtime operators/over/ ProcTime{Range,Rows}-
    // BoundedPrecedingFunction / ProcTimeRowsUnboundedPrecedingFunction:
    // ORDER BY a computed PROCTIME() column deploys onto the same
    // kernels with the documented micro-batch-time coarsening — all
    // rows of one batch are time peers ordered by the id tiebreak, and
    // a batch's rows emit once a later batch advances the 0-delay
    // frontier. The test drives TWO batches through a shared checkpoint
    // (phase B's sentinel advances processing time past phase A).
    val dir = tempDir("flink_over_proc")
    FlinkSql.run(spark,
      s"""CREATE TABLE proc_src (
         |  event_id BIGINT, user_id BIGINT, v DOUBLE,
         |  pt AS PROCTIME()
         |) WITH ('connector' = 'filesystem', 'path' = '$dir/proc_src',
         |        'format' = 'parquet');
         |CREATE TABLE proc_sink (event_id BIGINT, user_id BIGINT,
         |                        run_sum DOUBLE, run_n BIGINT, sum_2r DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/proc_sink',
         |      'format' = 'parquet')""".stripMargin)
    // one window spec per statement (the declared subset); the ROWS-
    // bounded frame runs as its own deployment below. avg fills the
    // sink's third aggregate slot.
    val insA =
      """INSERT INTO proc_sink
        |SELECT event_id, user_id,
        |  sum(v) OVER w AS run_sum, count(*) OVER w AS run_n,
        |  avg(v) OVER w AS sum_2r
        |FROM proc_src
        |WINDOW w AS (PARTITION BY user_id ORDER BY pt
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin
    // phase A: one micro-batch, two keys — within the batch rows order
    // by event_id (the documented arrival-order stand-in)
    Seq((1L, 1L, 1.0), (2L, 1L, 2.0), (3L, 1L, 4.0), (4L, 2L, 10.0), (5L, 2L, 20.0))
      .toDF("event_id", "user_id", "v")
      .coalesce(1).write.mode("append").parquet(s"$dir/proc_src")
    val ckpt = s"$dir/ckpt"
    graft.plans.FlinkDdl.executeInsertStream(spark, insA,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      checkpointDir = Some(ckpt)).awaitTermination()
    // phase B: a later batch advances the proc-time frontier so phase
    // A's timers fire (its own sentinel row stays pending — excluded)
    Thread.sleep(10) // proc-time is ms-granular batch time; force T2 > T1
    Seq((9L, 9L, 0.0)).toDF("event_id", "user_id", "v")
      .coalesce(1).write.mode("append").parquet(s"$dir/proc_src")
    graft.plans.FlinkDdl.executeInsertStream(spark, insA,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      checkpointDir = Some(ckpt)).awaitTermination()
    val got = spark.read.parquet(s"$dir/proc_sink").collect()
      .filter(_.getLong(1) != 9L)
      .map(r => (r.getLong(0), r.getDouble(2), r.getLong(3))).toSet
    assert(got == Set((1L, 1.0, 1L), (2L, 3.0, 2L), (3L, 7.0, 3L),
      (4L, 10.0, 1L), (5L, 30.0, 2L)),
      s"proc-time running frame (id order within the batch): $got")
    // ROWS 1 PRECEDING over the same source — its own sink + checkpoint
    FlinkSql.run(spark,
      s"""CREATE TABLE proc_sink2 (event_id BIGINT, user_id BIGINT, sum_2r DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/proc_sink2',
         |      'format' = 'parquet')""".stripMargin)
    val insB =
      """INSERT INTO proc_sink2
        |SELECT event_id, user_id,
        |  sum(v) OVER (PARTITION BY user_id ORDER BY pt
        |               ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS sum_2r
        |FROM proc_src""".stripMargin
    val ckpt2 = s"$dir/ckpt2"
    graft.plans.FlinkDdl.executeInsertStream(spark, insB,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      checkpointDir = Some(ckpt2)).awaitTermination()
    Thread.sleep(10)
    Seq((10L, 9L, 0.0)).toDF("event_id", "user_id", "v")
      .coalesce(1).write.mode("append").parquet(s"$dir/proc_src")
    graft.plans.FlinkDdl.executeInsertStream(spark, insB,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      checkpointDir = Some(ckpt2)).awaitTermination()
    val got2 = spark.read.parquet(s"$dir/proc_sink2").collect()
      .filter(_.getLong(1) != 9L)
      .map(r => (r.getLong(0), r.getDouble(2))).toSet
    // phase A's five rows + phase B's first sentinel (event 9, user 9 —
    // excluded) are in this source; trailing 2-row frames in id order
    assert(got2 == Set((1L, 1.0), (2L, 3.0), (3L, 6.0), (4L, 10.0), (5L, 30.0)),
      s"proc-time ROWS 1 PRECEDING: $got2")
    // the deploys never mutated the user's view: no leaked watermark
    // wrapper (four deployments would have nested four), and a fresh
    // batch read still sees newly appended files (no frozen plan)
    val viewPlan = spark.table("proc_src").queryExecution.analyzed.toString
    assert(!viewPlan.contains("EventTimeWatermark"),
      s"proc-time deploy leaked a watermark into the source view:\n$viewPlan")
    FlinkSql.run(spark,
      "DROP TABLE proc_src; DROP TABLE proc_sink; DROP TABLE proc_sink2")
  }

  test("streaming OVER outside the declared subset fails typed at deploy") {
    import spark.implicits._
    val dir = tempDir("flink_over_err")
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    Seq((1L, 1L, t(10), 1.0)).toDF("event_id", "user_id", "ts", "v")
      .write.mode("append").parquet(s"$dir/oe_src")
    FlinkSql.run(spark,
      s"""CREATE TABLE oe_src (
         |  event_id BIGINT, user_id BIGINT, ts TIMESTAMP(3), v DOUBLE,
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem', 'path' = '$dir/oe_src',
         |        'format' = 'parquet');
         |CREATE TABLE oe_sink (a BIGINT, b DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/oe_sink',
         |      'format' = 'parquet')""".stripMargin)
    def deployErr(sel: String): String =
      intercept[IllegalArgumentException](graft.plans.FlinkDdl.executeInsertStream(
        spark, s"INSERT INTO oe_sink $sel")).getMessage
    // unsupported aggregate (the variance family deploys since round 12
    // — MEDIAN needs retained sorted state, outside the declared set)
    assert(deployErr(
      """SELECT event_id, median(v) OVER (PARTITION BY user_id ORDER BY ts
        |  ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM oe_src""".stripMargin)
      .contains("no supported aggregate"))
    // anything beyond 'FROM <source> [alias]' would apply AFTER the
    // window (Flink filters BEFORE it) — rejected typed, not mis-ordered
    assert(deployErr(
      """SELECT event_id, sum(v) OVER (PARTITION BY user_id ORDER BY ts
        |  ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM oe_src
        |WHERE v > 0""".stripMargin)
      .contains("after FROM"))
    assert(deployErr(
      """SELECT event_id, sum(v) OVER (PARTITION BY user_id ORDER BY ts
        |  ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM oe_src
        |GROUP BY event_id""".stripMargin)
      .contains("after FROM"))
    // fractional partition keys don't round-trip the opaque key encoding
    assert(deployErr(
      """SELECT event_id, sum(v) OVER (PARTITION BY v ORDER BY ts
        |  ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM oe_src""".stripMargin)
      .contains("integral, string, boolean, or date"))
    // ORDER BY must be the declared rowtime
    assert(deployErr(
      """SELECT event_id, sum(v) OVER (PARTITION BY user_id ORDER BY v
        |  ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM oe_src""".stripMargin)
      .contains("watermark rowtime"))
    // LEAD has no streaming rowtime form (the frame ends at CURRENT ROW)
    assert(deployErr(
      """SELECT event_id, lead(v) OVER (PARTITION BY user_id ORDER BY ts
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) FROM oe_src""".stripMargin)
      .contains("no future rows"))
    // LAG offsets must be positive integer literals
    assert(deployErr(
      """SELECT event_id, lag(v, 0) OVER (PARTITION BY user_id ORDER BY ts
        |  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) FROM oe_src""".stripMargin)
      .contains("positive integer"))
    // timestamp FIRST_VALUE DEPLOYS since round 13 (exact unix-millis
    // slots) — the remaining typed type-rejection is an unsupported
    // value type like BOOLEAN, and SUM over a timestamp (not SQL)
    assert(deployErr(
      """SELECT event_id, sum(ts) OVER (PARTITION BY user_id ORDER BY ts
        |  ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM oe_src""".stripMargin)
      .contains("not SQL arithmetic"))
    import spark.implicits._
    Seq((1L, true)).toDF("event_id", "flag")
      .write.mode("append").parquet(s"$dir/oeb_src")
    FlinkSql.run(spark,
      s"""CREATE TABLE oeb_src (
         |  event_id BIGINT, flag BOOLEAN, ts2 TIMESTAMP(3),
         |  WATERMARK FOR ts2 AS ts2 - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem', 'path' = '$dir/oeb_src',
         |        'format' = 'parquet')""".stripMargin)
    val eB = intercept[IllegalArgumentException](
      graft.plans.FlinkDdl.executeInsertStream(spark,
        """INSERT INTO oe_sink
          |SELECT event_id, first_value(flag) OVER (PARTITION BY flag
          |  ORDER BY ts2 ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)
          |FROM oeb_src""".stripMargin)).getMessage
    assert(eB.contains("DOUBLE vector"), eB)
    FlinkSql.run(spark,
      "DROP TABLE oe_src; DROP TABLE oe_sink; DROP TABLE oeb_src")
  }
}
