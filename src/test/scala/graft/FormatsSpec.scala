package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Source/format surface (SURVEY.md §2.1): csv / json / orc / parquet
  * round trips, schema inference, compression, and Avro record payloads
  * (via avro-core + AvroFormat — the spark-avro CONNECTOR jar is absent
  * from this image; protobuf is covered by the from-scratch wire codec,
  * see ProtobufSpec).
  */
class FormatsSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  private def sample = {
    import spark.implicits._
    Seq((1L, "a,with[]chars", 1.5, true), (2L, "plain", -2.25, false),
      (3L, null.asInstanceOf[String], 0.0, true))
      .toDF("id", "s", "d", "b")
  }

  private def roundTrip(fmt: String, opts: Map[String, String] = Map.empty): Unit = {
    val dir = tempDir(s"graft_fmt_$fmt")
    val df = sample
    df.write.mode("overwrite").options(opts).format(fmt).save(dir)
    val back = spark.read.options(opts).format(fmt)
      .schema(df.schema) // explicit schema: csv/json would otherwise infer
      .load(dir)
    val a = df.collect().map(_.toSeq).toSet
    val b = back.collect().map(_.toSeq).toSet
    assert(a == b, s"$fmt round trip")
  }

  test("parquet round trip")(roundTrip("parquet"))
  test("orc round trip")(roundTrip("orc"))
  test("json round trip")(roundTrip("json"))
  test("csv round trip (header + quoting + nulls)")(
    roundTrip("csv", Map("header" -> "true", "nullValue" -> "\\N")))

  test("csv/json schema inference recovers types") {
    val dir = tempDir("graft_infer")
    sample.write.mode("overwrite").option("header", "true").csv(dir)
    val inferred = spark.read.option("header", "true").option("inferSchema", "true").csv(dir)
    val types = inferred.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(types("id") == "integer" || types("id") == "long")
    assert(types("d") == "double")
    assert(types("b") == "boolean")
  }

  test("compressed parquet write (zstd) reads back") {
    val dir = tempDir("graft_zstd")
    sample.write.mode("overwrite").option("compression", "zstd").parquet(dir)
    assert(spark.read.parquet(dir).count() == 3)
    assert(new java.io.File(dir).listFiles().exists(_.getName.contains("zstd")))
  }

  test("streaming file source picks up files as they arrive (FileSource streaming mode)") {
    import spark.implicits._
    val dir = tempDir("graft_fstream")
    // seed one file so the schema is known, then drop another mid-stream
    sample.limit(2).write.mode("append").parquet(dir)
    val q = spark.readStream.schema(sample.schema).parquet(dir)
      .groupBy().count()
      .writeStream.outputMode("complete").format("memory").queryName("fsrc").start()
    try {
      q.processAllAvailable()
      assert(spark.table("fsrc").as[Long].head() == 2L)
      sample.write.mode("append").parquet(dir) // 3 more rows land
      q.processAllAvailable()
      assert(spark.table("fsrc").as[Long].head() == 5L)
    } finally q.stop()
  }

  test("datagen source: deterministic typed columns in batch and streaming shape") {
    import spark.implicits._
    val b = graft.sources.DataGen.batch(spark, 1000, nKeys = 7)
    assert(b.schema.fieldNames.toSeq == Seq("ts", "seq", "key", "amount", "tag"))
    val keys = b.select($"key").distinct().as[Long].collect().toSet
    assert(keys.subsetOf((0L until 7L).toSet) && keys.size == 7)
    val again = graft.sources.DataGen.batch(spark, 1000, nKeys = 7)
      .select($"seq", $"amount").as[(Long, Double)].collect().toMap
    val first = b.select($"seq", $"amount").as[(Long, Double)].collect().toMap
    assert(again == first, "hash-derived columns are reproducible")
    b.select($"amount").as[Double].collect().foreach(a => assert(a >= 0 && a < 1000))
    // streaming variant compiles to a rate-source plan with the same shape
    val s = graft.sources.DataGen.stream(spark, 10, nKeys = 7)
    assert(s.isStreaming && s.schema.fieldNames.toSeq == b.schema.fieldNames.toSeq)
  }

  val avroSchema: String =
    """{"type": "record", "name": "Rec", "fields": [
      |  {"name": "id", "type": "long"},
      |  {"name": "s", "type": ["null", "string"], "default": null},
      |  {"name": "d", "type": "double"},
      |  {"name": "b", "type": "boolean"}
      |]}""".stripMargin

  test("avro record payloads round-trip through binary encode/decode (incl. nulls)") {
    val back = graft.sources.AvroFormat.roundTrip(sample, avroSchema)
    assert(back.schema.fieldNames.toSeq == Seq("id", "s", "d", "b"))
    assert(back.collect().map(_.toSeq).toSet == sample.collect().map(_.toSeq).toSet)
  }

  test("avro schema mapping: nullable unions and primitive types") {
    val st = graft.sources.AvroFormat.sparkSchema(avroSchema)
    assert(st("id").dataType.typeName == "long" && !st("id").nullable)
    assert(st("s").dataType.typeName == "string" && st("s").nullable)
    assert(st("d").dataType.typeName == "double")
    assert(st("b").dataType.typeName == "boolean")
  }

  test("avro nested records, arrays, maps, and logical types round-trip") {
    import spark.implicits._
    val nestedSchema =
      """{"type": "record", "name": "Doc", "fields": [
        |  {"name": "id", "type": "long"},
        |  {"name": "meta", "type": {"type": "record", "name": "Meta", "fields": [
        |    {"name": "lang", "type": "string"},
        |    {"name": "score", "type": ["null", "double"], "default": null}
        |  ]}},
        |  {"name": "tags", "type": {"type": "array", "items": "string"}},
        |  {"name": "counts", "type": {"type": "map", "values": "int"}},
        |  {"name": "d", "type": {"type": "int", "logicalType": "date"}},
        |  {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
        |  {"name": "opt_arr", "type": ["null", {"type": "array", "items": "long"}],
        |   "default": null}
        |]}""".stripMargin
    // schema mapping: struct in avro field order, array/map elements typed
    val st = graft.sources.AvroFormat.sparkSchema(nestedSchema)
    import org.apache.spark.sql.types._
    assert(st("meta").dataType == StructType(Seq(
      StructField("lang", StringType, nullable = false),
      StructField("score", DoubleType, nullable = true))))
    assert(st("tags").dataType == ArrayType(StringType, containsNull = false))
    assert(st("counts").dataType == MapType(StringType, IntegerType, valueContainsNull = false))
    assert(st("d").dataType == DateType)
    assert(st("ts").dataType == TimestampType && !st("ts").nullable)
    assert(st("opt_arr").nullable)
    val ts = java.sql.Timestamp.valueOf("2024-03-04 05:06:07.123456")
    val rows = Seq(
      org.apache.spark.sql.Row(1L, org.apache.spark.sql.Row("en", 0.9),
        Seq("a", "b"), Map("x" -> 1, "y" -> 2),
        java.sql.Date.valueOf("2024-03-04"), ts, Seq(7L)),
      org.apache.spark.sql.Row(2L, org.apache.spark.sql.Row("de", null),
        Seq.empty[String], Map.empty[String, Int],
        java.sql.Date.valueOf("1969-12-31"), ts, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), st)
    val back = graft.sources.AvroFormat.roundTrip(df, nestedSchema)
    assert(back.schema == st)
    assert(back.collect().map(_.toSeq).toSet == df.collect().map(_.toSeq).toSet)
    // micros survive exactly (not truncated to millis)
    assert(back.select($"ts").head().getTimestamp(0).getNanos == 123456000)
  }

  test("avro decode runs on a stream (Kafka-shaped binary payload pipeline)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // pre-encode fixture rows to avro bytes, then replay them as a stream
    val payloads = graft.sources.AvroFormat.encodeAvro(sample, avroSchema)
      .select("avro").as[Array[Byte]].collect()
    val input = MemoryStream[Array[Byte]]
    val decoded = graft.sources.AvroFormat.decodeAvro(
      input.toDF().withColumnRenamed("value", "avro"), "avro", avroSchema)
    val q = decoded.writeStream.outputMode("append").format("memory")
      .queryName("avro_stream").start()
    try {
      payloads.grouped(2).foreach { b => input.addData(b: _*); q.processAllAvailable() }
      val got = spark.table("avro_stream").collect().map(_.toSeq).toSet
      assert(got == sample.collect().map(_.toSeq).toSet)
    } finally q.stop()
  }

  test("loader contract: events.ts arrives as TimestampType for all three parquet layouts") {
    // The driver regenerates /root/testdata between rounds and has emitted
    // events.ts as INT64-nanos (round ≤6), micros-NTZ (round 7), and may
    // emit micros-UTC. Tables.events must normalize all three to
    // TimestampType with identical values, or every unix_millis(ts) site
    // breaks (the round-7 regression).
    import spark.implicits._
    import org.apache.spark.sql.types.TimestampType
    val base = Seq(
      (1L, "u1", "click", java.sql.Timestamp.valueOf("2024-03-01 10:15:30.123456")),
      (2L, "u2", "view",  java.sql.Timestamp.valueOf("2024-03-02 23:59:59.999999")))
      .toDF("event_id", "user_id", "kind", "ts")
    val want = base.select($"event_id", $"ts").collect().map(_.toSeq).toSet

    def stage(df: org.apache.spark.sql.DataFrame): String = {
      val dir = tempDir("graft_ev_layout")
      df.write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    // layout 1: INT64 (what TIMESTAMP(NANOS) arrives as under nanosAsLong)
    val nanosDir = stage(base.withColumn("ts",
      (unix_micros($"ts") * 1000L).as("ts")))
    // layout 2: micros without timezone → TIMESTAMP_NTZ
    val ntzDir = stage(base.withColumn("ts", $"ts".cast("timestamp_ntz")))
    // layout 3: micros with UTC adjustment → TimestampType (passthrough)
    val utcDir = stage(base)

    for ((dir, label) <- Seq(nanosDir -> "nanos", ntzDir -> "ntz", utcDir -> "utc")) {
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType == TimestampType, s"layout $label")
      val got = ev.select($"event_id", $"ts").collect().map(_.toSeq).toSet
      assert(got == want, s"layout $label values")
    }
  }

  test("avro decode appends payload columns after passthrough columns") {
    import spark.implicits._
    val enc = graft.sources.AvroFormat.encodeAvro(sample, avroSchema)
      .withColumn("tag", lit("k"))
    val dec = graft.sources.AvroFormat.decodeAvro(enc, "avro", avroSchema)
    assert(dec.schema.fieldNames.toSeq == Seq("tag", "id", "s", "d", "b"))
    assert(dec.where($"tag" === "k").count() == 3)
  }
}
