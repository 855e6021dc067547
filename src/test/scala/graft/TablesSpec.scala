package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** `Tables` infers a fixture file's schema once: later loads start no
  * Spark job, and a changed file or session conf is inferred again.
  */
class TablesSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("a second load of the same fixture file starts no job and reads the same table") {
    val dir = tempDir("graft_tables")
    Files.copy(Paths.get(TestSpark.sfDir, "nation.parquet"), Paths.get(dir, "nation.parquet"))
    val (first, inferJobs) = TestSpark.jobsDuring(Tables.nation(spark, dir))
    assert(inferJobs >= 1, "the first load infers the schema")
    val (second, jobs) = TestSpark.jobsDuring(Tables.nation(spark, dir))
    assert(jobs == 0, "the second load reuses the inferred schema")
    assert(second.schema == first.schema)
    assert(rows(second) == rows(first))
  }

  test("a file moved into place at the same path with another ts layout is inferred again") {
    import spark.implicits._
    val base = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-03-01 10:00:00.123456")),
      (2L, java.sql.Timestamp.valueOf("2024-03-02 23:59:59.999999")))
      .toDF("event_id", "ts")
    val want = rows(base)
    val dir = tempDir("graft_tables")
    val target = Paths.get(dir, "events.parquet")
    /** Writes `df` with Spark and moves its one part file to `target`. */
    def place(df: DataFrame, name: String): Unit = {
      df.coalesce(1).write.parquet(s"$dir/$name")
      val part = Files.list(Paths.get(dir, name)).filter(
        p => p.getFileName.toString.startsWith("part-")).findFirst().get
      Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
    }
    place(base.withColumn("ts", unix_micros($"ts") * 1000L), "nanos")
    val (nanos, _) = TestSpark.jobsDuring(Tables.events(spark, dir))
    assert(nanos.schema("ts").dataType == TimestampType)
    assert(rows(nanos) == want)
    place(base.withColumn("ts", $"ts".cast("timestamp_ntz")), "ntz")
    val (ntz, jobs) = TestSpark.jobsDuring(Tables.events(spark, dir))
    assert(jobs >= 1, "the replaced file is inferred again")
    assert(ntz.schema("ts").dataType == TimestampType)
    assert(rows(ntz) == want)
  }

  test("toggling spark.sql.legacy.parquet.nanosAsLong infers the schema again") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val dir = tempDir("graft_tables")
    // an INT64 TIMESTAMP(NANOS) events.ts, which Spark cannot write
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new HPath(s"$dir/events.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1709287200123456789L))
    finally w.close()
    val asLong = spark.newSession()
    asLong.conf.set(key, "true")
    val ev = Tables.events(asLong, dir)
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.collect().map(_.getAs[java.sql.Timestamp]("ts").toInstant.toString).toSeq ==
      Seq("2024-03-01T10:00:00.123456Z"))
    assert(TestSpark.jobsDuring(Tables.events(asLong, dir))._2 == 0)
    val strict = spark.newSession()
    strict.conf.set(key, "false")
    // without the setting Spark rejects nanos; a schema reused from the
    // other session would have read them as longs instead
    val (res, jobs) = TestSpark.jobsDuring(
      try Right(Tables.events(strict, dir)) catch { case e: Exception => Left(e) })
    assert(jobs >= 1, "the load under the other setting infers again")
    assert(res.isLeft, s"nanos read without $key: ${res.map(_.schema)}")
  }

  test("two loads of orders self-join on o_orderkey to one row per order") {
    Tables.orders(spark, TestSpark.sfDir)
    val a = Tables.orders(spark, TestSpark.sfDir)
    val b = Tables.orders(spark, TestSpark.sfDir)
    assert(a.join(b, a("o_orderkey") === b("o_orderkey")).count() == a.count())
  }
}
