package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.operators.Changelog
import graft.streaming.ChangelogStream

/** Retract-stream materialization (toChangelogStream analog): keyed
  * snapshot diffing must emit the exact +I/-U/+U/-D algebra, and the
  * accumulated log must replay (Changelog.materialize) back to the
  * final snapshot.
  */
class ChangelogStreamSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  test("snapshotDiff emits the exact changelog algebra") {
    import spark.implicits._
    val prev = Seq(("a", 1L, 10.0), ("b", 2L, 20.0), ("c", 3L, 30.0))
      .toDF("k", "n", "v")
    val cur = Seq(("a", 1L, 10.0), ("b", 5L, 25.0), ("d", 7L, 70.0))
      .toDF("k", "n", "v")
    val diff = ChangelogStream.snapshotDiff(prev, cur, Seq("k"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(diff == Set(
      ("-U", 0, "b", 2L, 20.0), ("+U", 1, "b", 5L, 25.0), // changed
      ("-D", 0, "c", 3L, 30.0),                           // vanished
      ("+I", 0, "d", 7L, 70.0)))                          // new; a unchanged
  }

  test("snapshotDiff on an empty prev is all inserts; composite keys work") {
    import spark.implicits._
    val cur = Seq(("x", 1, 5L), ("y", 2, 6L)).toDF("g", "sub", "cnt")
    val diff = ChangelogStream.snapshotDiff(cur.limit(0), cur, Seq("g", "sub"))
    assert(diff.collect().map(_.getString(0)).toSeq.sorted == Seq("+I", "+I"))
  }

  test("streaming changelog of a complete-mode count agg replays to the final table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_chlog")
    val input = MemoryStream[String]
    val counts = input.toDF().groupBy($"value".as("word"))
      .agg(count(lit(1)).as("n"))
    val log = scala.collection.mutable.ArrayBuffer.empty[(String, Int, String, Long, Long)]
    val q = ChangelogStream.toChangelog(counts, Seq("word"), dir) { diff =>
      log ++= diff.collect().map(r => (r.getString(0), r.getInt(1),
        r.getString(2), r.getLong(3), r.getLong(4)))
    }
    try {
      input.addData("a", "b"); q.processAllAvailable()
      input.addData("a"); q.processAllAvailable()
      input.addData("c", "a"); q.processAllAvailable()
    } finally q.stop()
    // batch 0: +I a=1, +I b=1; batch 1: -U a=1 +U a=2; batch 2: -U a=2 +U a=3, +I c=1
    val kinds = log.groupBy(_._3).view.mapValues(_.map(e => (e._1, e._4)).toSet).toMap
    assert(kinds("a") == Set(("+I", 1L), ("-U", 1L), ("+U", 2L), ("-U", 2L), ("+U", 3L)))
    assert(kinds("b") == Set(("+I", 1L)))
    assert(kinds("c") == Set(("+I", 1L)))
    // replay: materialize the accumulated log => the final snapshot
    val logDf = log.toSeq.toDF("row_kind", "row_seq", "word", "n", "batch_id")
      .withColumn("seq", col("batch_id") * 10 + col("row_seq"))
    val replayed = Changelog.materialize(logDf, Seq("word"), "seq")
      .select("word", "n").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(replayed == Set(("a", 3L), ("b", 1L), ("c", 1L)))
  }
}
