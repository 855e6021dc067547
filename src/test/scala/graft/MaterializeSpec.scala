package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Materialize]]'s lazy checkpoint costs no job of its own, and later
  * consumers read its rows instead of the lineage.
  */
class MaterializeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def df = spark.range(0, 1000, 1, 4).select(col("id"), (col("id") % 7).as("k"))

  test("scanned runs the checkpoint and its first scan as the scan's own jobs") {
    val ((frame, n), jobs) = TestSpark.jobsDuring(Materialize.scanned(df)(_.count()))
    // a count is one job per adaptive stage; the checkpoint adds none
    val (_, countJobs) = TestSpark.jobsDuring(frame.count())
    assert(n == 1000 && jobs == countJobs, s"scanned ran $jobs jobs, a count $countJobs")
  }

  test("a later action on the scanned frame does not recompute the upstream rows") {
    val computed = spark.sparkContext.longAccumulator("rows computed")
    val tick = udf { (x: Long) => computed.add(1); x }.asNondeterministic()
    val (frame, _) = Materialize.scanned(df.select(tick(col("id")).as("id")))(_.count())
    assert(frame.agg(sum(col("id"))).head().getLong(0) == 999L * 1000 / 2)
    assert(computed.value == 1000L, s"upstream rows computed ${computed.value} times")
  }

  test("shared returns the rows of the same plan built without the checkpoint") {
    val plan = (d: DataFrame) =>
      d.join(d.groupBy(col("k")).agg(count(lit(1)).as("n")), "k").select(col("id"), col("n"))
    def rows(d: DataFrame) = d.collect().map(_.toString).sorted.toSeq
    assert(rows(Materialize.shared(df)(plan)) == rows(plan(df)))
  }
}
