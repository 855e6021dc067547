package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The generated-code cache is sized to the query surface
  * ([[GraftSession.CodegenCacheEntries]]), so a query re-run after more
  * than Spark's default 100 other classes were compiled still finds its
  * own classes and compiles nothing.
  */
class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("the session reports the configured codegen cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a query re-run after 150 other generated classes compiles nothing") {
    def query() = spark.range(0, 1000, 1, 4)
      .selectExpr("id % 7 AS k", "id * 3 AS v")
      .groupBy("k").agg(sum("v").as("s"))
    val expected = query().collect().toSet
    // 150 distinct whole-stage classes: each literal is inlined in the
    // generated source, so no two projections share a class
    val before = compiles
    (1 to 150).foreach(i => spark.range(10).selectExpr(s"id * $i + 1").collect())
    assert(compiles - before >= 150)
    val afterOthers = compiles
    assert(query().collect().toSet == expected)
    assert(compiles == afterOthers,
      s"re-run recompiled ${compiles - afterOthers} classes")
  }
}
