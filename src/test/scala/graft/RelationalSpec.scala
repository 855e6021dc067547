package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Invariant checks over the declared batch queries at sf0.001. The strong
  * correctness gate is the DuckDB parity run (tools/parity.py, driver t2);
  * these specs pin cheap structural truths so `sbt test` catches
  * regressions without the oracle in the loop.
  */
class RelationalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val d = TestSpark.sfDir

  test("query-name filter: declared names pass, a typo or an empty list throws") {
    assert(SparkEntry.selectQueries(" q01_pricing_summary,q05_semi_join,") ==
      Set("q01_pricing_summary", "q05_semi_join"))
    val typo = intercept[IllegalArgumentException](
      SparkEntry.selectQueries("q01_pricing_summary,q01_pricing_sumary"))
    assert(typo.getMessage.contains("unknown query name(s): q01_pricing_sumary"))
    intercept[IllegalArgumentException](SparkEntry.selectQueries(" , "))
  }

  test("q01 pricing summary: six (returnflag, linestatus) groups, counts sum to filtered rows") {
    val out = SparkEntry.queries("q01_pricing_summary")(spark, d).collect()
    assert(out.length == 6)
    val totalFromGroups = out.map(_.getAs[Long]("count_order")).sum
    val expected = Tables.lineitem(spark, d)
      .filter(col("l_shipdate") <= lit("2000-01-01").cast("timestamp_ntz")).count()
    assert(totalFromGroups == expected)
  }

  test("q05/q06 semi+anti partition customers exactly") {
    val semi = SparkEntry.queries("q05_semi_join")(spark, d)
      .agg(sum("n_cust")).head().getLong(0)
    val anti = SparkEntry.queries("q06_anti_join")(spark, d)
      .agg(sum("n_cust")).head().getLong(0)
    assert(semi + anti == Tables.customer(spark, d).count())
  }

  test("q09 top-n emits at most 10 per segment with dense rn from 1") {
    val rows = SparkEntry.queries("q09_topn_per_group")(spark, d).collect()
    val bySeg = rows.groupBy(_.getAs[String]("c_mktsegment"))
    bySeg.values.foreach { rs =>
      assert(rs.length <= 10)
      assert(rs.map(_.getAs[Int]("rn")).sorted.sameElements(1 to rs.length))
    }
  }

  test("q10 rollup: grand-total row equals table count") {
    val rows = SparkEntry.queries("q10_rollup_agg")(spark, d).collect()
    val grand = rows.filter(r => r.getAs[Int]("g_status") == 1 && r.getAs[Int]("g_prio") == 1)
    assert(grand.length == 1)
    assert(grand.head.getAs[Long]("n") == Tables.orders(spark, d).count())
  }

  test("q11 set ops: intersect and except are disjoint and cover customer nationkeys") {
    val rows = SparkEntry.queries("q11_set_ops")(spark, d).collect()
    val inter = rows.filter(_.getAs[String]("op") == "intersect").map(_.getAs[Int]("nationkey")).toSet
    val excl = rows.filter(_.getAs[String]("op") == "except").map(_.getAs[Int]("nationkey")).toSet
    assert((inter & excl).isEmpty)
    val custKeys = Tables.customer(spark, d).select("c_nationkey").distinct()
      .collect().map(_.getInt(0)).toSet
    assert((inter | excl) == custKeys)
  }

  test("q16 sort-limit is the true global top-100 by price") {
    val got = SparkEntry.queries("q16_sort_limit")(spark, d)
      .collect().map(_.getAs[Double]("o_totalprice"))
    val all = Tables.orders(spark, d).select("o_totalprice")
      .collect().map(_.getDouble(0)).sorted(Ordering[Double].reverse).take(100)
    assert(got.sorted(Ordering[Double].reverse).sameElements(all))
  }

  test("approx_count_distinct within rsd of the exact count (extension sketch)") {
    val o = Tables.orders(spark, d)
    val row = o.agg(
      countDistinct(col("o_custkey")).as("exact"),
      approx_count_distinct(col("o_custkey"), 0.05).as("approx")).head()
    val (exact, approx) = (row.getLong(0), row.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.15)
  }

  test("q18 multiset counts agree with plain group counts") {
    val rows = SparkEntry.queries("q18_collect_multiset")(spark, d).collect()
    val perNation = Tables.customer(spark, d)
      .groupBy("c_nationkey").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val total = r.getAs[String]("seg_counts").split(",").map(_.split(":")(1).toLong).sum
      assert(total == perNation(r.getAs[Int]("c_nationkey")))
    }
  }
}
