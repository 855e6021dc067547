package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Partition-layout mechanics (SURVEY.md §4.1 "partition pruning" /
  * "dynamic partition pruning"): hive-style partitioned writes, static
  * pruning visible in PartitionFilters, and DPP subqueries injected for
  * selective dim joins.
  */
class PartitionSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  // shared by the suite's tests, so it outlives each of them
  private lazy val partDir: String = {
    val dir = TestSpark.exitTempDir("graft_part")
    Tables.lineitem(spark, TestSpark.sfDir)
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
    dir
  }

  test("static partition pruning: filter on the partition column prunes at plan time") {
    val df = spark.read.parquet(partDir).filter(col("l_returnflag") === "R")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(l_returnflag"),
      s"expected partition filter in:\n$plan")
    // only the R partition's rows are read
    val expected = Tables.lineitem(spark, TestSpark.sfDir)
      .filter(col("l_returnflag") === "R").count()
    assert(df.count() == expected)
  }

  test("dynamic partition pruning: selective dim join injects a pruning subquery") {
    import spark.implicits._
    val fact = spark.read.parquet(partDir)
    // the dim filter is on a NON-join column, so the partition predicate
    // is only known at runtime — that's the DPP case (a filter on the
    // join column itself would be statically inferred instead). The dim
    // must be a filtered file scan, and the benefit heuristic is relaxed
    // for fixture-sized tables.
    val dimDir = tempDir("graft_dpp_dim")
    Seq(("R", "returned"), ("A", "audited"), ("N", "normal"))
      .toDF("rf", "grp").write.mode("overwrite").parquet(dimDir)
    val prev = spark.conf.getOption("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "100000")
    try {
      val dim = spark.read.parquet(dimDir).filter($"grp" === "audited")
      val joined = fact.join(dim, fact("l_returnflag") === dim("rf"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"), s"expected DPP in:\n$plan")
      val expected = Tables.lineitem(spark, TestSpark.sfDir)
        .filter(col("l_returnflag") === "A").count()
      assert(joined.count() == expected)
    } finally {
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "true")
      prev.foreach(spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", _))
      if (prev.isEmpty)
        spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio")
    }
  }

  test("bucketed tables make the key join and aggregation shuffle-free") {
    val dir = tempDir("graft_bkt")
    graft.operators.Layout.writeBucketed(
      Tables.lineitem(spark, TestSpark.sfDir).select("l_orderkey", "l_quantity"),
      "bkt_lineitem", s"$dir/l", "l_orderkey", buckets = 8)
    graft.operators.Layout.writeBucketed(
      Tables.orders(spark, TestSpark.sfDir).select("o_orderkey", "o_totalprice"),
      "bkt_orders", s"$dir/o", "o_orderkey", buckets = 8)
    val savedBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bkt_lineitem")
        .join(spark.table("bkt_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")), first(col("o_totalprice")))
      val plan = joined.queryExecution.executedPlan.toString
      // both sides arrive hash-distributed from the bucketed layout: the
      // join AND the aggregation run with ZERO exchanges
      assert(!plan.contains("Exchange"),
        s"bucketed join/agg must be shuffle-free:\n$plan")
      assert(joined.count() ==
        Tables.lineitem(spark, TestSpark.sfDir).select("l_orderkey").distinct().count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBc)
      spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
      spark.sql("DROP TABLE IF EXISTS bkt_orders")
    }
  }
}