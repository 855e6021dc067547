package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** FLIP-190 plan persistence (SURVEY.md §3.1; Flink 1.19 `COMPILE PLAN` /
  * `COMPILE AND EXECUTE PLAN` / `EXECUTE PLAN` SQL): a compiled plan file
  * is self-contained — the name-resolved statement plus the DDL closure
  * of every referenced connector table and dialect view — so executing it
  * in a session that never saw the original script restores the whole
  * pipeline. Overwrite protection follows Flink's
  * `table.plan.force-recompile` contract through the SET surface.
  */
class CompilePlanSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  private def tmp(): String =
    tempDir("graft_plan")

  test("COMPILE PLAN writes a self-contained artifact; EXECUTE PLAN replays it after DROPs") {
    val dir = tmp()
    val plan = s"$dir/p.json"
    FlinkSql.run(spark,
      s"""CREATE TABLE cp_src (k BIGINT, v STRING) WITH (
         |  'connector' = 'filesystem', 'path' = '$dir/src', 'format' = 'parquet');
         |INSERT INTO cp_src VALUES (1, 'a'), (2, 'b'), (3, 'c');
         |CREATE VIEW cp_v AS SELECT k * 10 AS k10, v FROM cp_src WHERE k > 1;
         |CREATE TABLE cp_snk (k10 BIGINT, v STRING) WITH (
         |  'connector' = 'filesystem', 'path' = '$dir/snk', 'format' = 'parquet');
         |COMPILE PLAN '$plan' FOR INSERT INTO cp_snk SELECT k10, v FROM cp_v
         |""".stripMargin)
    assert(new java.io.File(plan).exists())
    // compiling must NOT execute: the sink is still empty
    assert(spark.table("cp_snk").count() == 0)
    // the artifact carries the dependency closure: both tables + the view
    val txt = Files.readString(Paths.get(plan))
    assert(txt.contains("cp_src") && txt.contains("cp_snk") && txt.contains("cp_v"))
    // recompiling over an existing file needs table.plan.force-recompile
    val e = intercept[Exception](FlinkSql.sql(spark,
      s"COMPILE PLAN '$plan' FOR INSERT INTO cp_snk SELECT k10, v FROM cp_v"))
    assert(e.getMessage.contains("force-recompile"))
    FlinkSql.run(spark,
      s"""SET 'table.plan.force-recompile' = 'true';
         |COMPILE PLAN '$plan' FOR INSERT INTO cp_snk SELECT k10, v FROM cp_v;
         |RESET 'table.plan.force-recompile'""".stripMargin)
    // wipe every piece of session state the script built, then restore
    // the pipeline purely from the plan artifact
    FlinkSql.run(spark, "DROP TABLE cp_src; DROP TABLE cp_snk; DROP VIEW cp_v")
    FlinkSql.sql(spark, s"EXECUTE PLAN '$plan'")
    val got = spark.table("cp_snk").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == Seq((20L, "b"), (30L, "c")))
    // the replayed registry is live DDL state, not a one-shot read
    assert(FlinkSql.sql(spark, "DESCRIBE cp_src").count() == 2)
  }

  test("COMPILE AND EXECUTE PLAN over a statement set runs every INSERT and re-executes") {
    val dir = tmp()
    val plan = s"$dir/set.json"
    FlinkSql.run(spark,
      s"""CREATE TABLE cps_src (k BIGINT) WITH (
         |  'connector' = 'filesystem', 'path' = '$dir/src', 'format' = 'parquet');
         |INSERT INTO cps_src VALUES (1), (2), (3);
         |CREATE TABLE cps_a (k BIGINT) WITH (
         |  'connector' = 'filesystem', 'path' = '$dir/a', 'format' = 'parquet');
         |CREATE TABLE cps_b (k2 BIGINT) WITH (
         |  'connector' = 'filesystem', 'path' = '$dir/b', 'format' = 'parquet');
         |COMPILE AND EXECUTE PLAN '$plan' FOR STATEMENT SET BEGIN
         |  INSERT INTO cps_a SELECT k FROM cps_src WHERE k <= 2;
         |  INSERT INTO cps_b SELECT k * 2 AS k2 FROM cps_src;
         |END""".stripMargin)
    assert(new java.io.File(plan).exists())
    assert(spark.table("cps_a").count() == 2)
    assert(spark.table("cps_b").count() == 3)
    // executing the stored artifact again appends a second pass
    FlinkSql.sql(spark, s"EXECUTE PLAN '$plan'")
    assert(spark.table("cps_a").count() == 4)
    assert(spark.table("cps_b").count() == 6)
    // re-running COMPILE AND EXECUTE against the existing file does NOT
    // error: it executes the already-compiled plan (Flink's ifNotExists
    // restart semantics — only plain COMPILE PLAN refuses to overwrite)
    FlinkSql.sql(spark,
      s"COMPILE AND EXECUTE PLAN '$plan' FOR INSERT INTO cps_a SELECT k FROM cps_src")
    assert(spark.table("cps_a").count() == 6)  // the SET ran again (2+2+2)
    assert(spark.table("cps_b").count() == 9)  // proof it used the FILE, not the new FOR body
  }

  test("EXECUTE PLAN restores the pipeline in a NEW session that never saw the script") {
    val dir = tmp()
    val plan = s"$dir/fresh.json"
    FlinkSql.run(spark,
      s"""CREATE TABLE cpf_src (k BIGINT) WITH (
         |  'connector' = 'filesystem', 'path' = '$dir/src', 'format' = 'parquet');
         |INSERT INTO cpf_src VALUES (1), (2), (3);
         |CREATE VIEW cpf_v AS SELECT k + 100 AS k FROM cpf_src WHERE k > 1;
         |CREATE TABLE cpf_snk (k BIGINT) WITH (
         |  'connector' = 'filesystem', 'path' = '$dir/snk', 'format' = 'parquet');
         |COMPILE PLAN '$plan' FOR INSERT INTO cpf_snk SELECT k FROM cpf_v
         |""".stripMargin)
    // a NEW session: same SparkContext, but its OWN temp-view catalog and
    // DDL registries — none of the script's state is visible there
    val fresh = spark.newSession()
    assert(!fresh.catalog.tableExists("cpf_src"))
    assert(graft.plans.FlinkDdl.registered(fresh, "cpf_snk").isEmpty)
    FlinkSql.sql(fresh, s"EXECUTE PLAN '$plan'")
    assert(fresh.table("cpf_snk").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().sorted.toSeq == Seq(102L, 103L))
    // the original session's catalog was never touched by the fresh run
    assert(spark.table("cpf_snk").count() == 0)
  }

  test("compile/execute contract errors: non-INSERT body, unregistered sink, missing file") {
    val dir = tmp()
    val e1 = intercept[Exception](FlinkSql.sql(spark,
      s"COMPILE PLAN '$dir/x.json' FOR SELECT 1"))
    assert(e1.getMessage.contains("INSERT"))
    val e2 = intercept[Exception](FlinkSql.sql(spark,
      s"COMPILE PLAN '$dir/y.json' FOR INSERT INTO cp_nope SELECT 1"))
    assert(e2.getMessage.contains("not a DDL-registered"))
    val e3 = intercept[Exception](FlinkSql.sql(spark,
      s"EXECUTE PLAN '$dir/absent.json'"))
    assert(e3.getMessage.contains("no plan file"))
    // a non-plan JSON file is rejected, not half-executed
    Files.writeString(Paths.get(s"$dir/junk.json"), """{"a": 1}""")
    val e4 = intercept[Exception](FlinkSql.sql(spark,
      s"EXECUTE PLAN '$dir/junk.json'"))
    assert(e4.getMessage.contains("not a graft-compiled plan"))
    // a dot-dot plan path round-trips: compile normalizes the write and
    // execute normalizes the read, so the SAME string works for both
    FlinkSql.run(spark,
      s"""CREATE TABLE cpn_snk (x BIGINT) WITH (
         |  'connector' = 'filesystem', 'path' = '$dir/nsnk', 'format' = 'parquet');
         |COMPILE PLAN '$dir/sub/../dots.json' FOR
         |  INSERT INTO cpn_snk SELECT CAST(7 AS BIGINT) AS x""".stripMargin)
    FlinkSql.sql(spark, s"EXECUTE PLAN '$dir/sub/../dots.json'")
    assert(spark.table("cpn_snk").count() == 1)
    FlinkSql.sql(spark, "DROP TABLE cpn_snk")
  }
}
