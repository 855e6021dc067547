package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Fuzz the two newest dialect entries — FLIP-190 plan persistence
  * (COMPILE/EXECUTE PLAN) and the key-value hints (LOOKUP/STATE_TTL):
  * every generated statement must answer or fail with a CLEAN typed
  * error (the dialect's IllegalArgumentException or Spark's analysis /
  * parse exceptions), never a MatchError, NPE, or regex blowup — a
  * migrating script's typo lands here first.
  */
class PlanHintFuzzSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def forAllSeeded[A](gen: Gen[A], n: Int)(check: A => Unit): Unit =
    (1 to n).foreach { i =>
      gen(Gen.Parameters.default, Seed(i.toLong)).foreach(check)
    }

  private def cleanOnly(s: String): Unit =
    try { FlinkSql.sql(spark, s).schema; () }
    catch {
      case _: IllegalArgumentException => ()
      case _: org.apache.spark.sql.AnalysisException => ()
      case _: org.apache.spark.sql.catalyst.parser.ParseException => ()
      case e: Throwable =>
        fail(s"unclean failure ${e.getClass.getName} on <$s>: ${e.getMessage}")
    }

  private val dir = TestSpark.exitTempDir("fz_plan")

  private val planPath: Gen[String] = Gen.oneOf(
    Gen.const(s"$dir/p1.json"),
    Gen.const(s"$dir/nested/deep/p2.json"),
    Gen.const(s"$dir/p1.json"), // repeat → exercises force-recompile refusal
    Gen.const(s"$dir/sub/../p3.json"), // non-normalized path
    Gen.const(s"$dir")) // a directory, not a file

  private val planBody: Gen[String] = Gen.oneOf(
    Gen.const("INSERT INTO fz_plan_snk SELECT id, v FROM fz_plan_src"),
    Gen.const("INSERT INTO fz_plan_snk SELECT id, v FROM fz_plan_v"),
    Gen.const("INSERT OVERWRITE fz_plan_snk SELECT id, v FROM fz_plan_src"),
    Gen.const("INSERT INTO fz_plan_missing SELECT 1, 2.5"),
    Gen.const("INSERT INTO fz_plan_snk SELECT ghost FROM fz_plan_src"),
    Gen.const("SELECT id FROM fz_plan_src"),
    Gen.const("DELETE FROM fz_plan_snk"),
    Gen.const(""),
    Gen.const("STATEMENT SET BEGIN INSERT INTO fz_plan_snk SELECT id, v FROM fz_plan_src; END"),
    Gen.const("STATEMENT SET BEGIN END"),
    Gen.const("STATEMENT SET BEGIN INSERT INTO fz_plan_snk SELECT id, v FROM fz_plan_src; SELECT 1; END"))

  private val compileStmt: Gen[String] = for {
    exec <- Gen.oneOf("", "AND EXECUTE ")
    p <- planPath
    b <- planBody
  } yield s"COMPILE ${exec}PLAN '$p' FOR $b"

  private val executeStmt: Gen[String] = Gen.oneOf(
    Gen.const(s"EXECUTE PLAN '$dir/p1.json'"),
    Gen.const(s"EXECUTE PLAN '$dir/absent.json'"),
    Gen.const(s"EXECUTE PLAN '$dir/junk.json'"),
    Gen.const(s"EXECUTE PLAN '$dir'"),
    Gen.const("EXECUTE PLAN ''"))

  test("every COMPILE/EXECUTE PLAN statement answers or fails typed") {
    FlinkSql.run(spark,
      s"""CREATE TABLE fz_plan_src (id BIGINT, v DOUBLE) WITH (
         |  'connector' = 'filesystem', 'path' = '$dir/src', 'format' = 'parquet');
         |INSERT INTO fz_plan_src VALUES (1, 1.5), (2, 2.5);
         |CREATE VIEW fz_plan_v AS SELECT id, v * 2 AS v FROM fz_plan_src;
         |CREATE TABLE fz_plan_snk (id BIGINT, v DOUBLE) WITH (
         |  'connector' = 'filesystem', 'path' = '$dir/snk', 'format' = 'parquet')""".stripMargin)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/junk.json"), "{not json at all")
    forAllSeeded(compileStmt, 120)(cleanOnly)
    forAllSeeded(executeStmt, 40)(cleanOnly)
    // force-recompile path stays exercised end-to-end
    FlinkSql.run(spark,
      s"""SET 'table.plan.force-recompile' = 'true';
         |COMPILE PLAN '$dir/p1.json' FOR INSERT INTO fz_plan_snk SELECT id, v FROM fz_plan_v;
         |RESET 'table.plan.force-recompile'""".stripMargin)
    cleanOnly(s"EXECUTE PLAN '$dir/p1.json'")
    FlinkSql.run(spark, "DROP TABLE fz_plan_src; DROP TABLE fz_plan_snk; DROP VIEW fz_plan_v")
  }

  private val hintKey: Gen[String] = Gen.oneOf(
    "table", "async", "output-mode", "capacity", "timeout", "retry-predicate",
    "retry-strategy", "fixed-delay", "max-attempts", "nope", "TABLE", "")
  private val hintVal: Gen[String] = Gen.oneOf(
    "t", "true", "false", "ordered", "allow_unordered", "100", "-3",
    "lookup_miss", "fixed_delay", "10s", "3 min", "1 d", "garbage", "")
  private val hintPairs: Gen[String] = for {
    n <- Gen.choose(0, 4)
    ps <- Gen.listOfN(n, for { k <- hintKey; v <- hintVal } yield s"'$k'='$v'")
  } yield ps.mkString(", ")

  test("every LOOKUP/STATE_TTL hint validates or fails typed") {
    forAllSeeded(hintPairs, 150) { pairs =>
      cleanOnly(s"SELECT /*+ LOOKUP($pairs) */ 1 AS one")
      cleanOnly(s"SELECT /*+ STATE_TTL($pairs) */ 1 AS one")
    }
  }
}
