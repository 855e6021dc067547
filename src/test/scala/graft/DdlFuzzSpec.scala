package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.plans.FlinkDdl

/** Fuzz the connector-DDL entry point: every CREATE TABLE a migrating
  * script can contain must either register (and the view must resolve)
  * or fail with a CLEAN typed error — IllegalArgumentException from the
  * dialect's own validation, or Spark's AnalysisException for
  * expressions Spark itself rejects. Never a MatchError, NPE, or
  * index-out-of-bounds from the splitter/regex layer. The generator
  * mixes valid pieces with the hostile ones: malformed column specs,
  * unknown metadata keys, garbage watermarks, missing WITH clauses,
  * unbalanced generics.
  */
class DdlFuzzSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  private def forAllSeeded[A](gen: Gen[A], n: Int)(check: A => Unit): Unit =
    (1 to n).foreach { i =>
      gen(Gen.Parameters.default, Seed(i.toLong)).foreach(check)
    }

  private val colDef: Gen[String] = Gen.oneOf(
    Gen.const("id BIGINT"),
    Gen.const("v DOUBLE NOT NULL"),
    Gen.const("ts TIMESTAMP(3)"),
    Gen.const("m MAP<STRING, INT>"),
    Gen.const("r ROW<a INT, b STRING>"),
    Gen.const("c AS v * 2"),
    Gen.const("c2 AS CASE WHEN v < 1 THEN 0 ELSE 1 END"),
    Gen.const("bad AS nonexistent_col + 1"),
    Gen.const("fp STRING METADATA FROM 'file.path' VIRTUAL"),
    Gen.const("fx STRING METADATA FROM 'no.such.key' VIRTUAL"),
    Gen.const("off BIGINT METADATA VIRTUAL"),
    Gen.const("WATERMARK FOR ts AS ts - INTERVAL '5' SECOND"),
    Gen.const("WATERMARK FOR ts AS ts"),
    Gen.const("WATERMARK FOR nope AS nope - INTERVAL '1' HOUR"),
    Gen.const("WATERMARK FOR ts AS garbage(ts)"),
    Gen.const("PRIMARY KEY (id) NOT ENFORCED"),
    Gen.const("x"),
    Gen.const("y <"),
    Gen.const("AS"),
    Gen.const("id BIGINT METADATA FROM"),
    Gen.const("'quoted junk'"),
    Gen.const("z ARRAY<"),
    Gen.const("w MAP<STRING,"))

  private val withClause: Gen[String] = Gen.oneOf(
    Gen.const("WITH ('connector' = 'datagen', 'number-of-rows' = '5')"),
    Gen.const("WITH ('connector' = 'blackhole')"),
    Gen.const("WITH ('connector' = 'filesystem', 'path' = '/tmp/fz_nonexistent', 'format' = 'parquet')"),
    Gen.const("WITH ('connector' = 'filesystem', 'path' = '/tmp/fz_nonexistent')"),
    Gen.const("WITH ('connector' = 'kafka', 'topic' = 't', " +
      "'properties.bootstrap.servers' = 'b:9092', 'format' = 'json', " +
      "'scan.startup.mode' = 'earliest-offset')"),
    Gen.const("WITH ('connector' = 'kafka')"),
    Gen.const("WITH ('connector' = 'nope')"),
    Gen.const("WITH ('connector' = 'datagen', 'fields.id.kind' = 'sequence', " +
      "'fields.id.start' = '3', 'fields.id.end' = '1')"),
    Gen.const("WITH ('connector' = 'datagen', 'fields.id.kind' = 'gaussian')"),
    Gen.const("WITH ('connector' = 'datagen', 'fields.id.min' = 'abc')"),
    Gen.const("WITH ('connector' = 'datagen', 'fields.nope.kind' = 'sequence')"),
    Gen.const("WITH ('connector' = 'kafka', 'topic' = 't', " +
      "'properties.bootstrap.servers' = 'b:9092', 'format' = 'raw')"),
    Gen.const("WITH ()"),
    Gen.const(""))

  private val stmt: Gen[String] = for {
    n    <- Gen.choose(1, 5)
    cols <- Gen.listOfN(n, colDef)
    w    <- withClause
    part <- Gen.oneOf("", " PARTITIONED BY (id)", " PARTITIONED BY (ghost)")
  } yield s"CREATE TABLE fz_t (${cols.mkString(", ")})$part $w"

  test("every generated CREATE TABLE registers cleanly or fails with a typed error") {
    forAllSeeded(stmt, 400) { s =>
      try {
        FlinkDdl.execute(spark, s)
        // success ⇒ the view must resolve and analyze
        spark.table("fz_t").schema
      } catch {
        case _: IllegalArgumentException => () // dialect validation
        case _: org.apache.spark.sql.AnalysisException => () // Spark's own rejection
        case e: Throwable =>
          fail(s"unclean failure ${e.getClass.getName} on <$s>: ${e.getMessage}")
      }
    }
    spark.catalog.dropTempView("fz_t")
  }

  private val alterPayload: Gen[String] = Gen.oneOf(
    Gen.const("ADD w DOUBLE"),
    Gen.const("ADD (w DOUBLE, w2 STRING AFTER id)"),
    Gen.const("ADD w DOUBLE FIRST"),
    Gen.const("ADD c3 AS v + 1"),
    Gen.const("ADD fm STRING METADATA FROM 'file.name' VIRTUAL"),
    Gen.const("ADD fb STRING METADATA FROM 'bogus' VIRTUAL"),
    Gen.const("ADD WATERMARK FOR ts AS ts - INTERVAL '1' SECOND"),
    Gen.const("ADD WATERMARK FOR ghost AS ghost - INTERVAL '1' SECOND"),
    Gen.const("ADD PRIMARY KEY (id) NOT ENFORCED"),
    Gen.const("MODIFY id STRING"),
    Gen.const("MODIFY ghost BIGINT"),
    Gen.const("MODIFY id BIGINT AFTER v"),
    Gen.const("DROP v"),
    Gen.const("DROP ghost"),
    Gen.const("DROP (id, v)"),
    Gen.const("DROP WATERMARK"),
    Gen.const("DROP PRIMARY KEY"),
    Gen.const("RENAME id TO id2"),
    Gen.const("RENAME ghost TO g2"),
    Gen.const("ADD"),
    Gen.const("MODIFY"),
    Gen.const("ADD x <"),
    Gen.const("ADD 'junk'"))

  test("every generated ALTER TABLE evolves cleanly or fails with a typed error") {
    forAllSeeded(Gen.listOfN(3, alterPayload), 150) { payloads =>
      FlinkDdl.execute(spark,
        """CREATE TABLE fz_alt (id BIGINT, v DOUBLE, ts TIMESTAMP(3))
          |WITH ('connector' = 'datagen', 'number-of-rows' = '3')""".stripMargin)
      payloads.foreach { p =>
        try {
          FlinkDdl.executeAlter(spark, s"ALTER TABLE fz_alt $p")
          spark.table("fz_alt").schema // evolved view must still analyze
        } catch {
          case _: IllegalArgumentException => ()
          case _: org.apache.spark.sql.AnalysisException => ()
          case e: Throwable =>
            fail(s"unclean failure ${e.getClass.getName} on <ALTER TABLE fz_alt $p>: ${e.getMessage}")
        }
      }
    }
    spark.catalog.dropTempView("fz_alt")
  }

  private val dialectStmt: Gen[String] = Gen.oneOf(
    Gen.const("SHOW TABLES"),
    Gen.const("SHOW TABLES FROM ghost_db"),
    Gen.const("SHOW TABLES LIKE 'fz%'"),
    Gen.const("SHOW CREATE TABLE fz_ghost"),
    Gen.const("SHOW CREATE VIEW fz_ghost"),
    Gen.const("SHOW COLUMNS FROM fz_ghost"),
    Gen.const("SHOW PARTITIONS fz_ghost"),
    Gen.const("SHOW FUNCTIONS"),
    Gen.const("SHOW VIEWS"),
    Gen.const("SHOW JOBS"),
    Gen.const("SHOW JARS"),
    Gen.const("SHOW CURRENT CATALOG"),
    Gen.const("DESCRIBE fz_ghost"),
    Gen.const("SET"),
    Gen.const("SET 'x' = 'y'"),
    Gen.const("SET 'table.local-time-zone' = 'UTC'"),
    Gen.const("RESET"),
    Gen.const("RESET 'x'"),
    Gen.const("USE CATALOG c1"),
    Gen.const("USE ghost_db"),
    Gen.const("SHOW MODULES"),
    Gen.const("SHOW FULL MODULES"),
    Gen.const("LOAD MODULE fz_mod"),
    Gen.const("LOAD MODULE fz_mod WITH ('k' = 'v')"),
    Gen.const("UNLOAD MODULE fz_ghost_mod"),
    Gen.const("USE MODULES core"),
    Gen.const("USE MODULES core, core"),
    Gen.const("USE MODULES ghost_mod"),
    Gen.const("USE MODULES"),
    Gen.const("EXPLAIN SELECT 1"),
    Gen.const("EXPLAIN PLAN FOR SELECT 1"),
    Gen.const("EXPLAIN garbage garbage"),
    Gen.const("CREATE VIEW fz_v AS SELECT 1 AS a"),
    Gen.const("CREATE VIEW fz_v2 (x) AS SELECT 2"),
    Gen.const("DROP VIEW IF EXISTS fz_v"),
    Gen.const("DROP TEMPORARY VIEW IF EXISTS fz_v2"),
    Gen.const("DROP TABLE IF EXISTS fz_ghost_t"),
    Gen.const("TRUNCATE TABLE fz_ghost"),
    Gen.const("ANALYZE TABLE fz_ghost COMPUTE STATISTICS"),
    Gen.const("STOP JOB 'nope'"),
    Gen.const("SELECT SPLIT_INDEX('a,b,c', ',', 1)"),
    Gen.const("SELECT ARRAY[1, 2, 3][1]"),
    Gen.const("INSERT INTO fz_ghost SELECT 1"),
    Gen.const("LOAD MODULE hive"),
    Gen.const("garbage statement ;;"),
    Gen.const("CREATE TABLE"),
    Gen.const(""))

  test("every dialect statement through FlinkSql.sql answers or fails typed") {
    forAllSeeded(dialectStmt, 200) { s =>
      if (s.trim.nonEmpty) {
        try FlinkSql.sql(spark, s).schema
        catch {
          case _: IllegalArgumentException => ()
          case _: IllegalStateException => () // session-state commands (STOP JOB on no job)
          case _: org.apache.spark.sql.AnalysisException => ()
          case e: Throwable =>
            fail(s"unclean failure ${e.getClass.getName} on <$s>: ${e.getMessage}")
        }
      }
    }
  }

  private val insertTail: Gen[String] = Gen.oneOf(
    Gen.const("SELECT 1, 2.5"),
    Gen.const("SELECT 1"),
    Gen.const("(v, id) SELECT 2.5, 1"),
    Gen.const("(v) SELECT 2.5"),
    Gen.const("(ghost) SELECT 1"),
    Gen.const("(id, id) SELECT 1, 2"),
    Gen.const("PARTITION (id=1) SELECT 2.5"),
    Gen.const("SELECT 'not_a_number', 'nope'"),
    Gen.const("VALUES (1, 2.5)"),
    Gen.const("SELECT * FROM fz_missing_src"))

  test("every generated INSERT maps cleanly or fails with a typed error") {
    val dir = tempDir("fz_ins")
    FlinkDdl.execute(spark,
      s"""CREATE TABLE fz_ins (id BIGINT, v DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/t', 'format' = 'parquet')""".stripMargin)
    forAllSeeded(insertTail, 60) { tail =>
      val s = s"INSERT INTO fz_ins $tail"
      try {
        FlinkDdl.executeInsert(spark, s)
        spark.table("fz_ins").schema
      } catch {
        case _: IllegalArgumentException => ()
        case _: org.apache.spark.sql.AnalysisException => ()
        case _: org.apache.spark.SparkException => () // runtime cast failures surface typed
        case e: Throwable =>
          fail(s"unclean failure ${e.getClass.getName} on <$s>: ${e.getMessage}")
      }
    }
    spark.catalog.dropTempView("fz_ins")
  }
}
