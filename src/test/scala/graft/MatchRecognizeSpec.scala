package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Cep
import graft.plans.MatchRecognize

/** SQL-text MATCH_RECOGNIZE: the rewrite engine must agree with the
  * API-level Cep kernel, honor WITHIN/SKIP clauses, reject out-of-subset
  * constructs loudly, and work through the injected parser.
  */
class MatchRecognizeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def mkView(name: String, rows: Seq[(Long, Long, String, Double)]): Unit = {
    import spark.implicits._
    rows.toDF("k", "ord", "sym", "value").createOrReplaceTempView(name)
  }

  test("SQL result equals the API-level Cep.matchPattern on the events fixture") {
    import spark.implicits._
    val sqlRes = SparkEntry.queries("q73_match_recognize_sql")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select($"user_id".cast("long").as("key"),
        $"event_id".cast("long").as("id"),
        $"event_id".cast("long").as("ts"),
        substring($"event_type", 1, 1).as("sym"),
        lit(0.0).as("value"))
      .as[Cep.Event]
    val apiRes = Cep.matchPattern(ev,
        Seq(Cep.times("v", 2, 3), Cep.once("c")),
        withinMs = Long.MaxValue / 4, skip = Cep.SkipPastLastRow)
      .groupBy($"key")
      .agg(count(lit(1)).as("n"), sum($"n_events").cast("long").as("ne"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(sqlRes == apiRes)
    assert(sqlRes.nonEmpty)
  }

  test("WITHIN bounds the match window; SKIP TO NEXT ROW overlaps") {
    // k=1: a(0) b(10) c(20) — within 15 fails (span 20), within 30 matches
    mkView("mr_within", Seq(
      (1L, 0L, "a", 0.0), (1L, 10L, "b", 0.0), (1L, 20L, "c", 0.0)))
    def run(within: Long) = MatchRecognize.sql(spark,
      s"""SELECT * FROM mr_within MATCH_RECOGNIZE (
         |  PARTITION BY k ORDER BY ord
         |  PATTERN (A B C) WITHIN $within
         |  DEFINE A AS sym = 'a', B AS sym = 'b', C AS sym = 'c'
         |)""".stripMargin).collect()
    assert(run(15).isEmpty)
    assert(run(30).map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
      == Seq((1L, 0L, 20L, 3)))

    // overlapping a a a with PATTERN (A A2): skip-to-next-row finds 2,
    // skip-past-last-row finds 1
    mkView("mr_skip", Seq(
      (1L, 0L, "a", 0.0), (1L, 1L, "a", 0.0), (1L, 2L, "a", 0.0)))
    def runSkip(skip: String) = MatchRecognize.sql(spark,
      s"""SELECT * FROM mr_skip MATCH_RECOGNIZE (
         |  PARTITION BY k ORDER BY ord
         |  AFTER MATCH SKIP $skip
         |  PATTERN (A B)
         |  DEFINE A AS sym = 'a', B AS sym = 'a'
         |)""".stripMargin).count()
    assert(runSkip("PAST LAST ROW") == 1L)
    assert(runSkip("TO NEXT ROW") == 2L)
  }

  test("DEFINE takes arbitrary boolean expressions, not just classifiers") {
    mkView("mr_pred", Seq(
      (1L, 0L, "x", 5.0), (1L, 1L, "x", 50.0), (1L, 2L, "x", 7.0),
      (2L, 0L, "x", 60.0), (2L, 1L, "x", 2.0)))
    val got = MatchRecognize.sql(spark,
      """SELECT * FROM mr_pred MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  PATTERN (LOW HIGH)
        |  DEFINE LOW AS value < 10, HIGH AS value >= 10
        |)""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 0L, 1L))) // k=2 is HIGH→LOW: no match
  }

  test("alternation groups: (A|B) steps accept either variable") {
    import spark.implicits._
    // k=1: a b c — (A|B)+ C matches all 3; k=2: b b c — matches too;
    // k=3: x c — the group matches nothing, no match
    mkView("mr_alt", Seq(
      (1L, 0L, "a", 0.0), (1L, 1L, "b", 0.0), (1L, 2L, "c", 0.0),
      (2L, 0L, "b", 0.0), (2L, 1L, "b", 0.0), (2L, 2L, "c", 0.0),
      (3L, 0L, "x", 0.0), (3L, 1L, "c", 0.0)))
    val got = MatchRecognize.sql(spark,
      """SELECT * FROM mr_alt MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  PATTERN ((A | B)+ C)
        |  DEFINE A AS sym = 'a', B AS sym = 'b', C AS sym = 'c'
        |)""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(got == Set((1L, 0L, 2L, 3), (2L, 0L, 2L, 3)))
    // quantified group with bounds + a plain step after
    val got2 = MatchRecognize.sql(spark,
      """SELECT * FROM mr_alt MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  PATTERN ((A | B){2} C)
        |  DEFINE A AS sym = 'a', B AS sym = 'b', C AS sym = 'c'
        |)""".stripMargin).count()
    assert(got2 == 2L)
    // an unDEFINEd variable inside a group still fails loudly
    val e = intercept[IllegalArgumentException](MatchRecognize.sql(spark,
      """SELECT * FROM mr_alt MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  PATTERN ((A | Z) C)
        |  DEFINE A AS sym = 'a', C AS sym = 'c'
        |)""".stripMargin))
    assert(e.getMessage.contains("no DEFINE"))
    // API-level alternation helper agrees
    val ev = Seq(
      Cep.Event(1L, 0L, 0L, "a"), Cep.Event(1L, 1L, 1L, "b"), Cep.Event(1L, 2L, 2L, "c"))
      .toDS()
    val api = Cep.matchPattern(ev,
      Seq(Cep.anyOf(1, Cep.MaxTimes, "a", "b"), Cep.once("c")),
      withinMs = Long.MaxValue / 4, skip = Cep.SkipPastLastRow).collect()
    assert(api.map(m => (m.key, m.n_events)).toSeq == Seq((1L, 3)))
  }

  test("PERMUTE matches the variables in any order") {
    // k=1: a b c (order A B); k=2: b a c (order B A); k=3: a x c (no B)
    mkView("mr_perm", Seq(
      (1L, 0L, "a", 0.0), (1L, 1L, "b", 0.0), (1L, 2L, "c", 0.0),
      (2L, 0L, "b", 0.0), (2L, 1L, "a", 0.0), (2L, 2L, "c", 0.0),
      (3L, 0L, "a", 0.0), (3L, 1L, "x", 0.0), (3L, 2L, "c", 0.0)))
    val got = MatchRecognize.sql(spark,
      """SELECT * FROM mr_perm MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  PATTERN (PERMUTE(A, B) C)
        |  DEFINE A AS sym = 'a', B AS sym = 'b', C AS sym = 'c'
        |)""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(got == Set((1L, 0L, 2L, 3), (2L, 0L, 2L, 3)))

    // 3 variables: the CAB ordering is one of the 3! = 6 expansions
    mkView("mr_perm3", Seq(
      (1L, 0L, "c", 0.0), (1L, 1L, "a", 0.0), (1L, 2L, "b", 0.0)))
    assert(MatchRecognize.sql(spark,
      """SELECT * FROM mr_perm3 MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  PATTERN (PERMUTE(A, B, C))
        |  DEFINE A AS sym = 'a', B AS sym = 'b', C AS sym = 'c'
        |)""".stripMargin).count() == 1L)

    // quantified element: PERMUTE(A, B+) accepts b b a via its B+ A order
    mkView("mr_permq", Seq(
      (1L, 0L, "b", 0.0), (1L, 1L, "b", 0.0), (1L, 2L, "a", 0.0)))
    val q = MatchRecognize.sql(spark,
      """SELECT * FROM mr_permq MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  PATTERN (PERMUTE(A, B+))
        |  DEFINE A AS sym = 'a', B AS sym = 'b'
        |)""".stripMargin).collect()
    assert(q.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
      == Seq((1L, 0L, 2L, 3)))
  }

  test("PERMUTE prefers the listed ordering when several could classify") {
    // both rows satisfy A and B — the SQL-standard expansion order
    // (A B before B A) must classify row 0 as A and row 1 as B
    mkView("mr_perm_pref", Seq((1L, 0L, "p", 10.0), (1L, 1L, "q", 20.0)))
    val pref = MatchRecognize.sql(spark,
      """SELECT * FROM mr_perm_pref MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  MEASURES FIRST(A.value) AS a_val, FIRST(B.value) AS b_val
        |  PATTERN (PERMUTE(A, B))
        |  DEFINE A AS value > 0, B AS value > 0
        |)""".stripMargin).collect()
    assert(pref.length == 1)
    assert(pref(0).getDouble(4) == 10.0 && pref(0).getDouble(5) == 20.0)
  }

  test("PERMUTE out-of-subset shapes fail loudly") {
    mkView("mr_perm_err", Seq((1L, 0L, "a", 0.0)))
    val quant = intercept[IllegalArgumentException](MatchRecognize.sql(spark,
      """SELECT * FROM mr_perm_err MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  PATTERN (PERMUTE(A, B)+)
        |  DEFINE A AS sym = 'a', B AS sym = 'b'
        |)""".stripMargin))
    assert(quant.getMessage.contains("quantifier on PERMUTE"))
    val wide = intercept[IllegalArgumentException](MatchRecognize.sql(spark,
      """SELECT * FROM mr_perm_err MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  PATTERN (PERMUTE(A, B, C, D, E, F, G))
        |  DEFINE A AS sym = 'a', B AS sym = 'b', C AS sym = 'c',
        |         D AS sym = 'd', E AS sym = 'e', F AS sym = 'f', G AS sym = 'g'
        |)""".stripMargin))
    assert(wide.getMessage.contains("at most 6"))
  }

  test("MEASURES subset agrees with hand-computed per-variable aggregates") {
    mkView("mr_meas", Seq(
      (1L, 0L, "a", 10.0), (1L, 1L, "b", 1.0), (1L, 2L, "b", 3.0), (1L, 3L, "c", 7.0),
      (2L, 0L, "a", 5.0), (2L, 1L, "c", 2.0)))
    val df = MatchRecognize.sql(spark,
      """SELECT * FROM mr_meas MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  MEASURES SUM(B.value) AS b_sum, COUNT(B.*) AS n_b, AVG(B.value) AS b_avg,
        |           FIRST(B.value) AS b_first, LAST(B.value) AS b_last,
        |           A.value AS a_val, MIN(B.value) AS b_min, MAX(B.value) AS b_max,
        |           FIRST(A.sym) AS a_sym, LAST(C.sym) AS c_sym
        |  PATTERN (A B* C)
        |  DEFINE A AS sym = 'a', B AS sym = 'b', C AS sym = 'c'
        |)""".stripMargin)
    assert(df.columns.toSeq == Seq("k", "match_start", "match_end", "n_events",
      "b_sum", "n_b", "b_avg", "b_first", "b_last", "a_val", "b_min", "b_max",
      "a_sym", "c_sym"))
    // FIRST/LAST on a string column keep the original type
    assert(df.schema("a_sym").dataType == org.apache.spark.sql.types.StringType)
    assert(df.collect().forall(r => r.getString(12) == "a" && r.getString(13) == "c"))
    // SUM over a non-numeric column is rejected up front
    val eStr = intercept[IllegalArgumentException](MatchRecognize.sql(spark,
      """SELECT * FROM mr_meas MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  MEASURES SUM(A.sym) AS s
        |  PATTERN (A) DEFINE A AS sym = 'a')""".stripMargin))
    assert(eStr.getMessage.contains("numeric"), eStr.getMessage)
    val rows = df.collect().map(r => r.getLong(0) -> r).toMap
    val r1 = rows(1L) // A(10) B(1) B(3) C(7)
    assert(r1.getInt(3) == 4 && r1.getDouble(4) == 4.0 && r1.getLong(5) == 2L &&
      r1.getDouble(6) == 2.0 && r1.getDouble(7) == 1.0 && r1.getDouble(8) == 3.0 &&
      r1.getDouble(9) == 10.0 && r1.getDouble(10) == 1.0 && r1.getDouble(11) == 3.0)
    // B matched zero rows for k=2: COUNT is 0, the rest are NULL
    val r2 = rows(2L)
    assert(r2.getInt(3) == 2 && r2.getLong(5) == 0L && r2.isNullAt(4) &&
      r2.isNullAt(6) && r2.isNullAt(7) && r2.isNullAt(8) && r2.getDouble(9) == 5.0)
    // measures classify alternation rows to the matching alternative
    val alt = MatchRecognize.sql(spark,
      """SELECT * FROM mr_meas MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  MEASURES COUNT(A.*) AS n_a, COUNT(B.*) AS n_b, SUM(B.value) AS b_sum
        |  PATTERN ((A | B)+ C)
        |  DEFINE A AS sym = 'a', B AS sym = 'b', C AS sym = 'c'
        |)""".stripMargin).collect().map(r => r.getLong(0) -> r).toMap
    assert(alt(1L).getLong(4) == 1L && alt(1L).getLong(5) == 2L &&
      alt(1L).getDouble(6) == 4.0)
    assert(alt(2L).getLong(4) == 1L && alt(2L).getLong(5) == 0L)
    // unknown measure column / non-pattern variable fail loudly
    def bad(sql: String) =
      intercept[IllegalArgumentException](MatchRecognize.sql(spark, sql))
    assert(bad("""SELECT * FROM mr_meas MATCH_RECOGNIZE (
      | PARTITION BY k ORDER BY ord
      | MEASURES SUM(A.nope) AS s
      | PATTERN (A) DEFINE A AS sym = 'a')""".stripMargin)
      .getMessage.contains("not a column"))
    assert(bad("""SELECT * FROM mr_meas MATCH_RECOGNIZE (
      | PARTITION BY k ORDER BY ord
      | MEASURES SUM(Z.value) AS s
      | PATTERN (A) DEFINE A AS sym = 'a', Z AS sym = 'z')""".stripMargin)
      .getMessage.contains("not a pattern variable"))
  }

  test("FIRST/LAST logical offsets: one-row, out-of-range NULL, ALL ROWS running") {
    // B rows: values 1, 3, 5 at ords 1..3
    mkView("mr_off", Seq(
      (1L, 0L, "a", 10.0), (1L, 1L, "b", 1.0), (1L, 2L, "b", 3.0),
      (1L, 3L, "b", 5.0), (1L, 4L, "c", 7.0)))
    val df = MatchRecognize.sql(spark,
      """SELECT * FROM mr_off MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  MEASURES FIRST(B.value) AS f0, FIRST(B.value, 1) AS f1,
        |           LAST(B.value, 1) AS l1, LAST(B.value, 2) AS l2,
        |           FIRST(B.value, 5) AS f5, LAST(B.sym, 1) AS ls1
        |  PATTERN (A B* C)
        |  DEFINE A AS sym = 'a', B AS sym = 'b', C AS sym = 'c'
        |)""".stripMargin).head()
    assert(df.getDouble(4) == 1.0 && df.getDouble(5) == 3.0) // f0, f1
    assert(df.getDouble(6) == 3.0 && df.getDouble(7) == 1.0) // l1, l2
    assert(df.isNullAt(8), "offset past the variable's rows must be NULL")
    assert(df.getString(9) == "b") // string view honors the offset
    // offsets on non-navigation aggregates are rejected
    val e = intercept[IllegalArgumentException](MatchRecognize.sql(spark,
      """SELECT * FROM mr_off MATCH_RECOGNIZE (
        | PARTITION BY k ORDER BY ord
        | MEASURES SUM(B.value, 1) AS s
        | PATTERN (B) DEFINE B AS sym = 'b')""".stripMargin))
    assert(e.getMessage.contains("only valid on FIRST/LAST"))
    // ALL ROWS: LAST(B.value, 1) is RUNNING — one value behind the last
    val all = MatchRecognize.sql(spark,
      """SELECT * FROM mr_off MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  MEASURES LAST(B.value, 1) AS l1
        |  ALL ROWS PER MATCH
        |  PATTERN (A B* C)
        |  DEFINE A AS sym = 'a', B AS sym = 'b', C AS sym = 'c'
        |)""".stripMargin)
      .orderBy("ord").collect()
      .map(r => (r.getLong(r.fieldIndex("ord")),
        if (r.isNullAt(r.fieldIndex("l1"))) null
        else java.lang.Double.valueOf(r.getDouble(r.fieldIndex("l1")))))
    // rows: a(0) → null; b(1) → null (only one B); b(2) → 1.0; b(3) → 3.0;
    // c(4) → 3.0 (B unchanged)
    assert(all.toSeq == Seq(0L -> null, 1L -> null, 2L -> 1.0, 3L -> 3.0, 4L -> 3.0),
      all.mkString(", "))
  }

  test("ALL ROWS PER MATCH emits matched rows with classifier and RUNNING measures") {
    mkView("mr_all", Seq(
      (1L, 0L, "a", 10.0), (1L, 1L, "b", 1.0), (1L, 2L, "b", 3.0), (1L, 3L, "c", 7.0),
      (2L, 0L, "a", 5.0), (2L, 1L, "c", 2.0),
      (3L, 0L, "x", 9.0))) // unmatched: omitted from the output
    val df = MatchRecognize.sql(spark,
      """SELECT * FROM mr_all MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  MEASURES SUM(B.value) AS b_run, COUNT(B.*) AS n_b, LAST(C.value) AS c_val
        |  ALL ROWS PER MATCH
        |  PATTERN (A B* C)
        |  DEFINE A AS sym = 'a', B AS sym = 'b', C AS sym = 'c'
        |)""".stripMargin)
    // every input column survives, then match_seq/classifier/measures
    assert(df.columns.toSeq ==
      Seq("k", "ord", "sym", "value", "match_seq", "classifier", "b_run", "n_b", "c_val"))
    val rows = df.collect().map { r =>
      (r.getLong(0), r.getLong(1)) ->
        (r.getLong(4), r.getString(5),
          if (r.isNullAt(6)) null else r.getDouble(6), r.getLong(7),
          if (r.isNullAt(8)) null else r.getDouble(8))
    }.toMap
    assert(rows.size == 6, s"got ${rows.keys.toSeq.sorted}")
    // k=1: RUNNING sum of B grows 1.0 -> 4.0; C appears only on its row
    assert(rows((1L, 0L)) == ((1L, "A", null, 0L, null)))
    assert(rows((1L, 1L)) == ((1L, "B", 1.0, 1L, null)))
    assert(rows((1L, 2L)) == ((1L, "B", 4.0, 2L, null)))
    assert(rows((1L, 3L)) == ((1L, "C", 4.0, 2L, 7.0)))
    // k=2: optional B matched zero rows throughout
    assert(rows((2L, 0L)) == ((1L, "A", null, 0L, null)))
    assert(rows((2L, 1L)) == ((1L, "C", null, 0L, 2.0)))
    // the original row payload (sym, value) rides along
    val payload = df.collect().map(r => (r.getLong(0), r.getLong(1)) ->
      (r.getString(2), r.getDouble(3))).toMap
    assert(payload((1L, 3L)) == (("c", 7.0)))
    // match_seq counts per partition: two matches for a SKIP TO NEXT ROW
    // overlap shape
    mkView("mr_all2", Seq(
      (1L, 0L, "a", 1.0), (1L, 1L, "a", 2.0), (1L, 2L, "c", 3.0)))
    val seqs = MatchRecognize.sql(spark,
      """SELECT ord, match_seq, classifier FROM mr_all2 MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  ALL ROWS PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A+ C)
        |  DEFINE A AS sym = 'a', C AS sym = 'c'
        |)""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(seqs == Set((0L, 1L, "A"), (1L, 1L, "A"), (2L, 1L, "C"),
      (1L, 2L, "A"), (2L, 2L, "C")))
  }

  test("AFTER MATCH SKIP TO FIRST/LAST variable resumes inside the match") {
    // A accepts everything, B only >= 10: the B row of one match can
    // START the next — TO FIRST B finds the overlapping match that
    // PAST LAST ROW skips over
    mkView("mr_skipvar", Seq(
      (1L, 0L, "x", 1.0), (1L, 1L, "x", 2.0), (1L, 2L, "x", 10.0),
      (1L, 3L, "x", 3.0), (1L, 4L, "x", 11.0)))
    def run(skip: String) = MatchRecognize.sql(spark,
      s"""SELECT * FROM mr_skipvar MATCH_RECOGNIZE (
         |  PARTITION BY k ORDER BY ord
         |  AFTER MATCH SKIP $skip
         |  PATTERN (A{2} B)
         |  DEFINE A AS value >= 1, B AS value >= 10
         |)""".stripMargin)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(run("PAST LAST ROW") == Set((0L, 2L)))
    assert(run("TO FIRST B") == Set((0L, 2L), (2L, 4L)), "resumes AT the B row")
    assert(run("TO LAST A") == Set((0L, 2L), (2L, 4L)), "resumes at the last A row")
    // resuming on the match's own first row is a loud loop error (Flink
    // raises the same way)
    val e = intercept[Exception](run("TO FIRST A"))
    assert(e.getMessage.contains("loop"), e.getMessage)
    // a skip target inside an alternation group is rejected at parse
    val e2 = intercept[IllegalArgumentException](MatchRecognize.sql(spark,
      """SELECT * FROM mr_skipvar MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  AFTER MATCH SKIP TO FIRST A
        |  PATTERN ((A | B)+ C)
        |  DEFINE A AS value < 10, B AS value >= 10, C AS value > 100
        |)""".stripMargin))
    assert(e2.getMessage.contains("single-variable"), e2.getMessage)
  }

  test("FINAL/RUNNING measure wrappers are accepted in ONE ROW PER MATCH") {
    // ONE ROW PER MATCH evaluates measures on the completed match, so
    // FINAL (the standard's default there) and RUNNING-at-last-row are
    // both the plain aggregate — the wrapped forms must equal unwrapped
    mkView("mr_final", Seq(
      (1L, 0L, "a", 2.0), (1L, 1L, "a", 3.0), (1L, 2L, "c", 9.0)))
    def run(measure: String) = MatchRecognize.sql(spark,
      s"""SELECT * FROM mr_final MATCH_RECOGNIZE (
         |  PARTITION BY k ORDER BY ord
         |  MEASURES $measure AS s
         |  PATTERN (A+ C)
         |  DEFINE A AS sym = 'a', C AS sym = 'c'
         |)""".stripMargin).collect().map(r => (r.getLong(0), r.getDouble(4))).toSeq
    val plain = run("SUM(A.value)")
    assert(plain == Seq((1L, 5.0)))
    assert(run("FINAL(SUM(A.value))") == plain)
    assert(run("RUNNING(SUM(A.value))") == plain)
  }

  test("FINAL measures under ALL ROWS PER MATCH report the completed match per row") {
    // B spans syms 'd' then 'b' so the string MIN/MAX move as the match
    // runs; FINAL variants must show the completed value on EVERY row
    mkView("mr_finall", Seq(
      (1L, 0L, "a", 10.0), (1L, 1L, "d", 1.0), (1L, 2L, "b", 3.0), (1L, 3L, "c", 7.0)))
    val df = MatchRecognize.sql(spark,
      """SELECT ord, classifier, b_fin, b_run, s_fin, s_run
        |FROM mr_finall MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  MEASURES FINAL(SUM(B.value)) AS b_fin, RUNNING(SUM(B.value)) AS b_run,
        |           FINAL(MAX(B.sym)) AS s_fin, RUNNING(MIN(B.sym)) AS s_run
        |  ALL ROWS PER MATCH
        |  PATTERN (A B* C)
        |  DEFINE A AS sym = 'a', B AS sym = 'b' OR sym = 'd', C AS sym = 'c'
        |)""".stripMargin)
    val rows = df.collect().map(r => r.getLong(0) ->
      (r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2),
        if (r.isNullAt(3)) null else r.getDouble(3),
        r.getString(4), r.getString(5))).toMap
    assert(rows.size == 4)
    // FINAL columns are constant across the match; RUNNING ones evolve
    assert(rows(0L) == (("A", 4.0, null, "d", null)))
    assert(rows(1L) == (("B", 4.0, 1.0, "d", "d")))
    assert(rows(2L) == (("B", 4.0, 4.0, "d", "b")))
    assert(rows(3L) == (("C", 4.0, 4.0, "d", "b")))
  }

  test("MIN/MAX measures on a string column keep the original type") {
    mkView("mr_strmm", Seq(
      (1L, 0L, "a", 10.0), (1L, 1L, "d", 1.0), (1L, 2L, "b", 3.0), (1L, 3L, "c", 7.0)))
    val df = MatchRecognize.sql(spark,
      """SELECT k, s_min, s_max FROM mr_strmm MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  MEASURES MIN(B.sym) AS s_min, MAX(B.sym) AS s_max
        |  PATTERN (A B* C)
        |  DEFINE A AS sym = 'a', B AS sym = 'b' OR sym = 'd', C AS sym = 'c'
        |)""".stripMargin)
    assert(df.schema("s_min").dataType == org.apache.spark.sql.types.StringType)
    assert(df.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      == Seq((1L, "b", "d")))
  }

  test("PREV/NEXT navigation: the V-shape price pattern") {
    // classic falling-then-rising price: DOWN rows have price < previous
    // row's, UP rows price > previous row's (physical navigation, so the
    // first DOWN compares against the pre-match STRT-less row)
    mkView("mr_nav", Seq(
      (1L, 1L, "x", 10.0), (1L, 2L, "x", 8.0), (1L, 3L, "x", 5.0),
      (1L, 4L, "x", 7.0), (1L, 5L, "x", 9.0),
      (2L, 1L, "x", 3.0), (2L, 2L, "x", 4.0))) // rising only: no match
    val got = MatchRecognize.sql(spark,
      """SELECT * FROM mr_nav MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  MEASURES FIRST(DOWN.value) AS top, MIN(DOWN.value) AS bottom,
        |           LAST(UP.value) AS rebound
        |  PATTERN (DOWN+ UP+)
        |  DEFINE DOWN AS DOWN.value < PREV(DOWN.value),
        |         UP AS UP.value > PREV(UP.value)
        |)""".stripMargin).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L && r.getLong(2) == 5L)
    assert(r.getDouble(4) == 8.0 && r.getDouble(5) == 5.0 && r.getDouble(6) == 9.0)
  }

  test("NEXT with an explicit offset and PREV at the partition start") {
    // B requires the value two rows AHEAD to exist and exceed 5: rows 1,2
    // qualify (see 3->ord+2? ord 1 sees ord 3's 6.0) — and a PREV-based
    // pattern never matches on the first row (NULL predicate = false)
    mkView("mr_nav2", Seq(
      (1L, 1L, "x", 1.0), (1L, 2L, "x", 2.0), (1L, 3L, "x", 6.0),
      (1L, 4L, "x", 7.0)))
    val next2 = MatchRecognize.sql(spark,
      """SELECT * FROM mr_nav2 MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  PATTERN (B) AFTER MATCH SKIP TO NEXT ROW
        |  DEFINE B AS NEXT(value, 2) > 5
        |)""".stripMargin).collect().map(_.getLong(1)).toSet
    assert(next2 == Set(1L, 2L)) // ords 3,4 have no row two ahead -> NULL -> false
    val prevStart = MatchRecognize.sql(spark,
      """SELECT * FROM mr_nav2 MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  PATTERN (B) AFTER MATCH SKIP TO NEXT ROW
        |  DEFINE B AS PREV(value) < 100
        |)""".stripMargin).collect().map(_.getLong(1)).toSet
    assert(prevStart == Set(2L, 3L, 4L)) // row 1: PREV is NULL -> no match
  }

  test("SUBSET union variables, CLASSIFIER() and MATCH_NUMBER() measures") {
    // two matches per partition: (a b c) at ords 1-3 and 5-7; U = (A, C)
    mkView("mr_sub", Seq(
      (1L, 1L, "a", 1.0), (1L, 2L, "b", 10.0), (1L, 3L, "c", 100.0),
      (1L, 4L, "x", 0.0),
      (1L, 5L, "a", 2.0), (1L, 6L, "b", 20.0), (1L, 7L, "c", 200.0)))
    val got = MatchRecognize.sql(spark,
      """SELECT * FROM mr_sub MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  MEASURES SUM(U.value) AS u_sum, COUNT(U.*) AS u_n,
        |           FIRST(U.value) AS u_first, LAST(U.value) AS u_last,
        |           CLASSIFIER() AS last_var, MATCH_NUMBER() AS mn
        |  PATTERN (A B C)
        |  SUBSET U = (A, C)
        |  DEFINE A AS sym = 'a', B AS sym = 'b', C AS sym = 'c'
        |)""".stripMargin).collect()
      .map(r => (r.getLong(1), r.getDouble(4), r.getLong(5),
        r.getDouble(6), r.getDouble(7), r.getString(8), r.getLong(9))).toSet
    assert(got == Set(
      (1L, 101.0, 2L, 1.0, 100.0, "C", 1L),
      (5L, 202.0, 2L, 2.0, 200.0, "C", 2L)))
    // SUBSET under ALL ROWS: running union aggregate per row
    val all = MatchRecognize.sql(spark,
      """SELECT ord, classifier, u_sum FROM mr_sub MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  MEASURES SUM(U.value) AS u_sum
        |  ALL ROWS PER MATCH
        |  PATTERN (A B C)
        |  SUBSET U = (A, C)
        |  DEFINE A AS sym = 'a', B AS sym = 'b', C AS sym = 'c'
        |) WHERE ord <= 3 ORDER BY ord""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(all.toSeq == Seq((1L, "A", 1.0), (2L, "B", 1.0), (3L, "C", 101.0)))
    // guard rails
    def bad(sql: String) =
      intercept[IllegalArgumentException](MatchRecognize.sql(spark, sql))
    assert(bad("""SELECT * FROM mr_sub MATCH_RECOGNIZE (
      | PARTITION BY k ORDER BY ord
      | MEASURES SUM(W.value) AS s
      | PATTERN (A) SUBSET U = (A)
      | DEFINE A AS sym = 'a')""".stripMargin)
      .getMessage.contains("not a SUBSET"))
    assert(bad("""SELECT * FROM mr_sub MATCH_RECOGNIZE (
      | PARTITION BY k ORDER BY ord
      | PATTERN (A) SUBSET A = (A)
      | DEFINE A AS sym = 'a')""".stripMargin)
      .getMessage.contains("collides"))
    assert(bad("""SELECT * FROM mr_sub MATCH_RECOGNIZE (
      | PARTITION BY k ORDER BY ord
      | PATTERN (A) SUBSET U = (A, Z)
      | DEFINE A AS sym = 'a')""".stripMargin)
      .getMessage.contains("not a pattern variable"))
    assert(bad("""SELECT * FROM mr_sub MATCH_RECOGNIZE (
      | PARTITION BY k ORDER BY ord
      | MEASURES MATCH_NUMBER() AS mn
      | ALL ROWS PER MATCH
      | PATTERN (A) DEFINE A AS sym = 'a')""".stripMargin)
      .getMessage.contains("match_seq"))
  }

  test("navigation out-of-subset shapes fail loudly") {
    mkView("mr_nav3", Seq((1L, 1L, "a", 1.0)))
    def bad(define: String) = intercept[IllegalArgumentException](
      MatchRecognize.sql(spark,
        s"""SELECT * FROM mr_nav3 MATCH_RECOGNIZE (
           |  PARTITION BY k ORDER BY ord
           |  PATTERN (A B) DEFINE A AS sym = 'a', B AS $define
           |)""".stripMargin))
    assert(bad("B.value < PREV(A.value)").getMessage.contains("another"))
    assert(bad("value < A.value").getMessage.contains("another"))
    assert(bad("PREV(PREV(value)) < 1").getMessage.contains("nested"))
    assert(bad("PREV(value, k) < 1").getMessage.contains("integer literal"))
  }

  test("reluctant quantifiers prefer the shortest match") {
    // A = TRUE, C = 'c': greedy (A+ C) backtracks from the longest A-run
    // to the LAST c; reluctant (A+? C) stops at the FIRST c, tiling the
    // partition into segments ending at each c
    mkView("mr_rel", Seq(
      (1L, 1L, "a", 0.0), (1L, 2L, "c", 0.0), (1L, 3L, "a", 0.0),
      (1L, 4L, "a", 0.0), (1L, 5L, "c", 0.0), (1L, 6L, "a", 0.0)))
    def run(q: String) = MatchRecognize.sql(spark,
      s"""SELECT * FROM mr_rel MATCH_RECOGNIZE (
         |  PARTITION BY k ORDER BY ord
         |  PATTERN ($q) DEFINE A AS TRUE, C AS sym = 'c'
         |)""".stripMargin).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(run("A+? C") == Set((1L, 2L), (3L, 5L)))
    assert(run("A+ C") == Set((1L, 5L)))
    assert(run("A{1,2}? C") == Set((1L, 2L), (3L, 5L)))
    // reluctant optional: prefers zero rows, so every row is its own match
    assert(run("A C??") == (1L to 6L).map(i => (i, i)).toSet)
    // greedy optional takes the c when present
    assert(run("A C?") == Set((1L, 2L), (3L, 3L), (4L, 5L), (6L, 6L)))
  }

  test("out-of-subset constructs fail loudly") {
    mkView("mr_err", Seq((1L, 0L, "a", 0.0)))
    def bad(sql: String) =
      intercept[IllegalArgumentException](MatchRecognize.sql(spark, sql))
    assert(bad("""SELECT * FROM mr_err MATCH_RECOGNIZE (
      | PARTITION BY k ORDER BY ord
      | MEASURES COUNT(*) AS c
      | PATTERN (A) DEFINE A AS sym = 'a')""".stripMargin)
      .getMessage.contains("MEASURES"))
    assert(bad("""SELECT * FROM mr_err MATCH_RECOGNIZE (
      | PARTITION BY k ORDER BY ord
      | MEASURES AVG(A.sym) AS s
      | PATTERN (A) DEFINE A AS sym = 'a')""".stripMargin)
      .getMessage.contains("numeric"))
    assert(bad("""SELECT * FROM mr_err MATCH_RECOGNIZE (
      | PARTITION BY k ORDER BY ord
      | PATTERN (A B) DEFINE A AS sym = 'a')""".stripMargin)
      .getMessage.contains("no DEFINE"))
    assert(bad("""SELECT * FROM mr_err MATCH_RECOGNIZE (
      | ORDER BY ord PATTERN (A) DEFINE A AS sym = 'a')""".stripMargin)
      .getMessage.contains("PARTITION BY"))
    // one mask bit per variable: a 65th would wrap onto bit 0
    val defines65 = (0 until 65).map(i => s"V$i AS TRUE").mkString(", ")
    assert(bad(s"""SELECT * FROM mr_err MATCH_RECOGNIZE (
      | PARTITION BY k ORDER BY ord
      | PATTERN (V0) DEFINE $defines65)""".stripMargin)
      .getMessage.contains("at most 64 DEFINE variables"))
  }

  test("DEFINE masks keep every bit up to 64 variables") {
    // 55 variables that all hold on every row: a mask packed into a
    // double would round 2^55-1 up to 2^55 and lose V0 and V1
    mkView("mr_wide", Seq((1L, 0L, "a", 0.0), (1L, 1L, "b", 0.0)))
    val defines = (0 until 55).map(i => s"V$i AS TRUE").mkString(", ")
    val got = MatchRecognize.sql(spark,
      s"""SELECT * FROM mr_wide MATCH_RECOGNIZE (
         |  PARTITION BY k ORDER BY ord
         |  PATTERN (V0 V1)
         |  DEFINE $defines
         |)""".stripMargin)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(got == Seq((0L, 1L, 2)))
  }

  test("statements without the clause pass through untouched") {
    mkView("mr_plain", Seq((1L, 0L, "a", 1.5)))
    val got = MatchRecognize.sql(spark, "SELECT k, value FROM mr_plain").collect()
    assert(got.map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((1L, 1.5)))
  }

  test("injected parser accepts MATCH_RECOGNIZE through plain spark.sql") {
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").appName("graft-parser-test")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    val active = s2.newSession()
    import active.implicits._
    Seq((1L, 0L, "a", 0.0), (1L, 1L, "b", 0.0), (1L, 2L, "c", 0.0))
      .toDF("k", "ord", "sym", "value").createOrReplaceTempView("mr_parser")
    try {
      val got = active.sql(
        """SELECT * FROM mr_parser MATCH_RECOGNIZE (
          |  PARTITION BY k ORDER BY ord
          |  PATTERN (A B C)
          |  DEFINE A AS sym = 'a', B AS sym = 'b', C AS sym = 'c'
          |)""".stripMargin).collect()
      assert(got.map(r => (r.getLong(0), r.getInt(3))).toSeq == Seq((1L, 3)))
    } catch {
      case e: org.apache.spark.sql.catalyst.parser.ParseException =>
        // getOrCreate reused the shared test session (extensions bind at
        // first JVM build) — assert the parser wiring directly instead
        import spark.implicits._
        Seq((1L, 0L, "a", 0.0), (1L, 1L, "b", 0.0), (1L, 2L, "c", 0.0))
          .toDF("k", "ord", "sym", "value").createOrReplaceTempView("mr_parser")
        val parser = new graft.plans.GraftSqlParser(spark,
          spark.sessionState.sqlParser)
        val plan = parser.parsePlan(
          """SELECT * FROM mr_parser MATCH_RECOGNIZE (
            |  PARTITION BY k ORDER BY ord
            |  PATTERN (A B C)
            |  DEFINE A AS sym = 'a', B AS sym = 'b', C AS sym = 'c'
            |)""".stripMargin)
        assert(plan != null)
    }
  }

  test("aggregate DEFINE: running SUM cap bounds the greedy take") {
    // B rows accepted while cumulative B.value stays < 10; the row that
    // would push the sum to >= 10 is rejected, ending the B run
    mkView("mr_aggsum", Seq(
      (1L, 0L, "b", 4.0), (1L, 1L, "b", 3.0), (1L, 2L, "b", 5.0), // 4+3 ok, +5 => 12 rejected
      (1L, 3L, "c", 0.0),                                          // strict: b(2) blocks c? no — see below
      (2L, 0L, "b", 9.0), (2L, 1L, "c", 0.0),                      // single b then c
      (3L, 0L, "b", 11.0), (3L, 1L, "c", 0.0)))                    // first b already over cap
    val got = MatchRecognize.sql(spark,
      """SELECT * FROM mr_aggsum MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  PATTERN (B+ C)
        |  DEFINE B AS sym = 'b' AND SUM(B.value) < 10, C AS sym = 'c'
        |)""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    // k=1: B takes ord 0,1 (sum 7), ord2 rejected (12) — but strict
    // contiguity then needs C at ord 2, which is 'b' => no match at 0;
    // anchor ord1: B takes 1 (3), ord2 (3+5=8 ok) -> B at 1,2, C at 3. Match (1, 1..3).
    // k=2: b(9) then c => match. k=3: b rejected (11 >= 10) => none.
    assert(got == Set((1L, 1L, 3L, 3), (2L, 0L, 1L, 2)))
  }

  test("aggregate DEFINE: COUNT cap equals an explicit quantifier bound") {
    val rnd = new scala.util.Random(7)
    val soup = (1L to 6L).flatMap { k =>
      (0 until 40).map(i => (k, i.toLong,
        if (rnd.nextInt(3) == 0) "c" else "v", rnd.nextDouble()))
    }
    mkView("mr_aggcnt", soup)
    def run(q: String) = MatchRecognize.sql(spark, q)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val capped = run(
      """SELECT * FROM mr_aggcnt MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  PATTERN (V+ C)
        |  DEFINE V AS sym = 'v' AND COUNT(V.*) <= 3, C AS sym = 'c'
        |)""".stripMargin)
    val explicit = run(
      """SELECT * FROM mr_aggcnt MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  PATTERN (V{1,3} C)
        |  DEFINE V AS sym = 'v', C AS sym = 'c'
        |)""".stripMargin)
    assert(capped == explicit)
    assert(capped.nonEmpty)
  }

  test("aggregate DEFINE: AVG, literal-first form, cross-variable COUNT, measures") {
    // C requires at least two Bs before it (cross-variable COUNT), B runs
    // while its AVG stays under 5 (literal-first spelling)
    mkView("mr_aggavg", Seq(
      (1L, 0L, "b", 4.0), (1L, 1L, "b", 2.0), (1L, 2L, "c", 0.0),  // avg 3 ok, 2 bs -> match
      (2L, 0L, "b", 4.0), (2L, 1L, "c", 0.0)))                     // only 1 b -> no match
    val got = MatchRecognize.sql(spark,
      """SELECT * FROM mr_aggavg MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  MEASURES SUM(B.value) AS spend
        |  PATTERN (B+ C)
        |  DEFINE B AS sym = 'b' AND 5 > AVG(B.value),
        |         C AS sym = 'c' AND COUNT(B.*) >= 2
        |)""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getDouble(4))).toSet
    assert(got == Set((1L, 3, 6.0)))
  }

  test("aggregate DEFINE: out-of-subset forms fail loudly; streaming rejects") {
    mkView("mr_aggbad", Seq((1L, 0L, "a", 1.0)))
    def bad(q: String, frag: String): Unit = {
      val e = intercept[IllegalArgumentException](MatchRecognize.sql(spark, q))
      assert(e.getMessage.contains(frag), e.getMessage)
    }
    bad("""SELECT * FROM mr_aggbad MATCH_RECOGNIZE (
          |  PARTITION BY k ORDER BY ord
          |  PATTERN (A B)
          |  DEFINE A AS sym = 'a', B AS SUM(B.value) < value
          |)""".stripMargin, "top-level conjuncts")
    bad("""SELECT * FROM mr_aggbad MATCH_RECOGNIZE (
          |  PARTITION BY k ORDER BY ord
          |  PATTERN ((A | B) C)
          |  DEFINE A AS SUM(A.value) < 5, B AS sym = 'b', C AS sym = 'c'
          |)""".stripMargin, "alternation group")
    bad("""SELECT * FROM mr_aggbad MATCH_RECOGNIZE (
          |  PARTITION BY k ORDER BY ord
          |  PATTERN (A B)
          |  DEFINE A AS sym = 'a', B AS MIN(B.value) < value
          |)""".stripMargin, "top-level conjuncts") // non-literal RHS
  }

  test("aggregate DEFINE: running MIN/MAX, own- and cross-variable") {
    // running MIN(B.value) > 2 over B's own rows ≡ the row-local value > 2
    val rnd = new scala.util.Random(11)
    val soup = (1L to 4L).flatMap { k =>
      (0 until 30).map(i => (k, i.toLong,
        if (rnd.nextInt(3) == 0) "c" else "b", rnd.nextInt(8).toDouble))
    }
    mkView("mr_aggmin", soup)
    def run(q: String) = MatchRecognize.sql(spark, q)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val viaMin = run(
      """SELECT * FROM mr_aggmin MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  PATTERN (B+ C)
        |  DEFINE B AS sym = 'b' AND MIN(B.value) > 2, C AS sym = 'c'
        |)""".stripMargin)
    val rowLocal = run(
      """SELECT * FROM mr_aggmin MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  PATTERN (B+ C)
        |  DEFINE B AS sym = 'b' AND value > 2, C AS sym = 'c'
        |)""".stripMargin)
    assert(viaMin == rowLocal)
    assert(viaMin.nonEmpty)

    // cross-variable MAX: C fires only if some prior B reached >= 6
    mkView("mr_aggmax", Seq(
      (1L, 0L, "b", 3.0), (1L, 1L, "b", 7.0), (1L, 2L, "c", 0.0), // max 7 -> match
      (2L, 0L, "b", 3.0), (2L, 1L, "b", 5.0), (2L, 2L, "c", 0.0))) // max 5 -> none
    val got = run(
      """SELECT * FROM mr_aggmax MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  PATTERN (B+ C)
        |  DEFINE B AS sym = 'b', C AS sym = 'c' AND MAX(B.value) >= 6
        |)""".stripMargin)
    assert(got == Set((1L, 0L, 2L, 3)))
  }

  test("aggregate DEFINE fuzz: kernel matches a slice-recomputing reference") {
    // PATTERN (B+ C), DEFINE B AS value < 5 AND SUM(B.value) < cap,
    //                 C AS value >= 3 — the defines OVERLAP on [3, 5), so
    // greedy backtracking genuinely reassigns rows between B and C. The
    // reference recomputes every aggregate from slices (no incremental
    // commit/rewind), so a state-undo bug in the kernel cannot hide.
    def refMatches(vals: IndexedSeq[Double], cap: Double): Set[(Int, Int, Int)] = {
      val n = vals.length
      def bOk(idx: Int, sumBefore: Double) =
        vals(idx) < 5.0 && sumBefore + vals(idx) < cap
      def cOk(idx: Int) = vals(idx) >= 3.0
      def matchAt(st: Int): Option[Int] = {
        var maxTake = 0
        var sum = 0.0
        while (st + maxTake < n && bOk(st + maxTake, sum)) {
          sum += vals(st + maxTake); maxTake += 1
        }
        var take = maxTake
        while (take >= 1) {
          val pos = st + take
          if (pos < n && cOk(pos)) return Some(pos + 1)
          take -= 1
        }
        None
      }
      val out = scala.collection.mutable.Set.empty[(Int, Int, Int)]
      var i = 0
      while (i < n) matchAt(i) match {
        case Some(end) => out += ((i, end - 1, end - i)); i = end
        case None      => i += 1
      }
      out.toSet
    }
    val rnd = new scala.util.Random(2024)
    for (trial <- 0 until 60) {
      val n = 5 + rnd.nextInt(25)
      val vals = IndexedSeq.fill(n)((rnd.nextInt(16) / 2.0)) // 0.0 .. 7.5
      val cap = 2.0 + rnd.nextInt(5) * 2.0
      mkView("mr_aggfuzz", vals.zipWithIndex.map { case (v, i) =>
        (1L, i.toLong, "x", v) })
      val got = MatchRecognize.sql(spark,
        s"""SELECT * FROM mr_aggfuzz MATCH_RECOGNIZE (
           |  PARTITION BY k ORDER BY ord
           |  PATTERN (B+ C)
           |  DEFINE B AS value < 5 AND SUM(B.value) < $cap,
           |         C AS value >= 3
           |)""".stripMargin)
        .collect().map(r => (r.getLong(1).toInt, r.getLong(2).toInt, r.getInt(3))).toSet
      val want = refMatches(vals, cap)
      assert(got == want,
        s"trial $trial cap=$cap vals=$vals\n got=$got\nwant=$want")
    }
  }
}
