package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

import graft.operators.Cep

/** SQL-text MATCH_RECOGNIZE — the reference's SQL CEP surface
  * ([U] flink-sql-parser SqlMatchRecognize + flink-table-runtime
  * operators/match/; SURVEY.md §2.9).
  *
  * Supported subset (documented; everything else raises a clear error):
  *
  * {{{
  * SELECT ... FROM <table> MATCH_RECOGNIZE (
  *   PARTITION BY <col>
  *   ORDER BY <col>                       -- long/int column, or timestamp
  *   [MEASURES agg(V.col) AS alias, ...]  -- agg ∈ { FIRST LAST COUNT
  *                                        --   SUM MIN MAX AVG }; bare
  *                                        --   V.col ≡ LAST; COUNT(V.*);
  *                                        --   FIRST/LAST(V.col, n) logical
  *                                        --   offsets (out of range → NULL);
  *                                        --   CLASSIFIER() / MATCH_NUMBER()
  *                                        --   (one-row-per-match; V may
  *                                        --   also be a SUBSET name);
  *                                        --   FINAL/RUNNING(...) wrappers
  *                                        --   (FINAL ≡ default one-row-
  *                                        --   per-match; under ALL ROWS
  *                                        --   FINAL repeats the completed
  *                                        --   match's value per row)
  *   [ONE ROW PER MATCH | ALL ROWS PER MATCH]
  *   [AFTER MATCH SKIP PAST LAST ROW | TO NEXT ROW | TO FIRST V | TO LAST V]
  *   PATTERN ( S1[q] S2[q] ... )          -- S ∈ { V, (V1|V2|...),
  *                                        --   PERMUTE(V1[q], ..., V6[q]) },
  *                                        -- q ∈ {  +  ?  *  {n}  {n,m}  }
  *                                        --   (+ trailing ? = reluctant)
  *   [WITHIN INTERVAL '<n>' SECOND|MINUTE|HOUR|DAY | WITHIN <n>]
  *   [SUBSET U = (V1, V2), ...]           -- union variables for MEASURES
  *   DEFINE V1 AS <bool expr>, ...        -- any Spark SQL boolean expr;
  *                                        --   PREV(expr[, n]) / NEXT(expr[, n])
  *                                        --   physical navigation (batch);
  *                                        --   V1.col ≡ col for the variable
  *                                        --   being defined; top-level
  *                                        --   conjuncts SUM|COUNT|AVG|MIN|MAX
  *                                        --   <op> <literal> are RUNNING
  *                                        --   aggregates over the partial
  *                                        --   match's V rows incl. the
  *                                        --   current row (batch + streaming)
  * ) [AS alias] ...
  * }}}
  *
  * ONE ROW PER MATCH (the default) emits the partition column (original
  * name + type), `match_start`/`match_end` (the ORDER BY value of the
  * first/last matched row, as long — millis when the order column is a
  * timestamp), `n_events`, then the MEASURES aliases — FIRST/LAST keep
  * the column's original type (any atomic column), COUNT is BIGINT,
  * SUM/AVG are doubles over numeric columns, and MIN/MAX take numeric
  * columns (double out) or string/date/timestamp/boolean ones (original
  * type out, ordered by the canonical string form — which equals the
  * natural order for those types). ALL ROWS PER MATCH emits every
  * MATCHED input row with all
  * its columns plus `match_seq`, `classifier`, and RUNNING measures
  * (see [[run]]). Strict contiguity, greedy quantifiers —
  * Flink's defaults.
  *
  * Execution: DEFINE predicates are evaluated by Catalyst into one
  * bitmask column (codegen, pushdown-friendly — classification happens in
  * the scan, not in the NFA), then the [[Cep.walk]] and [[Cep.anchorLoop]]
  * the API-level operators use run per partition key over the masks
  * ([[Kernel]]): hash shuffle on the partition column, per-key
  * time-sorted scan, state bounded by one WITHIN window.
  *
  * Entry points: [[sql]] rewrites and runs a full statement under ANY
  * session; [[GraftSqlParser]] (injected via `graft.GraftExtensions`)
  * makes plain `spark.sql(...)` accept the clause on sessions built with
  * the extension.
  */
object MatchRecognize {

  // ---------- parsed form ----------
  /** One pattern step; `variables.size > 1` is an alternation group
    * `(V1|V2|...)` — the step accepts an event matching ANY listed
    * variable's DEFINE ([U] flink-cep GroupPattern alternation; a union
    * of step predicates on the shared NFA).
    */
  final case class PatternStep(variables: Seq[String], min: Int, max: Int,
      reluctant: Boolean = false)
  /** One MEASURES entry: `agg(variable.column) AS alias`. `isFinal`
    * records an explicit `FINAL(...)` wrapper — meaningful only under
    * ALL ROWS PER MATCH, where the measure reports the completed
    * match's value on every row instead of the running one.
    */
  /** `offset` is FIRST/LAST's logical offset (SQL:2016 / Flink
    * `FIRST(A.x, n)` = the (n+1)-th row mapped to A from the start,
    * `LAST(A.x, n)` = the (n+1)-th from the end; out of range → NULL).
    */
  final case class Measure(agg: String, variable: String, column: String,
      alias: String, isFinal: Boolean = false, offset: Int = 0)

  /** One running aggregate referenced by a DEFINE predicate ([U]
    * flink-cep IterativeCondition surfacing as SQL aggregates in DEFINE):
    * `SUM(V.col)` / `AVG(V.col)` / `COUNT(V.col | V.*)`. The aggregate
    * ranges over the rows the CURRENT PARTIAL MATCH has assigned to `V`,
    * including the candidate row when it would be assigned to `V` —
    * Flink's running semantics.
    */
  final case class AggTerm(fn: String, variable: String, column: String)

  /** One extracted DEFINE conjunct `AGG(...) <op> <literal>` (or the
    * literal-first mirror): `term` indexes [[Clause.aggTerms]].
    */
  final case class AggCond(term: Int, op: String, lit: Double)

  final case class Clause(
      table: String,
      partitionBy: String,
      orderBy: String,
      skip: Cep.AfterMatch,
      pattern: Seq[PatternStep],
      withinMs: Long,
      defines: Map[String, String],
      measures: Seq[Measure] = Seq.empty,
      allRows: Boolean = false,
      alts: Seq[Seq[PatternStep]] = Seq.empty,
      subsets: Map[String, Seq[String]] = Map.empty,
      aggTerms: Seq[AggTerm] = Seq.empty,
      aggConds: Map[String, Seq[AggCond]] = Map.empty) {
    /** All alternative step sequences in preference order — `pattern`
      * (the head) plus PERMUTE's other orderings; a PERMUTE-free clause
      * has exactly one.
      */
    def sequences: Seq[Seq[PatternStep]] =
      if (alts.isEmpty) Seq(pattern) else alts
  }

  /** One tagged input row of the kernel: the partition key's canonical
    * string form (cast back to the original type on output), the order
    * value (also the event time, ms), the DEFINE bitmask (bit i = the
    * i-th variable's DEFINE held), the per-measure numeric (`mv`, NaN for
    * null/non-numeric) and string (`sv`) views — FIRST/LAST read `sv` and
    * cast back to the column's original type, so they work on ANY atomic
    * column; SUM/MIN/MAX/AVG require a numeric column — the full input
    * row as a JSON payload (streaming ALL ROWS only; null elsewhere, so
    * buffered state stays narrow), and the DEFINE-aggregate inputs.
    */
  final case class MrRow(key: String, ord: Long, mask: Long,
      mv: Seq[Double], sv: Seq[String], payload: String, av: Seq[Double])

  /** One resolved match with its measure values (ONE ROW PER MATCH). */
  final case class MrMatch(key: String, match_start: Long, match_end: Long,
      n_events: Int, m: Seq[Double], sm: Seq[String])

  /** One matched INPUT row (ALL ROWS PER MATCH) with its running
    * measures and, when streaming, the original row as a JSON payload.
    */
  final case class MrAllRow(key: String, ord: Long, match_seq: Long,
      classifier: String, m: Seq[Double], sm: Seq[String], payload: String)

  /** Detect (case-insensitively) whether a statement embeds the clause. */
  def containsClause(sqlText: String): Boolean =
    raw"(?i)\bMATCH_RECOGNIZE\b".r.findFirstIn(sqlText).isDefined

  // ---------- clause extraction ----------

  /** Find `<ident> MATCH_RECOGNIZE ( balanced ) [AS alias]` in `sqlText`;
    * returns (prefix, tableName, body, alias, suffix).
    */
  private def extract(sqlText: String): (String, String, String, Option[String], String) = {
    val m = raw"(?is)\b([A-Za-z_][\w.]*)\s+MATCH_RECOGNIZE\s*\(".r
      .findFirstMatchIn(sqlText)
      .getOrElse(fail("expected `<table> MATCH_RECOGNIZE (...)`"))
    val open = m.end - 1
    var depth = 0
    var i = open
    while (i < sqlText.length && (depth != 0 || i == open)) {
      sqlText.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case _   =>
      }
      i += 1
    }
    if (depth != 0) fail("unbalanced parentheses in MATCH_RECOGNIZE")
    val rest = sqlText.substring(i)
    val aliasM = raw"(?is)^\s+AS\s+([A-Za-z_]\w*)".r.findFirstMatchIn(rest)
    val (alias, suffix) = aliasM match {
      case Some(am) => (Some(am.group(1)), rest.substring(am.end))
      case None     => (None, rest)
    }
    (sqlText.substring(0, m.start), m.group(1),
      sqlText.substring(open + 1, i - 1), alias, suffix)
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"MATCH_RECOGNIZE subset: $msg")

  private def req(body: String, re: String, what: String): String =
    re.r.findFirstMatchIn(body).map(_.group(1)).getOrElse(fail(s"missing $what"))

  /** Parse the parenthesized body. */
  private[plans] def parseBody(table: String, body: String): Clause = {
    val allRows =
      raw"(?i)\bALL\s+ROWS\s+PER\s+MATCH\b".r.findFirstIn(body).isDefined
    val part = req(body, raw"(?is)PARTITION\s+BY\s+([A-Za-z_]\w*)", "PARTITION BY <col>")
    val ord = req(body, raw"(?is)ORDER\s+BY\s+([A-Za-z_]\w*)", "ORDER BY <col>")
    val skip = raw"(?is)AFTER\s+MATCH\s+SKIP\s+(PAST\s+LAST\s+ROW|TO\s+NEXT\s+ROW|TO\s+(?:FIRST|LAST)\s+[A-Za-z_]\w*)".r
      .findFirstMatchIn(body)
      .map(_.group(1).replaceAll("\\s+", " ")) match {
      case Some(s) if s.equalsIgnoreCase("TO NEXT ROW")      => Cep.SkipToNextRow
      case Some(s) if s.equalsIgnoreCase("PAST LAST ROW")    => Cep.SkipPastLastRow
      case Some(s) if s.toUpperCase.startsWith("TO FIRST ")  =>
        Cep.SkipToFirst(s.split("\\s+").last)
      case Some(s) if s.toUpperCase.startsWith("TO LAST ")   =>
        Cep.SkipToLast(s.split("\\s+").last)
      case _ => Cep.SkipPastLastRow // Flink default
    }
    val alts = parsePattern(extractPattern(body))
    val pattern = alts.head
    skip match {
      // every alternative must carry the target as a single-variable
      // step (PERMUTE's orderings all do when the head does, but a
      // hand-written mix could not)
      case Cep.SkipToFirst(v) => alts.foreach(validateSkipVar(_, v))
      case Cep.SkipToLast(v)  => alts.foreach(validateSkipVar(_, v))
      case _                  =>
    }
    val withinMs = parseWithin(body)
    val rawDefines = parseDefines(body)
    val (resDefines, aggTerms, aggConds) = extractAggDefines(rawDefines)
    // leave untouched defines verbatim when nothing was extracted
    val defines = if (aggTerms.isEmpty) rawDefines else resDefines
    val measures = parseMeasures(body)
    val subsets = parseSubsets(body)
    pattern.foreach(s => s.variables.foreach { v =>
      if (!defines.contains(v)) fail(s"pattern variable $v has no DEFINE")
    })
    val patternVars = pattern.flatMap(_.variables).toSet
    aggTerms.foreach(t => if (!patternVars.contains(t.variable))
      fail(s"DEFINE aggregates over ${t.variable}, which is not a pattern variable"))
    if (aggConds.nonEmpty) {
      // classification inside the NFA must agree with the mask-based
      // classifier: a multi-variable step may not mix in agg-defined vars
      pattern.foreach { s =>
        if (s.variables.size > 1 && s.variables.exists(aggConds.contains))
          fail("aggregate DEFINE conditions on a variable inside an " +
            "alternation group are not in the subset")
      }
    }
    subsets.foreach { case (name, members) =>
      if (patternVars.contains(name))
        fail(s"SUBSET $name collides with a pattern variable")
      members.foreach(v => if (!patternVars.contains(v))
        fail(s"SUBSET $name member $v is not a pattern variable"))
    }
    measures.foreach { m =>
      if (Set("CLASSIFIER", "MATCH_NUMBER")(m.agg)) {
        if (allRows) fail(s"${m.agg}() under ALL ROWS PER MATCH: use the " +
          "built-in classifier / match_seq output columns")
      } else if (!patternVars.contains(m.variable) && !subsets.contains(m.variable))
        fail(s"MEASURES references ${m.variable}, which is not a pattern " +
          "variable (and not a SUBSET)")
    }
    if (defines.size > 64) fail("at most 64 DEFINE variables (one bit each of the row mask)")
    Clause(table, part, ord, skip, pattern, withinMs, defines, measures, allRows,
      alts = alts, subsets = subsets, aggTerms = aggTerms, aggConds = aggConds)
  }

  /** SUBSET U = (A, B), W = (C): union variables for MEASURES ([U]
    * flink-sql-parser SqlMatchRecognize SUBSET clause — a subset's rows
    * are the union, in row order, of its members' rows).
    */
  private def parseSubsets(body: String): Map[String, Seq[String]] = {
    val m = raw"(?is)\bSUBSET\b".r.findFirstMatchIn(body) match {
      case None     => return Map.empty
      case Some(mm) => mm
    }
    val tail = body.substring(m.end)
    val stop = raw"(?is)\bDEFINE\b".r.findFirstMatchIn(tail)
      .getOrElse(fail("SUBSET must precede DEFINE"))
    val entryRe = raw"(?is)^\s*([A-Za-z_]\w*)\s*=\s*\(([^)]*)\)\s*$$".r
    WindowTvf.splitArgs(tail.substring(0, stop.start)).map {
      case entryRe(name, members) =>
        val ms = members.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        if (ms.isEmpty) fail(s"SUBSET $name has no members")
        name -> ms
      case other => fail(s"bad SUBSET entry `${other.trim}` " +
        "(subset: NAME = (V1, V2, ...))")
    }.toMap
  }

  /** SKIP TO FIRST/LAST targets a SINGLE-variable step (an alternation
    * group has no one variable to land on — same restriction Flink's
    * planner enforces for group patterns).
    */
  private def validateSkipVar(pattern: Seq[PatternStep], v: String): Unit =
    if (!pattern.exists(s => s.variables == Seq(v)))
      fail(s"AFTER MATCH SKIP TO $v: $v is not a single-variable pattern step")

  /** MEASURES subset: `agg(VAR.col) AS alias` with agg ∈ FIRST | LAST |
    * COUNT | SUM | MIN | MAX | AVG (COUNT also takes `VAR.*`), plus the
    * bare `VAR.col AS alias` form (≡ LAST, Flink's ONE-ROW-PER-MATCH
    * reading). FIRST/LAST/COUNT take any atomic column;
    * SUM/MIN/MAX/AVG require a numeric one.
    */
  private def parseMeasures(body: String): Seq[Measure] = {
    val m = raw"(?is)\bMEASURES\b".r.findFirstMatchIn(body) match {
      case None     => return Seq.empty
      case Some(mm) => mm
    }
    val tail = body.substring(m.end)
    val stop = raw"(?is)\b(ONE\s+ROW\s+PER\s+MATCH|ALL\s+ROWS\s+PER\s+MATCH|AFTER\s+MATCH|PATTERN)\b".r
      .findFirstMatchIn(tail)
      .getOrElse(fail("MEASURES must be followed by [ONE ROW PER MATCH |] AFTER MATCH | PATTERN"))
    // FINAL(...)/RUNNING(...) wrappers: in ONE ROW PER MATCH both read
    // the completed match (FINAL is the standard's default there, and
    // RUNNING evaluated at the last row sees every consumed row), so
    // the wrapper only changes semantics under ALL ROWS PER MATCH —
    // there RUNNING (Flink's default) is per-row and FINAL repeats the
    // completed match's value on every row; the flag is recorded and
    // applied in Kernel.allRows.
    val wrapRe = raw"(?is)^\s*(FINAL|RUNNING)\s*\((.+)\)\s+AS\s+([A-Za-z_]\w*)\s*$$".r
    val entries = WindowTvf.splitArgs(tail.substring(0, stop.start)).map { e =>
      wrapRe.findFirstMatchIn(e) match {
        case Some(w) =>
          (s"${w.group(2)} AS ${w.group(3)}", w.group(1).equalsIgnoreCase("FINAL"))
        case None => (e, false)
      }
    }
    val aggRe =
      raw"(?is)^\s*(FIRST|LAST|COUNT|SUM|MIN|MAX|AVG)\s*\(\s*([A-Za-z_]\w*)\s*\.\s*(\w+|\*)\s*(?:,\s*(\d+)\s*)?\)\s+AS\s+([A-Za-z_]\w*)\s*$$".r
    val bareRe =
      raw"(?is)^\s*([A-Za-z_]\w*)\s*\.\s*(\w+)\s+AS\s+([A-Za-z_]\w*)\s*$$".r
    val fnRe =
      raw"(?is)^\s*(CLASSIFIER|MATCH_NUMBER)\s*\(\s*\)\s+AS\s+([A-Za-z_]\w*)\s*$$".r
    entries.map {
      case (fnRe(fn, alias), fin) =>
        Measure(fn.toUpperCase, "", "*", alias, isFinal = fin)
      case (aggRe(agg, v, c, off, alias), fin) =>
        val a = agg.toUpperCase
        if (c == "*" && a != "COUNT") fail(s"$a requires a column, not ${v}.*")
        if (off != null && a != "FIRST" && a != "LAST")
          fail(s"logical offset is only valid on FIRST/LAST, not $a")
        val o = if (off == null) 0 else off.toInt
        if (o > 1000) fail(s"FIRST/LAST offset $o exceeds the supported bound (1000)")
        Measure(a, v, c, alias, isFinal = fin, offset = o)
      case (bareRe(v, c, alias), fin) => Measure("LAST", v, c, alias, isFinal = fin)
      case (other, _) => fail(s"bad MEASURES entry `${other.trim}` " +
        "(subset: agg(VAR.col) AS alias, agg in FIRST/LAST/COUNT/SUM/MIN/MAX/AVG)")
    }
  }

  /** The PATTERN clause's own balanced parens (alternation groups nest
    * parens, so the old first-`)` cut would truncate `(A|B) C`).
    */
  private def extractPattern(body: String): String = {
    val m = raw"(?is)\bPATTERN\s*\(".r.findFirstMatchIn(body)
      .getOrElse(fail("missing PATTERN (...)"))
    val open = m.end - 1
    var depth = 0
    var i = open
    while (i < body.length && (depth != 0 || i == open)) {
      body.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case _   =>
      }
      i += 1
    }
    if (depth != 0) fail("unbalanced parentheses in PATTERN")
    body.substring(open + 1, i - 1)
  }

  /** Alternative-sequence cap: PERMUTE(k vars) expands k!-fold and
    * PERMUTEs in sequence multiply, so a runaway pattern is rejected at
    * parse rather than materialized (6 permuted variables = 720
    * alternatives is already past any real migration script).
    */
  private[plans] val MaxAlternatives = 720

  /** Parse the PATTERN body into its alternative step SEQUENCES: a
    * pattern without PERMUTE is one sequence; each `PERMUTE(V1[q],
    * V2[q], ...)` element expands to the k! orderings of its steps, in
    * lexicographic order of the listed variables (the SQL standard's
    * defined equivalence — PERMUTE(A, B) ≡ (A B | B A) — which is also
    * the match-preference order), and several PERMUTEs in one pattern
    * combine as a cartesian product. Subset, failing clearly otherwise:
    * PERMUTE elements are quantified single variables, and the
    * PERMUTE(...) itself takes no quantifier ([U] flink-sql-parser
    * accepts PERMUTE via Calcite's row-pattern grammar).
    */
  private def parsePattern(p: String): Seq[Seq[PatternStep]] = {
    val n = p.length
    var i = 0
    def skipWs(): Unit = while (i < n && p.charAt(i).isWhitespace) i += 1
    def readIdent(): String = {
      val s = i
      while (i < n && (p.charAt(i).isLetterOrDigit || p.charAt(i) == '_')) i += 1
      if (i == s) fail(s"bad PATTERN near `${p.substring(math.min(s, n - 1))}`")
      p.substring(s, i)
    }
    // (min, max, reluctant): a trailing '?' after +/*/?/{n,m} flips the
    // quantifier to fewest-first ([U] flink-cep Quantifier reluctant mode)
    def readQuantifier(): (Int, Int, Boolean) = {
      val (min, max, explicit) =
        if (i < n) p.charAt(i) match {
          case '+' => i += 1; (1, Cep.MaxTimes, true)
          case '?' => i += 1; (0, 1, true)
          case '*' => i += 1; (0, Cep.MaxTimes, true)
          case '{' =>
            val close = p.indexOf('}', i)
            if (close < 0) fail("unclosed `{` quantifier")
            val nums = raw"\d+".r.findAllIn(p.substring(i, close + 1)).map(_.toInt).toSeq
            i = close + 1
            nums.size match {
              case 1 => (nums.head, nums.head, true)
              case 2 => (nums.head, nums(1), true)
              case _ => fail("bad `{n[,m]}` quantifier")
            }
          case _ => (1, 1, false)
        } else (1, 1, false)
      val rel = explicit && i < n && p.charAt(i) == '?'
      if (rel) i += 1
      (min, max, rel)
    }
    // each element is a set of alternative sub-sequences; a linear
    // pattern contributes one-sequence elements and PERMUTE contributes
    // its permutations
    val elements = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[PatternStep]]]
    while ({ skipWs(); i < n }) {
      if (p.charAt(i) == '(') { // alternation group (V1 | V2 | ...)
        i += 1
        val vs = scala.collection.mutable.ArrayBuffer.empty[String]
        var done = false
        while (!done) {
          skipWs()
          vs += readIdent()
          skipWs()
          if (i < n && p.charAt(i) == '|') i += 1
          else if (i < n && p.charAt(i) == ')') { i += 1; done = true }
          else fail("alternation group must be `(V1 | V2 | ...)`")
        }
        skipWs()
        val (min, max, rel) = readQuantifier()
        elements += Seq(Seq(PatternStep(vs.toSeq, min, max, rel)))
      } else {
        val word = readIdent()
        skipWs()
        if (word.equalsIgnoreCase("PERMUTE") && i < n && p.charAt(i) == '(') {
          i += 1
          val perm = scala.collection.mutable.ArrayBuffer.empty[PatternStep]
          var done = false
          while (!done) {
            skipWs()
            val v = readIdent()
            skipWs()
            val (mn, mx, rel) = readQuantifier()
            perm += PatternStep(Seq(v), mn, mx, rel)
            skipWs()
            if (i < n && p.charAt(i) == ',') i += 1
            else if (i < n && p.charAt(i) == ')') { i += 1; done = true }
            else fail("PERMUTE must be `PERMUTE(V1[q], V2[q], ...)`")
          }
          skipWs()
          if (i < n && "+?*{".indexOf(p.charAt(i)) >= 0)
            fail("a quantifier on PERMUTE(...) itself is not supported " +
              "(quantify the variables inside)")
          if (perm.size > 6)
            fail(s"PERMUTE of ${perm.size} variables expands to ${perm.size}! " +
              s"sequences — at most 6 supported")
          elements += perm.toSeq.permutations.toSeq
        } else {
          val (min, max, rel) = readQuantifier()
          elements += Seq(Seq(PatternStep(Seq(word), min, max, rel)))
        }
      }
    }
    if (elements.isEmpty) fail("empty PATTERN")
    elements.foldLeft(Seq(Seq.empty[PatternStep])) { (acc, el) =>
      val next = for { a <- acc; b <- el } yield a ++ b
      if (next.size > MaxAlternatives)
        fail(s"pattern expands to more than $MaxAlternatives alternative " +
          "sequences (nested PERMUTEs multiply)")
      next
    }
  }

  private def parseWithin(body: String): Long = {
    val interval =
      raw"(?is)WITHIN\s+INTERVAL\s+'(\d+)'\s+(SECOND|MINUTE|HOUR|DAY)".r
        .findFirstMatchIn(body)
    interval match {
      case Some(m) =>
        val n = m.group(1).toLong
        m.group(2).toUpperCase match {
          case "SECOND" => n * 1000L
          case "MINUTE" => n * 60000L
          case "HOUR"   => n * 3600000L
          case "DAY"    => n * 86400000L
        }
      case None =>
        raw"(?is)WITHIN\s+(\d+)".r.findFirstMatchIn(body)
          .map(_.group(1).toLong)
          .getOrElse(Long.MaxValue / 4) // unbounded
    }
  }

  /** DEFINE V AS expr, W AS expr — split on top-level commas. */
  private def parseDefines(body: String): Map[String, String] = {
    val defM = raw"(?is)\bDEFINE\b".r.findFirstMatchIn(body).getOrElse(fail("missing DEFINE"))
    val text = body.substring(defM.end)
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    text.foreach {
      case ',' if depth == 0 => parts += cur.toString; cur.clear()
      case c =>
        if (c == '(') depth += 1
        if (c == ')') depth -= 1
        cur += c
    }
    if (cur.nonEmpty) parts += cur.toString
    parts.map { p =>
      val m = raw"(?is)^\s*([A-Za-z_]\w*)\s+AS\s+(.+?)\s*$$".r
        .findFirstMatchIn(p)
        .getOrElse(fail(s"bad DEFINE entry: `${p.trim}`"))
      m.group(1) -> m.group(2)
    }.toMap
  }

  // ---------- aggregate DEFINE conditions ----------

  /** Split a predicate on top-level `AND` keywords (quote/paren-aware). */
  private def splitTopAnd(s: String): Seq[String] = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var i = 0
    var depth = 0
    val n = s.length
    def isWordChar(c: Char) = c.isLetterOrDigit || c == '_'
    while (i < n) {
      val c = s.charAt(i)
      if (c == '\'' || c == '"' || c == '`') {
        val end = BracketConstructors.endOfLiteral(s, i)
        cur.append(s.substring(i, end)); i = end
      } else if (depth == 0 && (c == 'A' || c == 'a') && i + 3 <= n &&
        s.substring(i, i + 3).equalsIgnoreCase("AND") &&
        (i == 0 || !isWordChar(s.charAt(i - 1))) &&
        (i + 3 == n || !isWordChar(s.charAt(i + 3)))) {
        parts += cur.toString; cur.clear(); i += 3
      } else {
        if (c == '(') depth += 1
        if (c == ')') depth -= 1
        cur.append(c); i += 1
      }
    }
    parts += cur.toString
    parts.toSeq
  }

  private val aggCmpRe =
    raw"(?is)^\s*(SUM|COUNT|AVG|MIN|MAX)\s*\(\s*([A-Za-z_]\w*)\s*\.\s*([A-Za-z_]\w*|\*)\s*\)\s*(<=|>=|<>|!=|=|<|>)\s*(-?\d+(?:\.\d+)?)\s*$$".r
  private val aggCmpRevRe =
    raw"(?is)^\s*(-?\d+(?:\.\d+)?)\s*(<=|>=|<>|!=|=|<|>)\s*(SUM|COUNT|AVG|MIN|MAX)\s*\(\s*([A-Za-z_]\w*)\s*\.\s*([A-Za-z_]\w*|\*)\s*\)\s*$$".r

  private def flipOp(op: String): String = op match {
    case "<" => ">"
    case ">" => "<"
    case "<=" => ">="
    case ">=" => "<="
    case other => other // = and <> are symmetric
  }

  /** Pull running-aggregate comparisons out of the DEFINE bodies: each
    * top-level conjunct of the form `SUM|COUNT|AVG|MIN|MAX(V.col) <op>
    * <numeric literal>` (either operand order; `COUNT(V.*)` too) becomes an
    * [[AggCond]] evaluated inside the NFA with running semantics, and
    * the residual conjuncts stay a row-local Catalyst boolean (TRUE when
    * nothing remains). Anything aggregate-shaped that does NOT fit the
    * supported form fails clearly rather than reaching Catalyst, which
    * would reject an aggregate outside GROUP BY anyway.
    */
  private[plans] def extractAggDefines(defines: Map[String, String])
      : (Map[String, String], Seq[AggTerm], Map[String, Seq[AggCond]]) = {
    val terms = scala.collection.mutable.LinkedHashMap.empty[AggTerm, Int]
    val conds = scala.collection.mutable.LinkedHashMap.empty[String, Seq[AggCond]]
    def termIdx(fn: String, v: String, c: String): Int = {
      if (fn != "COUNT" && c == "*") fail(s"$fn(${v}.*) is not defined — " +
        "only COUNT takes the `.*` form")
      terms.getOrElseUpdate(AggTerm(fn, v, c), terms.size)
    }
    val residual = defines.map { case (v, body) =>
      val keep = scala.collection.mutable.ArrayBuffer.empty[String]
      splitTopAnd(body).foreach { conjunct =>
        conjunct match {
          case aggCmpRe(fn, av, ac, op, lit) =>
            conds(v) = conds.getOrElse(v, Seq.empty) :+
              AggCond(termIdx(fn.toUpperCase, av, ac), op, lit.toDouble)
          case aggCmpRevRe(lit, op, fn, av, ac) =>
            conds(v) = conds.getOrElse(v, Seq.empty) :+
              AggCond(termIdx(fn.toUpperCase, av, ac), flipOp(op), lit.toDouble)
          case other =>
            if (raw"(?i)\b(SUM|COUNT|AVG|MIN|MAX)\s*\(".r.findFirstIn(other).isDefined)
              fail(s"DEFINE $v: aggregate predicates are supported only as " +
                "top-level conjuncts `SUM|COUNT|AVG|MIN|MAX(V.col) <op> " +
                s"<numeric literal>` — got `${other.trim}`")
            keep += other.trim
        }
      }
      v -> (if (keep.isEmpty) "TRUE" else keep.mkString("(", ") AND (", ")"))
    }
    (residual, terms.keys.toSeq, conds.toMap)
  }

  // ---------- PREV/NEXT navigation ----------

  /** One rewritten navigation call: `PREV(expr, n)` / `NEXT(expr, n)`
    * becomes a generated lag/lead window column named `name`.
    */
  private[plans] final case class NavCol(name: String, fn: String,
      inner: String, offset: Int)

  /** Rewrite PREV/NEXT navigation and self-variable qualifiers in the
    * DEFINE bodies ([U] flink-docs dev/table/sql/queries/match_recognize
    * "Pattern Navigation" — PREV/NEXT map to PHYSICAL offsets over the
    * partition, not to the variable's own rows). A physical offset is
    * exactly `lag/lead(expr, n) OVER (PARTITION BY key ORDER BY ord)`,
    * so after one window projection every DEFINE predicate is again a
    * row-local boolean evaluated by Catalyst in the scan — codegen, no
    * NFA-side evaluation. The defining variable's qualifier (`DOWN.price`
    * inside `DEFINE DOWN`) refers to the current row and is stripped;
    * referencing ANOTHER variable in DEFINE is Flink's stateful
    * LAST(B.col) semantics, which is out of the declared subset and
    * raises a clear error rather than silently mis-evaluating.
    */
  private[graft] def rewriteNav(defines: Map[String, String],
      allVars: Set[String]): (Map[String, String], Seq[NavCol]) = {
    val navs = scala.collection.mutable.LinkedHashMap.empty[(String, String, Int), NavCol]
    def isWordChar(c: Char) = c.isLetterOrDigit || c == '_'

    // strip `selfVar.` qualifiers; fail on any other pattern variable's
    // qualifier (quote-aware: quoted spans copy wholesale)
    def stripQualifiers(s: String, selfVar: String, where: String): String = {
      val out = new StringBuilder
      var i = 0
      val n = s.length
      while (i < n) {
        val c = s.charAt(i)
        if (c == '\'' || c == '"' || c == '`') {
          val end = BracketConstructors.endOfLiteral(s, i)
          out.append(s.substring(i, end)); i = end
        } else if (isWordChar(c) && (i == 0 || !isWordChar(s.charAt(i - 1)))) {
          var j = i
          while (j < n && isWordChar(s.charAt(j))) j += 1
          val word = s.substring(i, j)
          if (j < n && s.charAt(j) == '.' && allVars.exists(_.equalsIgnoreCase(word))) {
            if (!word.equalsIgnoreCase(selfVar))
              fail(s"DEFINE $where references $word.<col>: navigating another " +
                "variable's rows (LAST/FIRST semantics) is not in the subset — " +
                "only the defining variable's qualifier or unqualified columns")
            i = j + 1 // drop `selfVar.`
          } else { out.append(word); i = j }
        } else { out.append(c); i += 1 }
      }
      out.toString
    }

    val rewritten = defines.map { case (v, exprText) =>
      val out = new StringBuilder
      var i = 0
      val n = exprText.length
      while (i < n) {
        val c = exprText.charAt(i)
        if (c == '\'' || c == '"' || c == '`') {
          val end = BracketConstructors.endOfLiteral(exprText, i)
          out.append(exprText.substring(i, end)); i = end
        } else if (isWordChar(c) && (i == 0 || !isWordChar(exprText.charAt(i - 1)))) {
          var j = i
          while (j < n && isWordChar(exprText.charAt(j))) j += 1
          val word = exprText.substring(i, j)
          val isNav = (word.equalsIgnoreCase("PREV") || word.equalsIgnoreCase("NEXT")) &&
            j < n && exprText.charAt(j) == '('
          if (isNav) {
            // balanced-paren argument span (quote-aware)
            var k = j + 1
            var depth = 1
            while (k < n && depth > 0) {
              exprText.charAt(k) match {
                case '\'' | '"' | '`' =>
                  k = BracketConstructors.endOfLiteral(exprText, k) - 1
                case '(' => depth += 1
                case ')' => depth -= 1
                case _ =>
              }
              k += 1
            }
            if (depth != 0) fail(s"unbalanced parens in ${word.toUpperCase} in DEFINE $v")
            val argText = exprText.substring(j + 1, k - 1)
            // top-level comma → expr [, offset]
            var depth2 = 0
            var split = -1
            var p = 0
            while (p < argText.length && split < 0) {
              argText.charAt(p) match {
                case '\'' | '"' | '`' =>
                  p = BracketConstructors.endOfLiteral(argText, p) - 1
                case '(' => depth2 += 1
                case ')' => depth2 -= 1
                case ',' if depth2 == 0 => split = p
                case _ =>
              }
              p += 1
            }
            val (innerRaw, offset) =
              if (split < 0) (argText, 1)
              else {
                val off = argText.substring(split + 1).trim
                if (!off.matches(raw"\d+")) fail(
                  s"${word.toUpperCase} offset must be an integer literal, got `$off`")
                (argText.substring(0, split), off.toInt)
              }
            if (raw"(?i)\b(PREV|NEXT)\s*\(".r.findFirstIn(innerRaw).isDefined)
              fail("nested PREV/NEXT navigation is not in the subset")
            val inner = stripQualifiers(innerRaw, v, v).trim
            val fn = word.toUpperCase
            val nav = navs.getOrElseUpdate((fn, inner, offset),
              NavCol(s"__mr_nav${navs.size}", fn, inner, offset))
            out.append(nav.name)
            i = k
          } else { out.append(word); i = j }
        } else { out.append(c); i += 1 }
      }
      v -> stripQualifiers(out.toString, v, v)
    }
    (rewritten, navs.values.toSeq)
  }

  // ---------- execution ----------

  /** The clause's source columns: the PARTITION BY field and the ORDER
    * BY value as a long (millis for a timestamp).
    */
  private def keyAndOrder(clause: Clause,
      schema: org.apache.spark.sql.types.StructType)
      : (org.apache.spark.sql.types.StructField, Column) = {
    val keyField = schema.find(_.name.equalsIgnoreCase(clause.partitionBy))
      .getOrElse(fail(s"unknown PARTITION BY column ${clause.partitionBy}"))
    val ordField = schema.find(_.name.equalsIgnoreCase(clause.orderBy))
      .getOrElse(fail(s"unknown ORDER BY column ${clause.orderBy}"))
    val ordCol: Column = ordField.dataType match {
      case TimestampType => unix_millis(col(ordField.name))
      case _             => col(ordField.name).cast(LongType)
    }
    (keyField, ordCol)
  }

  /** Stable variable order — pattern order, then any extra defines; a
    * variable's index is its DEFINE bit.
    */
  private def variables(clause: Clause): Seq[String] =
    (clause.pattern.flatMap(_.variables) ++ clause.defines.keys).distinct

  /** Tag each source row for the kernel. DEFINE predicates are evaluated
    * by Catalyst into one bitmask column (codegen, pushdown-friendly —
    * classification happens in the scan, not in the NFA); a NULL
    * predicate (e.g. PREV at the partition start) holds no bit.
    */
  private def tagRows(clause: Clause, src: DataFrame,
      keyField: org.apache.spark.sql.types.StructField, ordCol: Column,
      vars: Seq[String], defs: Map[String, String], payload: Column): Dataset[MrRow] = {
    val mask = vars.zipWithIndex.map { case (v, i) =>
      when(expr(defs(v)).cast("boolean"), lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    val (mvArr, svArr) = measureArrays(clause, src.schema)
    src.select(
      col(keyField.name).cast("string").as("key"),
      ordCol.as("ord"),
      mask.as("mask"),
      mvArr.as("mv"),
      svArr.as("sv"),
      payload.as("payload"),
      aggInputArr(clause, src.schema).as("av")).as[MrRow](Encoders.product[MrRow])
  }

  /** Build the DataFrame for a parsed clause: one row per match, or with
    * ALL ROWS PER MATCH one output row per MATCHED input row, in match
    * order, carrying every input column (recovered by an equi-join on
    * (partition, order) — ORDER BY values must therefore be unique per
    * partition, the same determinism Flink's time attributes provide)
    * plus `match_seq` (MATCH_NUMBER() analog, 1-based per partition),
    * `classifier` (the variable the row matched), and the MEASURES with
    * RUNNING semantics — each aggregate sees the variable's rows up to
    * and including the current row, Flink's ALL-ROWS default — except
    * measures wrapped in `FINAL(...)`, which report the COMPLETED
    * match's value on every row (the SQL standard's FINAL semantics).
    * Unmatched rows are omitted (Flink omits them under AFTER MATCH
    * SKIP PAST LAST ROW too).
    *
    * Execution: hash shuffle on the partition column, external sort per
    * key, and a WITHIN-bounded lookback scan ([[Kernel.scanPartition]]):
    * task memory holds one window of tagged rows, never a key's full
    * history — the 100 TB shape is the groupBy's, nothing new.
    */
  def run(session: SparkSession, clause: Clause): DataFrame = {
    val src0 = session.table(clause.table)
    val (keyField, ordCol) = keyAndOrder(clause, src0.schema)
    val vars = variables(clause)
    // PREV/NEXT physical navigation → lag/lead window columns, so every
    // DEFINE predicate stays a row-local Catalyst boolean
    val (defs, navs) = rewriteNav(clause.defines, vars.toSet)
    val src = if (navs.isEmpty) src0 else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(keyField.name)).orderBy(ordCol)
      navs.foldLeft(src0) { (d, nc) =>
        val e = expr(nc.inner)
        d.withColumn(nc.name,
          (if (nc.fn == "PREV") lag(e, nc.offset) else lead(e, nc.offset)).over(w))
      }
    }
    val schema = src.schema
    val kernel = kernelOf(clause, vars, schema)
    val sorted = tagRows(clause, src, keyField, ordCol, vars, defs, lit(null).cast("string"))
      .repartition(col("key")).sortWithinPartitions(col("key"), col("ord"))
    if (!clause.allRows) {
      val matches = sorted.mapPartitions(
        kernel.scanPartition(_)(kernel.oneRow))(Encoders.product[MrMatch])
      return matches.select(Seq(
        col("key").cast(keyField.dataType).as(keyField.name),
        col("match_start"), col("match_end"), col("n_events")) ++
        measureOutCols(clause.measures, schema, col("m"), col("sm")): _*)
    }
    val kernelRows = sorted.mapPartitions(
      kernel.scanPartition(_)(kernel.allRows))(Encoders.product[MrAllRow])
    // recover the full input row: equi-join on (partition, order) —
    // aliased, since the kernel frame derives from src (self-join lineage)
    val withOrd = src.withColumn("__mr_ord", ordCol).as("__mr_src")
    kernelRows.toDF().as("__mr_k")
      .join(withOrd,
        col("__mr_k.key") === col(s"__mr_src.${keyField.name}").cast("string") &&
          col("__mr_k.ord") === col("__mr_src.__mr_ord"))
      .select(schema.fieldNames.filterNot(_.startsWith("__mr_nav"))
          .map(n => col(s"__mr_src.$n")) ++
        Seq(col("__mr_k.match_seq").as("match_seq"),
          col("__mr_k.classifier").as("classifier")) ++
        measureOutCols(clause.measures, schema, col("__mr_k.m"), col("__mr_k.sm")): _*)
  }

  /** Non-numeric types whose natural order equals the lexicographic
    * order of their canonical string form (Spark's fixed-width
    * date/timestamp rendering and "false" < "true" make this exact), so
    * MIN/MAX can run on the string view and cast back losslessly.
    */
  private def strOrderable(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType | DateType | TimestampType | BooleanType => true
      case _                                                   => false
    }
  }

  /** Per-measure flag: MIN/MAX running on the string view (non-numeric
    * orderable column) instead of the numeric one.
    */
  private def strOrdFlags(measures: Seq[Measure],
      schema: org.apache.spark.sql.types.StructType): Array[Boolean] =
    measures.map { m =>
      Set("MIN", "MAX")(m.agg) && m.column != "*" &&
        schema.find(_.name.equalsIgnoreCase(m.column))
          .exists(f => !f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
    }.toArray

  /** Validate the measures against the source schema and build the
    * per-row numeric (`mv`) and string (`sv`) measure arrays. Null
    * numeric values surface as NaN in the kernel and come back out as
    * SQL NULLs; SUM/AVG demand a numeric column up front, MIN/MAX an
    * orderable one.
    */
  private def measureArrays(clause: Clause,
      schema: org.apache.spark.sql.types.StructType): (Column, Column) = {
    clause.measures.foreach { m =>
      if (m.column != "*") {
        val f = schema.find(_.name.equalsIgnoreCase(m.column))
          .getOrElse(fail(s"MEASURES column ${m.column} is not a column of ${clause.table}"))
        val numeric = f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
        if (Set("SUM", "AVG")(m.agg) && !numeric)
          fail(s"${m.agg}(${m.variable}.${m.column}) needs a numeric column, " +
            s"got ${f.dataType.simpleString} (FIRST/LAST/COUNT take any type; " +
            "MIN/MAX also string/date/timestamp/boolean)")
        if (Set("MIN", "MAX")(m.agg) && !numeric && !strOrderable(f.dataType))
          fail(s"${m.agg}(${m.variable}.${m.column}) needs an orderable column " +
            s"(numeric, string, date, timestamp, boolean), got ${f.dataType.simpleString}")
      }
    }
    val mvCols = clause.measures.map { m =>
      val numeric = m.column != "*" &&
        schema.find(_.name.equalsIgnoreCase(m.column))
          .exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      if (numeric) coalesce(col(m.column).cast("double"), lit(Double.NaN))
      // non-numeric columns reach here only under FIRST/LAST/MIN/MAX
      // (validated above), which read the string view — an ANSI cast
      // would throw
      else lit(if (m.column == "*") 0.0 else Double.NaN)
    }
    val svCols = clause.measures.map { m =>
      if (m.column == "*") lit(null).cast("string")
      else col(m.column).cast("string")
    }
    (if (mvCols.isEmpty) typedLit(Seq.empty[Double]) else array(mvCols: _*),
      if (svCols.isEmpty) typedLit(Seq.empty[String]) else array(svCols: _*))
  }

  /** Output columns for the measure aliases: COUNT is BIGINT,
    * FIRST/LAST — and MIN/MAX on a non-numeric column — cast the string
    * view back to the column's ORIGINAL type, the numeric aggregates
    * are doubles with NaN → NULL.
    */
  private def measureOutCols(measures: Seq[Measure],
      schema: org.apache.spark.sql.types.StructType,
      mArr: Column, smArr: Column): Seq[Column] = {
    val strOrd = strOrdFlags(measures, schema)
    measures.zipWithIndex.map { case (m, mi) =>
      (m.agg match {
        case "MATCH_NUMBER" => element_at(mArr, mi + 1).cast("long")
        case "CLASSIFIER"   => element_at(smArr, mi + 1)
        case "COUNT" => element_at(mArr, mi + 1).cast("long")
        case "FIRST" | "LAST" | "MIN" | "MAX"
            if m.agg == "FIRST" || m.agg == "LAST" || strOrd(mi) =>
          val dt = schema.find(_.name.equalsIgnoreCase(m.column))
            .map(_.dataType)
            .getOrElse(org.apache.spark.sql.types.StringType)
          element_at(smArr, mi + 1).cast(dt)
        case _ =>
          val v = element_at(mArr, mi + 1)
          when(isnan(v), lit(null)).otherwise(v)
      }).as(m.alias)
    }
  }

  /** Per-row aggregate-input array for the DEFINE aggregates: one double
    * per term — the (qualifier-stripped) column value for SUM/AVG/COUNT
    * over a column, 0.0 for `COUNT(V.*)`. Nulls read as 0 and count
    * toward COUNT/AVG denominators (documented subset simplification).
    */
  private def aggInputArr(clause: Clause,
      schema: org.apache.spark.sql.types.StructType): Column = {
    val cols = clause.aggTerms.map { t =>
      if (t.column == "*") lit(0.0)
      else {
        val f = schema.find(_.name.equalsIgnoreCase(t.column)).getOrElse(fail(
          s"DEFINE aggregate column ${t.column} is not a column of ${clause.table}"))
        if (t.fn != "COUNT" &&
          !f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
          fail(s"${t.fn}(${t.variable}.${t.column}) needs a numeric column, " +
            s"got ${f.dataType.simpleString}")
        coalesce(col(t.column).cast("double"), lit(0.0))
      }
    }
    if (cols.isEmpty) typedLit(Seq.empty[Double]) else array(cols: _*)
  }

  /** Build the serializable aggregate plan for a clause (null when the
    * DEFINEs carry no aggregates).
    */
  private[plans] def aggSpecOf(clause: Clause, varIdx: Map[String, Int]): AggSpec =
    if (clause.aggTerms.isEmpty) null
    else AggSpec(
      clause.aggTerms.map(t => varIdx(t.variable)).toArray,
      clause.aggConds.map { case (v, cs) => varIdx(v) -> cs },
      clause.aggTerms.toIndexedSeq)

  /** Serializable agg-DEFINE plan: each term's variable bit and the
    * conditions keyed by the DEFINED variable's bit.
    */
  private[graft] final case class AggSpec(termBit: Array[Int],
      condsByBit: Map[Int, Seq[AggCond]], terms: IndexedSeq[AggTerm])

  /** One resolved measured match in a per-key time-ordered run, with
    * its consumed rows as (buffer index, classifier) pairs in match order.
    */
  private[graft] final case class MMatch(start: Long, end: Long, n: Int,
      m: Seq[Double], sm: Seq[String], rowCls: IndexedSeq[(Int, String)])

  /** The mask acceptor: row `p` joins step `ei` when its DEFINE mask
    * holds a bit of one of the step's variables.
    */
  private final class MaskAcceptor(masks: Array[Long], stepMasks: Array[Long])
      extends Cep.Acceptor {
    override def accepts(ei: Int, p: Int,
        partial: scala.collection.IndexedSeq[Int]): Boolean =
      (masks(p) & stepMasks(ei)) != 0L
  }

  /** The running-aggregate acceptor for aggregate DEFINE conditions:
    * row `p` joins step `ei` when its mask bit for a member variable
    * holds AND that variable's aggregate conditions hold with the row
    * tentatively included (running semantics — the condition sees the
    * row it classifies). Per-term running (count, sum) state over the
    * rows the partial match has assigned to each variable follows the
    * walk's commits and rewinds, so a failed branch leaves the running
    * aggregates untouched.
    */
  private final class AggAcceptor(rows: Array[MrRow],
      stepVars: IndexedSeq[Seq[(String, Int)]], spec: AggSpec) extends Cep.Acceptor {
    private val nT = spec.termBit.length
    private val runCnt = new Array[Long](nT)
    private val runSum = new Array[Double](nT)
    // MIN/MAX need the committed values (a scalar cannot undo): commits
    // and rewinds are globally LIFO (the backtracking order), so a
    // per-term value stack replays exactly
    private val runVals: Array[scala.collection.mutable.ArrayBuffer[Double]] =
      Array.tabulate(nT)(t => spec.terms(t).fn match {
        case "MIN" | "MAX" => scala.collection.mutable.ArrayBuffer.empty[Double]
        case _             => null
      })
    // the variable bit each committed row was assigned, in commit order
    private val bits = scala.collection.mutable.ArrayBuffer.empty[Int]

    private def condsHold(bit: Int, p: Int): Boolean =
      spec.condsByBit.getOrElse(bit, Nil).forall { c =>
        val own = spec.termBit(c.term) == bit
        val v = rows(p).av(c.term)
        val cnt = runCnt(c.term) + (if (own) 1L else 0L)
        val sum = runSum(c.term) + (if (own) v else 0.0)
        val fn = spec.terms(c.term).fn
        if (fn != "COUNT" && cnt == 0) false // SUM/AVG/MIN/MAX over no rows: NULL
        else {
          val x = fn match {
            case "COUNT" => cnt.toDouble
            case "SUM"   => sum
            case "AVG"   => sum / cnt
            case "MIN" =>
              val vs = runVals(c.term)
              if (own) (if (vs.isEmpty) v else math.min(vs.min, v)) else vs.min
            case "MAX" =>
              val vs = runVals(c.term)
              if (own) (if (vs.isEmpty) v else math.max(vs.max, v)) else vs.max
          }
          c.op match {
            case "<"         => x < c.lit
            case "<="        => x <= c.lit
            case ">"         => x > c.lit
            case ">="        => x >= c.lit
            case "="         => x == c.lit
            case "<>" | "!=" => x != c.lit
          }
        }
      }

    // first member variable whose DEFINE holds for row p — the same
    // greedy order classifyRows uses (agg-defined vars are barred from
    // multi-variable steps, so the two classifiers cannot disagree)
    private def assignVar(ei: Int, p: Int): Int = {
      val vars = stepVars(ei)
      var k = 0
      while (k < vars.length) {
        val bit = vars(k)._2
        if (((rows(p).mask >> bit) & 1L) == 1L && condsHold(bit, p)) return bit
        k += 1
      }
      -1
    }

    private def add(p: Int, bit: Int, sign: Int): Unit = {
      var t = 0
      while (t < nT) {
        if (spec.termBit(t) == bit) {
          val v = rows(p).av(t)
          runCnt(t) += sign
          runSum(t) += sign * v
          if (runVals(t) != null) {
            if (sign > 0) runVals(t) += v
            else runVals(t).remove(runVals(t).length - 1): Unit
          }
        }
        t += 1
      }
    }

    override def accepts(ei: Int, p: Int,
        partial: scala.collection.IndexedSeq[Int]): Boolean = assignVar(ei, p) >= 0
    // the walk commits a row right after accepting it, or re-commits it
    // after rewinding to the same state, so assignVar agrees with accepts
    override def commit(ei: Int, p: Int): Unit = {
      val bit = assignVar(ei, p)
      bits += bit
      add(p, bit, 1)
    }
    override def rewind(ei: Int, p: Int): Unit =
      add(p, bits.remove(bits.length - 1), -1)
    override def reset(): Unit = {
      java.util.Arrays.fill(runCnt, 0L)
      java.util.Arrays.fill(runSum, 0.0)
      runVals.foreach(v => if (v != null) v.clear())
      bits.clear()
    }
  }

  /** Match-ordered (row index, classifier) pairs for the consumed `rows`
    * with per-step consumption `takes`: each consumed row is CLASSIFIED
    * to the first listed variable of its step whose DEFINE held
    * (single-variable steps trivially; alternation groups pick the first
    * matching alternative, Flink's greedy classifier order).
    */
  private def classifyRows(masks: Array[Long], stepVars: IndexedSeq[Seq[(String, Int)]],
      rows: IndexedSeq[Int], takes: Array[Int]): IndexedSeq[(Int, String)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    var r = 0
    var si = 0
    while (si < stepVars.length) {
      var k = 0
      while (k < takes(si)) {
        val idx = rows(r)
        val cls = stepVars(si)
          .find { case (_, bit) => ((masks(idx) >> bit) & 1L) == 1L }
          .map(_._1).getOrElse(stepVars(si).head._1)
        out += ((idx, cls))
        r += 1
        k += 1
      }
      si += 1
    }
    out.toIndexedSeq
  }

  /** A parsed clause compiled for the [[Cep.walk]]: each alternative's
    * step shapes (quantifier and name — the mask or aggregate acceptor
    * decides which rows they take), the (variable, bit) pairs of each
    * step, the MEASURES and the aggregate DEFINE plan (null when none).
    * The batch rewrite and the streaming process run the same kernel.
    * Each match's consumed rows are CLASSIFIED ([[classifyRows]]) and the
    * measures walk them once; a variable that matched zero rows
    * (optional step) measures as NULL — except COUNT, which is 0.
    */
  private[graft] final case class Kernel(
      alts: IndexedSeq[IndexedSeq[Cep.RelElem]],
      stepVars: IndexedSeq[IndexedSeq[Seq[(String, Int)]]],
      measures: Seq[Measure], strOrd: Array[Boolean],
      withinMs: Long, skip: Cep.AfterMatch,
      subsets: Map[String, Seq[String]], agg: AggSpec) {

    /** The measured scan over one key's ord-sorted rows: emit RESOLVED
      * matches (under `openEnded`, a pending higher-preference outcome
      * halts the scan — [[Cep.anchorLoop]]) with MATCH_NUMBER counted on
      * from `seqBase`, and return the resume index.
      */
    def scan(rows: Array[MrRow], openEnded: Boolean, wm: Long,
        seqBase: Long): (Seq[MMatch], Int) = {
      val masks = rows.map(_.mask)
      val accs: IndexedSeq[Cep.Acceptor] =
        if (agg == null) stepVars.map(sv =>
          new MaskAcceptor(masks, sv.map(_.foldLeft(0L)((m, v) => m | (1L << v._2))).toArray))
        else stepVars.map(new AggAcceptor(rows, _, agg))
      // a SUBSET measure listens to the union of its members' rows
      val memberSets: IndexedSeq[Option[Set[String]]] =
        measures.map(m => subsets.get(m.variable).map(_.toSet)).toIndexedSeq
      val out = scala.collection.mutable.ArrayBuffer.empty[MMatch]
      val resume = Cep.anchorLoop(rows.map(_.ord), alts, accs, withinMs,
          openEnded, wm) { (i, w) =>
        val rowCls = classifyRows(masks, stepVars(w.alt), w.rows, w.takes)
        val byVar = rowCls.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
        def idxsOf(mi: Int): IndexedSeq[Int] = memberSets(mi) match {
          case Some(set) => rowCls.collect { case (ix, c) if set(c) => ix }
          case None => byVar.getOrElse(measures(mi).variable, IndexedSeq.empty)
        }
        def mv(ix: Int, mi: Int): Double = rows(ix).mv(mi)
        def sv(ix: Int, mi: Int): String = rows(ix).sv(mi)
        val mvals = measures.zipWithIndex.map { case (m, mi) =>
          val idxs = idxsOf(mi)
          def vals = idxs.iterator.map(mv(_, mi))
          m.agg match {
            case "MATCH_NUMBER"    => (seqBase + out.length + 1).toDouble
            case "CLASSIFIER"      => Double.NaN // string-side measure
            case "COUNT"           => idxs.length.toDouble
            case _ if idxs.isEmpty => Double.NaN // optional step, no rows
            case _ if strOrd(mi)   => Double.NaN // MIN/MAX on the string view
            case "FIRST" =>
              if (m.offset < idxs.length) mv(idxs(m.offset), mi) else Double.NaN
            case "LAST" =>
              if (m.offset < idxs.length) mv(idxs(idxs.length - 1 - m.offset), mi)
              else Double.NaN
            case "SUM"             => vals.sum
            case "MIN"             => vals.min
            case "MAX"             => vals.max
            case "AVG"             => vals.sum / idxs.length
          }
        }
        val svals = measures.zipWithIndex.map { case (m, mi) =>
          val idxs = idxsOf(mi)
          lazy val nn = idxs.map(sv(_, mi)).filter(_ != null)
          m.agg match {
            case "CLASSIFIER"             => rowCls.last._2
            case "FIRST" if m.offset < idxs.length => sv(idxs(m.offset), mi)
            case "LAST" if m.offset < idxs.length =>
              sv(idxs(idxs.length - 1 - m.offset), mi)
            case "MIN" if strOrd(mi)      => if (nn.isEmpty) null else nn.min
            case "MAX" if strOrd(mi)      => if (nn.isEmpty) null else nn.max
            case _                        => null
          }
        }
        out += MMatch(rows(i).ord, rows(w.end - 1).ord, w.end - i, mvals, svals, rowCls)
        Cep.resumeAfter(skip, i, w.end, alts(w.alt), w.takes)
      }
      (out.toSeq, resume)
    }

    /** The batch kernel over a key-clustered, ord-sorted partition: a
      * bounded lookback scan ([[Cep.boundedScanPartitionBy]]) whose
      * resolved matches go to `out` with their MATCH_NUMBER, which
      * carries across rescans of a key and restarts at each new key.
      */
    def scanPartition[Out](part: Iterator[MrRow])(
        out: (Array[MrRow], MMatch, Long) => Seq[Out]): Iterator[Out] = {
      var seqBase = 0L
      Cep.boundedScanPartitionBy(part)(_.key, _.ord)({ (rows, open, wm) =>
        val (ms, resume) = scan(rows, open, wm, seqBase)
        val o = ms.zipWithIndex.flatMap { case (m, mi) => out(rows, m, seqBase + mi + 1) }
        seqBase += ms.size
        (o, resume)
      }, onNewKey = () => seqBase = 0L)
    }

    /** ONE ROW PER MATCH output of match number `seq`. */
    def oneRow(rows: Array[MrRow], m: MMatch, seq: Long): Seq[MrMatch] =
      Seq(MrMatch(rows(0).key, m.start, m.end, m.n, m.m, m.sm))

    /** ALL ROWS PER MATCH output of match number `seq`: its consumed rows
      * in match order with their classifier and RUNNING measures (FINAL
      * ones read the completed match).
      */
    def allRows(rows: Array[MrRow], m: MMatch, seq: Long): Seq[MrAllRow] = {
      val finAcc = if (measures.exists(_.isFinal)) {
        val a = new RunAcc(measures, strOrd, subsets)
        m.rowCls.foreach { case (ix, cls) => a.update(cls, rows(ix).mv, rows(ix).sv) }
        a
      } else null
      val acc = new RunAcc(measures, strOrd, subsets)
      m.rowCls.map { case (ix, cls) =>
        acc.update(cls, rows(ix).mv, rows(ix).sv)
        val snapM = measures.indices.map(i =>
          if (measures(i).isFinal) finAcc.snapM(i) else acc.snapM(i))
        val snapS = measures.indices.map(i =>
          if (measures(i).isFinal) finAcc.snapS(i) else acc.snapS(i))
        MrAllRow(rows(ix).key, rows(ix).ord, seq, cls, snapM, snapS, rows(ix).payload)
      }
    }
  }

  /** Compile a clause whose variables are `vars` (index = DEFINE bit). */
  private def kernelOf(clause: Clause, vars: Seq[String],
      schema: org.apache.spark.sql.types.StructType): Kernel = {
    val varIdx = vars.zipWithIndex.toMap
    Kernel(
      clause.sequences.map(_.map(s => Cep.next(
        Cep.PStep(s.variables.mkString("|"), s.min, s.max, s.reluctant))).toIndexedSeq)
        .toIndexedSeq,
      clause.sequences.map(_.map(s => s.variables.map(v => v -> varIdx(v))).toIndexedSeq)
        .toIndexedSeq,
      clause.measures, strOrdFlags(clause.measures, schema), clause.withinMs,
      clause.skip, clause.subsets, aggSpecOf(clause, varIdx))
  }

  /** Running MEASURES accumulator for the ALL ROWS walk — one instance
    * per match, updated as the match's rows stream by in order. The
    * string-side arrays carry FIRST/LAST verbatim values and the
    * lexicographic MIN/MAX for [[strOrdFlags]] measures.
    */
  private[graft] final class RunAcc(measures: Seq[Measure], strOrd: Array[Boolean],
      subsets: Map[String, Seq[String]] = Map.empty) {
    private val n = measures.length
    // a SUBSET measure listens to any of its members' classifiers
    private val listens: IndexedSeq[Set[String]] = measures.map(m =>
      subsets.get(m.variable).map(_.toSet).getOrElse(Set(m.variable))).toIndexedSeq
    private val cnt = new Array[Long](n)
    private val sum = new Array[Double](n)
    private val mn = new Array[Double](n)
    private val mx = new Array[Double](n)
    private val first = new Array[Double](n)
    private val last = new Array[Double](n)
    private val firstS = new Array[String](n)
    private val lastS = new Array[String](n)
    private val mnS = new Array[String](n)
    private val mxS = new Array[String](n)
    // logical-offset FIRST/LAST need the first (off+1) values (filled
    // once) and a ring of the trailing (off+1) — bounded by the DECLARED
    // offset, never by match length
    private val offs: Array[Int] = measures.map(_.offset).toArray
    private val firstBuf = Array.tabulate(n)(i =>
      if (offs(i) > 0) new Array[Double](offs(i) + 1) else null)
    private val firstBufS = Array.tabulate(n)(i =>
      if (offs(i) > 0) new Array[String](offs(i) + 1) else null)
    private val lastBuf = Array.tabulate(n)(i =>
      if (offs(i) > 0) new Array[Double](offs(i) + 1) else null)
    private val lastBufS = Array.tabulate(n)(i =>
      if (offs(i) > 0) new Array[String](offs(i) + 1) else null)

    def update(cls: String, mv: Seq[Double], sv: Seq[String]): Unit = {
      var mi = 0
      while (mi < n) {
        if (listens(mi)(cls)) {
          val v = mv(mi)
          val s = sv(mi)
          if (cnt(mi) == 0) {
            first(mi) = v; mn(mi) = v; mx(mi) = v
            firstS(mi) = s; mnS(mi) = s; mxS(mi) = s
          } else {
            mn(mi) = math.min(mn(mi), v)
            mx(mi) = math.max(mx(mi), v)
            if (s != null && (mnS(mi) == null || s < mnS(mi))) mnS(mi) = s
            if (s != null && (mxS(mi) == null || s > mxS(mi))) mxS(mi) = s
          }
          last(mi) = v
          lastS(mi) = s
          if (offs(mi) > 0) {
            val w = offs(mi) + 1
            if (cnt(mi) < w) { firstBuf(mi)(cnt(mi).toInt) = v; firstBufS(mi)(cnt(mi).toInt) = s }
            val ri = (cnt(mi) % w).toInt
            lastBuf(mi)(ri) = v
            lastBufS(mi)(ri) = s
          }
          sum(mi) += v
          cnt(mi) += 1
        }
        mi += 1
      }
    }

    def snapM(m: Int): Double = measures(m).agg match {
      case "COUNT"          => cnt(m).toDouble
      case _ if cnt(m) == 0 => Double.NaN // var not seen (yet)
      case _ if strOrd(m)   => Double.NaN // MIN/MAX on the string view
      case "FIRST" =>
        if (offs(m) == 0) first(m)
        else if (cnt(m) > offs(m)) firstBuf(m)(offs(m)) else Double.NaN
      case "LAST" =>
        if (offs(m) == 0) last(m)
        else if (cnt(m) > offs(m))
          lastBuf(m)(((cnt(m) - 1 - offs(m)) % (offs(m) + 1)).toInt)
        else Double.NaN
      case "SUM"            => sum(m)
      case "MIN"            => mn(m)
      case "MAX"            => mx(m)
      case "AVG"            => sum(m) / cnt(m)
    }

    def snapS(m: Int): String = measures(m).agg match {
      case "FIRST" if cnt(m) > 0 =>
        if (offs(m) == 0) firstS(m)
        else if (cnt(m) > offs(m)) firstBufS(m)(offs(m)) else null
      case "LAST" if cnt(m) > 0 =>
        if (offs(m) == 0) lastS(m)
        else if (cnt(m) > offs(m))
          lastBufS(m)(((cnt(m) - 1 - offs(m)) % (offs(m) + 1)).toInt)
        else null
      case "MIN" if strOrd(m) && cnt(m) > 0 => mnS(m)
      case "MAX" if strOrd(m) && cnt(m) > 0 => mxS(m)
      case _                                => null
    }
  }

  /** STREAMING MATCH_RECOGNIZE — the clause over an unbounded source
    * (Flink's MATCH_RECOGNIZE is streaming-first; [U] flink-table-runtime
    * operators/match/ behind a watermark): the same parsed body and the
    * same [[Kernel]] run as [[graft.streaming.StreamingMatchProcess]], so
    * matches emit append-only as the watermark closes them and the state
    * bound is the pending suffix per key. `df` must be a STREAMING
    * DataFrame carrying an event-time watermark on the ORDER BY column
    * (e.g. `FlinkDdl.readStream`). The PARTITION BY key may be any atomic
    * non-binary column (keyed by its canonical string form, cast back on
    * output), and the MEASURES subset is the batch one, with
    * MATCH_NUMBER numbered continuously across micro-batches by a per-key
    * counter state. ALL ROWS PER MATCH is supported too: matches resolve
    * only behind the watermark, so replaying their consumed rows is still
    * append-only — the full input row rides through state as a JSON
    * payload and is parsed back with the source schema. Out of the
    * streaming subset: PREV/NEXT navigation (a physical-offset window
    * over an unbounded stream). Output: the batch shape — one-row: key
    * (original name/type) + match_start/match_end/n_events + measure
    * aliases; all-rows: every input column + match_seq/classifier +
    * running measures.
    */
  def stream(df: DataFrame, mrBody: String): DataFrame = {
    import org.apache.spark.sql.types._
    require(df.isStreaming, "MatchRecognize.stream expects a streaming DataFrame")
    val clause = parseBody("<stream>", mrBody)
    val schema = df.schema
    val (keyField, ordCol) = keyAndOrder(clause, schema)
    keyField.dataType match {
      case BinaryType | _: StructType | _: ArrayType | _: MapType =>
        fail(s"streaming MATCH_RECOGNIZE needs an atomic non-binary " +
          s"PARTITION BY key, got ${keyField.dataType.simpleString}")
      case _ =>
    }
    val vars = variables(clause)
    val (defs, navs) = rewriteNav(clause.defines, vars.toSet)
    if (navs.nonEmpty) fail("PREV/NEXT navigation is batch-only — a " +
      "physical-offset window over an unbounded stream is not append-only")
    // ALL ROWS carries the full input row through state as a JSON
    // payload (parsed back below with the known schema)
    val payload: Column =
      if (clause.allRows) to_json(struct(schema.fieldNames.map(col): _*))
      else lit(null).cast("string")
    val events = tagRows(clause, df, keyField, ordCol, vars, defs, payload)
    val kernel = kernelOf(clause, vars, schema)
    if (clause.allRows) {
      val matches = graft.streaming.StreamingMatch.runAllRows(events, kernel)
      return matches.toDF()
        .withColumn("__row", from_json(col("payload"), schema))
        .select(schema.fieldNames.map(n => col(s"__row.`$n`")) ++
          Seq(col("match_seq"), col("classifier")) ++
          measureOutCols(clause.measures, schema, col("m"), col("sm")): _*)
    }
    val matches = graft.streaming.StreamingMatch.run(events, kernel)
    matches.select(Seq(
      col("key").cast(keyField.dataType).as(keyField.name),
      col("match_start"), col("match_end"), col("n_events")) ++
      measureOutCols(clause.measures, schema, col("m"), col("sm")): _*)
  }

  /** Streaming analog of [[sql]]: the clause's source resolves through
    * `source` (a STREAMING DataFrame, e.g. a streaming temp view or
    * `FlinkDdl.readStream`), the matches stream registers as a temp
    * view, and the statement re-issues with the clause replaced — so
    * `INSERT INTO sink SELECT ... FROM src MATCH_RECOGNIZE (...)`
    * deploys exactly like any other streaming statement.
    */
  def sqlStream(session: SparkSession, sqlText: String,
      source: String => DataFrame): DataFrame = {
    val (prefix, table, body, alias, suffix) = extract(sqlText)
    val df = stream(source(table), body)
    val view = s"__graft_mrs_${Integer.toHexString(sqlText.hashCode).replace('-', 'n')}"
    df.createOrReplaceTempView(view)
    val replacement = alias match {
      case Some(a) => s"$view AS $a"
      case None    => view
    }
    session.sql(prefix + replacement + suffix)
  }

  /** Run a full SQL statement that may embed one MATCH_RECOGNIZE clause:
    * the clause is parsed, executed, registered as a temp view, and the
    * statement is re-issued with the clause replaced by that view. Works
    * under any session (no parser injection required).
    */
  def sql(session: SparkSession, sqlText: String): DataFrame = {
    if (!containsClause(sqlText)) return session.sql(sqlText)
    val (prefix, table, body, alias, suffix) = extract(sqlText)
    val clause = parseBody(table, body)
    val df = run(session, clause)
    val view = s"__graft_mr_${Integer.toHexString(sqlText.hashCode).replace('-', 'n')}"
    df.createOrReplaceTempView(view)
    val replacement = alias match {
      case Some(a) => s"$view AS $a"
      case None    => view
    }
    session.sql(prefix + replacement + suffix)
  }
}
